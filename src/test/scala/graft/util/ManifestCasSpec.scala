package graft.util

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The publish CAS on stores WITHOUT HDFS create atomicity — the gap
  * between "object-store-safe by design" and object-store-safe in
  * fact. [[ObjectStoreFs]] models the three store classes:
  * conditional-create (S3 with `If-None-Match`, HADOOP-19256) must go
  * through the createFile builder and surface a lost race at close();
  * a store with NO atomicity story must be REFUSED loudly before a
  * build lays any data; and the operator escape hatch
  * ([[ManifestCommit.AtomicCreateConfKey]]) must open it back up.
  * The race here is deliberately check-then-act-racy: the racer lands
  * in the exact create→close window a client-side exists check cannot
  * defend — the spec proves the protocol survives it anyway.
  */
class ManifestCasSpec extends AnyFunSuite {

  private def conf: Configuration = {
    val c = new Configuration()
    ObjectStoreFs.install(c)
    c
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a store with no atomic-create story is refused loudly, " +
      "at publish AND at protocol resolution, with the config pointer") {
    val dir = s"unsafefs://${tmp("mc_unsafe")}"
    val e = intercept[IllegalStateException] {
      ManifestCommit.publish(conf, dir, identity)
    }
    assert(e.getMessage.contains(ManifestCommit.AtomicCreateConfKey),
      s"the refusal must point at the config key: ${e.getMessage}")
    assert(e.getMessage.contains(ManifestCommit.ConditionalCreateCapability))
    // a BUILD must die at its publishability check, before any data
    // is laid
    val e2 = intercept[IllegalStateException] {
      ManifestCommit.assertPublishable(conf, dir)
    }
    assert(e2.getMessage.contains(ManifestCommit.AtomicCreateConfKey))
  }

  test("the operator escape hatch opens an asserted-atomic store") {
    val dir = s"unsafefs://${tmp("mc_hatch")}"
    val c = conf
    c.setBoolean(ManifestCommit.AtomicCreateConfKey, true)
    ManifestCommit.assertPublishable(c, dir)
    val m = ManifestCommit.publish(c, dir,
      mm => ManifestCommit.addDir(mm, "t", "data/t/d-a", 1L))
    assert(m.gen == 1L)
    assert(ManifestCommit.current(c, dir).table("t") == Seq("data/t/d-a"))
  }

  test("conditional-create store: the publish takes the createFile " +
      "builder path and lands") {
    CondCreateFs.reset()
    val dir = s"condfs://${tmp("mc_cond")}"
    val m = ManifestCommit.publish(conf, dir,
      mm => ManifestCommit.addDir(mm, "t", "data/t/d-x", 3L))
    assert(m.gen == 1L)
    assert(CondCreateFs.builderCreates.get() >= 1L,
      "the conditional-overwrite builder path must be engaged, not plain create")
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.table("t") == Seq("data/t/d-x") && cur.rows("t") == 3L)
  }

  test("conditional-create store: a racer inside the create→close " +
      "window loses LOUDLY and the winner's publish survives intact") {
    CondCreateFs.reset()
    val dir = s"condfs://${tmp("mc_race")}"
    ManifestCommit.publish(conf, dir, identity) // gen 1
    val base = ManifestCommit.current(conf, dir)
    // the racer fires between OUR create() and close() — after every
    // client-side pre-check (listGens) already passed; only the
    // server-side condition can catch it
    CondCreateFs.beforeClose = _ => {
      ManifestCommit.publishAt(conf, dir, base,
        mm => ManifestCommit.addDir(mm, "t", "data/t/racer", 5L)); ()
    }
    val e = intercept[IllegalStateException] {
      ManifestCommit.publishAt(conf, dir, base,
        mm => ManifestCommit.addDir(mm, "t", "data/t/loser", 9L))
    }
    assert(e.getMessage.contains("racing publish"),
      s"the lost conditional PUT must map to the contention error: ${e.getMessage}")
    val cur = ManifestCommit.current(conf, dir)
    assert(cur.gen == 2L && cur.table("t") == Seq("data/t/racer"),
      "the winner's manifest must survive the loser's failed PUT untouched")
  }

  test("HDFS-semantics schemes keep the plain-create fast path") {
    CondCreateFs.reset()
    val dir = tmp("mc_local") // file: scheme
    val m = ManifestCommit.publish(new Configuration(), dir, identity)
    assert(m.gen == 1L)
    assert(CondCreateFs.builderCreates.get() == 0L)
  }
}
