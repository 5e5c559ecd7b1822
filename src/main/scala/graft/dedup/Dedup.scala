package graft.dedup

import graft.QueryDef
import graft.functions.GraftFunctions._
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Near-duplicate detection for a training-data pipeline: MinHash+LSH,
  * SimHash, and n-gram Jaccard — all built from Catalyst expressions
  * (xxhash64, array ops) with LSH banding so no step is quadratic in the
  * corpus. The only shuffles are keyed groupBys/joins on (band, bucket)
  * keys; candidate verification touches only bucket-collision pairs.
  *
  * Scale design: at 100 TB the bucket self-join is the risk point (a
  * degenerate bucket full of identical docs explodes quadratically). We
  * cap bucket width via a count filter — a production run would divert
  * over-wide buckets to an exact-hash pre-dedup pass (dedup_exact removes
  * them before LSH).
  */
object Dedup {

  private val MaxBucket = 64 // cap on collision-bucket width for the pair join

  /** SimHash bucket cap: a 16-bit band key is far coarser than MinHash's
    * 64-bit band hash, so benign collision buckets run wider (measured 179
    * max on the sf0.1 corpus). 256 keeps every benign bucket (cap is
    * behavior-neutral on the test corpora) while bounding a degenerate
    * bucket's pair join at ~32k pairs instead of quadratic.
    */
  private[graft] val SimHashMaxBucket = 256

  /** (doc_id, shingles: array<long>) — word w-shingles hashed to i64
    * (tokens hashed elementwise, then native windows over the hash
    * sequence). Short docs fall back to a single whole-doc shingle.
    */
  def wordShingles(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.FnvHashes.fnvTokenHashes(col("text")).as("th"))
      .select(col("doc_id"),
        graft.functions.FnvHashes.fnvLongWindowHashes(col("th"), w).as("shingles"))

  /** (doc_id, shingles) from character n-grams of the normalized text
    * (one native byte scan per document).
    *
    * Hash family note (applies to wordShingles too): the LSH pipelines
    * hash with FNV-1a 64 (graft.functions.FnvKernels) — a strict
    * per-byte fold DuckDB replays exactly via list_reduce over HUGEINT
    * — so the MinHash/SimHash signature+banding paths carry full
    * SQL-replay oracles instead of rows-only checks. The exact-Jaccard
    * truth paths keep xxhash64: their hashes are set proxies only.
    */
  def charShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.FnvHashes.fnvNormCharNgramHashes(col("text"), n).as("shingles"))

  /** MinHash signature via one-permutation hashing (Li/König OPH), as a
    * single per-row expression: bin each shingle hash into `perms`
    * buckets, min per bucket, sentinel-densified — no explode, no
    * shuffle; signatures materialize in the scan stage. Sentinel
    * collisions between very short docs only create false candidates,
    * which exact verification removes.
    */
  def minHashSignature(shingled: DataFrame, perms: Int): DataFrame =
    shingled.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("shingles"), perms).as("sig"))

  /** LSH banding: signature slices hash-combined per band →
    * (doc_id, band, bucket).
    */
  def bands(sig: DataFrame, perms: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("doc_id"),
        posexplode(graft.functions.FnvHashes.fnvBandBuckets(
          col("sig"), perms, rowsPerBand)).as(Seq("band", "bucket")))

  /** Bucket-cap split WITHOUT a window: a `groupBy` computes each
    * bucket's width and min-id anchor (map-side partial aggregation — a
    * degenerate bucket at 100 TB never funnels through one task's window
    * sort before the cap can act), and only the over-cap bucket list —
    * tiny by construction (≤ N/cap rows, in practice a handful) — joins
    * back onto the banded stream, where AQE broadcasts it. The previous
    * window formulation cost one full shuffle+sort of the banded rows
    * AND routed any pathological bucket through a single task; this
    * shuffles only the ~32-byte (keys, count) aggregate.
    *
    * Returns (under-cap rows unchanged, over-cap rows with an `anchor`
    * struct carrying the bucket-min id + `payload` columns).
    */
  private[graft] def bucketCapSplit(banded0: DataFrame, keys: Seq[String],
      cap: Int, idCol: String, payload: Seq[String] = Nil): (DataFrame, DataFrame) = {
    // One explicit hash exchange on the bucket keys, NO sort: every
    // consumer below (size aggregate, both self-join sides, star branch)
    // reuses this single shuffle, so the expensive upstream signature
    // expressions are computed exactly once — the property the old
    // window formulation got from its shuffle — while a degenerate
    // bucket only STREAMS through its task instead of sorting in it.
    val banded = banded0.repartition(keys.map(col): _*)
    val anchor = struct((idCol +: payload).map(col): _*)
    val over = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bw"), min(anchor).as("anchor"))
      .filter(col("bw") > cap)
      .select(keys.map(col) :+ col("anchor"): _*)
    val joined = banded.join(over, keys, "left")
    (joined.filter(col("anchor").isNull).drop("anchor"),
      joined.filter(col("anchor").isNotNull))
  }

  /** Candidate pairs from bucket collisions (id1 < id2), deduped across
    * bands. Buckets up to MaxBucket wide self-join; wider buckets —
    * exactly the heaviest real dup targets (thousands of identical or
    * near-empty docs) — emit a spanning star to the bucket's min doc_id
    * instead: O(bucket) pairs that keep the cluster connected for the
    * connected-components step, where a quadratic self-join would
    * explode and an outright drop would never dedup them at all.
    */
  def candidatePairs(banded: DataFrame): DataFrame = {
    val (small, overCap) =
      bucketCapSplit(banded, Seq("band", "bucket"), MaxBucket, "doc_id")
    val a = small.select(col("band"), col("bucket"), col("doc_id").as("id1"))
    val b = small.select(col("band"), col("bucket"), col("doc_id").as("id2"))
    val full = a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
    val star = overCap
      .filter(col("doc_id") =!= col("anchor.doc_id"))
      .select(col("anchor.doc_id").as("id1"), col("doc_id").as("id2"))
    full.union(star).distinct()
  }

  /** Exact Jaccard verification of candidate pairs against shingle sets. */
  def verifyJaccard(pairs: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val s1 = shingled.select(col("doc_id").as("id1"), col("shingles").as("sh1"))
    val s2 = shingled.select(col("doc_id").as("id2"), col("shingles").as("sh2"))
    pairs.join(s1, "id1").join(s2, "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline over arbitrary shingle sets.
    *
    * Deliberately ONE linear plan with no persist: the shingle
    * expression appears in three branches (signatures, both verify
    * sides), but each is a fused map-side scan, and the candidate pair
    * set is small after LSH so AQE broadcasts it into the verify joins —
    * the full-width shingle branches stream through the probe side
    * without shuffling. Round 2 persisted the shingle table instead;
    * that materializes a column ~10× the text it came from (a
    * non-starter at 100 TB, where it means spilling ~1 PB to executor
    * disks) and measured 2× SLOWER locally than the recompute
    * (0.8 s linear vs 1.5 s persisted vs 2 s
    * persist-candidates-and-semi-join) — three cheap map scans beat one
    * materialization on both axes.
    */
  def minHashDedup(shingled0: DataFrame, perms: Int, rowsPerBand: Int,
                   threshold: Double): DataFrame = {
    val sig = minHashSignature(shingled0, perms)
    val cand = candidatePairs(bands(sig, perms, rowsPerBand))
    verifyJaccard(cand, shingled0, threshold)
  }

  /** Connected components over near-dup pairs by min-label propagation —
    * the cluster step that turns pairwise matches into a keep-one-per-
    * cluster dedup decision. Each round is one keyed join + min-agg;
    * labels are eagerly checkpointed per round to RELIABLE storage
    * (graft.util.Checkpoints — localCheckpoint would die with a lost
    * executor; lineage/recompute rationale measured in HostRank).
    * Converges in O(component diameter) rounds; near-dup clusters are
    * shallow in practice. One action per round: the eager checkpoint
    * materializes the new labels, and the convergence count reads the
    * checkpoint files, not the lineage.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs
      .select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .cache()
    // per-round memory persist breaks the two-branch (join + union)
    // label reuse; reliable checkpoint every few rounds bounds lineage
    // and survives executor loss (Checkpoints.IterationCheckpointer)
    val ckpt = new graft.util.Checkpoints.IterationCheckpointer(
      interval = pairs.sparkSession.conf
        .getOption("spark.graft.checkpointInterval").map(_.toInt).getOrElse(1))
    var labels = ckpt.next(
      edges.select(col("a").as("node")).distinct()
        .withColumn("label", col("node")))
    // Convergence check WITHOUT a new-vs-old join: the union below keeps
    // each node's current label in the min, so labels only ever
    // decrease; the fixpoint is reached exactly when the label-sum stops
    // moving. Exact decimal sum (no long overflow at web-scale ids, no
    // float order-dependence), read from the just-written checkpoint —
    // this replaces the old per-round (neighborMin ⋈ labels) shuffle
    // whose only purpose was computing a changed-row count.
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      labels = ckpt.next(edges
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .select(col("a").as("node"), col("label"))
        .union(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label")))
      val s = labelSum(labels)
      converged = (s == null && prevSum == null) ||
        (s != null && prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      i += 1
    }
    // the returned labels read from the last checkpoint, not the edge
    // lineage — release the cached edges so repeated invocations (bench
    // runs, long sessions) don't accumulate storage-memory leaks
    edges.unpersist(blocking = false)
    labels
  }

  // ---- FNV-1a SQL replay fragments (see FnvKernels scaladoc) ----
  //
  // Every LSH stage below is replayed in DuckDB with the EXACT kernel
  // arithmetic: FNV-1a as a HUGEINT list_reduce fold (unsigned mod 2⁶⁴,
  // then two's-complement to signed BIGINT), OPH binning as signed
  // `((s % 64) + 64) % 64`, rotation densification as a
  // nearest-bin-to-the-right window, band buckets as the FNV fold over
  // the signature window's little-endian bytes.

  /** ASCII-only case fold for the replay CTEs' tokenization. The Spark
    * kernels (FnvKernels.tokenHashes / normCharNgram, AsciiWordTokens)
    * fold A-Z at the BYTE level, while DuckDB's `lower()` is
    * Unicode-aware: code points whose Unicode lowercase lands in
    * [a-z] (U+212A KELVIN SIGN → 'k', U+0130 'İ' → 'i'+combining dot)
    * would produce oracle tokens the kernel never emits, breaking the
    * hash-exact replay on non-ASCII corpora. translate() folds ONLY
    * A-Z, matching the kernel for every input: non-ASCII code points
    * stay non-alnum on both sides (multi-byte sequences are delimiter
    * runs to the kernel, non-matching code points to the regex), so
    * token boundaries and bytes agree unconditionally.
    */
  private[graft] def asciiLower(e: String): String =
    s"translate($e, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"

  private[graft] def fnvU(byteList: String): String =
    s"list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      s"list_transform($byteList, fb -> CAST(fb AS HUGEINT))), " +
      "(fa, fb) -> (xor(fa, fb) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT))"

  private[graft] val SignedU: String =
    "CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT) " +
      "THEN CAST(u - CAST(18446744073709551616 AS HUGEINT) AS BIGINT) " +
      "ELSE CAST(u AS BIGINT) END"

  private def leBytes(longs: String): String =
    s"flatten(list_transform($longs, vv -> " +
      "list_transform(range(0, 8), kk -> (vv >> (8*kk)) & 255)))"

  /** documents → `shing(doc_id, s)`: distinct FNV word-5-shingle hashes
    * (token FNV per token, FNV over each 5-hash window's LE bytes,
    * whole-list fallback below 5 tokens). Also leaves `th0` (per-token
    * hashes with multiplicity) in scope for the SimHash replay.
    */
  private val WordShingleFnvCtes: String = s"""
      d0 AS (SELECT doc_id, regexp_extract_all(${asciiLower("text")}, '[a-z0-9]+') AS tk
             FROM documents WHERE text IS NOT NULL),
      tok AS (SELECT doc_id, i AS tpos, tk[i] AS t
              FROM d0, unnest(generate_series(1, len(tk))) AS g(i)),
      thu AS (SELECT doc_id, tpos,
          ${fnvU("list_transform(range(1, length(t)+1), ci -> ascii(t[ci]))")} AS u
          FROM tok),
      th0 AS (SELECT doc_id, tpos, $SignedU AS h FROM thu),
      thl AS (SELECT d.doc_id, coalesce(t.th, CAST([] AS BIGINT[])) AS th
              FROM d0 d LEFT JOIN (SELECT doc_id, list(h ORDER BY tpos) AS th
                                   FROM th0 GROUP BY doc_id) t USING (doc_id)),
      shu AS (SELECT doc_id,
          ${fnvU(leBytes("CASE WHEN len(th) < 5 THEN th ELSE th[i : i + 4] END"))} AS u
          FROM thl, unnest(generate_series(1, greatest(len(th) - 4, 1))) AS g(i)),
      shing AS (SELECT DISTINCT doc_id, $SignedU AS s FROM shu)"""

  /** documents → `shing(doc_id, s)`: distinct FNV char-5-gram hashes of
    * the byte-normalized text (lower, non-alnum runs → one space, trim;
    * whole-input fallback below 5 chars). Leaves `d0(doc_id, nt)` in
    * scope for the string-shingle truth replay.
    */
  private val CharShingleFnvCtes: String = s"""
      d0 AS (SELECT doc_id, trim(regexp_replace(${asciiLower("text")}, '[^a-z0-9]+', ' ', 'g')) AS nt
             FROM documents WHERE text IS NOT NULL),
      shu AS (SELECT doc_id,
          ${fnvU("CASE WHEN length(nt) < 5 THEN list_transform(range(1, length(nt)+1), ci -> ascii(nt[ci])) " +
        "ELSE list_transform(range(i, i + 5), ci -> ascii(nt[ci])) END")} AS u
          FROM d0, unnest(generate_series(1, greatest(length(nt) - 4, 1))) AS g(i)),
      shing AS (SELECT DISTINCT doc_id, $SignedU AS s FROM shu)"""

  /** `shing` → `lsh(id1, id2, jaccard)`: OPH signature (64 bins, min per
    * bin, rotation densification), FNV band buckets, the 64-cap
    * bucket split with min-id spanning star, exact-Jaccard verification
    * at `threshold` — the complete minHashDedup pipeline in SQL.
    */
  /** Signature + banding replay (OPH bins, rotation densification,
    * FNV band buckets) — shared by the LSH dedup oracle and the
    * streaming index-maintenance oracle. Leaves `sigl(doc_id, sig)`
    * and `banded(doc_id, band, bucket)` in scope; expects `shing`.
    */
  private def sigBandCtes(r: Int): String = {
    val nb = 64 / r
    s"""
      bins AS (SELECT doc_id, ((s % 64) + 64) % 64 AS b, MIN(s) AS mn
               FROM shing GROUP BY doc_id, ((s % 64) + 64) % 64),
      dgrid AS (SELECT d.doc_id, g.j
                FROM (SELECT DISTINCT doc_id FROM bins) d,
                     (SELECT unnest(generate_series(0, 63)) AS j) g),
      dens AS (SELECT doc_id, j, v FROM (
          SELECT dg.doc_id, dg.j, b2.mn AS v,
                 row_number() OVER (PARTITION BY dg.doc_id, dg.j
                   ORDER BY ((b2.b - dg.j + 64) % 64)) AS rn
          FROM dgrid dg JOIN bins b2 ON b2.doc_id = dg.doc_id) WHERE rn = 1),
      sigl AS (SELECT doc_id, list(v ORDER BY j) AS sig FROM dens GROUP BY doc_id),
      bndu AS (SELECT doc_id, bb AS band,
          ${fnvU(leBytes(s"sig[bb*$r + 1 : bb*$r + $r]"))} AS u
          FROM sigl, (SELECT unnest(generate_series(0, ${nb - 1})) AS bb) g2),
      banded AS (SELECT doc_id, band, $SignedU AS bucket FROM bndu)"""
  }

  private def minhashLshCtes(r: Int, threshold: Double): String = {
    s"""${sigBandCtes(r)},
      bcn AS (SELECT band, bucket, COUNT(*) AS bw, MIN(doc_id) AS aid
              FROM banded GROUP BY band, bucket),
      bsmall AS (SELECT b.doc_id, b.band, b.bucket FROM banded b
                 JOIN bcn USING (band, bucket) WHERE bcn.bw <= $MaxBucket),
      bbig AS (SELECT b.doc_id, bcn.aid FROM banded b
               JOIN bcn USING (band, bucket) WHERE bcn.bw > $MaxBucket),
      candf AS (SELECT DISTINCT id1, id2 FROM (
          SELECT a.doc_id AS id1, b.doc_id AS id2
          FROM bsmall a JOIN bsmall b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          UNION ALL
          SELECT aid, doc_id FROM bbig WHERE doc_id <> aid)),
      ssz AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
      intr AS (SELECT c.id1, c.id2, COUNT(*) AS ic FROM candf c
               JOIN shing s1 ON s1.doc_id = c.id1
               JOIN shing s2 ON s2.doc_id = c.id2 AND s2.s = s1.s
               GROUP BY c.id1, c.id2),
      lsh AS (SELECT i.id1, i.id2,
              round(CAST(i.ic AS DOUBLE) / (z1.n + z2.n - i.ic), 6) AS jaccard
              FROM intr i JOIN ssz z1 ON z1.doc_id = i.id1
                          JOIN ssz z2 ON z2.doc_id = i.id2
              WHERE CAST(i.ic AS DOUBLE) / (z1.n + z2.n - i.ic) >= $threshold)"""
  }

  // ---- registered queries ----

  /** End-to-end dedup decision: MinHash pairs → connected components →
    * cluster stats (docs to drop = docs − clusters).
    */
  val dedupClusters: QueryDef = QueryDef(
    "dedup_clusters",
    (s, dir) => {
      val sh = wordShingles(Tables(s, dir, "documents"), 5)
      val pairs = minHashDedup(sh, perms = 64, rowsPerBand = 4, threshold = 0.5)
      val labels = connectedComponents(pairs.select(col("id1"), col("id2")))
      labels.groupBy(col("label"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs_in_clusters"),
          (sum(col("sz")) - count(lit(1))).as("n_docs_to_drop"),
          max(col("sz")).as("largest_cluster"))
    },
    // full replay: FNV shingles → OPH signature → banding → cap split →
    // exact verify → 10-round min-label CC (the dedup_clusters_exact
    // recursive tail over the LSH pair set). `edges` is MATERIALIZED:
    // without the hint DuckDB re-inlines the whole LSH chain into the
    // recursive iteration and the replay OOMs at sf0.1 (the hint is
    // value-neutral; 69.7 s with it, abort without).
    Some(s"""WITH RECURSIVE $WordShingleFnvCtes,${minhashLshCtes(4, 0.5)},
      edges AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM lsh
                UNION ALL SELECT id2, id1 FROM lsh),
      nodes AS (SELECT DISTINCT a AS node FROM edges),
      cc(iter, node, label) AS (
        SELECT 0, node, node FROM nodes
        UNION ALL
        SELECT c.iter + 1, c.node,
          least(c.label, coalesce((SELECT MIN(c2.label) FROM cc c2
                                   JOIN edges e ON e.a = c2.node
                                   WHERE e.b = c.node), c.label))
        FROM cc c WHERE c.iter < 10
      ),
      labels AS (SELECT node, label FROM cc WHERE iter = 10),
      clusters AS (SELECT label, COUNT(*) AS sz FROM labels GROUP BY label)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs_in_clusters,
             CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_docs_to_drop,
             CAST(MAX(sz) AS BIGINT) AS largest_cluster
      FROM clusters"""))

  /** Near-dup doc pairs via word-5-shingle MinHash (64 perms, 16 bands →
    * ~0.5 Jaccard collision threshold), verified exactly. SELF-GRADING
    * like dedup_ngram_jaccard: the row carries measured precision/recall
    * against the exact word-shingle truth (jaccardExactPairs — keyed
    * shuffles, never all-pairs), floors asserted in ExactJaccardSpec.
    */
  val dedupMinHash: QueryDef = QueryDef(
    "dedup_minhash",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val sh = wordShingles(docs, 5)
      // both PAIR tables are consumed twice (their own count aggregate
      // and the true-positive semi join) — un-checkpointed, the whole
      // LSH pipeline and the whole exact-truth pipeline each re-ran per
      // consumer (executed plan: 28 parquet scans). The checkpoints
      // hold only the near-dup PAIRS — bounded by the dup mass, tiny at
      // any corpus scale — never the shingle intermediates the r2 A/B
      // rejected persisting (see minHashDedup's doc). Materialized
      // CONCURRENTLY: the two pipelines are independent, and two
      // sequential eager checkpoints serialized stages the old
      // single-DAG form overlapped (measured +1 s steady at sf0.1).
      val Seq(lsh, exact) = graft.util.DriverPar.inParallel(s.sparkContext)(Seq(
        minHashDedup(sh, perms = 64, rowsPerBand = 4, threshold = 0.5),
        jaccardExactPairs(docs).select(col("id1"), col("id2")))
        .map(df => () => graft.util.Checkpoints.ReliableOps(df).stableCheckpoint()))
      val tp = lsh.join(exact, Seq("id1", "id2"), "left_semi")
      lsh.agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id1")).as("n_docs_with_dup"),
          coalesce(round(avg(col("jaccard")), 4), lit(0.0)).as("avg_jaccard"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_pairs_exact"))))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
        .select(col("n_pairs"), col("n_docs_with_dup"), col("n_pairs_exact"),
          col("n_tp"),
          when(col("n_pairs") > 0,
            round(col("n_tp").cast("double") / col("n_pairs"), 4))
            .otherwise(1.0).as("precision"),
          when(col("n_pairs_exact") > 0,
            round(col("n_tp").cast("double") / col("n_pairs_exact"), 4))
            .otherwise(1.0).as("recall"),
          col("avg_jaccard"))
    },
    // LSH replay + the existing word-shingle truth (JaccardShingleCte,
    // string shingles — set-equal to the xxhash proxy) + the graded row
    Some(s"""WITH $WordShingleFnvCtes,${minhashLshCtes(4, 0.5)},
      $JaccardShingleCte
      SELECT l.n_pairs, l.n_docs_with_dup, e.n_pairs_exact, t.n_tp,
        CASE WHEN l.n_pairs > 0
          THEN round(CAST(t.n_tp AS DOUBLE) / l.n_pairs, 4) ELSE 1.0 END AS precision,
        CASE WHEN e.n_pairs_exact > 0
          THEN round(CAST(t.n_tp AS DOUBLE) / e.n_pairs_exact, 4) ELSE 1.0 END AS recall,
        l.avg_jaccard
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT id1) AS BIGINT) AS n_docs_with_dup,
                   coalesce(round(AVG(jaccard), 4), 0.0) AS avg_jaccard FROM lsh) l
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_exact FROM pairs) e
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_tp FROM lsh l2
                  JOIN pairs p ON p.id1 = l2.id1 AND p.id2 = l2.id2) t"""))

  /** Exact char-n-gram Jaccard pairs — the truth `dedup_ngram_jaccard`
    * grades itself against, on the same single-scan bounded-collect plan
    * as the word-shingle truth.
    */
  def charJaccardExactPairs(docs: DataFrame, n: Int = 5, tau: Double = 0.7,
                            maxDf: Int = 100): DataFrame =
    exactPairsFromExploded(
      charShingles(docs, n).select(col("doc_id"), explode(col("shingles")).as("s")),
      tau, maxDf)

  /** Char-5-gram Jaccard near-dup (the n-gram variant): same LSH scaffold,
    * different shingle space. 8-row bands → ~0.77 collision threshold,
    * keeping candidate volume sane on low-entropy corpora (3-grams over a
    * small vocabulary make *every* doc pair collide).
    *
    * SELF-GRADING output: the query also runs the exact char-shingle
    * truth (charJaccardExactPairs — a keyed-shuffle plan, not all-pairs)
    * and emits measured precision/recall of the LSH path against it, so
    * a wrong-banding bug shows up as a number in the graded row instead
    * of passing a rows-only check. Floors are asserted in
    * ExactJaccardSpec.
    */
  val dedupNgramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val sh = charShingles(docs, 5)
      // same pair-table checkpoint + concurrent-materialization
      // rationale as dedup_minhash (29 executed scans before)
      val Seq(lsh, exact) = graft.util.DriverPar.inParallel(s.sparkContext)(Seq(
        minHashDedup(sh, perms = 64, rowsPerBand = 8, threshold = 0.7)
          .select(col("id1"), col("id2"), col("jaccard")),
        charJaccardExactPairs(docs).select(col("id1"), col("id2")))
        .map(df => () => graft.util.Checkpoints.ReliableOps(df).stableCheckpoint()))
      val tp = lsh.join(exact, Seq("id1", "id2"), "left_semi")
      lsh.agg(count(lit(1)).as("n_pairs_lsh"),
          coalesce(round(avg(col("jaccard")), 4), lit(0.0)).as("avg_jaccard"))
        .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_pairs_exact"))))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_tp"))))
        .select(col("n_pairs_lsh"), col("n_pairs_exact"), col("n_tp"),
          when(col("n_pairs_lsh") > 0,
            round(col("n_tp").cast("double") / col("n_pairs_lsh"), 4))
            .otherwise(1.0).as("precision"),
          when(col("n_pairs_exact") > 0,
            round(col("n_tp").cast("double") / col("n_pairs_exact"), 4))
            .otherwise(1.0).as("recall"),
          col("avg_jaccard"))
    },
    // char-shingle LSH replay (8-row bands, τ=0.7) + the string-5-gram
    // truth with the same df≤100 stop-shingle cap + the graded row
    Some(s"""WITH $CharShingleFnvCtes,${minhashLshCtes(8, 0.7)},
      tsh AS (SELECT DISTINCT doc_id,
                CASE WHEN length(nt) < 5 THEN nt ELSE nt[i : i + 4] END AS gs
              FROM d0, unnest(generate_series(1, greatest(length(nt) - 4, 1))) AS t(i)),
      tshc AS (SELECT doc_id, gs FROM tsh WHERE gs IN
               (SELECT gs FROM tsh GROUP BY gs HAVING COUNT(*) <= 100)),
      tsizes AS (SELECT doc_id, COUNT(*) AS n FROM tshc GROUP BY doc_id),
      tinter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS ict
                 FROM tshc a JOIN tshc b ON a.gs = b.gs AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
      tpairs AS (SELECT id1, id2 FROM tinter
                 JOIN tsizes sa ON sa.doc_id = id1
                 JOIN tsizes sb ON sb.doc_id = id2
                 WHERE CAST(ict AS DOUBLE)/(sa.n + sb.n - ict) >= 0.7)
      SELECT l.n_pairs_lsh, e.n_pairs_exact, t.n_tp,
        CASE WHEN l.n_pairs_lsh > 0
          THEN round(CAST(t.n_tp AS DOUBLE) / l.n_pairs_lsh, 4) ELSE 1.0 END AS precision,
        CASE WHEN e.n_pairs_exact > 0
          THEN round(CAST(t.n_tp AS DOUBLE) / e.n_pairs_exact, 4) ELSE 1.0 END AS recall,
        l.avg_jaccard
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_lsh,
                   coalesce(round(AVG(jaccard), 4), 0.0) AS avg_jaccard FROM lsh) l
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_exact FROM tpairs) e
      CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_tp FROM lsh l2
                  JOIN tpairs p ON p.id1 = l2.id1 AND p.id2 = l2.id2) t"""))

  /** 64-bit SimHash over the token multiset; near-dups = pairs sharing one
    * of four 16-bit bands with Hamming distance ≤ 3 (standard
    * Charikar/Manku-Jain-Sarma banding: distance ≤3 ⇒ some 16-bit quarter
    * is identical, so banding loses nothing).
    */
  /** SimHash near-dup pairs for a (doc_id, text) frame: 64-bit signature
    * as one map-side expression (see SimHashSig); the only shuffles are
    * the band-bucket join and the pair distinct. Bucket width is capped
    * like candidatePairs — a degenerate 16-bit band bucket (near-empty
    * docs all hash to sig 0) would go quadratic, so over-cap buckets
    * emit a spanning star to the bucket's min doc instead of the full
    * self-join — and the hamming filter runs BEFORE distinct so pairs
    * about to be discarded never shuffle.
    */
  private def simHashParts(docs: DataFrame,
                           maxHamming: Int): (DataFrame, DataFrame) = {
    val sigs = docs
      .select(col("doc_id"),
        graft.functions.FnvHashes.fnvSimHashSig(col("text")).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band"),
          expr(s"shiftrightunsigned(sig, ${k * 16}) & 65535").as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val (small, overCap) = bucketCapSplit(
      banded, Seq("band", "bucket"), SimHashMaxBucket, "doc_id", Seq("sig"))
    val a = small.select(col("band"), col("bucket"), col("doc_id").as("id1"), col("sig").as("sig1"))
    val b = small.select(col("band"), col("bucket"), col("doc_id").as("id2"), col("sig").as("sig2"))
    val full = a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    val star = overCap
      .filter(col("doc_id") =!= col("anchor.doc_id"))
      .select(col("anchor.doc_id").as("id1"), col("doc_id").as("id2"),
        expr("bit_count(anchor.sig ^ sig)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    (full.union(star).distinct(), overCap)
  }

  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashParts(docs, maxHamming)._1

  /** Banding with 4 bands of 16 bits is LOSSLESS for Hamming ≤ 3 by
    * pigeonhole (some untouched quarter must match exactly), so vs the
    * all-pairs truth the ONLY possible divergence is the bucket cap's
    * star substitution. SimHashTruthSpec asserts exact equality to the
    * brute-force pair set on the test corpus; the graded row discloses
    * the cap's reach (n_overcap_buckets / n_overcap_docs — where recall
    * could drop on a degenerate corpus) so the approximation's risk
    * surface is part of the recorded output, not a silent cap.
    */
  val dedupSimHash: QueryDef = QueryDef(
    "dedup_simhash",
    (s, dir) => {
      val (pairs, overCap) = simHashParts(Tables(s, dir, "documents"), maxHamming = 3)
      pairs.agg(count(lit(1)).as("n_pairs"),
          coalesce(round(avg(col("hamming")), 4), lit(-1.0)).as("avg_hamming"))
        .crossJoin(broadcast(overCap.agg(
          countDistinct(struct(col("band"), col("bucket"))).as("n_overcap_buckets"),
          countDistinct(col("doc_id")).as("n_overcap_docs"))))
    },
    // FNV-token SimHash replay: per-token FNV with multiplicity → 64
    // per-bit votes → signature (bit 63 via HUGEINT to dodge signed
    // overflow) → 16-bit quarter bands → 256-cap split with min-id
    // star → Hamming≤3 pairs → the graded summary row
    Some(s"""WITH $WordShingleFnvCtes,
      tf AS (SELECT doc_id, h, COUNT(*) AS cnt FROM th0 GROUP BY doc_id, h),
      votes AS (SELECT doc_id, bb.b,
                SUM(CASE WHEN ((h >> bb.b) & 1) = 1 THEN cnt ELSE -cnt END) AS v
                FROM tf, (SELECT unnest(generate_series(0, 63)) AS b) bb
                GROUP BY doc_id, bb.b),
      sig1 AS (SELECT doc_id, SUM(CASE WHEN v > 0 THEN
                 CASE WHEN b = 63 THEN CAST(9223372036854775808 AS HUGEINT)
                 ELSE CAST(CAST(1 AS BIGINT) << b AS HUGEINT) END
                 ELSE CAST(0 AS HUGEINT) END) AS usig
               FROM votes GROUP BY doc_id),
      sigs AS (SELECT d.doc_id, coalesce(
                 CASE WHEN s.usig >= CAST(9223372036854775808 AS HUGEINT)
                 THEN CAST(s.usig - CAST(18446744073709551616 AS HUGEINT) AS BIGINT)
                 ELSE CAST(s.usig AS BIGINT) END, 0) AS sig
               FROM d0 d LEFT JOIN sig1 s USING (doc_id)),
      sbanded AS (SELECT doc_id, sig, kk.k AS band, (sig >> (16*kk.k)) & 65535 AS bucket
                  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS k) kk),
      sbc AS (SELECT band, bucket, COUNT(*) AS bw, MIN(doc_id) AS aid,
              arg_min(sig, doc_id) AS asig FROM sbanded GROUP BY band, bucket),
      psmall AS (SELECT b.doc_id, b.sig, b.band, b.bucket FROM sbanded b
                 JOIN sbc USING (band, bucket) WHERE sbc.bw <= $SimHashMaxBucket),
      pbig AS (SELECT b.doc_id, b.sig, b.band, b.bucket, sbc.aid, sbc.asig
               FROM sbanded b JOIN sbc USING (band, bucket)
               WHERE sbc.bw > $SimHashMaxBucket),
      prs AS (SELECT DISTINCT id1, id2, hamming FROM (
          SELECT a.doc_id AS id1, b.doc_id AS id2,
                 bit_count(xor(a.sig, b.sig)) AS hamming
          FROM psmall a JOIN psmall b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 3
          UNION ALL
          SELECT aid, doc_id, bit_count(xor(asig, sig))
          FROM pbig WHERE doc_id <> aid AND bit_count(xor(asig, sig)) <= 3))
      SELECT a1.n_pairs, a1.avg_hamming, a2.n_overcap_buckets, a2.n_overcap_docs
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
              coalesce(round(AVG(hamming), 4), -1.0) AS avg_hamming FROM prs) a1
      CROSS JOIN (SELECT CAST(COUNT(DISTINCT band*65536 + bucket) AS BIGINT) AS n_overcap_buckets,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_overcap_docs FROM pbig) a2"""))

  /** Exact word-shingle Jaccard pairs over STRING shingles — the
    * oracle-mirrorable exact path (the LSH queries above grade via
    * summary + ScalaTest because banding collisions aren't ANSI SQL).
    * Distinct 5-token shingles per doc; a stop-shingle document-frequency
    * cap (> maxDf docs → dropped) is both the skew guard — the join key's
    * fan-out is bounded by construction, so the shared-shingle join
    * cannot go quadratic on a boilerplate shingle — and the standard
    * stop-gram recipe. At 100 TB this exact stage runs on LSH candidates;
    * registered standalone so the Jaccard math itself is hash-checked
    * against DuckDB.
    */
  def jaccardExactPairs(docs: DataFrame, n: Int = 5, tau: Double = 0.5,
                        maxDf: Int = 100): DataFrame = {
    // Shingles join/aggregate on their 64-bit hash (the Decontam seam:
    // Spark works in hashes, the oracle in strings — identical results
    // short of an xxhash64 collision): 8-byte shuffle keys instead of
    // ~25-byte strings. ONE corpus scan, ONE corpus-wide shuffle: the
    // per-shingle doc list is gathered by `bounded_long_collect` — whose
    // aggregation state is capped at maxDf longs even on a boilerplate
    // shingle shared by millions of docs (the executor-OOM case plain
    // collect_list+HAVING hits) — and over-cap shingles become NULL,
    // exactly the rows the old df-filter semi join dropped. Both the
    // per-doc size aggregate and the i<j pair expansion then derive from
    // that small grouped table (Exchange reuse: the tokenize+shingle map
    // stage is paid once), where the previous formulation re-ran the
    // corpus scan for the df agg, the semi join, and BOTH pair-join
    // sides. Pair fan-out is bounded at maxDf²/2 per shingle by
    // construction; the collected array comes back sorted, so expansion
    // yields id1 < id2 with no filter.
    val sh = docs
      .select(col("doc_id"),
        graft.functions.AsciiWordTokens.tokenHashesCol(col("text")).as("th"))
      .filter(size(col("th")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes.longWindowHashes(col("th"), n)).as("s"))
    exactPairsFromExploded(sh, tau, maxDf)
  }

  /** Shared-shingle pair counts from any exploded (doc_id, s) shingle
    * stream — (id1 < id2, |A∩B|, |A|, |B|), the single-scan
    * bounded-collect plan every exact set-similarity flavor derives
    * from (Jaccard above, directional containment below, the
    * char-shingle truth `dedup_ngram_jaccard` grades against).
    */
  private def sharedShingleCounts(sh: DataFrame, maxDf: Int): DataFrame = {
    val grouped = sh.groupBy(col("s"))
      .agg(graft.functions.BoundedLongCollect.boundedCollect(col("doc_id"), maxDf)
        .as("ids"))
      .filter(col("ids").isNotNull)
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = grouped
      .filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), " +
          "y -> named_struct('id1', x, 'id2', y))))")).as("p"))
      .groupBy(col("p.id1").as("id1"), col("p.id2").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("na")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("nb")), "id2")
  }

  private def exactPairsFromExploded(sh: DataFrame, tau: Double,
                                     maxDf: Int): DataFrame =
    sharedShingleCounts(sh, maxDf)
      .select(col("id1"), col("id2"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jac"))
      .filter(col("jac") >= tau)

  private lazy val JaccardShingleCte: String =
    """d AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 4], ' ') AS s
             FROM d, UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
             WHERE len(toks) >= 5),
      shc AS (SELECT doc_id, s FROM sh WHERE s IN
              (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
                FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id),
      pairs AS (SELECT id1, id2,
                  CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jac
                FROM inter JOIN sizes sa ON sa.doc_id = id1
                JOIN sizes sb ON sb.doc_id = id2
                WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5)"""

  val dedupJaccardExact: QueryDef = QueryDef(
    "dedup_jaccard_exact",
    (s, dir) => jaccardExactPairs(Tables(s, dir, "documents"))
      .select(col("id1"), col("id2"), round(col("jac"), 6).as("jaccard")),
    Some(s"""WITH $JaccardShingleCte
      SELECT id1, id2, round(jac, 6) AS jaccard FROM pairs"""))

  /** DIRECTIONAL containment pairs: c(A→B) = |shA ∩ shB| / |shA| ≥ τ
    * means A's shingle set sits (near-)inside B's — the ASYMMETRIC
    * near-dup Jaccard misses by construction (a paragraph quoted whole
    * inside a 100× longer aggregator page has J ≈ 0.01 but
    * containment ≈ 1.0; dropping the contained copy is the standard
    * training-data hygiene for quote farms / aggregators / boilerplate
    * wrappers). Same single-scan bounded-collect plan as the exact
    * Jaccard — both directions of each shared-shingle pair are scored
    * from the one (inter, |A|, |B|) row, so the asymmetric flavor
    * costs zero extra shuffles. τ default 0.9 (Lee et al.-style
    * near-containment); the stop-shingle df cap bounds fan-out exactly
    * as in [[jaccardExactPairs]]. At 100 TB this exact stage runs on
    * LSH candidates; registered standalone so the containment math is
    * hash-checked against DuckDB.
    */
  def containmentPairs(docs: DataFrame, n: Int = 5, tau: Double = 0.9,
                       maxDf: Int = 100): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        graft.functions.AsciiWordTokens.tokenHashesCol(col("text")).as("th"))
      .filter(size(col("th")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHashes.longWindowHashes(col("th"), n)).as("s"))
    val counts = sharedShingleCounts(sh, maxDf)
    // both directions EXPLODE from the one (inter, na, nb) row instead
    // of a self-union: the union's two branches each re-planned the
    // whole shared-shingle pipeline (scan → bounded-collect → pair
    // expansion → two size joins) and left deduplication to runtime
    // stage reuse; a 2-struct posexplode emits the identical row pair
    // from a SINGLE subtree — one pipeline in the plan by construction
    counts.select(explode(array(
        struct(col("id1").as("doc_id"), col("id2").as("container_id"),
          (col("inter").cast("double") / col("na")).as("containment")),
        struct(col("id2").as("doc_id"), col("id1").as("container_id"),
          (col("inter").cast("double") / col("nb")).as("containment")))).as("x"))
      .select(col("x.doc_id").as("doc_id"),
        col("x.container_id").as("container_id"),
        col("x.containment").as("containment"))
      .filter(col("containment") >= tau)
  }

  /** The oracle reuses the Jaccard shingle CTEs (string shingles where
    * Spark joins 64-bit hashes — the Decontam seam) and scores both
    * directions of each id1<id2 pair; the containment value is ONE
    * IEEE division of exact integers, bit-identical across engines, so
    * the raw-threshold + 6dp-rounded-output shape is safe.
    */
  val dedupContainment: QueryDef = QueryDef(
    "dedup_containment",
    (s, dir) => containmentPairs(Tables(s, dir, "documents"))
      .select(col("doc_id"), col("container_id"),
        round(col("containment"), 6).as("containment")),
    Some(s"""WITH $JaccardShingleCte,
      dirs AS (
        SELECT id1 AS doc_id, id2 AS container_id,
               CAST(inter AS DOUBLE) / sa.n AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = id1
        UNION ALL
        SELECT id2, id1, CAST(inter AS DOUBLE) / sb.n
        FROM inter JOIN sizes sb ON sb.doc_id = id2)
      SELECT doc_id, container_id, round(containment, 6) AS containment
      FROM dirs WHERE containment >= 0.9"""))

  /** Connected components over the exact pairs, cross-engine graded: the
    * min-label fixpoint is engine-independent (unlike float iteration),
    * so DuckDB reproduces it with a recursive CTE running 10 rounds —
    * the same bound `connectedComponents` uses — and the cluster summary
    * hash-matches. This puts the ITERATIVE CC operator itself (reliable
    * checkpoints, one action per round) under the oracle gate; the LSH
    * variant (`dedup_clusters`) stays summary-graded.
    */
  val dedupClustersExact: QueryDef = QueryDef(
    "dedup_clusters_exact",
    (s, dir) => {
      val pairs = jaccardExactPairs(Tables(s, dir, "documents"))
      val labels = connectedComponents(pairs.select(col("id1"), col("id2")))
      labels.groupBy(col("label"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs_in_clusters"),
          (sum(col("sz")) - count(lit(1))).as("n_docs_to_drop"),
          max(col("sz")).as("largest_cluster"))
    },
    Some(s"""WITH RECURSIVE $JaccardShingleCte,
      edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                UNION ALL SELECT id2, id1 FROM pairs),
      nodes AS (SELECT DISTINCT a AS node FROM edges),
      cc(iter, node, label) AS (
        SELECT 0, node, node FROM nodes
        UNION ALL
        SELECT c.iter + 1, c.node,
          least(c.label, coalesce((SELECT MIN(c2.label) FROM cc c2
                                   JOIN edges e ON e.a = c2.node
                                   WHERE e.b = c.node), c.label))
        FROM cc c WHERE c.iter < 10
      ),
      labels AS (SELECT node, label FROM cc WHERE iter = 10),
      clusters AS (SELECT label, COUNT(*) AS sz FROM labels GROUP BY label)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs_in_clusters,
             CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_docs_to_drop,
             CAST(MAX(sz) AS BIGINT) AS largest_cluster
      FROM clusters"""))

  /** Persisted MinHash index for INCREMENTAL dedup — the realistic
    * 100 TB operating mode: crawl N+1 probes the signatures of crawls
    * 1..N without re-reading their text. The index stores one
    * (doc_id, bucket) row per (doc, band), partitioned by band so the
    * probe join reads co-located band files, and each document's
    * signature ONCE in `sigs`; at 64 perms that is ~0.8 KB per document
    * on disk regardless of document size (measured on a 1,000-document
    * index: bands 0.25 MB, sigs 0.52 MB) — the whole point of indexing.
    * Candidate verification estimates Jaccard from signature agreement
    * (the standard unbiased MinHash estimator); the original shingle
    * sets are deliberately NOT retained.
    */
  /** Hash family the signature/banding kernels use. Bumped whenever the
    * kernel changes in a way that invalidates persisted signatures (r10
    * moved wordShingles/bands from xxhash64 to FNV-1a — an index built
    * before that change gets ~zero bucket collisions against a
    * post-change probe and silently returns an empty near-dup set).
    * The index dir records this plus every signature parameter, and the
    * probe fails loudly on any mismatch instead.
    */
  private[graft] val MinHashHashFamily = "fnv1a64-oph1"

  /** Bucket sub-partition count: `bands/` lays
    * out as band=* / bmod=* with bmod = pmod(bucket, MinHashBucketMods),
    * so a probe pushes its batch's bounded touched-(band, bmod) set —
    * ≤ nBands × this many values — as a STATIC partition filter (the
    * probed-cell trick the IVF and BM25 indexes already use) instead of
    * reading the whole persisted index per batch. Pruning wins when the
    * batch touches few of the partitions (interactive probes, small
    * micro-batches against a years-deep index); a batch wide enough to
    * touch every mod degrades to the full-scan cost, and the over-cap
    * anchors still come from the colliding band rows alone.
    * Recorded in the meta marker: a probe computing bmod with a
    * different modulus would prune REAL candidates away silently.
    *
    * Sizing: every PROBE opens one parquet file per non-empty
    * (band, bmod) base dir — a fixed per-file reader-init constant
    * (measured ~2.5 ms/file: a one-task scan of the 256-file r16 base
    * took ~0.7 s against ~0.18 s at 64 files, r17) —
    * and COMPACTION rewrites the same count (~12 ms commit cost per
    * dir per write, row count irrelevant). Appends never pay it: they
    * land in the flat tail (below). 4 (=64 dirs with 16 bands) is the
    * guide-§6 file-sizing call: it quarters the per-probe open/commit
    * constants that dominated the streaming drain's micro-batches
    * while a 1-doc interactive probe still prunes ≥75% of the base
    * statically (16 of 64 dirs; 2-doc ≤50%) — at petabyte depth the
    * dirs hold GB-scale files either way and the larger files are the
    * better object-store layout. Raise it only for deployments whose
    * probes are tiny AND whose base dirs would stay large.
    */
  private[graft] val MinHashBucketMods = 4

  private def indexMetaPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/_graft_minhash_meta")

  /** On-disk layout of `bands/`: (doc_id, bucket) data columns under
    * band= / bmod= partition dirs — no signature: a probe reads band rows
    * to find candidates, and `sigs` only for the candidates it verifies.
    * Explicit so empty indexes read as empty.
    */
  private[graft] val BandsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bmod",
      org.apache.spark.sql.types.IntegerType)))

  /** `sigs/`: one (doc_id, sig) row per indexed document, flat files
    * sorted by doc_id in the base and in every run.
    */
  private[graft] val SigsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))

  private val ProbeHitSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("new_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("idx_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("est_jaccard",
      org.apache.spark.sql.types.DoubleType)))

  /** Table layout line of the meta marker: an index whose band rows
    * still carry signatures (no such line) is refused, not read.
    */
  private val MinHashLayout = "layout=bands+sigs\n"

  private def minHashMeta(shingleW: Int, perms: Int, rowsPerBand: Int): String =
    s"hash_family=$MinHashHashFamily\nshingle_w=$shingleW\nperms=$perms\n" +
      s"rows_per_band=$rowsPerBand\nbucket_mods=$MinHashBucketMods\n" + MinHashLayout

  // ---- size-tiered LSM layout + maintenance commit protocol ----
  //
  // LSM shape over the versioned-manifest commit protocol
  // (graft.util.ManifestCommit / ManifestTiered): the `bands` BASE is
  // (band, bmod)-partitioned so probes prune statically; `bands.l1`
  // holds LEVEL-1 runs as flat (band, bmod, bucket)-sorted files pruned
  // by parquet footer stats (one run per minor compaction); `bands.tail`
  // is the level-0 TAIL where appends land as a handful of FLAT dirs.
  // `sigs` tiers the same way with flat doc_id-sorted base and runs. A
  // micro-batch append therefore costs two small unpartitioned writes
  // + ONE manifest publish, never a 100+-partition-dir commit; probes
  // resolve one manifest snapshot and read pruned base + pruned runs
  // + the (compaction-bounded) tail. This is the Delta/Iceberg-style
  // split of cheap appends vs. clustered layout, with LevelDB-style
  // tiering so maintenance never pays a full-index rewrite per cycle.
  // Exactly-once folds ride the manifest's committed-batch state; a
  // crashed writer leaves only unreferenced dirs vacuum collects.

  def saveMinHashIndex(docs: DataFrame, indexDir: String, shingleW: Int = 5,
                       perms: Int = 64, rowsPerBand: Int = 4): Unit = {
    graft.util.ManifestCommit.assertPublishable(
      docs.sparkSession.sessionState.newHadoopConf(), indexDir)
    saveMinHashManifest(docs, indexDir, shingleW, perms, rowsPerBand)
  }

  private def writeIndexMeta(spark: SparkSession, indexDir: String,
                             shingleW: Int, perms: Int, rowsPerBand: Int): Unit = {
    val fs = indexMetaPath(indexDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val out = fs.create(indexMetaPath(indexDir), true)
    try out.write(minHashMeta(shingleW, perms, rowsPerBand)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ---- versioned-manifest (object-store) protocol arms ----
  //
  // Same tables, same probe join, same size-tiered policy — but every
  // maintenance step writes FRESH data dirs and publishes ONE new
  // manifest (graft.util.ManifestCommit), so the protocol needs no
  // renames, no OS locks, and no marker recovery: exactly what an
  // S3-class store offers. Probes resolve a manifest SNAPSHOT, so no
  // probe ever needs scheduling against compaction. Level-1 runs are
  // flat (band, bmod, bucket)-sorted files pruned by parquet footer
  // stats (TieredIndex.layFlatSorted).

  import graft.util.{ManifestCommit, ManifestTiered}

  private def saveMinHashManifest(docs: DataFrame, indexDir: String,
                                  shingleW: Int, perms: Int,
                                  rowsPerBand: Int): Unit = {
    val spark = docs.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    // meta marker first: a reader that can resolve the manifest must
    // always find the params file (between the two writes a first
    // build has no manifest yet, so probes fail with "no index")
    writeIndexMeta(spark, indexDir, shingleW, perms, rowsPerBand)
    val sigs = signatures(docs, shingleW, perms).persist()
    try {
      val banded = bandsOf(sigs, perms, rowsPerBand)
      val bd = ManifestTiered.layDir(spark, indexDir, "bands",
        banded, partitionBy = Seq("band", "bmod"),
        sortKeys = Seq(col("bucket"), col("doc_id")))
      // every document has exactly one band row per band
      val sd = ManifestTiered.layDir(spark, indexDir, "sigs", sigs,
        partitionBy = Nil, sortKeys = Seq(col("doc_id")),
        sizeHintRows = bd.rows / (perms / rowsPerBand),
        rowsPerFile = SigsRowsPerRunFile)
      // a REBUILD replaces every table and resets the committed-batch
      // state: a new logical index must not inherit tokens that would
      // silently no-op a new crawl reusing a batch id (the manifest
      // generation stays monotone — the stale-writer guard needs it)
      ManifestCommit.publish(conf, indexDir, m => m.copy(
        tables = Map("bands" -> Seq(bd), "sigs" -> Seq(sd)),
        committed = Map.empty, writers = Map.empty, floor = 0L)); ()
    } finally { sigs.unpersist(blocking = false); () }
  }

  private def appendMinHashManifest(sigs0: DataFrame, indexDir: String,
                                    perms: Int, rowsPerBand: Int,
                                    batchId: Option[String],
                                    expectMeta: String): Unit = {
    val conf = sigs0.sparkSession.sessionState.newHadoopConf()
    val m = ManifestCommit.current(conf, indexDir)
    if (batchId.exists(m.isCommitted)) return
    val sigs = sigs0.persist()
    try appendAtManifest(sigs, bandsOf(sigs, perms, rowsPerBand), indexDir,
      m, batchId, commuting = true, expectMeta)
    finally { sigs.unpersist(blocking = false); () }
  }

  /** Lay the batch's tail dirs and publish against the caller's
    * resolved snapshot. Cheapest possible lay: flat unsorted tail dirs
    * (the append's cost follows the batch; compaction owns the
    * re-sort), both tables landing in ONE publish — atomically,
    * with the batch id. `bands` derives from `sigs` (persisted by the
    * caller).
    */
  /** `commuting = true` (pure appends, no paired probe): a lost CAS
    * retries against the fresh snapshot without re-laying — two
    * appenders racing one index both land. `false` (probe-paired
    * callers): fail LOUDLY on contention, because the append must
    * publish against the SAME snapshot the probe read — a silent
    * retry onto a racer's newer snapshot would commit the batch while
    * its hit log is missing the cross-batch pairs the racer
    * introduced; the caller's re-drive (or the streaming engine's
    * batch retry) re-probes the post-racer snapshot instead.
    */
  /** `expectMeta`: the exact meta text the caller's validateIndexMeta
    * matched — i.e. the params this batch is BANDED under. Re-checked
    * immediately before EVERY publish attempt (not just commuting
    * retries): a racing rebuild with different params can land at any
    * point after validation — including before the first attempt, with
    * its manifest already current, where the CAS sees no contention
    * and would commit rows banded under the superseded hash
    * family/params — probe buckets that silently never collide with
    * the rebuilt corpus. The pre-publish check plus the CAS close
    * every interleaving: a rebuild publishing AFTER the check races
    * our create for the same generation, exactly one side wins, and
    * the loser fails loudly (our commuting retry then re-runs this
    * check through the invariant).
    */
  /** `alongside`: writes that must finish before the publish (a probe's
    * hits) and run beside the lays.
    */
  private[dedup] def appendAtManifest(sigs: DataFrame, bands: DataFrame,
                                      indexDir: String,
                                      m: ManifestCommit.Manifest,
                                      batchId: Option[String],
                                      commuting: Boolean,
                                      expectMeta: String,
                                      alongside: Seq[() => Unit] = Nil): Unit = {
    val spark = sigs.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    // the two tail lays are independent reads of the persisted batch —
    // overlap their write jobs from driver threads (§2.6); the sigs lay
    // rides the bands lay's wall-clock
    def lay(table: String, rows: DataFrame) = () =>
      Some(ManifestTiered.layDir(spark, indexDir, table, rows, partitionBy = Nil, sortKeys = Nil))
    val laid = graft.util.DriverPar.inParallel(spark.sparkContext)(Seq(
      lay("bands.tail", bands), lay("sigs.tail", sigs)) ++
      alongside.map(write => () => { write(); None })).flatten
    val update = (mm: ManifestCommit.Manifest) =>
      Seq("bands.tail", "sigs.tail").zip(laid).foldLeft(mm) {
        case (acc, (t, e)) => ManifestCommit.addDir(acc, t, e.dir, e.rows)
      }
    def metaUnchanged(): Unit = {
      val now = readIndexMetaText(spark, indexDir)
      if (now != expectMeta) throw new IllegalStateException(
        s"a concurrent rebuild of $indexDir changed the MinHash params " +
          s"while this append was in flight — was:\n$expectMeta\nnow:\n" +
          s"$now\nThe batch's banded signatures derive from the " +
          s"superseded params and must not land in the rebuilt index. " +
          s"Re-run the append (re-banding the batch) against the new " +
          s"index.")
    }
    metaUnchanged()
    if (commuting)
      ManifestCommit.publishCommuting(conf, indexDir, m, update, batchId,
        invariant = _ => metaUnchanged())
    else ManifestCommit.publishAt(conf, indexDir, m, update, batchId)
    ()
  }

  private def compactMinHashManifest(spark: SparkSession,
                                     indexDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = readIndexMetaText(spark, indexDir)
    if (!meta.contains(s"hash_family=$MinHashHashFamily\n") ||
        !meta.contains(s"bucket_mods=$MinHashBucketMods\n") ||
        !meta.contains(MinHashLayout))
      throw new IllegalStateException(
        s"MinHash index at $indexDir has an incompatible layout —\n$meta\n" +
          s"compacting expects hash_family=$MinHashHashFamily, " +
          s"bucket_mods=$MinHashBucketMods and $MinHashLayout" +
          s"rebuild with saveMinHashIndex.")
    // shared manifest fold driver: bands (dominant) decides the tier
    // action and sigs folds the same action as-is, both landing in the
    // SAME publish. An index laid before probes took their over-cap
    // anchors from the band rows still names `widths*` tables; nothing
    // reads or folds them
    ManifestTiered.compactTables(spark, indexDir, Seq(
      ManifestTiered.FoldSpec("bands", BandsSchema,
        basePartitionBy = Seq("band", "bmod"),
        baseSortKeys = Seq(col("bucket"), col("doc_id")),
        runSortKeys = Seq(col("band"), col("bmod"), col("bucket"), col("doc_id")),
        runRowsPerFile = BandsRowsPerRunFile),
      ManifestTiered.FoldSpec("sigs", SigsSchema,
        basePartitionBy = Nil,
        baseSortKeys = Seq(col("doc_id")),
        runSortKeys = Seq(col("doc_id")),
        runRowsPerFile = SigsRowsPerRunFile)))
  }

  /** The params meta marker's text; a missing marker throws with
    * `ifMissing` appended to the "no marker" message.
    */
  private def readIndexMetaText(spark: SparkSession, indexDir: String,
                                ifMissing: String =
                                  "; refusing to compact an unrecognized layout.")
      : String = {
    val fs = indexMetaPath(indexDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    if (!fs.exists(indexMetaPath(indexDir)))
      throw new IllegalStateException(
        s"MinHash index at $indexDir has no _graft_minhash_meta marker$ifMissing")
    val in = fs.open(indexMetaPath(indexDir))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Run-file sizes, ~128 MB each: a sig-free band row is 2 longs +
    * 2 ints, ~15 B on disk (0.25 MB for 16,000 rows); a sigs row
    * (64 longs) is ~520 B on disk.
    */
  private val BandsRowsPerRunFile = 8L * 1000 * 1000
  private val SigsRowsPerRunFile = 250L * 1000

  /** A batch's signatures and the band rows derived from them, at the
    * index defaults (the signatures locally checkpointed). Its only
    * callers are the MinHash specs.
    */
  private[graft] def bandedSignaturesDev(docs: DataFrame): (DataFrame, DataFrame) = {
    val sigs = signatures(docs, 5, 64).localCheckpoint()
    (sigs, bandsOf(sigs, 64, 4))
  }

  /** (doc_id, sig): one row per document — what a maintenance step
    * persists or checkpoints, computed ONCE (tokenize → shingle → OPH is
    * the dominant per-batch CPU).
    */
  private def signatures(docs: DataFrame, shingleW: Int, perms: Int): DataFrame =
    minHashSignature(wordShingles(docs, shingleW), perms)

  /** (doc_id, bucket, band, bmod) band rows of a (materialized)
    * signature frame — a narrow explode, cheap to re-derive per
    * consumer; the signature itself stays in its one row per document.
    */
  private def bandsOf(sigs: DataFrame, perms: Int, rowsPerBand: Int): DataFrame =
    bands(sigs, perms, rowsPerBand)
      .select(col("doc_id"), col("bucket"), col("band"),
        pmod(col("bucket"), lit(MinHashBucketMods.toLong)).cast("int").as("bmod"))

  private def validateIndexMeta(spark: SparkSession, indexDir: String,
                                shingleW: Int, perms: Int, rowsPerBand: Int,
                                verb: String): Unit = {
    val meta = readIndexMetaText(spark, indexDir,
      s": it was built by an older binary with an unknown hash family — " +
        s"$verb it would silently break (empty probes / a poisoned " +
        s"index). Rebuild with saveMinHashIndex.")
    val expect = minHashMeta(shingleW, perms, rowsPerBand)
    if (meta != expect)
      throw new IllegalStateException(
        s"MinHash index at $indexDir was built with incompatible parameters —\n" +
          s"index:\n$meta\n$verb expects:\n$expect" +
          s"Crossing hash families/parameters/layout silently yields zero bucket " +
          s"collisions or a poisoned index; rebuild it or match the parameters.")
  }

  /** Fold a NEW batch's signatures into an existing MinHash index —
    * the cross-crawl maintenance arm (MinHash's counterpart of the IVF
    * `ann_index_update` and the BM25 delta fold): crawl N+1's
    * band rows and signatures land as flat tail dirs, so the index grows
    * by exactly the batch's ~0.8 KB/doc and the dominant bytes are never
    * rewritten; both land in one manifest publish. The marker is
    * validated FIRST — appending signatures from a different hash
    * family/banding would poison every later probe. With a `batchId`, the append is
    * retry-idempotent: a batch already committed in the resolved
    * snapshot is a no-op. doc_id novelty is upstream's contract, same
    * as [[dedupAgainstMinHashIndex]].
    */
  def appendMinHashIndex(newDocs: DataFrame, indexDir: String,
                         shingleW: Int = 5, perms: Int = 64,
                         rowsPerBand: Int = 4,
                         batchId: Option[String] = None): Unit = {
    validateIndexMeta(newDocs.sparkSession, indexDir,
      shingleW, perms, rowsPerBand, "appending")
    graft.util.ManifestCommit.requireIndex(
      newDocs.sparkSession.sessionState.newHadoopConf(), indexDir,
      "appendMinHashIndex")
    appendMinHashManifest(signatures(newDocs, shingleW, perms),
      indexDir, perms, rowsPerBand, batchId,
      expectMeta = minHashMeta(shingleW, perms, rowsPerBand))
  }

  /** New-batch dedup probe against a saved index: candidates are
    * band-bucket collisions with the index rows of the partitions the
    * batch touches, verified by the signature-agreement estimator
    * ([[probeWithBands]]). Returns (new_id, idx_id, est_jaccard) for
    * pairs estimated ≥ `threshold`. The candidates are gathered when
    * this is called; the returned frame reads their signatures lazily.
    *
    * READ-ONLY: the probe resolves ONE manifest snapshot — or, with
    * `asOfGen`, a retained historical generation
    * ([[graft.util.ManifestCommit.atGeneration]]) — so dirs a
    * concurrent append or compaction has laid but not published are
    * invisible to it, and every table comes from the same tier state.
    *
    * The batch's signatures are computed once, into an eager
    * localCheckpoint that both the candidate collects and the lazy
    * result read: a persist cannot be scoped across the lazy result,
    * and checkpoint blocks are reclaimed by the ContextCleaner when the
    * result frame is collected. An executor loss invalidates the
    * checkpoint and fails the consuming job; the read-only probe is
    * simply re-run.
    */
  def dedupAgainstMinHashIndex(newDocs: DataFrame, indexDir: String,
                               shingleW: Int = 5, perms: Int = 64,
                               rowsPerBand: Int = 4,
                               threshold: Double = 0.5,
                               asOfGen: Option[Long] = None): DataFrame = {
    val spark = newDocs.sparkSession
    validateIndexMeta(spark, indexDir, shingleW, perms, rowsPerBand, "probing")
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir,
      "dedupAgainstMinHashIndex")
    val sigs = signatures(newDocs, shingleW, perms).localCheckpoint()
    // readers resolve ONE manifest snapshot — consistent across any
    // concurrent append/compact/vacuum, no healing needed (a crashed
    // manifest writer leaves only invisible garbage)
    val m = asOfGen
      .map(g => graft.util.ManifestCommit.atGeneration(conf, indexDir, g))
      .getOrElse(graft.util.ManifestCommit.current(conf, indexDir))
    probeWithBands(spark, sigs, bandsOf(sigs, perms, rowsPerBand),
      manifestReader(spark, indexDir, m), perms, threshold,
      nBands = perms / rowsPerBand)
  }

  /** The probe-side index reader: base ∪ level-1 runs ∪ tail of one
    * resolved snapshot behind a (table, schema, filter) shape, so
    * [[probeWithBands]] is snapshot-blind.
    */
  private[dedup] def manifestReader(spark: SparkSession, indexDir: String,
                             m: graft.util.ManifestCommit.Manifest)
      : (String, org.apache.spark.sql.types.StructType, Option[Column]) => DataFrame =
    (t, sch, f) => graft.util.ManifestTiered.read(spark, indexDir, m, t, sch, f)

  /** Over this many batch band rows (each a (band, bucket) collision
    * key of one document) the probe takes the shuffled path instead of
    * collecting the keys and the candidates to the driver: 16 M keys ≈
    * 256 MB of primitive arrays, the ceiling a driver and a broadcast
    * absorb comfortably. A batch that wide (≥ 1 M documents in one
    * maintenance step) can afford the index-side shuffle it pays
    * instead.
    */
  private val MaxProbeBroadcastKeys = 16L * 1000 * 1000

  /** The probe itself, over a batch's precomputed (doc_id, sig) rows
    * and the (doc_id, bucket, band, bmod) rows derived from them; both
    * are persisted or checkpointed by the caller. Returns
    * (new_id, idx_id, est_jaccard) for pairs estimated ≥ `threshold`.
    * Meta validation is the caller's.
    *
    * A batch of at most `maxBroadcastKeys` band rows runs three
    * collects and returns a lazy verification plan, so its cost follows
    * the batch and its candidates, not the index depth or tier count:
    *  1. one job counts the band rows (materializing the batch);
    *  2. one job gathers the collision keys. They ship to tasks as ONE
    *     broadcast that every `bands` tier filters against inside its
    *     scan, and the batch's (band, bmod) set ([[bandFilter]]) prunes
    *     the partitioned base statically and the flat tiers by footer
    *     stats;
    *  3. one job collects the colliding band rows, counted per bucket
    *     ([[bucketRows]]). A bucket over [[SimHashMaxBucket]] rows pairs
    *     only through its min-id anchor, the index-side analogue of
    *     [[bucketCapSplit]], so a bucket of thousands of boilerplate
    *     twins yields one witness, not |new| × |bucket| pairs; the
    *     driver pairs the rest with the batch documents sharing their
    *     key. (A twin in a bucket gone wide on a shared prefix is then
    *     found through its other bands' under-cap buckets: a miss needs
    *     every shared band over the cap and the anchor dissimilar.)
    *     The counts and anchors come from the rows the probe reads
    *     anyway, so no per-bucket summary is maintained.
    * The returned plan reads `sigs` only for the candidate ids, through
    * an [[inIds]] predicate: row-group and page skipping over the
    * doc_id-sorted files, and no generated class per batch.
    *
    * A wider batch plans the same rules as one shuffled query: the
    * batch's keys semi-join the index band rows, the over-cap anchors
    * are counted over those colliding rows per (band, bucket) (no
    * whole-index aggregate), and `sigs` is read whole.
    */
  private[dedup] def probeWithBands(spark: SparkSession, batchSigs: DataFrame,
                                    bandedBatch: DataFrame,
                                    readIdx: (String, org.apache.spark.sql.types.StructType,
                                      Option[Column]) => DataFrame,
                                    perms: Int,
                                    threshold: Double,
                                    nBands: Int,
                                    maxBroadcastKeys: Long = MaxProbeBroadcastKeys)
      : DataFrame = {
    val nKeys = bandedBatch.queryExecution.toRdd.count()
    if (nKeys == 0L) emptyHits(spark)
    else if (nKeys > maxBroadcastKeys)
      shuffledProbe(batchSigs, bandedBatch, readIdx, perms, threshold, nBands)
    else collectedProbe(spark, batchSigs, bandedBatch, readIdx, perms, threshold, nBands)
  }

  private def emptyHits(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ProbeHitSchema)

  /** The static (band, bmod) filter for a batch touching `touched`
    * (band × [[MinHashBucketMods]] + bmod) pairs: the pair expression
    * prunes the partitioned base's dirs exactly, and the direct
    * band/bmod `isin` conjuncts are what parquet pushes to the flat
    * runs' and tail's footer stats. A batch touching every pair gets
    * none: it would prune nothing, and its literals would make each
    * batch's plan a new generated class.
    */
  private def bandFilter(touched: Seq[Long], nBands: Int): Option[Column] =
    if (touched.size >= nBands.toLong * MinHashBucketMods) None
    else Some(
      col("band").isin(touched.map(p => (p / MinHashBucketMods).toInt).distinct: _*) &&
        col("bmod").isin(touched.map(p => (p % MinHashBucketMods).toInt).distinct: _*) &&
        (col("band").cast("long") * MinHashBucketMods + col("bmod")).isin(touched: _*))

  private def collectedProbe(spark: SparkSession, batchSigs: DataFrame,
                             bandedBatch: DataFrame,
                             readIdx: (String, org.apache.spark.sql.types.StructType,
                               Option[Column]) => DataFrame,
                             perms: Int, threshold: Double, nBands: Int): DataFrame = {
    val sc = spark.sparkContext
    val parts = bandedBatch.select(col("band"), col("bmod"), col("bucket"), col("doc_id"))
      .mapPartitions { rows =>
        val (b, m) = (Array.newBuilder[Int], Array.newBuilder[Int])
        val (k, d) = (Array.newBuilder[Long], Array.newBuilder[Long])
        rows.foreach { r => b += r.getInt(0); m += r.getInt(1); k += r.getLong(2); d += r.getLong(3) }
        Iterator((b.result(), m.result(), k.result(), d.result()))
      }(KeyColumnsEncoder).collect()
    val bands = parts.flatMap(_._1)
    val bmods = parts.flatMap(_._2)
    val buckets = parts.flatMap(_._3)
    val docs = parts.flatMap(_._4)
    // per band: bucket → the batch documents carrying it
    val keys = (0 until nBands).map { band =>
      val at = bands.indices.filter(bands(_) == band)
      LongMultiMap(at.map(buckets).toArray, at.map(docs).toArray)
    }.toArray
    val touched = bands.indices.map(i => bands(i).toLong * MinHashBucketMods + bmods(i)).distinct
    val partFilter = bandFilter(touched, nBands)
    val shipped = sc.broadcast(keys)
    val collides = udf((band: Int, bucket: Long) => shipped.value(band).contains(bucket))
    val pairs = readIdx("bands", BandsSchema, partFilter)
      .filter(collides(col("band"), col("bucket")))
      .select(col("band"), col("bucket"), col("doc_id"))
      .mapPartitions(bucketRows)(BucketRowsEncoder).collect()
      .groupBy(r => (r._1, r._2)).toSeq
      .flatMap { case ((band, bucket), perPart) =>
        val ids =
          if (perPart.map(_._3.toLong).sum > SimHashMaxBucket) Seq(perPart.map(_._4).min)
          else perPart.flatMap(_._5).toSeq
        for (idx <- ids; doc <- keys(band).get(bucket)) yield doc -> idx
      }
      .distinct.toArray
    shipped.unpersist(blocking = false)
    if (pairs.isEmpty) return emptyHits(spark)
    val byIdx = sc.broadcast(LongMultiMap(pairs.map(_._2), pairs.map(_._1)))
    val newIdsOf = udf((id: Long) => byIdx.value.get(id))
    verified(
      readIdx("sigs", SigsSchema, Some(inIds("doc_id", pairs.map(_._2))))
        .select(col("doc_id").as("idx_id"), col("sig").as("idx_sig"),
          explode(newIdsOf(col("doc_id"))).as("new_id")),
      batchSigs.filter(inIds("doc_id", pairs.map(_._1))), perms, threshold)
  }

  // encoders of the two driver collects, derived once (each derivation
  // reflects over the type: milliseconds per probe otherwise)
  private lazy val KeyColumnsEncoder =
    org.apache.spark.sql.Encoders.product[(Array[Int], Array[Int], Array[Long], Array[Long])]
  private lazy val BucketRowsEncoder =
    org.apache.spark.sql.Encoders.product[(Int, Long, Int, Long, Array[Long])]

  /** One partition's colliding band rows (band, bucket, doc_id) as one
    * (band, bucket, rows, min id, ids) row per bucket, the ids dropped
    * once the bucket passes [[SimHashMaxBucket]] here: it is then over
    * the cap in the index too, where only its min-id anchor may pair
    * (the index-wide min is some partition's min). A bucket of
    * thousands of boilerplate twins thus ships one witness, not
    * |bucket| ids.
    */
  private def bucketRows(rows: Iterator[org.apache.spark.sql.Row])
      : Iterator[(Int, Long, Int, Long, Array[Long])] = {
    final class Bucket { var n = 0; var min = Long.MaxValue; val ids = Array.newBuilder[Long] }
    val buckets = scala.collection.mutable.HashMap.empty[(Int, Long), Bucket]
    rows.foreach { r =>
      val b = buckets.getOrElseUpdate((r.getInt(0), r.getLong(1)), new Bucket)
      val id = r.getLong(2)
      b.n += 1
      b.min = math.min(b.min, id)
      if (b.n <= SimHashMaxBucket) b.ids += id
    }
    buckets.iterator.map { case ((band, bucket), b) =>
      (band, bucket, b.n, b.min, if (b.n > SimHashMaxBucket) Array.empty[Long] else b.ids.result())
    }
  }

  /** `c IN ids` as an `InSet` at any set size: parquet pushes it as an
    * `in` filter (row-group and page skipping on sorted files), and code
    * generation keeps the set as a reference object, not inlined
    * literals.
    */
  private def inIds(c: String, ids: Array[Long]): Column =
    Bridge.column(InSet(Bridge.expression(col(c)), ids.toSet[Any]))

  private def shuffledProbe(batchSigs: DataFrame, bandedBatch: DataFrame,
                            readIdx: (String, org.apache.spark.sql.types.StructType,
                              Option[Column]) => DataFrame,
                            perms: Int, threshold: Double, nBands: Int): DataFrame = {
    val touched = bandedBatch
      .agg(collect_set(col("band").cast("long") * MinHashBucketMods + col("bmod")))
      .collect()(0).getSeq[Long](0)
    val partFilter = bandFilter(touched, nBands)
    // each colliding (band, bucket) holds every index row of that
    // bucket, so its count and min id are the bucket's width and anchor
    val bucket = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))
    val idx = readIdx("bands", BandsSchema, partFilter)
      .select(col("band"), col("bucket"), col("doc_id").as("idx_id"))
      .join(bandedBatch.select(col("band"), col("bucket")), Seq("band", "bucket"), "left_semi")
      .withColumn("bw", count(lit(1)).over(bucket))
      .withColumn("aid", min(col("idx_id")).over(bucket))
      .filter(col("bw") <= SimHashMaxBucket || col("idx_id") === col("aid"))
      .select(col("band"), col("bucket"), col("idx_id"))
    val cand = bandedBatch
      .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
      .join(idx, Seq("band", "bucket"))
      .select(col("new_id"), col("idx_id"))
      .dropDuplicates("new_id", "idx_id")
    verified(
      readIdx("sigs", SigsSchema, None)
        .select(col("doc_id").as("idx_id"), col("sig").as("idx_sig"))
        .join(cand, "idx_id"),
      batchSigs, perms, threshold)
  }

  /** (new_id, idx_id, est_jaccard ≥ threshold) from candidate rows
    * carrying (new_id, idx_id, idx_sig) and the batch's signatures.
    */
  private def verified(cand: DataFrame, batchSigs: DataFrame, perms: Int,
                       threshold: Double): DataFrame =
    cand.join(batchSigs.select(col("doc_id").as("new_id"), col("sig").as("new_sig")),
        "new_id")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(new_sig, idx_sig, (x, y) -> x = y), v -> v))" +
          s" / CAST($perms AS DOUBLE)"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("idx_id"), round(col("est_jaccard"), 6).as("est_jaccard"))

  /** A long → long multimap in two primitive arrays sorted by key —
    * the batch's per-band collision keys shipped to tasks and the
    * candidate pairs by index id, at 16 bytes an entry.
    */
  private[dedup] final class LongMultiMap(keys: Array[Long], vals: Array[Long])
      extends Serializable {
    private def first(k: Long): Int = {
      var (lo, hi) = (0, keys.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < k) lo = mid + 1 else hi = mid
      }
      lo
    }
    def contains(k: Long): Boolean = {
      val i = first(k)
      i < keys.length && keys(i) == k
    }
    def get(k: Long): Array[Long] = {
      val i = first(k)
      var j = i
      while (j < keys.length && keys(j) == k) j += 1
      java.util.Arrays.copyOfRange(vals, i, j)
    }
  }

  private[dedup] object LongMultiMap {
    def apply(keys: Array[Long], vals: Array[Long]): LongMultiMap = {
      val order = keys.indices.sortBy(keys(_))
      new LongMultiMap(order.map(keys).toArray, order.map(vals).toArray)
    }
  }

  /** Probe-then-append in one maintenance step, the per-crawl and
    * streaming foreachBatch cadence. The batch's signatures are
    * computed once and persisted for both sides; a batch then runs a
    * fixed sequence of Spark jobs, whatever the index depth or tier
    * count (7 for a 250-document batch against a base and two tails):
    * the probe's three collects ([[probeWithBands]]: band-row count,
    * collision keys, colliding band rows), then the hits write (the
    * candidates' signatures joined to the batch's) beside the two
    * tail lays, then one publish. Hits land in `hitsOut` before the
    * publish, so they always reflect the pre-batch index.
    *
    * Exactly-once with a `batchId` (Spark's micro-batch retry is
    * at-least-once): hits write to `$hitsOut/batch_id=<id>` with
    * OVERWRITE (a replay rewrites the same partition), the append
    * publishes against the snapshot the probe read and carries the
    * batch id, and a batch already committed in the resolved snapshot
    * is a no-op. A crashed publish leaves only unreferenced dirs
    * (vacuum garbage), and the re-driven batch recomputes against the
    * unchanged index. Without a batchId the append is crash-atomic but
    * a re-driven call appends twice; callers with retry semantics pass
    * one. Batch-less hits land under a generated `batch_id=adhoc-*`
    * partition, so one hitsOut dir never mixes flat and partitioned
    * layouts (a Spark read-time error).
    */
  def probeAndAppendMinHashIndex(newDocs: DataFrame, indexDir: String,
                                 hitsOut: String, shingleW: Int = 5,
                                 perms: Int = 64, rowsPerBand: Int = 4,
                                 threshold: Double = 0.5,
                                 batchId: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    validateIndexMeta(spark, indexDir, shingleW, perms, rowsPerBand, "maintaining")
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir,
      "probeAndAppendMinHashIndex")
    // hits ALWAYS land under a batch_id partition — mixing flat and
    // partitioned layouts in one hitsOut dir is a read-time error
    // ("Conflicting directory structures"), so a batch-less call
    // gets a generated unique token instead of a root-level append
    def hitsBid = batchId.getOrElse(
      s"adhoc-${java.util.UUID.randomUUID().toString.take(12)}")
    val m = ManifestCommit.current(conf, indexDir)
    if (!batchId.exists(m.isCommitted)) {
      val sigs = signatures(newDocs, shingleW, perms).persist()
      val banded = bandsOf(sigs, perms, rowsPerBand)
      try {
        val hits = probeWithBands(spark, sigs, banded,
          manifestReader(spark, indexDir, m), perms, threshold,
          nBands = perms / rowsPerBand)
        val bid = hitsBid
        // the hits write runs beside the tail lays and lands before the
        // publish; the append publishes against the SAME snapshot the
        // probe read — the CAS fails loudly if anything landed in between.
        // On a lost race, a batch-ID'd retry overwrites its own hits
        // partition, but an ADHOC (generated-id) retry would write a
        // SECOND partition and double-count the log — drop this
        // attempt's hits before rethrowing
        try appendAtManifest(sigs, banded, indexDir, m, batchId,
          commuting = false,
          expectMeta = minHashMeta(shingleW, perms, rowsPerBand),
          alongside = Seq(() => hits.write.mode("overwrite").parquet(s"$hitsOut/batch_id=$bid")))
        catch {
          case e: IllegalStateException if batchId.isEmpty =>
            val p = new org.apache.hadoop.fs.Path(s"$hitsOut/batch_id=$bid")
            p.getFileSystem(conf).delete(p, true)
            throw e
        }
      } finally { sigs.unpersist(blocking = false); () }
    }
  }

  /** SIZE-TIERED compaction (policy in graft.util.TieredIndex): the
    * routine cycle folds the flat level-0 TAIL into one new
    * (band, bmod)-partitioned LEVEL-1 RUN — O(tail) IO, the base is
    * never touched; runs re-merge into a single run when their count
    * passes TieredIndex.MaxL1Runs (O(L1), base still untouched); and
    * the base itself rewrites ONLY when the L1+tail mass reaches
    * MajorRatio × base, so the O(base) rewrite amortizes over O(base)
    * of appended bytes. Per-cycle compaction IO therefore follows the
    * TAIL, not the accumulated index — the r12 single-level design
    * rewrote the whole base every cycle (48.6 s / 27.2 GB shuffle at
    * 1 M docs to fold 0.5 s appends).
    *
    * At every tier the sigs rows fold the same action as the bands
    * rows, so probe results are identical across every level state —
    * both tables land in ONE manifest publish, and probes resolve one
    * snapshot, so compaction needs no scheduling against probes at all.
    * Committed-batch state and the meta marker are untouched.
    */
  /** `vacuumKeep`: run [[graft.util.ManifestCommit.vacuum]] inline
    * after the fold, retaining the newest K generations — the 24/7
    * deployment ergonomic (one compaction verb on a cadence keeps both
    * the tier shape AND the garbage bounded, no separate vacuum
    * orchestration; SCALE.md §Round-15 measures probe parity across
    * every compact+vacuum pair). Size K to the longest AS-OF horizon
    * readers need.
    */
  def compactMinHashIndex(spark: SparkSession, indexDir: String,
                          vacuumKeep: Option[Int] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir,
      "compactMinHashIndex")
    compactMinHashManifest(spark, indexDir)
    vacuumKeep.foreach(k => ManifestCommit.vacuum(conf, indexDir, keepGens = k))
  }

  /** Per-tier row mass + the size policy's pending decision for this
    * index — the maintenance-curve observability hook
    * (tools/MaintenanceCurve, SCALE.md's per-compaction IO rows).
    * Read-only; tier masses ride the manifest (zero Spark jobs).
    */
  def compactionTiers(spark: SparkSession, indexDir: String)
      : (String, graft.util.TieredIndex.TierSizes) = {
    graft.util.ManifestCommit.requireIndex(
      spark.sessionState.newHadoopConf(), indexDir, "compactionTiers")
    val m = ManifestCommit.current(
      spark.sessionState.newHadoopConf(), indexDir)
    val sizes = ManifestTiered.sizes(spark, indexDir, m, "bands", BandsSchema)
    val action = graft.util.TieredIndex.plan(sizes) match {
      case graft.util.TieredIndex.NoOp => "NoOp"
      case graft.util.TieredIndex.Minor(_) => "Minor"
      case graft.util.TieredIndex.MergeRuns => "MergeRuns"
      case graft.util.TieredIndex.Major => "Major"
    }
    (action, sizes)
  }

  /** Probe-visible band-row mass (base ∪ runs ∪ tail) read off the
    * manifest's exact per-dir row counts — zero Spark jobs where the
    * old `ManifestTiered.read(...).count()` re-scanned every tier's
    * parquet footers; falls back to a real count only for a v1
    * manifest with unknown rows (sizes() handles that), so the value
    * is identical by construction.
    */
  private def sigMass(spark: SparkSession, indexDir: String,
                      m: ManifestCommit.Manifest): Long = {
    val t = ManifestTiered.sizes(spark, indexDir, m, "bands", BandsSchema)
    t.base + t.l1 + t.tail
  }

  /** Per-band signature row counts across base ∪ runs ∪ tail — the CLI
    * maintenance arms' report frame. Schema-read like the probe: an
    * empty-seeded index has zero part files and inference would throw.
    */
  def indexBandCounts(spark: SparkSession, indexDir: String): DataFrame = {
    graft.util.ManifestCommit.requireIndex(
      spark.sessionState.newHadoopConf(), indexDir, "indexBandCounts")
    val m = ManifestCommit.current(
      spark.sessionState.newHadoopConf(), indexDir)
    ManifestTiered.read(spark, indexDir, m, "bands", BandsSchema)
      .groupBy(col("band")).agg(count(lit(1)).as("n_rows"))
  }

  /** Exact-substring duplication mass (Lee et al. 2021's suffix-array
    * recipe, re-expressed for a shared-nothing engine): a duplicated
    * token span of length ≥ w contains a duplicated w-gram at every
    * start position, so per-doc coverage of CROSS-DOC-SHARED w-gram
    * windows equals the mass of tokens inside duplicated substrings of
    * length ≥ w (up to w-1 tokens of edge slack at span boundaries —
    * the same granularity a suffix-array threshold gives). Reported per
    * doc: total tokens, duplicated-span tokens, fraction.
    *
    * Scale shape vs the sequential suffix array (which needs the whole
    * corpus in one address space): windows hash in position order
    * inside the scan (native LongWindowHashesAll kernel — index IS the
    * start offset); "shared" reduces to DISTINCT (hash, doc) → count>1
    * — one keyed aggregation, no doc×doc pairs; coverage is an
    * interval-union computed per doc with a lead() window over that
    * doc's ≤ n_tokens marked starts. Nothing is quadratic, nothing
    * leaves its doc partition except 8-byte keys.
    */
  def substringDupMass(docs: DataFrame, w: Int = 50): DataFrame = {
    import graft.functions.ShingleHashes
    val th = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr("transform(toks, t -> xxhash64(t))").as("th"))
    val wins = th.select(col("doc_id"), col("n_tokens"),
      posexplode(ShingleHashes.longWindowHashesAll(col("th"), w)).as(Seq("pos", "h")))
    // windows whose hash appears in MORE THAN ONE doc: distinct
    // (h, doc) first so a within-doc repeat does not count as shared
    val shared = wins.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select(col("h"))
    val marked = wins.join(shared, Seq("h"), "left_semi")
    // interval union of [pos, pos+w) over each doc's marked starts:
    // consecutive starts overlap when the gap is < w, so each start
    // contributes min(w, next_start - start); the last contributes w
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = marked
      .withColumn("nxt", lead(col("pos"), 1).over(wd))
      .groupBy(col("doc_id"))
      .agg(sum(least(lit(w), coalesce(col("nxt") - col("pos"), lit(w))))
        .cast("long").as("dup_tokens"))
    th.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
  }

  /** Spark hashes token windows where the oracle joins gram STRINGS —
    * identical counts short of an xxhash64 collision (the decontam
    * convention). Both sides enumerate every start position, so the
    * interval arithmetic lines up exactly.
    */
  val dedupSubstring: QueryDef = QueryDef(
    "dedup_substring",
    (s, dir) => substringDupMass(Tables(s, dir, "documents")),
    Some("""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents),
      base AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tk WHERE len(toks) >= 50),
      wins AS (SELECT doc_id, i AS pos, array_to_string(toks[i : i + 49], ' ') AS g
        FROM base, UNNEST(generate_series(1, len(toks) - 49)) AS t(i)),
      shared AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd
        FROM wins GROUP BY g) WHERE nd > 1),
      marked AS (SELECT doc_id, pos FROM wins JOIN shared USING (g)),
      cov AS (SELECT doc_id,
          SUM(LEAST(50, COALESCE(nxt - pos, 50))) AS dup_tokens
        FROM (SELECT doc_id, pos,
            lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM marked)
        GROUP BY doc_id)
      SELECT b.doc_id, b.n_tokens,
        CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        round(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_frac
      FROM base b LEFT JOIN cov c USING (doc_id)"""))

  /** Oracle for the STREAMING index-maintenance drain
    * (streaming.StreamQueries.streamDedupIndexMaintenance): crawls are
    * doc_id % nCrawls; crawl 0 seeds the index, crawls 1.. arrive as
    * micro-batches that probe-then-append. Because every batch appends
    * ALL its docs, the drained hit set is exactly "banded collision
    * pairs across STRICTLY increasing crawls with signature agreement
    * ≥ 32/64" — no iteration, so the replay is one static join over
    * the same signature/banding CTEs the LSH dedup oracle uses. The
    * probe's degenerate-bucket cap is replayed too: the index side of
    * each crawl-k probe keeps only the min-id anchor of any
    * (band, bucket) whose width — measured over the crawls ALREADY
    * indexed when k probes, i.e. doc_id % n < k — exceeds
    * SimHashMaxBucket, exactly dedupAgainstMinHashIndex's rule.
    */
  private[graft] def minhashStreamProbeOracle(nCrawls: Int): String = {
    val r = 4 // 64 perms / 4 rows per band — the index defaults
    s"""WITH $WordShingleFnvCtes,${sigBandCtes(r)},
      wdt AS (SELECT k.crawl, bb.band, bb.bucket,
              COUNT(*) AS bw, MIN(bb.doc_id) AS aid
          FROM (SELECT unnest(generate_series(1, ${nCrawls - 1})) AS crawl) k
          JOIN banded bb ON bb.doc_id % $nCrawls < k.crawl
          GROUP BY k.crawl, bb.band, bb.bucket),
      pairs AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
        JOIN wdt w ON w.crawl = a.doc_id % $nCrawls
          AND w.band = a.band AND w.bucket = a.bucket
        WHERE a.doc_id % $nCrawls > b.doc_id % $nCrawls
          AND (w.bw <= $SimHashMaxBucket OR b.doc_id = w.aid)),
      est AS (SELECT p.new_id FROM pairs p
        JOIN sigl sa ON sa.doc_id = p.new_id
        JOIN sigl sb ON sb.doc_id = p.idx_id
        WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) >= 32),
      crawls AS (SELECT unnest(generate_series(1, ${nCrawls - 1})) AS crawl),
      hit AS (SELECT new_id % $nCrawls AS crawl, COUNT(*) AS n_hits,
              COUNT(DISTINCT new_id) AS n_dup_docs
              FROM est GROUP BY new_id % $nCrawls),
      nd AS (SELECT doc_id % $nCrawls AS crawl, COUNT(*) AS n_docs
             FROM documents WHERE text IS NOT NULL
             GROUP BY doc_id % $nCrawls)
      SELECT c.crawl, nd.n_docs,
        CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
        CAST(COALESCE(hit.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
      FROM crawls c JOIN nd ON nd.crawl = c.crawl
      LEFT JOIN hit ON hit.crawl = c.crawl"""
  }

  /** Build-once per (application, sf dir): the seed index (crawls 0-1
    * via saveMinHashIndex, crawl 2 folded with a batch-id'd append —
    * tail 25% of docs vs base 50%, so the size policy picks the
    * ROUTINE Minor fold) and the post-append generation each
    * invocation rewinds to.
    */
  private val dicFixed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** Registered maintenance arm: fold the appended tail into the
    * tiered layout WITH THE INLINE VACUUM (`vacuumKeep` — the 24/7
    * compact-verb ergonomic), then probe crawl 3 against it — proving
    * fold + re-layout + vacuum preserve probe semantics exactly (the
    * oracle replays the probe statically; dedup_index_manifest is the
    * no-vacuum twin; TieredCompactionSpec covers the MergeRuns/Major
    * arms). Each invocation rewinds the index to the post-append
    * snapshot (ManifestTiered.benchRewind), so the bench measures one
    * real Minor fold + vacuum pass + probe every time.
    */
  val dedupIndexCompact: QueryDef = QueryDef(
    "dedup_index_compact",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val conf = s.sessionState.newHadoopConf()
      val (work, seedGen) = graft.util.Caches.fill(
        dicFixed, s.sparkContext.applicationId + ":" + dir,
        (v: (String, Long)) => graft.util.FileTrees.rmTree(
          java.nio.file.Paths.get(v._1).getParent.toString)) {
          val rt = java.nio.file.Files.createTempDirectory("graft_dic").toString
          saveMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) <= 1L),
            s"$rt/work")
          appendMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) === 2L),
            s"$rt/work", batchId = Some("crawl-2"))
          (s"$rt/work", ManifestCommit.current(conf, s"$rt/work").gen)
        }
      // single-writer maintenance: serialize concurrent invocations
      // in one session (graft.util.WorkLocks)
      val (nSig, h) = graft.util.WorkLocks.sync(work) {
        ManifestTiered.benchRewind(conf, work, seedGen)
        // keep=2 retains the pre-fold snapshot the next invocation
        // rewinds to; the vacuum pass itself (list + decode + GC walk)
        // runs for real every cycle
        compactMinHashIndex(s, work, vacuumKeep = Some(2))
        // bounded driver artifacts: one manifest-metadata sum + a 1-row
        // aggregate. n_sig_rows counts the PROBE-VISIBLE mass (base ∪
        // runs ∪ tail) — invariant across whichever tier the size policy
        // rewrote — read off the manifest's exact per-dir row counts
        val m = ManifestCommit.current(conf, work)
        (sigMass(s, work, m), dedupAgainstMinHashIndex(
            docs.filter(pmod(col("doc_id"), lit(4L)) === 3L), work)
          .agg(count(lit(1)).as("n_hits"),
            countDistinct(col("new_id")).as("n_dup_docs"))
          .collect()(0))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_sig_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_hits",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_dup_docs",
          org.apache.spark.sql.types.LongType)))
      s.createDataFrame(s.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(nSig, h.getLong(0), h.getLong(1))), 1), schema)
    },
    // static replay of "crawl 3 probes crawls 0-2": banded collisions
    // across the split with the index-side over-cap anchor rule (bucket
    // widths measured over doc % 4 < 3, at every tier state the
    // maintenance left), signature agreement ≥ 32/64
    Some(s"""WITH $WordShingleFnvCtes,${sigBandCtes(4)},
      wdt AS (SELECT band, bucket, COUNT(*) AS bw, MIN(doc_id) AS aid
              FROM banded WHERE doc_id % 4 < 3 GROUP BY band, bucket),
      pairs AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
        JOIN wdt w ON w.band = a.band AND w.bucket = a.bucket
        WHERE a.doc_id % 4 = 3 AND b.doc_id % 4 < 3
          AND (w.bw <= $SimHashMaxBucket OR b.doc_id = w.aid)),
      est AS (SELECT p.new_id FROM pairs p
        JOIN sigl sa ON sa.doc_id = p.new_id
        JOIN sigl sb ON sb.doc_id = p.idx_id
        WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) >= 32)
      SELECT
        CAST((SELECT COUNT(*) FROM banded WHERE doc_id % 4 < 3) AS BIGINT)
          AS n_sig_rows,
        CAST(COUNT(*) AS BIGINT) AS n_hits,
        CAST(COUNT(DISTINCT new_id) AS BIGINT) AS n_dup_docs
      FROM est"""))

  /** Build-once per (application, sf dir): the manifest-protocol seed
    * (crawls 0-1 built, crawl 2 appended under a batch id) and the
    * post-append generation number — the snapshot each invocation
    * rewinds to.
    */
  private val dimFixed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** The SAME maintenance arm as dedup_index_compact, run on the
    * versioned-manifest (object-store) commit protocol: build crawls
    * 0-1, fold crawl 2's appended tail (Minor — one flat sorted run,
    * one manifest publish), probe crawl
    * 3 against the compacted index. The oracle is dedup_index_compact's
    * static replay verbatim — the commit protocol must be invisible to
    * retrieval, hash-checked. Each invocation rewinds the index to the
    * post-append snapshot by dropping the manifests the previous fold
    * published and vacuuming their dirs (generation time-travel — an
    * O(fold output) reset the versioned protocol gives for free), so
    * the bench measures one real Minor fold + probe every time.
    */
  val dedupIndexManifest: QueryDef = QueryDef(
    "dedup_index_manifest",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val conf = s.sessionState.newHadoopConf()
      val (work, seedGen) = graft.util.Caches.fill(dimFixed, s.sparkContext.applicationId + ":" + dir,
        (v: (String, Long)) => graft.util.FileTrees.rmTree(
          java.nio.file.Paths.get(v._1).getParent.toString)) {
          val rt = java.nio.file.Files.createTempDirectory("graft_dim").toString
          saveMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) <= 1L),
            s"$rt/work")
          appendMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) === 2L),
            s"$rt/work", batchId = Some("crawl-2"))
          (s"$rt/work", ManifestCommit.current(conf, s"$rt/work").gen)
        }
      // rewind to the post-append snapshot (ManifestTiered.benchRewind
      // — bench-harness time travel, NOT a production op)
      // single-writer maintenance: serialize concurrent invocations
      val (nSig, h) = graft.util.WorkLocks.sync(work) {
        ManifestTiered.benchRewind(conf, work, seedGen)
        compactMinHashIndex(s, work)
        val m = ManifestCommit.current(conf, work)
        // manifest-metadata sum, not a Spark count — see sigMass
        (sigMass(s, work, m), dedupAgainstMinHashIndex(
            docs.filter(pmod(col("doc_id"), lit(4L)) === 3L), work)
          .agg(count(lit(1)).as("n_hits"),
            countDistinct(col("new_id")).as("n_dup_docs"))
          .collect()(0))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_sig_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_hits",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_dup_docs",
          org.apache.spark.sql.types.LongType)))
      s.createDataFrame(s.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(nSig, h.getLong(0), h.getLong(1))), 1), schema)
    },
    dedupIndexCompact.oracle)

  /** Build-once per (application, sf dir): the manifest index with a
    * RETAINED history — gen 1 = crawls 0-1 built, gen 2 = crawl 2
    * appended. Probes are read-only, so no per-invocation rewind.
    */
  private val dttFixed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  /** AS-OF (time-travel) probe over the versioned-manifest index:
    * crawl 3 probes the index BOTH as it stands (crawls 0-2) and as it
    * stood at the pre-append generation (crawls 0-1,
    * `ManifestCommit.atGeneration`) — the audit-rerun / crawl-
    * contribution-A/B read the protocol's retained snapshots give for
    * free. The oracle replays both states statically: the historical
    * side filters the indexed corpus (and its bucket widths and
    * over-cap anchors) to crawls 0-1, the current side to 0-2 — a
    * probe that leaked post-snapshot rows into the AS-OF result (or
    * vice versa) hash-fails.
    */
  val dedupIndexTimeTravel: QueryDef = QueryDef(
    "dedup_index_timetravel",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val conf = s.sessionState.newHadoopConf()
      val (work, buildGen) = graft.util.Caches.fill(
        dttFixed, s.sparkContext.applicationId + ":" + dir,
        (v: (String, Long)) => graft.util.FileTrees.rmTree(
          java.nio.file.Paths.get(v._1).getParent.toString)) {
        val rt = java.nio.file.Files.createTempDirectory("graft_dtt").toString
        saveMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) <= 1L),
          s"$rt/work")
        val g = ManifestCommit.current(conf, s"$rt/work").gen
        appendMinHashIndex(docs.filter(pmod(col("doc_id"), lit(4L)) === 2L),
          s"$rt/work", batchId = Some("crawl-2"))
        (s"$rt/work", g)
      }
      val probe = docs.filter(pmod(col("doc_id"), lit(4L)) === 3L)
      // ONE signature pass serves both snapshot probes — the
      // probe crawl's tokenize→shingle→OPH is the dominant per-probe
      // cost and is snapshot-independent (the public asOfGen path
      // recomputes it per call; same probeWithBands underneath).
      // Stable checkpoint: this table feeds the query result across
      // two consuming jobs, and a lineage-free executor block would
      // fail both on a cluster executor loss (util/Checkpoints
      // rationale; local masters keep the cheaper memory blocks)
      validateIndexMeta(s, work, 5, 64, 4, "probing")
      val sigs = graft.util.Checkpoints.ReliableOps(
        signatures(probe, 5, 64)).stableCheckpoint()
      val banded = bandsOf(sigs, 64, 4)
      val mOld = ManifestCommit.atGeneration(conf, work, buildGen)
      val mCur = ManifestCommit.current(conf, work)
      def counts(m: ManifestCommit.Manifest): (Long, Long) = {
        val r = probeWithBands(s, sigs, banded, manifestReader(s, work, m),
            perms = 64, threshold = 0.5, nBands = 16)
          .agg(count(lit(1)).as("n_hits"),
            countDistinct(col("new_id")).as("n_dup_docs"))
          .collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val (ah, ad) = counts(mOld)
      val (ch, cd) = counts(mCur)
      // manifest-metadata sums, not Spark counts — see sigMass; each
      // snapshot's manifest carries its own exact per-dir row counts
      val sigOld = sigMass(s, work, mOld)
      val sigCur = sigMass(s, work, mCur)
      val schema = org.apache.spark.sql.types.StructType(
        Seq("n_sig_asof", "n_hits_asof", "n_dup_docs_asof",
          "n_sig_cur", "n_hits_cur", "n_dup_docs_cur")
          .map(org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.LongType)))
      s.createDataFrame(s.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(sigOld, ah, ad, sigCur, ch, cd)), 1), schema)
    },
    // static replay of BOTH snapshots: the AS-OF side indexes crawls
    // 0-1 (widths/anchors measured over doc % 4 < 2), the current side
    // crawls 0-2 (< 3); probe = crawl 3, agreement ≥ 32/64 either way
    Some(s"""WITH $WordShingleFnvCtes,${sigBandCtes(4)},
      wdt_old AS (SELECT band, bucket, COUNT(*) AS bw, MIN(doc_id) AS aid
                  FROM banded WHERE doc_id % 4 < 2 GROUP BY band, bucket),
      wdt_cur AS (SELECT band, bucket, COUNT(*) AS bw, MIN(doc_id) AS aid
                  FROM banded WHERE doc_id % 4 < 3 GROUP BY band, bucket),
      pairs_old AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
        JOIN wdt_old w ON w.band = a.band AND w.bucket = a.bucket
        WHERE a.doc_id % 4 = 3 AND b.doc_id % 4 < 2
          AND (w.bw <= $SimHashMaxBucket OR b.doc_id = w.aid)),
      pairs_cur AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
        JOIN wdt_cur w ON w.band = a.band AND w.bucket = a.bucket
        WHERE a.doc_id % 4 = 3 AND b.doc_id % 4 < 3
          AND (w.bw <= $SimHashMaxBucket OR b.doc_id = w.aid)),
      est_old AS (SELECT p.new_id FROM pairs_old p
        JOIN sigl sa ON sa.doc_id = p.new_id
        JOIN sigl sb ON sb.doc_id = p.idx_id
        WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) >= 32),
      est_cur AS (SELECT p.new_id FROM pairs_cur p
        JOIN sigl sa ON sa.doc_id = p.new_id
        JOIN sigl sb ON sb.doc_id = p.idx_id
        WHERE len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) >= 32)
      SELECT
        CAST((SELECT COUNT(*) FROM banded WHERE doc_id % 4 < 2) AS BIGINT)
          AS n_sig_asof,
        CAST((SELECT COUNT(*) FROM est_old) AS BIGINT) AS n_hits_asof,
        CAST((SELECT COUNT(DISTINCT new_id) FROM est_old) AS BIGINT)
          AS n_dup_docs_asof,
        CAST((SELECT COUNT(*) FROM banded WHERE doc_id % 4 < 3) AS BIGINT)
          AS n_sig_cur,
        CAST((SELECT COUNT(*) FROM est_cur) AS BIGINT) AS n_hits_cur,
        CAST((SELECT COUNT(DISTINCT new_id) FROM est_cur) AS BIGINT)
          AS n_dup_docs_cur"""))

  val all: Seq[QueryDef] =
    Seq(dedupMinHash, dedupNgramJaccard, dedupSimHash, dedupClusters,
      dedupJaccardExact, dedupClustersExact, dedupContainment,
      dedupSubstring, dedupIndexCompact, dedupIndexManifest,
      dedupIndexTimeTravel)
}
