package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Streaming as a registered (oracle-checked) query: the events table is
  * staged into a file-stream source directory, processed through a real
  * Structured Streaming windowed aggregation (memory sink, drained with
  * processAllAvailable), and the result is compared against the same
  * windows computed by DuckDB's time_bucket — streaming/batch
  * equivalence as a first-class correctness check.
  */
object StreamQueries {

  /** Stage dir per (application, sf dir). The file-stream source wants a
    * directory, but the events table already IS parquet — symlinking the
    * source file(s) into a temp dir replaces the Spark rewrite job the
    * old harness ran per invocation (~5 s of staging that was charged to
    * the streaming query), and repeated invocations in one session reuse
    * the first stage. Timestamp-encoding handling (nanos-as-long vs
    * micros) happens adaptively at read time (readEvents), so the
    * un-rewritten file streams identically.
    */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run a drain-style streaming query with state-store partitioning
    * sized to the STREAM, not the batch default: a stateful operator
    * creates (partitions × state-store) provider instances per
    * microbatch, each with its own commit — at local[32]'s 32 batch
    * partitions the stream-stream join pays 128 store commits per batch
    * for a few thousand state rows. 8 partitions is the right size for
    * these drains (the standard sizing move for any streaming job; the
    * 24/7 JobRunner paths keep the session setting, which a cluster
    * deployment sizes to its own volume). Results are partition-count
    * independent — the oracle comparison would catch anything else.
    */
  private def withStreamPartitions[T](s: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def stagedEvents(s: org.apache.spark.sql.SparkSession, dir: String): String =
    stagedTable(s, dir, "events")

  private def stagedTable(s: org.apache.spark.sql.SparkSession, dir: String,
                          table: String): String =
    graft.util.Caches.fill(staged, s.sparkContext.applicationId + s":$table:" + dir,
      (d: String) => graft.util.FileTrees.rmTree(d)) {
      val stage = java.nio.file.Files.createTempDirectory("graft_stream")
      val src = java.nio.file.Paths.get(s"$dir/$table.parquet")
      val parts: Seq[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(src)) {
          val st = java.nio.file.Files.list(src)
          try {
            import scala.jdk.CollectionConverters._
            st.iterator().asScala.toVector.filter(_.toString.endsWith(".parquet"))
          } finally st.close()
        } else Vector(src)
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.createSymbolicLink(
          stage.resolve(f"part-$i%05d.parquet"), p.toAbsolutePath)
      }
      stage.toString
    }

  val streamWindows: QueryDef = QueryDef(
    "stream_windows",
    (s, dir) => {
      withStreamPartitions(s) {
        val q = EventStream.windowedCounts(EventStream.readEvents(s, stagedEvents(s, dir)))
          .writeStream.format("memory").queryName("graft_stream_windows")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("SELECT * FROM graft_stream_windows")
        .select(unix_timestamp(col("win_start")).as("win_epoch"),
          col("event_type"), col("n"),
          col("total").cast(org.apache.spark.sql.types.DecimalType(25, 6))
            .cast("double").as("total"))
    },
    // double SUM in the streaming agg is sequential per group here
    // (single drain), and the cast chain pins the comparison scale
    Some("""SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS win_epoch,
      event_type, COUNT(*) AS n,
      CAST(CAST(SUM(value) AS DECIMAL(25,6)) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2"""))

  /** Stateful sessionization through flatMapGroupsWithState (batch mode
    * emits sessions closed by a later event; summary agg keeps the
    * output deterministic).
    */
  val streamSessions: QueryDef = QueryDef(
    "stream_sessions",
    (s, dir) => {
      import s.implicits._
      val raw = graft.util.Tables(s, dir, "events")
      val typed = raw
        .select(col("event_id"),
          graft.util.Tables.tsTimestamp(raw).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .as[EventStream.Event]
      val sessions = EventStream.sessionize(typed, gapMs = 30 * 60 * 1000)
      sessions.toDF()
        .agg(count(lit(1)).as("n_sessions"),
          round(avg(col("n_events")), 4).as("avg_events_per_session"),
          max(col("n_events")).as("max_session_events"),
          countDistinct(col("user_id")).as("n_users_with_closed_sessions"))
    },
    // oracle: sessions via windowed gap detection — a closed session is
    // one followed by a later session of the same user (batch mode only
    // emits sessions closed by a subsequent event)
    Some("""WITH g AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM g),
      agg AS (
        SELECT user_id, sid, COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid),
      closed AS (
        SELECT * FROM agg a
        WHERE sid < (SELECT MAX(sid) FROM agg b WHERE b.user_id = a.user_id))
      SELECT COUNT(*) AS n_sessions,
        round(AVG(n_events), 4) AS avg_events_per_session,
        MAX(n_events) AS max_session_events,
        COUNT(DISTINCT user_id) AS n_users_with_closed_sessions
      FROM closed"""))

  /** Native `session_window` aggregation — the declarative route to
    * sessionization (composition of built-ins, per the design
    * preference) beside the custom flatMapGroupsWithState state machine
    * above. Batch form emits ALL sessions; the same expression runs
    * under readStream with a watermark for incremental session merging
    * in the state store. Boundary semantics: a gap of exactly the
    * window size starts a NEW session (session windows are end-
    * exclusive), hence `>=` in the oracle's gap test.
    */
  val sessionWindowAgg: QueryDef = QueryDef(
    "session_window_agg",
    (s, dir) => {
      val raw = graft.util.Tables(s, dir, "events")
      raw.select(graft.util.Tables.tsTimestamp(raw).as("ts"),
        col("user_id"), col("value"))
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.functions.GraftFunctions.dsum(col("value")).as("total"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("win_start"),
        col("n_events"), col("total"))
    },
    Some("""WITH g AS (
        SELECT user_id, ts, value, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid
        FROM g)
      SELECT user_id, CAST(floor(epoch(MIN(ts))) AS BIGINT) AS win_start,
        COUNT(*) AS n_events,
        CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DECIMAL(25,6)) AS DOUBLE) AS total
      FROM sess GROUP BY user_id, sid"""))

  /** Streaming dedup via dropDuplicatesWithinWatermark — the
    * at-least-once-delivery debounce every event pipeline needs (here:
    * at most one (user, type, day) signal). State holds one entry per
    * key and the watermark evicts expired keys, so a 24/7 stream runs
    * with bounded state; the contract is dedup-WITHIN-the-watermark.
    * The oracle compares against exact batch DISTINCT, which matches
    * because the staged drain processes all files in one microbatch
    * (state sees every key before any eviction) — on an unbounded
    * deployment a duplicate arriving later than the delay would
    * survive, the price of bounded state.
    */
  val streamDedup: QueryDef = QueryDef(
    "stream_dedup",
    (s, dir) => {
      withStreamPartitions(s) {
        val q = EventStream.readEvents(s, stagedEvents(s, dir))
          .select(col("ts"), col("user_id"), col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
          .writeStream.format("memory").queryName("graft_stream_dedup")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT event_type, count(*) AS n_unique
               FROM graft_stream_dedup GROUP BY event_type""")
    },
    Some("""SELECT event_type, COUNT(*) AS n_unique FROM
      (SELECT DISTINCT user_id, event_type, date_trunc('day', ts) AS day FROM events)
      GROUP BY event_type"""))

  /** Stream-stream interval join — click→purchase conversion within
    * 30 minutes, the canonical funnel join. Both sides carry watermarks
    * and the time-range condition bounds join state (a click's state
    * evicts once the purchase-side watermark passes its 30-minute
    * horizon), so a 24/7 run holds a sliding window of state, not the
    * full history. Inner-join results are emitted as soon as matched
    * (watermarks govern only state cleanup), so the drained stream
    * equals the batch join — which is exactly what the oracle checks.
    */
  val streamJoin: QueryDef = QueryDef(
    "stream_join",
    (s, dir) => {
      val staged = stagedEvents(s, dir)
      def side(tpe: String, prefix: String) =
        EventStream.readEvents(s, staged)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "10 minutes")
      withStreamPartitions(s) {
        val q = side("click", "c")
          .join(side("purchase", "p"),
            expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"))
          .writeStream.format("memory").queryName("graft_stream_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT c_user AS user_id, count(*) AS n_conversions
               FROM graft_stream_join GROUP BY c_user""")
    },
    Some("""SELECT c.user_id, COUNT(*) AS n_conversions
      FROM events c JOIN events p ON c.user_id = p.user_id
      AND c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      GROUP BY c.user_id"""))

  /** Curation as a 24/7 service: the documents table streamed through a
    * stateless quality gate plus content dedup within the watermark —
    * the shape an always-on ingest pipeline runs (new crawl files land,
    * quality-filtered and deduped docs append downstream). Event time is
    * synthesized from doc_id+1 (the table has no timestamp; the +1 keeps
    * doc 0 off the epoch — event time 0 equals a fresh stream's initial
    * watermark and Spark drops it as late, a boundary sf0.1 exposed
    * because its doc 0 passes the token gate), and the dedup
    * key is (content digest, source) so which copy survives never
    * changes per-source accounting — n_chars is a function of the digest
    * — making the drained stream equal the batch distinct regardless of
    * file arrival order, which is exactly what the oracle checks. Same
    * single-drain state note as stream_dedup: on an unbounded deployment
    * a duplicate arriving later than the watermark delay would survive,
    * the price of bounded state.
    */
  val streamCurate: QueryDef = QueryDef(
    "stream_curate",
    (s, dir) => {
      import graft.functions.GraftFunctions.tokens
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      withStreamPartitions(s) {
        val q = s.readStream.schema(schema).parquet(stagedTable(s, dir, "documents"))
          .withColumn("ts", timestamp_seconds(col("doc_id") + 1))
          .filter(size(tokens(col("text"))).between(50, 100000))
          .withColumn("sig", md5(col("text").cast("binary")))
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("sig", "source")
          .writeStream.format("memory").queryName("graft_stream_curate")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT source, count(*) AS n_kept, sum(n_chars) AS kept_chars
               FROM graft_stream_curate GROUP BY source""")
    },
    Some("""SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
      FROM (SELECT DISTINCT source, md5(text) AS sig, n_chars FROM documents
            WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) BETWEEN 50 AND 100000)
      GROUP BY source"""))

  /** Stateful multi-step sequence detection on the live stream — the
    * funnel (view → click → purchase, strict first-occurrence order)
    * as a flatMapGroupsWithState machine instead of the batch
    * three-join plan (events_funnel). Emits a row the moment a user
    * completes the sequence; state is three numbers per user. The
    * oracle is the batch funnel's per-user completion time, so this is
    * streaming/batch equivalence for custom sequential state — the one
    * streaming shape the windowed/join/dedup queries don't cover.
    */
  val streamFunnel: QueryDef = QueryDef(
    "stream_funnel",
    (s, dir) => {
      import s.implicits._
      withStreamPartitions(s) {
        val typed = EventStream.readEvents(s, stagedEvents(s, dir))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStream.Event]
        val q = EventStream.funnel(typed).toDF()
          .writeStream.format("memory").queryName("graft_stream_funnel")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("SELECT user_id, completed_us FROM graft_stream_funnel")
    },
    Some("""WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
      SELECT user_id, CAST(epoch_us(t3) AS BIGINT) AS completed_us FROM p"""))

  /** Stream-stream LEFT OUTER join — the semantics stream_join (inner)
    * doesn't cover: unmatched left rows are held in the state store and
    * emitted null-padded only when the watermark proves no future match
    * can arrive (c_ts + 30 min behind the global watermark, which is
    * the MIN across both inputs' per-side watermarks). That eviction
    * rule is exactly what bounds the state at 100 TB — left state is a
    * sliding 40-minute window of clicks, not the whole stream — so the
    * oracle encodes it explicitly: a drained static stream emits every
    * matched pair plus exactly those unmatched clicks old enough to
    * have been evicted before the final watermark
    * (min(max click ts, max purchase ts) − 10 min delay). Anything
    * else in the memory sink would be a state-lifecycle bug, which is
    * what this query exists to pin.
    */
  val streamLeftJoin: QueryDef = QueryDef(
    "stream_left_join",
    (s, dir) => {
      val staged = stagedEvents(s, dir)
      def side(tpe: String, prefix: String) =
        EventStream.readEvents(s, staged)
          .filter(col("event_type") === tpe)
          .select(col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "10 minutes")
      withStreamPartitions(s) {
        val q = side("click", "c")
          .join(side("purchase", "p"),
            expr("c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 30 minutes"),
            "leftOuter")
          .writeStream.format("memory").queryName("graft_stream_left_join")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT c_user AS user_id, count(*) AS n_rows,
               count(p_ts) AS n_matched
               FROM graft_stream_left_join GROUP BY c_user""")
    },
    Some("""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                    - INTERVAL 10 MINUTE AS w),
      matched AS (
        SELECT c.user_id, c.ts AS c_ts, p.ts AS p_ts
        FROM c JOIN p ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
      unmatched AS (
        SELECT c.user_id, c.ts AS c_ts, CAST(NULL AS TIMESTAMP) AS p_ts
        FROM c, wm
        WHERE NOT EXISTS (SELECT 1 FROM p
            WHERE p.user_id = c.user_id
              AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
          AND c.ts + INTERVAL 30 MINUTE < wm.w)
      SELECT user_id, COUNT(*) AS n_rows, COUNT(p_ts) AS n_matched
      FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
      GROUP BY user_id"""))

  /** Incremental view maintenance by mergeable partials — the
    * streaming counterpart of plans/SummaryAggRewrite's summary table:
    * each microbatch appends its own per-group partial aggregate
    * (count + exact-decimal sum) to the view storage via foreachBatch,
    * and the view READ re-composes them (SUM of counts, SUM of
    * decimal partials — associative, so the result is independent of
    * how the stream was batched). Append-only maintenance means no
    * read-modify-write races with concurrent readers, and the view
    * compacts with the ordinary `compact` job when partials pile up.
    * At scale this is how a 24/7 ingest keeps a dashboard summary
    * fresh without ever rescanning the corpus; the drain-mode oracle
    * proves the composed view equals the batch aggregate bit for bit.
    */
  val streamMvMaintenance: QueryDef = QueryDef(
    "stream_mv_maintenance",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      val Dec = org.apache.spark.sql.types.DecimalType(25, 6)
      val view = java.nio.file.Files.createTempDirectory("graft_ivm").toString
      withStreamPartitions(s) {
        val q = EventStream.readEvents(s, stagedEvents(s, dir))
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("value").cast(Dec)).as("sum_value"))
              .write.mode("append").parquet(view)
          }
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(view)
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(col("sum_value")).cast("double").as("total"))
    },
    Some("""SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total
      FROM events GROUP BY event_type"""))

  /** Stream-static enrichment — the canonical 24/7 streaming shape the
    * suite didn't cover: an unbounded event stream joined per
    * micro-batch against a bounded dimension table. The join is
    * STATELESS (no watermark, no state store — the static side is
    * re-planned each batch and broadcasts, so a dimension update
    * between batches is picked up automatically); that statelessness
    * is the scale property: enriching 100 TB of stream costs exactly
    * the stream scan plus one broadcast per batch. Users map onto the
    * customer dimension by modular arithmetic (the fixtures share no
    * natural key); the dimension COUNT is a bounded one-row driver
    * lookup against the static table, mirrored by the oracle's
    * subquery. The drained result is aggregated from the sink
    * batch-side, so the streamed plan stays append-mode stateless.
    */
  val streamStaticEnrich: QueryDef = QueryDef(
    "stream_static_enrich",
    (s, dir) => {
      val staged = stagedEvents(s, dir)
      val dim = graft.util.Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val nCust = dim.count()
      withStreamPartitions(s) {
        val q = EventStream.readEvents(s, staged)
          .withColumn("cust_key", pmod(col("user_id"), lit(nCust)))
          .join(broadcast(dim), col("cust_key") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("value"))
          .writeStream.format("memory").queryName("graft_stream_enrich")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT segment, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM graft_stream_enrich GROUP BY segment""")
    },
    Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
      FROM events e JOIN customer c
        ON e.user_id % (SELECT COUNT(*) FROM customer) = c.c_custkey
      GROUP BY c_mktsegment"""))

  /** The streaming counterpart of j6/j6_custom: point-in-time click
    * enrichment as a REAL drained stream (file source → stateful
    * operator → memory sink), state = one purchase value per user.
    * Oracle: identical to the batch j6 window formulation — the
    * reorder heap's (µs, kind, event_id) order reproduces its
    * equal-timestamp semantics exactly, so all three as-of routes
    * (batch window, custom merge operator, streaming state machine)
    * are hash-checked against the same truth.
    */
  val streamAsofEnrich: QueryDef = QueryDef(
    "stream_asof_enrich",
    (s, dir) => {
      import s.implicits._
      val staged = stagedEvents(s, dir)
      withStreamPartitions(s) {
        val typed = EventStream.readEvents(s, staged)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStream.Event]
        val q = EventStream.asofEnrich(typed).toDF()
          .writeStream.format("memory").queryName("graft_stream_asof")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT event_id, user_id, ts_us,
        round(asof_value, 6) AS asof_value FROM graft_stream_asof""")
    },
    Some("""WITH u AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
          CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS kind,
          CASE WHEN event_type = 'purchase' THEN value END AS pv
        FROM events WHERE event_type IN ('click', 'purchase')),
      f AS (SELECT event_id, user_id, ts_us, kind,
          last_value(pv IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts_us, kind, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av
        FROM u)
      SELECT event_id, user_id, ts_us,
        round(COALESCE(av, -1.0), 6) AS asof_value
      FROM f WHERE kind = 1"""))

  /** Streaming SCD2 maintenance — the CDC-pipeline shape: every
    * micro-batch folds into a VERSIONED dimension via scd2Merge
    * (copy-on-write by user, version dirs v0→v1→…, readers keep a
    * consistent snapshot while the next version writes). Because the
    * merge is rebuild-exact (src_event_id lineage resolves equal-ts
    * and late points identically to a from-scratch build), the drained
    * dimension equals the batch scd2_build REGARDLESS of how arrival
    * split the batches — which is exactly what the shared oracle
    * checks. At scale each fold costs the delta's user set, and old
    * versions garbage-collect by retention like any versioned table.
    */
  val streamScd2Maintenance: QueryDef = QueryDef(
    "stream_scd2_maintenance",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      val dimRoot = java.nio.file.Files.createTempDirectory("graft_scd2_ivm").toString
      val ver = new java.util.concurrent.atomic.AtomicInteger(0)
      withStreamPartitions(s) {
        val q = EventStream.readEvents(s, stagedEvents(s, dir))
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val prev = s"$dimRoot/v${ver.get}"
            val existing =
              if (new java.io.File(prev).exists) batch.sparkSession.read.parquet(prev)
              else graft.operators.Relational.scd2(batch.limit(0))
            graft.operators.Relational.scd2Merge(existing, batch)
              .write.mode("overwrite").parquet(s"$dimRoot/v${ver.get + 1}")
            ver.incrementAndGet()
            () // pin the Unit overload (the Int above breaks resolution)
          }
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$dimRoot/v${ver.get}")
    },
    Some(graft.operators.Relational.Scd2OracleSql))

  /** Per-source WARC archives synthesized from the documents table —
    * built ON EXECUTORS (foreachPartition + WarcWriter; a cluster
    * deployment would point WarcWriter.writeHadoop at shared storage),
    * one archive per shuffle partition of the source key. Cached per
    * (application, sf dir) like the other staged inputs.
    */
  private def stagedWarcs(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.util.Caches.fill(staged, s.sparkContext.applicationId + s":warcgen:" + dir,
      (d: String) => graft.util.FileTrees.rmTree(d)) {
      val stage = java.nio.file.Files.createTempDirectory("graft_warc_stream").toString
      import s.implicits._
      graft.util.Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"))
        .repartition(8, col("source"))
        .as[(String, Long, String)]
        .foreachPartition { it: Iterator[(String, Long, String)] =>
          val recs = it.map { case (src, id, text) =>
            graft.warc.SampleWarc.response(
              s"https://$src.example.test/doc$id",
              text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }.toSeq
          if (recs.nonEmpty) {
            val name = java.util.UUID.randomUUID().toString
            graft.warc.WarcWriter.writeFile(s"$stage/$name.warc.gz", recs)
          }
          () // writeFile returns offsets; the overload needs a Unit lambda
        }
      stage
    }

  /** Streaming ingest of RAW WARC archives through the custom DSv2
    * micro-batch source (warc format, one archive per batch partition,
    * seen-files offsets): the 24/7 crawl-landing shape end to end —
    * archive bytes in, queryable per-source table out. The oracle
    * replays the byte accounting from the documents table: each
    * response payload is the fixed 44-byte HTTP envelope
    * (status + Content-Type header + blank line) plus the UTF-8 text,
    * so a hash match proves the writer → stream-reader → aggregation
    * path loses nothing.
    */
  val streamWarcIngest: QueryDef = QueryDef(
    "stream_warc_ingest",
    (s, dir) => {
      val staged = stagedWarcs(s, dir)
      withStreamPartitions(s) {
        val q = s.readStream.format("warc").load(staged)
          .filter(col("warc_type") === "response")
          .select(col("target_uri"), octet_length(col("payload")).as("n_bytes"))
          .writeStream.format("memory").queryName("graft_stream_warc")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.sql("""SELECT regexp_extract(target_uri, 'https://(.*)\\.example\\.test/', 1) AS source,
        COUNT(*) AS n_pages, COUNT(DISTINCT target_uri) AS n_uris,
        SUM(CAST(n_bytes AS BIGINT)) AS total_bytes
        FROM graft_stream_warc GROUP BY 1""")
    },
    Some("""SELECT source, COUNT(*) AS n_pages, COUNT(DISTINCT doc_id) AS n_uris,
      CAST(SUM(44 + octet_length(encode(text))) AS BIGINT) AS total_bytes
      FROM documents GROUP BY source"""))

  /** Streaming corpus sampling as incremental maintenance: priority
    * sampling is MERGEABLE — the k smallest priorities of a union equal
    * the k smallest of (previous winners ∪ new batch) — so a
    * foreachBatch fold over versioned sample dirs keeps an EXACT
    * weighted-without-replacement sample of everything seen so far, no
    * matter how arrival split the batches. Persistent state per group
    * is the k retained rows themselves (no state store, no watermark);
    * superseded versions garbage-collect by retention (JobRunner
    * vacuum). The drain reads the final version and must hash-equal the
    * batch curation_priority_sample oracle — streaming/batch
    * equivalence for the sampling fold.
    */
  val streamPrioritySample: QueryDef = QueryDef(
    "stream_priority_sample",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val root = java.nio.file.Files.createTempDirectory("graft_psample").toString
      val ver = new java.util.concurrent.atomic.AtomicInteger(0)
      withStreamPartitions(s) {
        val q = s.readStream.schema(schema)
          .parquet(stagedTable(s, dir, "documents"))
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val cand = graft.operators.Curation
              .priorityScores(batch, "doc_id", col("n_chars"), col("lang"))
              .select(col("grp"), col("doc_id"), col("n_chars"), col("xi"))
            val prev = s"$root/v${ver.get}"
            val merged =
              if (new java.io.File(prev).exists)
                batch.sparkSession.read.parquet(prev).unionByName(cand)
              else cand
            graft.operators.Curation.priorityTopK(merged, "doc_id", 50)
              .drop("rk")
              .write.mode("overwrite").parquet(s"$root/v${ver.get + 1}")
            ver.incrementAndGet()
            () // pin the Unit overload
          }
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      if (ver.get == 0) // zero batches (empty staged dir): empty result, same shape
        s.emptyDataFrame.select(lit("").as("lang"), lit(0L).as("doc_id"),
          lit(0L).as("n_chars"), lit(0.0).as("xi_ppm"), lit(0L).as("rk")).limit(0)
      else
        graft.operators.Curation
          .priorityTopK(s.read.parquet(s"$root/v${ver.get}"), "doc_id", 50)
          .select(col("grp").as("lang"), col("doc_id"), col("n_chars"),
            round(col("xi") * lit(1000000.0), 6).as("xi_ppm"),
            col("rk").cast("long").as("rk"))
    },
    graft.operators.Curation.prioritySample.oracle)

  /** 24/7 cross-crawl dedup-index maintenance as a drained stream: the
    * corpus splits into deterministic "crawls" (doc_id % 4), crawl 0
    * bootstraps the persisted MinHash index, crawls 1-3 arrive as
    * micro-batches (one staged file per batch — mtimes staggered so the
    * file source's oldest-first order IS the crawl order) and each
    * batch PROBES the index for near-dups of everything indexed so
    * far, then APPENDS its own signatures (the dedup_index_probe →
    * dedup_index_update cadence, inside foreachBatch). Scale shape:
    * per batch, one keyed (band, bucket) join against the
    * band-partitioned index plus one append of ~0.8 KB/doc — the index
    * is never rebuilt, the corpus never re-read. The oracle replays
    * the whole thing statically (Dedup.minhashStreamProbeOracle):
    * append-all makes the drained hit set order-free GIVEN the crawl
    * order, which the hash compare therefore also pins.
    */
  /** Build-once per (application, sf dir): the staged crawl files and
    * the crawl-0 SEED index — the fixed inputs of the maintenance
    * drain. Repeated invocations (bench 3×) measure the MAINTENANCE
    * cost (probe + append per batch), not corpus staging and seed
    * signature building; each run mutates a cheap file-copy of the
    * seed, never the cached original.
    */
  private val sdimFixed = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  val streamDedupIndexMaintenance: QueryDef = QueryDef(
    "stream_dedup_index_maintenance",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      val nCrawls = 4
      val docs = graft.util.Tables(s, dir, "documents")
      val (streamDir, seedIdx) = graft.util.Caches.fill(sdimFixed,
        s.sparkContext.applicationId + ":" + dir,
        (v: (String, String)) =>
          Seq(v._1, v._2).foreach(graft.util.FileTrees.rmTree)) {
          val sd = java.nio.file.Files.createTempDirectory("graft_sdim").toString
          val si = java.nio.file.Files.createTempDirectory("graft_sdim_seed").toString
          (1 until nCrawls).foreach { k =>
            val tmp = java.nio.file.Files.createTempDirectory("graft_sdim_w")
            docs.filter(pmod(col("doc_id"), lit(nCrawls)) === k)
              .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val st = java.nio.file.Files.list(tmp)
            val part =
              try { import scala.jdk.CollectionConverters._
                st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
              } finally st.close()
            val tgt = java.nio.file.Paths.get(sd, f"crawl-$k%02d.parquet")
            java.nio.file.Files.move(part, tgt)
            java.nio.file.Files.setLastModifiedTime(tgt,
              java.nio.file.attribute.FileTime.fromMillis(1000L * k))
            graft.util.FileTrees.rmTree(tmp)
          }
          graft.dedup.Dedup.saveMinHashIndex(
            docs.filter(pmod(col("doc_id"), lit(nCrawls)) === 0), si)
          (sd, si)
        }
      // fresh MUTABLE state per invocation: the drain appends into a
      // file-copy of the seed index, so repeated runs never double-feed
      val idxDir = java.nio.file.Files.createTempDirectory("graft_sdim_idx").toString
      val hitsDir = java.nio.file.Files.createTempDirectory("graft_sdim_hits").toString
      val cpDir = java.nio.file.Files.createTempDirectory("graft_sdim_cp").toString
      // try/finally around the WHOLE drain-through-collect: the two
      // mutable temp dirs grow to roughly a corpus copy per invocation,
      // and a throw mid-drain would otherwise leak them across bench
      // retries with nothing reclaiming them
      val rows = try {
        graft.util.FileTrees.copyTree(seedIdx, idxDir)
        withStreamPartitions(s) {
          val q = s.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(streamDir)
            .writeStream
            .option("checkpointLocation", cpDir)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              // ONE signature pass per batch serves both the probe and
              // the append; the batchId makes the pair EXACTLY-ONCE
              // under Spark's at-least-once micro-batch retry: hits
              // overwrite a batch-keyed partition and the index append
              // commits under a recorded token, so a replayed batch
              // can neither double-feed the index nor inflate the log.
              // Manifest indexes take the SEQUENCED id form, with the
              // writer token derived from the CHECKPOINT LOCATION —
              // stable across restarts, distinct across queries (see
              // DrainIds); a committed batch (sequenced OR legacy
              // pre-migration b<N>) skips probe AND append
              DrainIds.pending(
                batch.sparkSession.sessionState.newHadoopConf(),
                idxDir, cpDir, batchId).foreach { bid =>
                graft.dedup.Dedup.probeAndAppendMinHashIndex(
                  batch, idxDir, hitsDir, batchId = Some(bid))
              }
            }
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }
        val hits = s.read.parquet(hitsDir)
          .select(pmod(col("new_id"), lit(nCrawls.toLong)).as("crawl"), col("new_id"))
          .groupBy(col("crawl"))
          .agg(count(lit(1)).as("n_hits"),
            countDistinct(col("new_id")).as("n_dup_docs"))
        val result = docs.filter(col("text").isNotNull)
          .select(pmod(col("doc_id"), lit(nCrawls.toLong)).as("crawl"))
          .filter(col("crawl") >= 1)
          .groupBy(col("crawl")).agg(count(lit(1)).as("n_docs"))
          .join(hits, Seq("crawl"), "left")
          .select(col("crawl"), col("n_docs"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
        // materialize the 3-row summary, then drop the run's MUTABLE
        // working set; the cached staged crawls + seed index stay for
        // the session's next invocation
        (result.collect().toSeq, result.schema)
      } finally Seq(idxDir, hitsDir, cpDir).foreach(graft.util.FileTrees.rmTree)
      s.createDataFrame(
        s.sparkContext.parallelize(rows._1, 1), rows._2)
    },
    Some(graft.dedup.Dedup.minhashStreamProbeOracle(4)))

  /** 24/7 ANN-index maintenance as a drained stream — the IVF
    * counterpart of [[streamDedupIndexMaintenance]], exercising this
    * round's exactly-once IVF add under the real foreachBatch cadence:
    * the embedding corpus splits into deterministic "crawls"
    * (vec_id % 4), crawl 0 trains + builds the persisted IVF index,
    * crawls 1-3 arrive as micro-batches (mtime-ordered staged files)
    * and each batch PROBES the index for its vectors' top-1 neighbors
    * (nprobe=2 cells, the `ann_index_probe` plan) then APPENDS itself
    * under its batch id (`ann_index_update`) — hits land before the
    * index mutates, and a replayed micro-batch can neither double-add
    * vectors (committed/ token) nor inflate the hit log (batch-keyed
    * overwrite). Scale shape per batch: one map-stage cell assignment,
    * one pruned probed-cells join, one flat tail append — centroids
    * never retrain, the corpus is never re-read. The oracle replays
    * the whole drain statically with the seed centroids as literals
    * (VectorOps.ivfStreamMaintenanceOracle): crawl k probes exactly
    * seed ∪ crawls < k, so the summary is order-free GIVEN the crawl
    * order, which the hash compare therefore also pins.
    */
  private val saimFixed =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Build-once per (application, sf dir): staged crawl files + the
    * crawl-0 seed index (repeated invocations measure the maintenance
    * cost, each against a cheap file-copy of the seed).
    */
  private def saimInputs(s: org.apache.spark.sql.SparkSession,
                         dir: String): (String, String) =
    graft.util.Caches.fill(saimFixed, s.sparkContext.applicationId + ":" + dir,
      (v: (String, String)) =>
        Seq(v._1, v._2).foreach(graft.util.FileTrees.rmTree)) {
      val embs = graft.util.Tables(s, dir, "embeddings")
      val sd = java.nio.file.Files.createTempDirectory("graft_saim").toString
      (1 until 4).foreach { k =>
        val tmp = java.nio.file.Files.createTempDirectory("graft_saim_w")
        embs.filter(pmod(col("vec_id"), lit(4L)) === k)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val st = java.nio.file.Files.list(tmp)
        val part =
          try { import scala.jdk.CollectionConverters._
            st.iterator().asScala.find(_.toString.endsWith(".parquet")).get
          } finally st.close()
        val tgt = java.nio.file.Paths.get(sd, f"crawl-$k%02d.parquet")
        java.nio.file.Files.move(part, tgt)
        java.nio.file.Files.setLastModifiedTime(tgt,
          java.nio.file.attribute.FileTime.fromMillis(1000L * k))
        graft.util.FileTrees.rmTree(tmp)
      }
      val si = java.nio.file.Files.createTempDirectory("graft_saim_seed").toString
      graft.vector.VectorOps.saveIvfIndex(
        embs.filter(pmod(col("vec_id"), lit(4L)) === 0), si, k = 10, iters = 2)
      (sd, si)
    }

  val streamAnnIndexMaintenance: QueryDef = QueryDef(
    "stream_ann_index_maintenance",
    (s, dir) => {
      import org.apache.spark.sql.DataFrame
      val embs = graft.util.Tables(s, dir, "embeddings")
      val (streamDir, seedIdx) = saimInputs(s, dir)
      // fresh MUTABLE state per invocation: the drain appends into a
      // file-copy of the seed index, so repeated runs never double-feed
      val idxDir = java.nio.file.Files.createTempDirectory("graft_saim_idx").toString
      val hitsDir = java.nio.file.Files.createTempDirectory("graft_saim_hits").toString
      val cpDir = java.nio.file.Files.createTempDirectory("graft_saim_cp").toString
      val rows = try {
        graft.util.FileTrees.copyTree(seedIdx, idxDir)
        withStreamPartitions(s) {
          val q = s.readStream.schema(embs.schema)
            .option("maxFilesPerTrigger", 1).parquet(streamDir)
            .writeStream
            .option("checkpointLocation", cpDir)
            .foreachBatch { (batch: DataFrame, batchId: Long) =>
              // probe BEFORE append — hits reflect the pre-batch index;
              // the batchId makes the pair EXACTLY-ONCE under Spark's
              // at-least-once micro-batch retry. The committed-token
              // check must gate the PROBE too, not just the append: a
              // batch replayed after its index commit (but before the
              // stream checkpoint landed) would otherwise overwrite its
              // hit partition with a probe against the POST-append
              // index — same-crawl neighbors the first attempt (and the
              // static oracle) never saw. No recovery step: a crashed
              // manifest publish left only invisible garbage, and the
              // committed state rides the snapshot itself.
              // The SEQUENCED id's writer derives from the CHECKPOINT
              // LOCATION (stable across restarts, distinct across
              // queries — DrainIds); a batch committed under its
              // sequenced id, its pre-migration legacy b<N> token, or
              // the adoption-seeded legacy-drain watermark skips probe
              // AND append. The hits partition keeps the plain token
              DrainIds.pending(s.sessionState.newHadoopConf(),
                idxDir, cpDir, batchId).foreach { bid =>
                // resolve ONE snapshot, probe it AS-OF, and pin the
                // append's CAS to the SAME snapshot: a racer landing
                // anywhere after this resolve fails the append loudly
                // and the streaming engine's batch retry re-probes
                // the post-racer state (hits must reflect the
                // snapshot this batch probed — letting the append
                // re-resolve internally left a silent gap between the
                // probe's resolve and the append's)
                val snap = graft.util.ManifestCommit.current(
                  s.sessionState.newHadoopConf(), idxDir)
                graft.vector.VectorOps.annIvfIndexed(
                  batch.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
                  graft.vector.VectorOps.loadIvfIndex(s, idxDir,
                    asOfGen = Some(snap.gen)),
                  nprobe = 2, topk = 1)
                  .write.mode("overwrite").parquet(s"$hitsDir/batch_id=b$batchId")
                graft.vector.VectorOps.appendIvfIndex(
                  batch.select(col("vec_id"), col("embedding")), idxDir,
                  batchId = Some(bid), commuting = false, at = Some(snap))
              }
            }
            .outputMode("append").start()
          try q.processAllAvailable() finally q.stop()
        }
        val hits = s.read.parquet(hitsDir)
          .select(pmod(col("q_id"), lit(4L)).as("crawl"), col("cos"))
          .groupBy(col("crawl"))
          .agg(count(lit(1)).as("n_probed"),
            round(avg(col("cos")), 4).as("avg_top1"))
        val result = embs
          .select(pmod(col("vec_id"), lit(4L)).as("crawl"))
          .filter(col("crawl") >= 1)
          .groupBy(col("crawl")).agg(count(lit(1)).as("n_vecs"))
          .join(hits, Seq("crawl"), "left")
          .select(col("crawl"), col("n_vecs"),
            coalesce(col("n_probed"), lit(0L)).as("n_probed"),
            coalesce(col("avg_top1"), lit(0.0)).as("avg_top1"))
        (result.collect().toSeq, result.schema)
      } finally Seq(idxDir, hitsDir, cpDir).foreach(graft.util.FileTrees.rmTree)
      s.createDataFrame(s.sparkContext.parallelize(rows._1, 1), rows._2)
    },
    oracleGen = Some((s, dir) => {
      val (_, seedIdx) = saimInputs(s, dir)
      val cents = graft.vector.VectorOps.loadIvfIndex(s, seedIdx).centroids
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      graft.vector.VectorOps.ivfStreamMaintenanceOracle(cents, nCrawls = 4)
    }))

  val all: Seq[QueryDef] =
    Seq(streamWindows, streamSessions, sessionWindowAgg, streamDedup, streamJoin,
      streamCurate, streamFunnel, streamLeftJoin, streamMvMaintenance,
      streamStaticEnrich, streamAsofEnrich, streamScd2Maintenance,
      streamWarcIngest, streamPrioritySample, streamDedupIndexMaintenance,
      streamAnnIndexMaintenance)
}
