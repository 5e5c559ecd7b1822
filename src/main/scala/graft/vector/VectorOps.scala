package graft.vector

import graft.QueryDef
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.GraftFunctions._
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the correctness baseline, random-hyperplane
  * LSH and an IVF-style cell-probe variant as the scale paths, plus
  * cosine near-dup pairing.
  *
  * All vector math is `zip_with`/`aggregate` column expressions (codegen,
  * no UDFs). The query side is always the broadcast side; the corpus is
  * never collected or crossed with itself.
  */
object VectorOps {

  private val Dim = 64
  private val MaxPlanes = 16

  /** Deterministic random hyperplanes (fixed seed → reproducible plans).
    * 64 planes = 8 independent 8-plane tables for the multi-table ANN
    * path; row-major fill means the first 16 rows are bit-identical to
    * the original 16-plane pool, so every signature computed with
    * `lshSignature` (near-dup verification) is unchanged.
    */
  private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(64, Dim)(rnd.nextGaussian())
  }

  /** n-bit signature starting at plane `offset`: bit p = sign of
    * <v, plane_{offset+p}>, via the native LshSigsConst kernel (one
    * JIT-compiled loop nest over the constant plane table — the
    * unrolled per-plane CASE form generated a 29.5 kB-bytecode method,
    * see CodegenAuditSpec). Plane count trades bucket selectivity vs
    * recall: more planes → smaller buckets (cheaper join, lower
    * recall); `offset` selects one of the independent tables in the
    * multi-table ANN path.
    */
  def lshSignatureAt(v: Column, nPlanes: Int, offset: Int): Column =
    element_at(graft.functions.LshSigs.lshSigs(v, planes, nPlanes, offset, 1), 1)

  def lshSignature(v: Column, nPlanes: Int): Column = lshSignatureAt(v, nPlanes, 0)

  /** All `nTables` table signatures in one kernel call. */
  private[vector] def lshTableSigs(v: Column, nPlanes: Int, nTables: Int): Column =
    graft.functions.LshSigs.lshSigs(v, planes, nPlanes, 0, nTables)

  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  private def queriesDf(s: SparkSession, dir: String, n: Int): DataFrame =
    corpus(s, dir).filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Brute-force exact cosine top-k: broadcast the (small) query set over
    * the corpus — one corpus scan, no shuffle of the corpus, per-query
    * top-k via window on the (queries × corpus) stream. At cluster scale
    * this is the "exact rescoring" stage; candidate narrowing is the job
    * of the LSH/IVF variants below. Ranking is on the raw double (ties
    * broken by vec_id); rounding to 6dp happens only at output — the
    * DuckDB oracle mirrors both choices.
    */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val q = broadcast(queriesDf(s, dir, 10))
    val scored = corpus(s, dir).crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** The Spark expression accumulates float elements in double
    * (CosineSimilarity.nullSafeEval); DuckDB's list_cosine_similarity on a
    * FLOAT[] accumulates in float and disagrees at 6dp, so the oracle
    * casts to DOUBLE[] first — verified to match the double accumulation
    * on every sf0.01 query.
    */
  val annBrute: QueryDef = QueryDef(
    "ann_brute_topk",
    (s, dir) => bruteTopK(s, dir),
    Some("""WITH q AS (
        SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS raw_cos
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      ranked AS (
        SELECT q_id, vec_id, raw_cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, vec_id) AS INT) AS rank
        FROM scored)
      SELECT q_id, vec_id, round(raw_cos, 6) AS cos, rank
      FROM ranked WHERE rank <= 10"""))

  /** recall@k of an approximate top-k against the exact (brute-force)
    * top-k: one row per query, `n_hits_in_brute_top10` = |approx ∩ exact|.
    * Both sides are deterministic (fixed-seed planes, deterministic
    * k-means seeds), so the output is a meaningful graded check for the
    * LSH/IVF paths whose bucketing DuckDB cannot express: a
    * wrong-distance bug shows up as recall collapse, not as 100
    * plausible rows. Queries that lose every neighbor still emit a row
    * (n_hits = 0) via the left join on the query list.
    */
  def recallVsBrute(approx: DataFrame, exact: DataFrame, qIds: DataFrame): DataFrame = {
    val hits = approx.select(col("q_id"), col("vec_id"))
      .join(exact.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("hits"))
    qIds.join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("n_hits_in_brute_top10"))
  }

  /** LSH-bucketed ANN: corpus and queries hashed to 16-bit hyperplane
    * signatures; candidates = same-bucket vectors (multi-probe: exact
    * bucket plus 1-bit flips), exact cosine rescoring on candidates only.
    * The corpus-side shuffle is keyed on the bucket — at 100 TB this is
    * the difference between a cross join and a hash join.
    */
  /** Multi-table multi-probe LSH top-k: L independent 8-plane tables
    * (the classic recall lever for random-hyperplane LSH — per-table
    * collision probability is (1-θ/π)^8, far too low for ~70° neighbors,
    * but 1-(1-p_table)^L over 8 tables with 1-bit multi-probe lands
    * ~60-80%). The corpus side never shuffles: signatures are map-side
    * codegen'd expressions and the probe join is a broadcast hash join
    * against the (q_id, table, bucket) probe list; only the candidate
    * set (≪ corpus) passes through the dedup shuffle before exact
    * rescoring.
    */
  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val np = 8
    val nTables = 8
    // Signatures are computed ONCE per row into an array column by the
    // single native kernel call, then posexplode fans out
    // (table=pos, bucket); the probe fan-out below stays cheap long XORs.
    def tableSigs(v: Column): Column = lshTableSigs(v, np, nTables)
    val c = corpus(s, dir)
      .select(col("vec_id"), col("embedding"), tableSigs(col("embedding")).as("sigs"))
      .select(col("vec_id"), col("embedding"), posexplode(col("sigs")).as(Seq("table", "bucket")))
    // query probes, per table: exact bucket plus all 1-bit neighbors —
    // cheap long XORs over the precomputed bucket
    val q = queriesDf(s, dir, 10)
      .select(col("q_id"), col("q_emb"), tableSigs(col("q_emb")).as("sigs"))
      .select(col("q_id"), col("q_emb"), posexplode(col("sigs")).as(Seq("table", "q_bucket")))
      .select(col("q_id"), col("q_emb"), col("table"),
        explode(array((-1 until np).map { i =>
          if (i < 0) col("q_bucket") else col("q_bucket").bitwiseXOR(lit(1L << i))
        }: _*)).as("bucket"))
    val cand = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("q_emb"), col("embedding"))
      .dropDuplicates("q_id", "vec_id")
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** The first 64 planes (8 tables × 8 planes, offset 0) as SQL VALUES
    * rows — Double.toString round-trips the exact double, so DuckDB
    * parses bit-identical plane constants.
    */
  private def planeValuesSql(n: Int): String =
    planes.take(n).zipWithIndex.map { case (row, pid) =>
      s"($pid, [${row.map(_.toString).mkString(", ")}])"
    }.mkString(",\n          ")

  /** (id, vector) rows as SQL VALUES — Double.toString round-trips the
    * exact double, so DuckDB parses bit-identical constants (the
    * LSH-plane argument).
    */
  private[vector] def vecValuesSql(rows: Seq[(Long, Seq[Double])]): String =
    rows.map { case (id, v) => s"($id, [${v.map(_.toString).mkString(", ")}])" }
      .mkString(",\n          ")

  /** Shared IVF replay: embedded centroid literals (raw for the probe
    * cosine, norm-scaled for the assignment — the exact arrays
    * NearestCellConst dots against), assignment as argmax-dot with ties
    * to the lowest cell (row_number ORDER BY dot DESC, cell), the
    * nprobe-nearest-cell probe with the dot/(|a|·|b|) cosine form
    * GraftFunctions.cosine evaluates, and exact rescoring inside probed
    * cells. Ends at `ranked` (q_id, vec_id, cos, rnk); callers append
    * the top-k or recall tail.
    */
  private[vector] def ivfAssignCtes(cents: Seq[(Long, Seq[Double])],
                                    nprobe: Int): String = {
    require(cents.nonEmpty, "no centroids to embed (empty corpus)")
    val scaled = scaledOf(cents).map { case (c, a) => (c, a.toSeq) }
    s"""WITH sc(cell, svec) AS (VALUES
          ${vecValuesSql(scaled)}),
      ct(cell, cvec) AS (VALUES
          ${vecValuesSql(cents)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      asn AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, sc.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.emb, sc.svec) DESC, sc.cell) AS rn
          FROM e, sc) WHERE rn = 1),
      qv AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
      probed AS (SELECT qv.q_id, ct.cell,
          list_dot_product(qv.q_emb, ct.cvec)
            / (sqrt(list_dot_product(qv.q_emb, qv.q_emb))
               * sqrt(list_dot_product(ct.cvec, ct.cvec))) AS ccos
        FROM qv, ct),
      pcells AS (SELECT q_id, cell FROM (
          SELECT q_id, cell,
                 row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, cell) AS cr
          FROM probed) WHERE cr <= $nprobe)"""
  }

  private def ivfReplayCtes(cents: Seq[(Long, Seq[Double])], nprobe: Int): String =
    s"""${ivfAssignCtes(cents, nprobe)},
      cand AS (SELECT pc.q_id, a.vec_id,
          list_cosine_similarity(eq.emb, ec.emb) AS cos
        FROM asn a
        JOIN pcells pc ON a.cell = pc.cell
        JOIN e ec ON ec.vec_id = a.vec_id
        JOIN e eq ON eq.vec_id = pc.q_id
        WHERE a.vec_id <> pc.q_id),
      ranked AS (SELECT q_id, vec_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
        FROM cand)"""

  /** recall@10-vs-brute tail over a `ranked` CTE (requires `e` in
    * scope) — mirrors recallVsBrute + bruteTopK exactly.
    */
  private[vector] val recallTailSql: String = s"""
      approx AS (SELECT q_id, vec_id FROM ranked WHERE rnk <= 10),
      bscored AS (SELECT q.vec_id AS q_id, e2.vec_id,
             list_cosine_similarity(q.emb, e2.emb) AS raw_cos
           FROM e q, e e2 WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id),
      brute AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, vec_id) AS rn
          FROM bscored) WHERE rn <= 10),
      hits AS (SELECT a.q_id, COUNT(*) AS h
        FROM approx a JOIN brute b ON a.q_id = b.q_id AND a.vec_id = b.vec_id
        GROUP BY a.q_id),
      ql AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10)
      SELECT ql.q_id, CAST(COALESCE(hits.h, 0) AS BIGINT) AS n_hits_in_brute_top10
      FROM ql LEFT JOIN hits ON ql.q_id = hits.q_id"""

  /** top-k output tail over `ranked` — the indexed-probe queries' row
    * shape (rank is INT on the Spark side: row_number).
    */
  private val topkTailSql: String =
    """
      SELECT q_id, vec_id, round(cos, 6) AS cos, CAST(rnk AS INT) AS rank
      FROM ranked WHERE rnk <= 10"""

  /** Registered as a recall@10 check against the brute-force truth (one
    * row per query) — see recallVsBrute; AnnRecallSpec asserts the
    * floor. The oracle REPLAYS the whole LSH pipeline in SQL: the plane
    * table is embedded as literals (deterministic seed → fixed
    * constants), signatures are the same strict `dot > 0` bits
    * (list_dot_product accumulates doubles in index order exactly like
    * the LshSigs kernel, so the signs are bit-identical), the 1-bit
    * multi-probe is hamming(bucket, q_bucket) ≤ 1, and the rescoring +
    * top-10 + intersection mirror the Spark plan — so the approximate
    * path is hash-checked end to end, not just recall-floored.
    */
  val annLsh: QueryDef = QueryDef(
    "ann_lsh_topk",
    (s, dir) => recallVsBrute(lshTopK(s, dir), bruteTopK(s, dir),
      queriesDf(s, dir, 10).select(col("q_id"))),
    Some(s"""WITH pl(pid, plane) AS (VALUES
          ${planeValuesSql(64)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      sig AS (
        SELECT e.vec_id, pid // 8 AS tbl,
               CAST(SUM(CASE WHEN list_dot_product(e.emb, pl.plane) > 0
                        THEN 1 << (pid % 8) ELSE 0 END) AS BIGINT) AS bucket
        FROM e, pl GROUP BY e.vec_id, (pid // 8)),
      qs AS (SELECT vec_id AS q_id, tbl, bucket FROM sig WHERE vec_id < 10),
      cand AS (
        SELECT DISTINCT qs.q_id, c.vec_id
        FROM sig c JOIN qs ON c.tbl = qs.tbl
          AND bit_count(xor(c.bucket, qs.bucket)) <= 1
        WHERE c.vec_id <> qs.q_id),
      scored AS (
        SELECT cand.q_id, cand.vec_id,
               list_cosine_similarity(eq.emb, ec.emb) AS raw_cos
        FROM cand JOIN e eq ON eq.vec_id = cand.q_id
                  JOIN e ec ON ec.vec_id = cand.vec_id),
      approx AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, vec_id) AS rn
          FROM scored) WHERE rn <= 10),
      bscored AS (
        SELECT q.vec_id AS q_id, e2.vec_id,
               list_cosine_similarity(q.emb, e2.emb) AS raw_cos
        FROM e q, e e2 WHERE q.vec_id < 10 AND e2.vec_id <> q.vec_id),
      brute AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY raw_cos DESC, vec_id) AS rn
          FROM bscored) WHERE rn <= 10),
      hits AS (
        SELECT a.q_id, COUNT(*) AS h
        FROM approx a JOIN brute b ON a.q_id = b.q_id AND a.vec_id = b.vec_id
        GROUP BY a.q_id),
      ql AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < 10)
      SELECT ql.q_id, CAST(COALESCE(hits.h, 0) AS BIGINT) AS n_hits_in_brute_top10
      FROM ql LEFT JOIN hits ON ql.q_id = hits.q_id"""))

  /** Mean vector per cell, computed distributed in ONE keyed
    * aggregation: `dim` per-element avg aggregates assembled into the
    * centroid array (map-side partial aggregation collapses each
    * partition to ≤ k rows of `dim` (sum, count) pairs before the single
    * shuffle). The previous posexplode → groupBy(cell, pos) →
    * groupBy(cell) form paid a 64× row explosion and two shuffles for
    * the same math.
    */
  private def cellCentroids(assigned: DataFrame, dim: Int): DataFrame =
    assigned.groupBy(col("cell"))
      .agg(array((1 to dim).map(i =>
        avg(element_at(col("embedding"), i))): _*).as("centroid"))

  /** Distributed k-means IVF build: deterministic seeds (first k
    * vectors), `iters` Lloyd rounds over a bounded TRAINING SAMPLE, then
    * exactly one assignment pass over the full corpus — FAISS's own
    * train/add split. Nobody runs Lloyd over 100 TB: centroid quality
    * saturates at a few-thousand-vector sample, so the iterative part is
    * O(sample × iters) while the corpus pays a single scored scan. The
    * sample is an arithmetic vec_id-hash filter, deterministic across
    * runs and engines. Returns (assignments vec_id→cell, centroids
    * cell→array<double>), mutually consistent (assignments are argmax
    * against the returned centroids).
    *
    * Measured neutral at sf0.1 (IterAB steady-state 1.98 → 2.01 s,
    * noise band): at 10k vectors the per-round fixed overhead dominates,
    * so the benefit is the scan-complexity change, not a local number —
    * recall floors unchanged (AnnRecallSpec: IVF ≥ 50/100).
    */
  /** Deterministic bounded training sample: an arithmetic vec_id-hash
    * filter (stable across runs, engines, and partitionings) keeps
    * ~`cap` rows. The permille floors at 1, so for corpora beyond
    * cap×1000 rows the FILTER alone over-selects — callers that
    * collect (PQ codebook training) must add the TakeOrdered `.limit`;
    * distributed consumers (Lloyd rounds here) tolerate the slack.
    * Shared by IVF and PQ training so "same sample" stays true by
    * construction.
    */
  private[vector] def sampleFilter(c: DataFrame, cap: Long, n: Long): DataFrame =
    if (n <= cap) c
    else {
      val permille = math.max(1L, cap * 1000L / n)
      c.filter(pmod(pmod(col("vec_id"), lit(1000003L)) * lit(2654435761L % 1000003L),
        lit(1000003L)) % 1000 < permille)
    }

  def buildIvf(c: DataFrame, k: Int, iters: Int,
               trainCap: Long = 2000L,
               nKnown: Option[Long] = None): (DataFrame, DataFrame) = {
    val spark = c.sparkSession
    import spark.implicits._
    // centroids come back to the driver each Lloyd round — k×Dim doubles,
    // bounded by construction (the same shape MLlib KMeans collects every
    // round). A literal centroid table keeps each round's plan flat:
    // without it the final query drags every previous round's sample
    // pass in its lineage (exchange reuse dedupes the work at this
    // iteration depth — measured neutral at iters=2 — but the flat form
    // stays O(1) plan depth at any iteration count).
    def toLocal(df: DataFrame): Seq[(Long, Seq[Double])] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    val n = nKnown.getOrElse(c.count())
    // the sample is scanned once per Lloyd round — persist it so rounds
    // 2..iters read the (~trainCap × Dim floats) cached rows instead of
    // re-scanning and re-filtering the full corpus each round. When
    // n <= trainCap, sampleFilter returns the caller's DataFrame itself:
    // persisting/unpersisting THAT would evict a cache the caller may
    // own as a side effect, so only manage the cache when a real sample
    // was taken.
    val sampled = n > trainCap
    val train = if (sampled) sampleFilter(c, trainCap, n).persist() else c
    // seeds: the k lowest vec_ids — TakeOrdered (bounded, no full sort),
    // deterministic, and valid for ANY id space (hashed/snowflake ids
    // included, where a `vec_id < k` filter would match nothing and
    // silently build an empty index). On contiguous 0..n-1 ids this is
    // exactly the first k vectors, so existing results are unchanged.
    var centroids: Seq[(Long, Seq[Double])] = toLocal(
      c.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid"))
        .orderBy(col("vec_id")).limit(k))
    def centroidsDf: DataFrame = centroids.toDF("cell", "centroid")
    if (centroids.isEmpty) {
      // empty corpus: no seeds, no cells — empty assignment, empty table
      if (sampled) train.unpersist(blocking = false)
      return (c.select(col("vec_id"), lit(0L).as("cell")).limit(0), centroidsDf)
    }
    val dim = centroids.head._2.size
    def assign(df: DataFrame): DataFrame = assignCells(df, centroids)
    for (_ <- 1 to iters)
      centroids = toLocal(cellCentroids(assign(train), dim))
    if (sampled) train.unpersist(blocking = false)
    (assign(c).select(col("vec_id"), col("cell")), centroidsDf)
  }

  /** Nearest-centroid cell assignment as a PURE MAP STAGE: the
    * centroids are driver-side literals, so the argmax over k cells is
    * a single projection — `greatest` over k (sim, -cell, cell) structs
    * picks the lexicographic max, i.e. best sim with ties to the lowest
    * cell id, exactly the old max_by ordering. No crossJoin, no
    * shuffle: at 100 TB the corpus never leaves its scan stage to get a
    * cell id (the previous max_by form shuffled every embedding once
    * per assignment pass). Cosine argmax = dot-product argmax against
    * NORM-SCALED centroids (the row's own norm is constant across k),
    * via ONE native NearestCellConst kernel (functions/PqKernels.scala):
    * codegen emits a single call into a JIT-compiled k×dim loop over
    * the flattened constant centroid table. The previous form unrolled
    * k codegen'd dot loops under a `greatest` over (sim, -cell, cell)
    * structs; at k=256 the merged generated method blew the JIT
    * huge-method limit and a million-row assignment pass ran
    * interpreted, ~100× slower (caught live by tools/ScalePipeline —
    * the same disease PqCodegenSpec pinned for the PQ encode). Public
    * so `ann_index_update` can place NEW batches into an existing
    * index's cells without retraining.
    */
  /** Norm-scaled copies of the centroids — the exact arrays the
    * assignment kernel dots against (factored out so the DuckDB oracle
    * generators can embed the SAME doubles as literals).
    */
  private[vector] def scaledOf(centroids: Seq[(Long, Seq[Double])])
      : Seq[(Long, Array[Double])] =
    centroids.map { case (cell, ct) =>
      val nrm = math.sqrt(ct.map(x => x * x).sum)
      (cell, if (nrm == 0.0) ct.toArray else ct.map(_ / nrm).toArray)
    }

  def assignCells(df: DataFrame, centroids: Seq[(Long, Seq[Double])]): DataFrame =
    df.select(col("vec_id"), col("embedding"),
      graft.functions.NearestCellConst.nearestCell(col("embedding"), scaledOf(centroids))
        .as("cell"))

  /** IVF probe against prebuilt cells: query probes its `nprobe`
    * nearest centroids, exact search within the probed cells only — the
    * corpus join is keyed on the cell id. Shared by the build-and-query
    * path (`annIvf`) and the persisted-index path (`annIvfIndexed`).
    */
  def ivfProbe(c0: DataFrame, q: DataFrame, assignments: DataFrame,
               centroids: DataFrame, nprobe: Int = 2, topk: Int = 10): DataFrame = {
    val c = c0.join(assignments, "vec_id")
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val cells = probed.withColumn("cr", row_number().over(wq)).filter(col("cr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    val cand = c.join(broadcast(cells), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Persisted IVF index: FAISS-style inverted lists. The index stores
    * the vectors themselves partitioned by `cell`
    * (`vectors/cell=N/...parquet`), plus the centroid table — the
    * build-once / query-many split a production ANN deployment needs
    * (rebuilding k-means per query batch wastes the dominant cost).
    * Because the vectors are laid out by cell, a probe reads ONLY the
    * probed cells' files (static partition pruning) and never touches
    * the base corpus — at 100 TB a 2-of-1024-cell probe scans ~0.2% of
    * the index instead of joining the full corpus on vec_id.
    */
  def saveIvfIndex(c: DataFrame, indexDir: String, k: Int, iters: Int): Unit = {
    graft.util.ManifestCommit.assertPublishable(
      c.sparkSession.sessionState.newHadoopConf(), indexDir)
    val (assignments, centroids) = buildIvf(c, k, iters)
    IvfMaintenance.saveManifest(c.sparkSession, indexDir,
      c.join(assignments, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell")),
      centroids, codes = None, codebooks = None)
  }

  /** FAISS-style `add`: fold new vectors into a persisted IVF index by
    * assigning them to the EXISTING centroids — no re-clustering, no
    * base read, no rewrite. The batch lands as one flat level-0 tail
    * dir in ONE manifest publish carrying the batch id, so a
    * crashed/retried add can neither half-append nor double-append —
    * a batch already committed in the resolved snapshot is a no-op
    * (the exactly-once contract a foreachBatch retry or a re-run CLI
    * `ann_index_update` needs; the r12 bare `mode("append")`
    * double-appended here). The centroid table is
    * untouched, so every already-planned probe stays valid. By
    * construction the result is row-identical to assigning base ∪
    * delta against the same centroids (spec-pinned); recall drifts
    * only as far as the delta's distribution does, the same contract
    * FAISS documents for add-without-retrain — when the drift grows,
    * rebuild (saveIvfIndex) is the retrain. [[compactIvfIndex]] folds
    * the tail back into pruned `cell=` layout on the tiered cadence.
    */
  /** Probe-paired callers pass `at` = the snapshot their probe read
    * (and `commuting = false`): the publish then CASes against THAT
    * snapshot, so anything landing after the probe fails loudly and
    * the re-drive re-probes — see IvfMaintenance.appendManifest.
    */
  def appendIvfIndex(delta: DataFrame, indexDir: String,
                     batchId: Option[String] = None,
                     commuting: Boolean = true,
                     at: Option[graft.util.ManifestCommit.Manifest] = None)
      : Unit = {
    val s = delta.sparkSession
    graft.util.ManifestCommit.requireIndex(
      s.sessionState.newHadoopConf(), indexDir, "appendIvfIndex")
    val snap = at.getOrElse(graft.util.ManifestCommit.current(
      s.sessionState.newHadoopConf(), indexDir))
    val cents: Seq[(Long, Seq[Double])] =
      graft.util.ManifestCommit.readTable(s, indexDir, snap,
        "centroids", CentroidsSchema)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    if (cents.isEmpty) {
      // empty-corpus build has no centroids; folding an empty delta
      // into it is a no-op (the zero-row pipeline case), folding real
      // vectors is the FAISS untrained-index error
      if (delta.select(col("vec_id")).limit(1).isEmpty) return
      throw new IllegalStateException(
        s"$indexDir has no centroids — an untrained index cannot take adds (FAISS contract); build with saveIvfIndex first")
    }
    // pin the publish to the SNAPSHOT the centroids came from (even
    // when the caller passed no `at`): letting the append re-resolve
    // internally left a window where a rebuild landing between the two
    // resolves would take the batch's old-centroid cell assignments
    // into its new index on the FIRST attempt — no contention, so not
    // even the commuting invariant would have seen it
    IvfMaintenance.appendManifest(s, indexDir,
      assignCells(delta, cents), codes = None, batchId, commuting,
      at = Some(snap))
  }

  /** Size-tiered compaction of a persisted IVF (or IVF-PQ) index —
    * see [[IvfMaintenance.compactManifest]]. Probe results are
    * identical before and after (spec-pinned); per-cycle IO follows
    * the tail. `vacuumKeep`: run [[graft.util.ManifestCommit.vacuum]]
    * inline after the fold, retaining the newest K generations — the
    * 24/7 deployment ergonomic (size K to the longest AS-OF horizon
    * readers need).
    */
  def compactIvfIndex(spark: SparkSession, indexDir: String,
                      vacuumKeep: Option[Int] = None): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir,
      "compactIvfIndex")
    IvfMaintenance.compactManifest(spark, indexDir)
    vacuumKeep.foreach(k =>
      graft.util.ManifestCommit.vacuum(conf, indexDir, keepGens = k))
  }

  /** Per-tier vectors mass + the size policy's pending decision — the
    * maintenance-curve observability hook (tools/MaintenanceCurve).
    * Read-only; tier masses ride the manifest (zero Spark jobs).
    */
  def compactionTiers(spark: SparkSession, indexDir: String)
      : (String, graft.util.TieredIndex.TierSizes) = {
    graft.util.ManifestCommit.requireIndex(
      spark.sessionState.newHadoopConf(), indexDir, "compactionTiers")
    val m = graft.util.ManifestCommit.current(
      spark.sessionState.newHadoopConf(), indexDir)
    val sizes = graft.util.ManifestTiered.sizes(spark, indexDir, m, "vectors",
      IvfMaintenance.VectorsSchema)
    val action = graft.util.TieredIndex.plan(sizes) match {
      case graft.util.TieredIndex.NoOp => "NoOp"
      case graft.util.TieredIndex.Minor(_) => "Minor"
      case graft.util.TieredIndex.MergeRuns => "MergeRuns"
      case graft.util.TieredIndex.Major => "Major"
    }
    (action, sizes)
  }

  /** `vectors` is the cell-partitioned inverted-list table
    * (vec_id, embedding, cell).
    */
  final case class IvfIndex(vectors: DataFrame, centroids: DataFrame)

  /** Explicit schemas so a sparse or EMPTY index loads: a zero-vector
    * corpus writes no parquet parts (only _SUCCESS), and schema
    * inference would fail where an empty frame is the right answer.
    */
  private val CentroidsSchema = IvfMaintenance.CentroidsSchema

  /** `vectors` reads base ∪ level-1 runs ∪ tail of ONE resolved
    * snapshot (a concurrent fold can never show this probe new vectors
    * against missing/old state): a probe's cell IN-filter pushes
    * through the union, so the base and run scans stay statically
    * pruned to probed `cell=` dirs and only the compaction-bounded
    * flat tail is row-filtered.
    */
  def loadIvfIndex(spark: SparkSession, indexDir: String): IvfIndex =
    loadIvfIndex(spark, indexDir, asOfGen = None)

  /** `asOfGen`: load a RETAINED HISTORICAL generation
    * (ManifestCommit.atGeneration).
    */
  def loadIvfIndex(spark: SparkSession, indexDir: String,
                   asOfGen: Option[Long]): IvfIndex = {
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir, "loadIvfIndex")
    val m = asOfGen
      .map(g => graft.util.ManifestCommit.atGeneration(conf, indexDir, g))
      .getOrElse(graft.util.ManifestCommit.current(conf, indexDir))
    IvfIndex(IvfMaintenance.readVectorsManifest(spark, indexDir, m),
      graft.util.ManifestCommit.readTable(spark, indexDir, m,
        "centroids", CentroidsSchema))
  }

  /** ANN against a persisted index — no k-means at query time, no base
    * corpus access. The probed cell set (≤ nq × nprobe distinct ids,
    * bounded above by k) is collected to the driver so the cell filter
    * is a static partition predicate — the scan touches only probed
    * cells' files (IvfIndexSpec asserts the pruned plan); candidates
    * then join the broadcast (q_id, cell) probes.
    */
  def annIvfIndexed(q: DataFrame, idx: IvfIndex,
                    nprobe: Int = 2, topk: Int = 10): DataFrame = {
    val probed = q.crossJoin(broadcast(idx.centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val cells = probed.withColumn("cr", row_number().over(wq)).filter(col("cr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("cell"))
    // bounded collect: distinct probed cell ids, at most k values
    val cellIds = cells.select(col("cell")).distinct().collect().map(_.getLong(0))
    val cand = idx.vectors.where(col("cell").isin(cellIds.map(Long.box): _*))
      .join(broadcast(cells), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Session-cached trained centroids for the registered build-and-query
    * IVF paths (k=10, iters=2): the query fn and its DuckDB oracle
    * generator MUST read the same training output — Lloyd means over
    * doubles are deterministic only per (session, partitioning), and
    * the hash gate compares this run's rows against this run's oracle.
    * Bounded: k × Dim doubles per (application, sf dir).
    */
  private val trainedIvfCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Seq[Double])]]()

  private[vector] def cachedIvfCentroids(s: SparkSession, dir: String)
      : Seq[(Long, Seq[Double])] =
    graft.util.Caches.fill(trainedIvfCentroids, s.sparkContext.applicationId + ":" + dir) {
        val (_, centroidsDf) = buildIvf(corpus(s, dir), k = 10, iters = 2)
        centroidsDf.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
      }

  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val c0 = corpus(s, dir)
    val cents = cachedIvfCentroids(s, dir)
    val spark = s
    import spark.implicits._
    val assignments =
      if (cents.isEmpty) c0.select(col("vec_id"), lit(0L).as("cell")).limit(0)
      else assignCells(c0, cents).select(col("vec_id"), col("cell"))
    ivfProbe(c0, queriesDf(s, dir, 10), assignments, cents.toDF("cell", "centroid"))
  }

  /** IVF cell probe: k-means cells built distributed (see buildIvf),
    * query probes its 2 nearest centroids, exact search within the
    * probed cells only — the corpus join is keyed on the cell id.
    * Registered as recall@10 vs the brute-force truth (recallVsBrute).
    */
  val annIvf: QueryDef = QueryDef(
    "ann_ivf_topk",
    (s, dir) => recallVsBrute(ivfTopK(s, dir), bruteTopK(s, dir),
      queriesDf(s, dir, 10).select(col("q_id"))),
    oracleGen = Some((s, dir) =>
      // replay with THIS session's trained centroids embedded as
      // literals (cachedIvfCentroids — same training run the query fn
      // assigned against), then the recall@10 grading tail
      s"${ivfReplayCtes(cachedIvfCentroids(s, dir), nprobe = 2)},$recallTailSql"))

  /** Embedding-cosine near-dup pairs via LSH buckets (exact-bucket
    * collision only), verified with exact cosine ≥ 0.99. Summary agg for
    * deterministic output.
    */
  /** Near-dup candidate pairs with exact cosine ≥ `minCos`, via
    * exact-bucket LSH collision. Cap rationale
    * (graft.dedup.Dedup.MaxBucket): a degenerate signature bucket must
    * not go quadratic in the self-join. Over-cap buckets — the heaviest
    * real dup targets — emit a spanning star to the bucket's min vec_id
    * (O(bucket) pairs, connectivity preserved) instead of being
    * dropped. The split is groupBy-based (Dedup.bucketCapSplit), not a
    * window, so a degenerate bucket never serializes through one task's
    * sort. EmbeddingDedupSpec grades this path against the brute-force
    * exact pair set (precision 1 by construction; recall floor).
    */
  def embeddingNearDupPairs(c0: DataFrame, minCos: Double = 0.99): DataFrame = {
    val banded = c0.withColumn("bucket", lshSignature(col("embedding"), MaxPlanes))
    val (c, overCap) = graft.dedup.Dedup.bucketCapSplit(
      banded, Seq("bucket"), 64, "vec_id", Seq("embedding"))
    val a = c.select(col("bucket"), col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = c.select(col("bucket"), col("vec_id").as("id2"), col("embedding").as("e2"))
    val full = a.join(b, "bucket")
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosineSim(col("e1"), col("e2")).as("cos"))
    val star = overCap
      .filter(col("vec_id") =!= col("anchor.vec_id"))
      .select(col("anchor.vec_id").as("id1"), col("vec_id").as("id2"),
        cosineSim(col("anchor.embedding"), col("embedding")).as("cos"))
    full.union(star).filter(col("cos") >= minCos)
  }

  /** The oracle replays the same pipeline: 16-bit exact-bucket
    * signatures from the embedded plane literals (strict dot > 0, same
    * bit-identity argument as ann_lsh_topk), the >64 cap split with the
    * min-vec_id star, cosine rescoring, and the 0.99 gate. avg_cos is
    * a 4dp-rounded mean of values all ≥ 0.99 — summation-order ulp
    * differences are far below the rounding quantum.
    */
  val dedupEmbedding: QueryDef = QueryDef(
    "dedup_embedding",
    (s, dir) => embeddingNearDupPairs(corpus(s, dir))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(round(avg(col("cos")), 4), lit(0.0)).as("avg_cos")),
    Some(s"""WITH pl(pid, plane) AS (VALUES
          ${planeValuesSql(16)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      sig AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN list_dot_product(e.emb, pl.plane) > 0
                        THEN 1 << pid ELSE 0 END) AS BIGINT) AS bucket
        FROM e, pl GROUP BY e.vec_id),
      bc AS (SELECT bucket, COUNT(*) AS bw, MIN(vec_id) AS anchor
             FROM sig GROUP BY bucket),
      small AS (SELECT s.vec_id, s.bucket FROM sig s
                JOIN bc ON s.bucket = bc.bucket WHERE bc.bw <= 64),
      big AS (SELECT s.vec_id, s.bucket, bc.anchor FROM sig s
              JOIN bc ON s.bucket = bc.bucket WHERE bc.bw > 64),
      fullp AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               list_cosine_similarity(ea.emb, eb.emb) AS cos
        FROM small a JOIN small b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id),
      starp AS (
        SELECT g.anchor AS id1, g.vec_id AS id2,
               list_cosine_similarity(ea.emb, eb.emb) AS cos
        FROM big g
        JOIN e ea ON ea.vec_id = g.anchor
        JOIN e eb ON eb.vec_id = g.vec_id
        WHERE g.vec_id <> g.anchor),
      pairs AS (
        SELECT * FROM (SELECT * FROM fullp UNION ALL SELECT * FROM starp)
        WHERE cos >= 0.99)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             COALESCE(round(AVG(cos), 4), 0.0) AS avg_cos
      FROM pairs"""))

  /** Build-once cache for the registered indexed-probe query: one
    * persisted index per (application, sf dir), so repeated invocations
    * measure the PROBE cost — the query-many operating mode the
    * persisted index exists for (ann_ivf_topk, by contrast, re-runs
    * k-means every call: the build-every-time baseline).
    */
  private val builtIdx = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sessionIvfIndex(s: SparkSession, dir: String): IvfIndex = {
    val idxDir = graft.util.Caches.fill(builtIdx, s.sparkContext.applicationId + ":" + dir,
      (d: String) => graft.util.FileTrees.rmTree(d)) {
      val d = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
      saveIvfIndex(corpus(s, dir), d, k = 10, iters = 2)
      d
    }
    loadIvfIndex(s, idxDir)
  }

  /** Top-k against the PERSISTED index: no k-means at query time, scan
    * limited to probed cells' files via static partition pruning
    * (IvfIndexSpec asserts the pruned plan). Deterministic build →
    * identical rows to the build-and-query path.
    */
  /** Centroids of a persisted index, collected back as exact doubles
    * (parquet round-trips IEEE bits) — the oracle generators embed the
    * index's OWN trained centroids, so the replay grades the persisted
    * artifact, not a retrain.
    */
  private def indexCentroids(idx: IvfIndex): Seq[(Long, Seq[Double])] =
    idx.centroids.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

  val annIvfIndexedQuery: QueryDef = QueryDef(
    "ann_ivf_indexed_topk",
    (s, dir) => annIvfIndexed(queriesDf(s, dir, 10), sessionIvfIndex(s, dir)),
    oracleGen = Some((s, dir) =>
      s"${ivfReplayCtes(indexCentroids(sessionIvfIndex(s, dir)), nprobe = 2)}$topkTailSql"))

  private def sessionAppendedIvfIndex(s: SparkSession, dir: String): IvfIndex = {
    val idxDir = graft.util.Caches.fill(builtIdx, s.sparkContext.applicationId + ":appended:" + dir,
      (d: String) => graft.util.FileTrees.rmTree(d)) {
        val d = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
        val c = corpus(s, dir)
        saveIvfIndex(c.filter(col("vec_id") % 5 =!= 0), d, k = 10, iters = 2)
        appendIvfIndex(c.filter(col("vec_id") % 5 === 0), d)
        d
      }
    loadIvfIndex(s, idxDir)
  }

  /** Incremental-maintenance probe: index trained on 80% of the
    * corpus, the remaining 20% folded in by [[appendIvfIndex]] (no
    * retrain), then probed. IvfIndexSpec pins the invariant that the
    * appended index row-equals a same-centroid assignment of the full
    * corpus and that base cell files stay byte-untouched; recall
    * grading rides the existing IVF family checks.
    */
  /** The appended index row-equals a same-centroid assignment of the
    * full corpus (IvfIndexSpec pins it), so the replay assigns ALL of
    * `embeddings` against the 80%-trained centroids — the oracle
    * hash-checks exactly the invariant the incremental add claims.
    */
  val annIvfAppendQuery: QueryDef = QueryDef(
    "ann_ivf_append_topk",
    (s, dir) => annIvfIndexed(queriesDf(s, dir, 10), sessionAppendedIvfIndex(s, dir)),
    oracleGen = Some((s, dir) =>
      s"${ivfReplayCtes(indexCentroids(sessionAppendedIvfIndex(s, dir)), nprobe = 2)}$topkTailSql"))

  /** Build-once per (application, sf dir): an 80%-trained index with
    * the remaining 20% batch-appended (exactly-once, `batch-1`), plus
    * the post-append generation — the snapshot each invocation rewinds
    * to.
    */
  private val compactIdx =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def sessionIvfCompactRoot(s: SparkSession, dir: String): (String, Long) =
    graft.util.Caches.fill(compactIdx, s.sparkContext.applicationId + ":compact:" + dir,
      (v: (String, Long)) => graft.util.FileTrees.rmTree(v._1)) {
      val d = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
      val c = corpus(s, dir)
      saveIvfIndex(c.filter(col("vec_id") % 5 =!= 0), d, k = 10, iters = 2)
      appendIvfIndex(c.filter(col("vec_id") % 5 === 0), d,
        batchId = Some("batch-1"))
      (d, graft.util.ManifestCommit.current(
        s.sessionState.newHadoopConf(), d).gen)
    }

  /** Registered maintenance arm (completes the IVF family's
    * build/probe/update/compact parity with the MinHash and BM25
    * indexes): fold the appended tail into the tiered layout WITH THE
    * INLINE VACUUM (`vacuumKeep` — the 24/7 compact-verb ergonomic),
    * then probe — compaction + vacuum must be invisible to retrieval,
    * hash-checked against the same full-corpus replay as
    * `ann_ivf_append_topk` (ann_ivf_manifest_topk is the no-vacuum
    * twin). Each invocation rewinds to the post-append snapshot
    * (manifest time-travel, an O(fold output) reset), so the bench
    * measures one real Minor fold + vacuum pass + probe every time.
    */
  val annIvfCompactQuery: QueryDef = QueryDef(
    "ann_ivf_compact_topk",
    (s, dir) => {
      val conf = s.sessionState.newHadoopConf()
      val (work, seedGen) = sessionIvfCompactRoot(s, dir)
      // single-writer maintenance: serialize concurrent invocations
      graft.util.WorkLocks.sync(work) {
        graft.util.ManifestTiered.benchRewind(conf, work, seedGen)
        // keep=2 retains the pre-fold snapshot the next invocation
        // rewinds to; the vacuum pass itself runs for real every cycle
        compactIvfIndex(s, work, vacuumKeep = Some(2))
        annIvfIndexed(queriesDf(s, dir, 10), loadIvfIndex(s, work))
      }
    },
    oracleGen = Some((s, dir) =>
      s"${ivfReplayCtes(indexCentroids(loadIvfIndex(s, sessionIvfCompactRoot(s, dir)._1)), nprobe = 2)}$topkTailSql"))

  /** Build-once per (application, sf dir): the manifest-protocol
    * 80%-trained index with the remaining 20% batch-appended, plus the
    * post-append generation — the snapshot each invocation rewinds to.
    */
  private val manifestIdx =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def sessionIvfManifestRoot(s: SparkSession, dir: String): (String, Long) =
    graft.util.Caches.fill(manifestIdx, s.sparkContext.applicationId + ":" + dir,
      (v: (String, Long)) => graft.util.FileTrees.rmTree(v._1)) {
      val d = java.nio.file.Files.createTempDirectory("graft_ivf_mani").toString
      val c = corpus(s, dir)
      saveIvfIndex(c.filter(col("vec_id") % 5 =!= 0), d, k = 10, iters = 2)
      appendIvfIndex(c.filter(col("vec_id") % 5 === 0), d,
        batchId = Some("batch-1"))
      (d, graft.util.ManifestCommit.current(
        s.sessionState.newHadoopConf(), d).gen)
    }

  /** The ann_ivf_compact_topk lifecycle on the versioned-manifest
    * (object-store) commit protocol: 80% trained+built, 20% appended
    * exactly-once, the tail Minor-folded into a flat (cell,
    * vec_id)-sorted run in one publish, then
    * probed. Oracle = the same full-corpus assignment replay against
    * the index's OWN centroids — the commit protocol must be invisible
    * to retrieval, hash-checked. Each invocation rewinds to the
    * post-append snapshot (drop newer generations + vacuum — manifest
    * time-travel, an O(fold output) reset) so the bench measures one
    * real Minor fold + probe every time.
    */
  val annIvfManifestQuery: QueryDef = QueryDef(
    "ann_ivf_manifest_topk",
    (s, dir) => {
      val conf = s.sessionState.newHadoopConf()
      val (idx, seedGen) = sessionIvfManifestRoot(s, dir)
      graft.util.WorkLocks.sync(idx) {
        graft.util.ManifestTiered.benchRewind(conf, idx, seedGen)
        compactIvfIndex(s, idx)
        annIvfIndexed(queriesDf(s, dir, 10), loadIvfIndex(s, idx))
      }
    },
    oracleGen = Some((s, dir) =>
      s"${ivfReplayCtes(indexCentroids(loadIvfIndex(s, sessionIvfManifestRoot(s, dir)._1)), nprobe = 2)}$topkTailSql"))

  /** Static replay of the streaming IVF maintenance drain
    * (stream_ann_index_maintenance): crawl k's vectors probe the index
    * state seed ∪ crawls < k — membership is the id-mod arithmetic;
    * the cell assignment replays the SEED-trained centroids as
    * literals (appends never retrain, the FAISS contract, so ONE
    * centroid table serves every batch's replay); the per-crawl
    * summary aggregates each query's top-1 candidate cosine. Mirrors
    * annIvfIndexed exactly: assignment ranks by scaled dot (the
    * NearestCellConst kernel's argmax), probed cells by full cosine
    * against the unscaled centroid, candidates by raw cosine with
    * vec_id ties, rounding only at output.
    */
  private[graft] def ivfStreamMaintenanceOracle(
      cents: Seq[(Long, Seq[Double])], nCrawls: Int): String = {
    require(cents.nonEmpty, "no centroids to embed (empty corpus)")
    val scaled = scaledOf(cents).map { case (c, a) => (c, a.toSeq) }
    s"""WITH sc(cell, svec) AS (VALUES
          ${vecValuesSql(scaled)}),
      ct(cell, cvec) AS (VALUES
          ${vecValuesSql(cents)}),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      asn AS (SELECT vec_id, cell FROM (
          SELECT e.vec_id, sc.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.emb, sc.svec) DESC, sc.cell) AS rn
          FROM e, sc) WHERE rn = 1),
      pcells AS (SELECT q_id, cell FROM (
          SELECT e.vec_id AS q_id, ct.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.emb, ct.cvec)
                     / (sqrt(list_dot_product(e.emb, e.emb))
                        * sqrt(list_dot_product(ct.cvec, ct.cvec))) DESC,
                   ct.cell) AS cr
          FROM e, ct WHERE e.vec_id % $nCrawls >= 1) WHERE cr <= 2),
      cand AS (SELECT pc.q_id, a.vec_id AS idx_id,
          list_cosine_similarity(eq.emb, ec.emb) AS cos
        FROM pcells pc
        JOIN asn a ON a.cell = pc.cell
        JOIN e ec ON ec.vec_id = a.vec_id
        JOIN e eq ON eq.vec_id = pc.q_id
        WHERE a.vec_id % $nCrawls < pc.q_id % $nCrawls),
      top1 AS (SELECT q_id, round(cos, 6) AS cos FROM (
          SELECT q_id, cos,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, idx_id) AS rn
          FROM cand) WHERE rn = 1),
      crawls AS (SELECT unnest(generate_series(1, ${nCrawls - 1})) AS crawl),
      nv AS (SELECT vec_id % $nCrawls AS crawl, CAST(COUNT(*) AS BIGINT) AS n_vecs
             FROM embeddings WHERE vec_id % $nCrawls >= 1 GROUP BY 1),
      pr AS (SELECT q_id % $nCrawls AS crawl,
                    CAST(COUNT(*) AS BIGINT) AS n_probed,
                    round(AVG(cos), 4) AS avg_top1
             FROM top1 GROUP BY 1)
      SELECT c.crawl, nv.n_vecs,
             COALESCE(pr.n_probed, 0) AS n_probed,
             COALESCE(pr.avg_top1, 0.0) AS avg_top1
      FROM crawls c JOIN nv ON nv.crawl = c.crawl
      LEFT JOIN pr ON pr.crawl = c.crawl"""
  }

  /** Contrastive-pair mining for embedding/metric training: per anchor,
    * the HARD positive (least-similar same-label vector — the pair a
    * contrastive loss learns most from) and the HARD negative
    * (most-similar cross-label vector). One corpus scan: anchors are a
    * bounded broadcast set, and a single window over the partition key
    * (a_id, is_same) ranks both roles at once — the sort key flips sign
    * for negatives so rank 1 is "hardest" in both partitions. Exact
    * brute-force is the correctness baseline (mirrors ann_brute_topk's
    * contract); at corpus scale the candidate set would come from the
    * IVF/LSH buckets above, with this same rescoring tail.
    */
  def contrastivePairs(s: SparkSession, dir: String, nAnchors: Int = 20): DataFrame = {
    val a = broadcast(corpus(s, dir).filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("embedding").as("a_emb")))
    val scored = corpus(s, dir).crossJoin(a)
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id"),
        (col("label") === col("a_label")).as("is_same"),
        cosineSim(col("a_emb"), col("embedding")).as("raw_cos"))
    val hardKey = when(col("is_same"), col("raw_cos")).otherwise(-col("raw_cos"))
    val w = Window.partitionBy(col("a_id"), col("is_same"))
      .orderBy(hardKey.asc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id"),
        when(col("is_same"), lit("hard_positive")).otherwise(lit("hard_negative"))
          .as("role"),
        col("vec_id"), round(col("raw_cos"), 6).as("cos"))
  }

  /** Oracle mirrors the double-accumulation cast and the signed-key
    * single-window ranking exactly (see annBrute's cast rationale).
    */
  val contrastive: QueryDef = QueryDef(
    "contrastive_pairs",
    (s, dir) => contrastivePairs(s, dir),
    Some("""WITH a AS (
        SELECT vec_id AS a_id, label AS a_label, CAST(embedding AS DOUBLE[]) AS a_emb
        FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT a.a_id, e.vec_id, (e.label = a.a_label) AS is_same,
               list_cosine_similarity(a.a_emb, CAST(e.embedding AS DOUBLE[])) AS raw_cos
        FROM embeddings e, a WHERE e.vec_id <> a.a_id),
      ranked AS (
        SELECT a_id, vec_id, is_same, raw_cos,
               row_number() OVER (PARTITION BY a_id, is_same
                 ORDER BY CASE WHEN is_same THEN raw_cos ELSE -raw_cos END, vec_id) AS rn
        FROM scored)
      SELECT a_id,
             CASE WHEN is_same THEN 'hard_positive' ELSE 'hard_negative' END AS role,
             vec_id, round(raw_cos, 6) AS cos
      FROM ranked WHERE rn = 1"""))

  val all: Seq[QueryDef] =
    Seq(annBrute, annLsh, annIvf, annIvfIndexedQuery, annIvfAppendQuery,
      annIvfCompactQuery, annIvfManifestQuery, dedupEmbedding, contrastive)
}
