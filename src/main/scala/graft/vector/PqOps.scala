package graft.vector

import graft.QueryDef
import graft.functions.CosineSimilarity.cosineSim
import graft.functions.GraftFunctions.l2Norm
import graft.util.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou et al. 2011, the FAISS `PQ{M}x4`
  * scheme): vectors are L2-normalized, split into `M` subspaces, and each
  * subspace is vector-quantized against its own `Ks`-centroid codebook,
  * so a 64-dim float vector (256 bytes) compresses to M=8 4-bit codes
  * (4 bytes) — the memory move that makes a 100 TB corpus scannable from
  * RAM. Queries score candidates in the COMPRESSED domain via ADC
  * (asymmetric distance computation): per query, one `M × Ks` table of
  * sub-dot-products against the codebooks, then each candidate's
  * approximate cosine is M table lookups — no decode, no float math per
  * dimension. The top `rerank` ADC candidates are re-scored exactly
  * against their raw vectors (the standard refine step), so output
  * quality degrades gracefully, not silently.
  *
  * Scale shape: codebook training is driver-side Lloyd over a BOUNDED
  * deterministic sample (M tiny k-means problems of Ks centroids in
  * Dim/M dims — the same bounded-collect shape buildIvf already uses for
  * its centroid round-trip); encoding is a PURE MAP STAGE (codebooks are
  * literals, argmax per subspace is `greatest` over Ks codegen'd
  * DotProductConst structs — the corpus never shuffles to get its
  * codes); the ADC scan broadcasts the query LUTs over the code table;
  * only the ≤ nq × rerank candidate ids fetch raw vectors for the exact
  * re-rank. Registered as recall@10 vs the brute-force truth
  * (VectorOps.recallVsBrute), floor-asserted in AnnRecallSpec.
  */
object PqOps {

  private val Dim = 64
  private val M = 8 // subspaces
  private val SubDim = Dim / M
  private val Ks = 16 // centroids per subspace (4-bit codes)
  private val LloydIters = 8
  private val TrainCap = 2000

  /** Deterministic bounded training sample: VectorOps.sampleFilter
    * (the same arithmetic vec_id-hash filter IVF training uses — shared
    * so "same sample" holds by construction), then TakeOrdered to a
    * HARD TrainCap before collecting: the filter's permille floors at 1,
    * so beyond TrainCap×1000 corpus rows it alone would keep ~n/1000
    * rows — an unbounded driver collect without the limit. Collected
    * vectors are L2-normalized.
    */
  private def trainSample(c: DataFrame, nKnown: Option[Long]): Array[Array[Double]] = {
    val n = nKnown.getOrElse(c.count())
    VectorOps.sampleFilter(c, TrainCap, n)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(TrainCap)
      .select(col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](0).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        if (nrm == 0.0) v else v.map(_ / nrm)
      }
  }

  /** codebooks(m)(j) = centroid j of subspace m (SubDim doubles).
    * Driver-side Lloyd, deterministic: seeds are the first Ks sample
    * subvectors (cyclic if the sample is smaller), empty cells keep
    * their previous centroid. An empty corpus yields zero codebooks —
    * the plans stay valid and encode/score simply see no rows.
    */
  def trainCodebooks(c: DataFrame,
                     nKnown: Option[Long] = None): Array[Array[Array[Double]]] =
    trainCodebooksOn(trainSample(c, nKnown))

  /** The Lloyd loop itself over an in-memory sample — shared by the
    * plain-vector codebooks above and the RESIDUAL codebooks the IVFADC
    * variant trains (same seeds, same iteration count, different input
    * space).
    */
  private[vector] def trainCodebooksOn(
      sample: Array[Array[Double]]): Array[Array[Array[Double]]] = {
    Array.tabulate(M) { m =>
      val subs = sample.map(_.slice(m * SubDim, (m + 1) * SubDim))
      if (subs.isEmpty) Array.fill(Ks)(Array.fill(SubDim)(0.0))
      else {
        var cents = Array.tabulate(Ks)(j => subs(j % subs.length).clone())
        for (_ <- 1 to LloydIters) {
          val sums = Array.fill(Ks)(Array.fill(SubDim)(0.0))
          val counts = Array.fill(Ks)(0L)
          subs.foreach { x =>
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < Ks) {
              var d = 0.0; var i = 0
              while (i < SubDim) { val t = x(i) - cents(j)(i); d += t * t; i += 1 }
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            var i = 0
            while (i < SubDim) { sums(best)(i) += x(i); i += 1 }
            counts(best) += 1
          }
          cents = Array.tabulate(Ks)(j =>
            if (counts(j) == 0) cents(j) else sums(j).map(_ / counts(j)))
        }
        cents
      }
    }
  }

  /** L2-normalized copy of a float-array column (zero vectors pass
    * through unscaled). Stays array<float> — the native DotProductConst
    * kernel's input type, and PQ quantizes to 4-bit codes anyway, so
    * float rounding in the normalize is far below the quantization
    * noise floor.
    */
  private[vector] def normalized(v: Column): Column = {
    val nrm = l2Norm(v)
    when(nrm > 0, transform(v, x => (x.cast("double") / nrm).cast("float")))
      .otherwise(v)
  }

  /** (vec_id, codes array<int>) — the compressed corpus. The whole
    * argmin_j ||x_m - c_mj||² = argmax_j (<x_m, c_mj> - ||c_mj||²/2)
    * argmax over every subspace is ONE native PqEncodeCodes expression
    * (functions/PqKernels.scala): codegen emits a single call into a
    * JIT-compiled m×j×i loop nest over the flattened constant codebook.
    * The previous per-subspace greatest-over-structs form collapsed into
    * one 34 kB-bytecode generated method — over HotSpot's huge-method
    * limit, so the hot loop ran un-JIT-compiled (PqCodegenSpec now
    * pins the method size).
    */
  def encode(c: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    c.select(col("vec_id"),
      graft.functions.PqKernels.pqCodes(
        normalized(col("embedding")), codebooks, SubDim).as("codes"))

  /** Per-query ADC lookup table: lut(m)(j) = <q_m, c_mj> over the
    * normalized query — approximate cosine of a candidate with codes
    * (j_0..j_{M-1}) is Σ_m lut(m)(j_m). Same single-native-expression
    * shape as `encode`.
    */
  private[vector] def queryLuts(q: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    q.select(col("q_id"), col("q_emb"),
      graft.functions.PqKernels.pqLuts(
        normalized(col("q_emb")), codebooks, SubDim).as("lut"))

  /** Full-scan ADC top-k with exact re-rank: score every code row per
    * query with M table lookups, keep the top `rerank` per query, fetch
    * ONLY those candidates' raw vectors, exact-cosine re-rank to
    * `topk`. Output schema matches the other ANN paths.
    */
  /** Session-cached codebooks for the registered queries: fn and the
    * DuckDB oracle generator must embed the SAME training output (the
    * cachedIvfCentroids argument — see VectorOps). Driver-side training
    * is deterministic anyway; the cache also saves a retrain per call.
    */
  private val trainedCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  private def cachedCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    graft.util.Caches.fill(trainedCodebooks, s.sparkContext.applicationId + ":" + dir)(trainCodebooks(Tables(s, dir, "embeddings")))

  def pqTopK(s: SparkSession, dir: String,
             rerank: Int = 50, topk: Int = 10): DataFrame = {
    val c = Tables(s, dir, "embeddings")
    val codebooks = cachedCodebooks(s, dir)
    val codes = encode(c, codebooks)
    val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val luts = queryLuts(q, codebooks)
    val scored = codes.crossJoin(broadcast(luts.select(col("q_id"), col("lut"))))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.AdcScore.adcScore(col("lut"), col("codes")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = scored.withColumn("r", row_number().over(w)).filter(col("r") <= rerank)
      .select(col("q_id"), col("vec_id"))
    // refine: raw vectors for the ≤ nq × rerank candidates only — the
    // candidate list broadcasts, the corpus is probed by a hash join
    val exact = c.join(broadcast(cand), "vec_id")
      .join(broadcast(luts.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Codebook rows as SQL VALUES: (m, j, centroid, half) with `half`
    * accumulated in the same index order PqKernels.flatten uses, so the
    * argmax scores replay bit-identically.
    */
  private[vector] def cbValuesSql(codebooks: Array[Array[Array[Double]]]): String = {
    require(codebooks.nonEmpty, "no codebooks to embed (empty corpus)")
    (for (mm <- codebooks.indices; j <- codebooks(mm).indices) yield {
      val ct = codebooks(mm)(j)
      var h = 0.0
      var i = 0
      while (i < ct.length) { h += ct(i) * ct(i); i += 1 }
      s"($mm, $j, [${ct.map(_.toString).mkString(", ")}], ${(h / 2.0).toString})"
    }).mkString(",\n          ")
  }

  /** PQ replay CTE chain, appended after a `WITH ... e AS (...)` prefix:
    * L2-normalize with the kernel's exact float semantics (double norm,
    * double divide, round to REAL), encode = per-(vec, subspace) argmax
    * of dot − ‖c‖²/2 with ties to the lowest code, ADC = the 8 LUT
    * lookups summed left-to-right (the kernel's accumulation order),
    * top-`rerank` by (adc, vec_id), exact cosine re-rank on raw vectors.
    * `cellRestrict` = true joins candidates through asn/pcells (the
    * IVF-PQ inverted-list probe); false scans all codes (flat PQ).
    * Ends at `ranked`, ready for VectorOps.recallTailSql.
    */
  private[vector] def pqReplayCtes(codebooks: Array[Array[Array[Double]]],
                                   cellRestrict: Boolean,
                                   encSrc: String = "e"): String = {
    val probe =
      if (cellRestrict)
        """JOIN asn a ON a.vec_id = cp.vec_id
        JOIN pcells pc ON pc.cell = a.cell
        JOIN lutv l0 ON l0.q_id = pc.q_id AND l0.m = 0 AND l0.j = cp.c0"""
      else
        """JOIN lutv l0 ON l0.m = 0 AND l0.j = cp.c0"""
    val self = if (cellRestrict) "pc.q_id" else "l0.q_id"
    val laterJoins = (1 to 7).map(m =>
      s"JOIN lutv l$m ON l$m.q_id = l0.q_id AND l$m.m = $m AND l$m.j = cp.c$m")
      .mkString("\n        ")
    s"""cb(m, j, cvec, half) AS (VALUES
          ${cbValuesSql(codebooks)}),
      en AS (SELECT vec_id, CASE WHEN nrm > 0
            THEN list_transform(emb, x -> CAST(CAST(x / nrm AS REAL) AS DOUBLE))
            ELSE emb END AS nemb
        FROM (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM $encSrc)),
      codes AS (SELECT vec_id, m, j FROM (
          SELECT en.vec_id, cb.m, cb.j,
                 row_number() OVER (PARTITION BY en.vec_id, cb.m
                   ORDER BY (list_dot_product(en.nemb[cb.m*8+1 : cb.m*8+8], cb.cvec)
                             - cb.half) DESC, cb.j) AS rn
          FROM en, cb) WHERE rn = 1),
      cp AS (SELECT vec_id,
          ${(0 to 7).map(m => s"MAX(CASE WHEN m = $m THEN j END) AS c$m").mkString(",\n          ")}
        FROM codes GROUP BY vec_id),
      qn AS (SELECT vec_id AS q_id, nemb FROM en WHERE vec_id < 10),
      lutv AS (SELECT qn.q_id, cb.m, cb.j,
          list_dot_product(qn.nemb[cb.m*8+1 : cb.m*8+8], cb.cvec) AS v
        FROM qn, cb),
      adc AS (SELECT l0.q_id, cp.vec_id,
          ${(0 to 7).map(m => s"l$m.v").mkString(" + ")} AS adc
        FROM cp
        $probe
        $laterJoins
        WHERE cp.vec_id <> $self),
      rr AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS r
          FROM adc) WHERE r <= 50),
      cand AS (SELECT rr.q_id, rr.vec_id,
          list_cosine_similarity(eq.emb, ec.emb) AS cos
        FROM rr JOIN e eq ON eq.vec_id = rr.q_id
                JOIN e ec ON ec.vec_id = rr.vec_id),
      ranked AS (SELECT q_id, vec_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
        FROM cand)"""
  }

  /** Registered as recall@10 vs the brute-force truth, like the LSH/IVF
    * paths: deterministic sample, seeds, and iteration count make the
    * recall stable build-to-build; AnnRecallSpec asserts the floor. The
    * oracle replays the full compressed-domain pipeline — codebooks as
    * literals, encode, ADC, re-rank — then the recall grading tail.
    */
  val annPq: QueryDef = QueryDef(
    "ann_pq_topk",
    (s, dir) => VectorOps.recallVsBrute(
      pqTopK(s, dir), VectorOps.bruteTopK(s, dir),
      Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"))),
    oracleGen = Some((s, dir) =>
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      ${pqReplayCtes(cachedCodebooks(s, dir), cellRestrict = false)},${VectorOps.recallTailSql}"""))

  /** IVF-PQ: the two scale levers composed the way FAISS's IVFADC does —
    * IVF cells prune WHICH vectors are scored (nprobe of k cells ≈
    * nprobe/k of the corpus), PQ codes shrink WHAT a score costs (M
    * table lookups on 4 bytes instead of Dim float mults on 256). At
    * 100 TB this is the difference between "the index fits on the
    * cluster" and "it doesn't": inverted lists of 4-byte codes, raw
    * vectors touched only for the ≤ nq × rerank refine candidates.
    *
    * Codes quantize the vector itself rather than its residual from the
    * cell centroid (FAISS's IVF,PQ vs IVFADC distinction): residual
    * encoding buys accuracy at the cost of cell-dependent codebooks —
    * with one global codebook the code table is cell-agnostic, so the
    * same encoded corpus serves any nprobe and the build stays two
    * independent map stages (assign, encode) over one scan.
    */
  def ivfPqTopK(s: SparkSession, dir: String, nprobe: Int = 4,
                rerank: Int = 50, topk: Int = 10): DataFrame = {
    val c = Tables(s, dir, "embeddings")
    // shared session-cached training (one Lloyd run serves ann_ivf_topk,
    // this query, and both oracle generators)
    val cents = VectorOps.cachedIvfCentroids(s, dir)
    val spark = s
    import spark.implicits._
    val assignments =
      if (cents.isEmpty) c.select(col("vec_id"), lit(0L).as("cell")).limit(0)
      else VectorOps.assignCells(c, cents).select(col("vec_id"), col("cell"))
    val centroids = cents.toDF("cell", "centroid")
    val codebooks = cachedCodebooks(s, dir)
    val codes = encode(c, codebooks).join(assignments, "vec_id")
    val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val luts = queryLuts(q, codebooks)
    // probe the nprobe nearest cells per query (same shape as ivfProbe)
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("cell"),
        graft.functions.GraftFunctions.cosine(col("q_emb"), col("centroid")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val cells = probed.withColumn("cr", row_number().over(wq))
      .filter(col("cr") <= nprobe).select(col("q_id"), col("cell"))
    // ADC only inside probed cells: the (q_id, cell) probe list joins the
    // code table on the cell key — a hash equi-join, not a full scan per
    // query — then each surviving candidate costs M lookups
    val scored = codes.join(broadcast(cells.join(luts.select(col("q_id"), col("lut")), "q_id")), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.AdcScore.adcScore(col("lut"), col("codes")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = scored.withColumn("r", row_number().over(w)).filter(col("r") <= rerank)
      .select(col("q_id"), col("vec_id"))
    val exact = c.join(broadcast(cand), "vec_id")
      .join(broadcast(luts.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  val annIvfPq: QueryDef = QueryDef(
    "ann_ivfpq_topk",
    (s, dir) => VectorOps.recallVsBrute(
      ivfPqTopK(s, dir), VectorOps.bruteTopK(s, dir),
      Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"))),
    oracleGen = Some((s, dir) =>
      // IVF assignment/probe CTEs (shared cached centroids, nprobe=4)
      // feed the cell-restricted ADC scan — the composed FAISS IVFADC
      // shape replayed end to end, then the recall tail
      s"""${VectorOps.ivfAssignCtes(VectorOps.cachedIvfCentroids(s, dir), nprobe = 4)},
      ${pqReplayCtes(cachedCodebooks(s, dir), cellRestrict = true)},${VectorOps.recallTailSql}"""))

  // ---------------------------------------------------------------
  // Residual-encoding IVFADC (FAISS's `IVF{k},PQ{M}` with
  // by-residual=true — the variant the scaladoc above deliberately
  // traded away for cell-agnostic codes). Here it is as its own query:
  // codes quantize x − c_cell instead of x, so each code spends its 4
  // bits on the WITHIN-CELL geometry (residuals are centered near 0
  // with far smaller spread than raw vectors — the same codebook
  // resolution buys finer distances). The cost is cell-coupled
  // scoring: approximate <q, x> = <q, c_cell> + Σ_m lut_m[code_m],
  // so the ADC needs a per-(query, cell) bias term and encoded rows
  // only make sense joined to their cell. Scale shape is unchanged
  // from ivfPqTopK: training driver-side over the bounded sample,
  // encode one map stage (centroid join is a broadcast of k rows),
  // probe a keyed equi-join on the cell id.
  // ---------------------------------------------------------------

  private val trainedResidCodebooks = new java.util.concurrent.ConcurrentHashMap[
    String, Array[Array[Array[Double]]]]()

  /** Training-sample cell assignment, driver-side: argmax over the same
    * norm-scaled centroids assignCells uses. Only determinism matters
    * here (codebooks are parameters, embedded identically in the query
    * and its oracle by the session cache).
    */
  private def nearestCellIdx(v: Array[Double],
                             scaled: Seq[(Long, Array[Double])]): Int = {
    var best = 0; var bestD = Double.NegativeInfinity
    var j = 0
    while (j < scaled.length) {
      val ct = scaled(j)._2
      var d = 0.0; var i = 0
      val n = math.min(v.length, ct.length)
      while (i < n) { d += v(i) * ct(i); i += 1 }
      if (d > bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  private def cachedResidCodebooks(s: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    graft.util.Caches.fill(trainedResidCodebooks, s.sparkContext.applicationId + ":" + dir) {
        val cents = VectorOps.cachedIvfCentroids(s, dir)
        val sample = trainSample(Tables(s, dir, "embeddings"), None)
        if (cents.isEmpty) trainCodebooksOn(sample)
        else {
          val scaled = VectorOps.scaledOf(cents)
          val raw = cents.map(_._2.toArray)
          trainCodebooksOn(sample.map { v =>
            val ct = raw(nearestCellIdx(v, scaled))
            Array.tabulate(v.length)(i =>
              v(i) - (if (i < ct.length) ct(i) else 0.0))
          })
        }
      }

  /** Residual ADC top-k: assign → residual (float-rounded, so the
    * DuckDB replay is bit-exact) → encode against the residual
    * codebooks → per-(query, probed-cell) bias + M lookups → exact
    * re-rank of the top `rerank`.
    */
  def ivfAdcTopK(s: SparkSession, dir: String, nprobe: Int = 4,
                 rerank: Int = 50, topk: Int = 10): DataFrame = {
    val c = Tables(s, dir, "embeddings")
    val cents = VectorOps.cachedIvfCentroids(s, dir)
    val rcb = cachedResidCodebooks(s, dir)
    val spark = s
    import spark.implicits._
    val asn =
      if (cents.isEmpty) c.select(col("vec_id"), lit(0L).as("cell")).limit(0)
      else VectorOps.assignCells(c, cents).select(col("vec_id"), col("cell"))
    val centroids = cents.toDF("cell", "centroid")
    // residual of the NORMALIZED vector vs its raw cell centroid,
    // rounded to float — the kernels' input type, and one IEEE rounding
    // the oracle mirrors exactly
    val rs = c.select(col("vec_id"), normalized(col("embedding")).as("nemb"))
      .join(asn, "vec_id").join(broadcast(centroids), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("nemb"), col("centroid"),
          (x, ct) => (x.cast("double") - ct).cast("float")).as("rv"))
    val codes = rs.select(col("vec_id"), col("cell"),
      graft.functions.PqKernels.pqCodes(col("rv"), rcb, SubDim).as("codes"))
    val q = Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val qn = q.select(col("q_id"), col("q_emb"), normalized(col("q_emb")).as("qnv"))
    val luts = qn.select(col("q_id"),
      graft.functions.PqKernels.pqLuts(col("qnv"), rcb, SubDim).as("lut"))
    // probe the nprobe nearest cells per query (the ivfPqTopK shape)
    val probed = q.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("cell"),
        graft.functions.GraftFunctions.cosine(col("q_emb"), col("centroid")).as("ccos"))
    val cells = graft.operators.ScaleUtils.groupedTopK(probed,
        Seq(col("q_id")), Seq(col("ccos").desc, col("cell")), nprobe, rankCol = "cr")
      .select(col("q_id"), col("cell"))
    // per-(query, probed cell) bias <q_n, c_cell> — nq × nprobe rows
    val bias = cells.join(qn.select(col("q_id"), col("qnv")), "q_id")
      .join(broadcast(centroids), "cell")
      .select(col("q_id"), col("cell"),
        graft.functions.GraftFunctions.dotProduct(col("qnv"), col("centroid")).as("b"))
    val scored = codes
      .join(broadcast(bias.join(luts, "q_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (col("b") + graft.functions.AdcScore.adcScore(col("lut"), col("codes")))
          .as("adc"))
    val cand = graft.operators.ScaleUtils.groupedTopK(scored,
        Seq(col("q_id")), Seq(col("adc").desc, col("vec_id")), rerank, rankCol = "r")
      .select(col("q_id"), col("vec_id"))
    val exact = c.join(broadcast(cand), "vec_id")
      .join(broadcast(qn.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  /** Residual-replay CTE chain, appended after VectorOps.ivfAssignCtes
    * (which leaves sc/ct/e/asn/qv/probed/pcells in scope): residual =
    * float(nemb − c_cell), codes by the same argmax-with-half
    * convention, ADC = bias + (l0 + … + l7) with the parenthesization
    * matching the kernel's fold order (IEEE addition is not
    * associative — the bias adds LAST on both engines).
    */
  private def ivfAdcReplayCtes(residCb: Array[Array[Array[Double]]]): String = {
    val laterJoins = (1 to 7).map(m =>
      s"JOIN lutv l$m ON l$m.q_id = bias.q_id AND l$m.m = $m AND l$m.j = cp.c$m")
      .mkString("\n        ")
    s"""rcb(m, j, cvec, half) AS (VALUES
          ${cbValuesSql(residCb)}),
      en AS (SELECT vec_id, CASE WHEN nrm > 0
            THEN list_transform(emb, x -> CAST(CAST(x / nrm AS REAL) AS DOUBLE))
            ELSE emb END AS nemb
        FROM (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)),
      rs AS (SELECT en.vec_id, a.cell,
          list_transform(range(1, ${Dim + 1}),
            i -> CAST(CAST(en.nemb[i] - ct.cvec[i] AS REAL) AS DOUBLE)) AS rv
        FROM en JOIN asn a ON a.vec_id = en.vec_id JOIN ct ON ct.cell = a.cell),
      codes AS (SELECT vec_id, cell, m, j FROM (
          SELECT rs.vec_id, rs.cell, rcb.m, rcb.j,
                 row_number() OVER (PARTITION BY rs.vec_id, rcb.m
                   ORDER BY (list_dot_product(rs.rv[rcb.m*$SubDim+1 : rcb.m*$SubDim+$SubDim], rcb.cvec)
                             - rcb.half) DESC, rcb.j) AS rn
          FROM rs, rcb) WHERE rn = 1),
      cp AS (SELECT vec_id, cell,
          ${(0 to 7).map(m => s"MAX(CASE WHEN m = $m THEN j END) AS c$m").mkString(",\n          ")}
        FROM codes GROUP BY vec_id, cell),
      qn AS (SELECT vec_id AS q_id, nemb FROM en WHERE vec_id < 10),
      bias AS (SELECT pc.q_id, pc.cell,
          list_dot_product(qn.nemb, ct.cvec) AS b
        FROM pcells pc JOIN qn ON qn.q_id = pc.q_id JOIN ct ON ct.cell = pc.cell),
      lutv AS (SELECT qn.q_id, rcb.m, rcb.j,
          list_dot_product(qn.nemb[rcb.m*$SubDim+1 : rcb.m*$SubDim+$SubDim], rcb.cvec) AS v
        FROM qn, rcb),
      adc AS (SELECT bias.q_id, cp.vec_id,
          bias.b + (${(0 to 7).map(m => s"l$m.v").mkString(" + ")}) AS adc
        FROM cp
        JOIN bias ON bias.cell = cp.cell
        JOIN lutv l0 ON l0.q_id = bias.q_id AND l0.m = 0 AND l0.j = cp.c0
        $laterJoins
        WHERE cp.vec_id <> bias.q_id),
      rr AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS r
          FROM adc) WHERE r <= 50),
      cand AS (SELECT rr.q_id, rr.vec_id,
          list_cosine_similarity(eq.emb, ec.emb) AS cos
        FROM rr JOIN e eq ON eq.vec_id = rr.q_id
                JOIN e ec ON ec.vec_id = rr.vec_id),
      ranked AS (SELECT q_id, vec_id, cos,
          row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
        FROM cand)"""
  }

  val annIvfAdc: QueryDef = QueryDef(
    "ann_ivfadc_topk",
    (s, dir) => VectorOps.recallVsBrute(
      ivfAdcTopK(s, dir), VectorOps.bruteTopK(s, dir),
      Tables(s, dir, "embeddings").filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"))),
    oracleGen = Some((s, dir) =>
      s"""${VectorOps.ivfAssignCtes(VectorOps.cachedIvfCentroids(s, dir), nprobe = 4)},
      ${ivfAdcReplayCtes(cachedResidCodebooks(s, dir))},${VectorOps.recallTailSql}"""))

  /** Persisted IVF-PQ index — the full FAISS on-disk artifact:
    * `vectors/` (cell-partitioned raw vectors, the refine store),
    * `codes/` (cell-partitioned 4-bit code lists — the part a 100 TB
    * probe actually scans), `centroids/`, and `codebooks/` (M×Ks
    * sub-centroids, bounded). A superset of VectorOps.saveIvfIndex's
    * layout, so flat probes work against it too.
    */
  def savePqIndex(c: DataFrame, indexDir: String, k: Int, iters: Int,
                  nKnown: Option[Long] = None): Unit = {
    val spark = c.sparkSession
    import spark.implicits._
    graft.util.ManifestCommit.assertPublishable(
      spark.sessionState.newHadoopConf(), indexDir)
    val (assignments, centroids) = VectorOps.buildIvf(c, k, iters, nKnown = nKnown)
    val codebooks = trainCodebooks(c, nKnown)
    IvfMaintenance.saveManifest(spark, indexDir,
      c.join(assignments, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell")),
      centroids,
      codes = Some(encode(c, codebooks).join(assignments, "vec_id")
        .select(col("vec_id"), col("codes"), col("cell"))),
      codebooks = Some(
        (for ((cb, m) <- codebooks.zipWithIndex.toSeq; (ct, j) <- cb.zipWithIndex)
          yield (m, j, ct.toSeq))
          .toDF("m", "code", "centroid").coalesce(1)))
  }

  final case class PqIndex(vectors: DataFrame, codes: DataFrame,
                           centroids: DataFrame,
                           codebooks: Array[Array[Array[Double]]])

  /** Codebooks collect to the driver — M × Ks × SubDim doubles, bounded
    * by construction (the same shape training produced them in). Both
    * cell-partitioned stores read base ∪ runs ∪ tail (see
    * [[VectorOps.loadIvfIndex]] — same tiered layout, same read-only
    * probe contract).
    */
  private val CodebooksSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))

  def loadPqIndex(spark: SparkSession, indexDir: String): PqIndex =
    loadPqIndex(spark, indexDir, asOfGen = None)

  /** `asOfGen`: load a RETAINED HISTORICAL generation
    * (ManifestCommit.atGeneration).
    */
  def loadPqIndex(spark: SparkSession, indexDir: String,
                  asOfGen: Option[Long]): PqIndex = {
    val cb = Array.fill(M, Ks)(Array.fill(SubDim)(0.0))
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir, "loadPqIndex")
    // ONE snapshot covers all four tables: a probe can never pair
    // new vectors with old codes or a different codebook generation
    val m = asOfGen
      .map(g => graft.util.ManifestCommit.atGeneration(conf, indexDir, g))
      .getOrElse(graft.util.ManifestCommit.current(conf, indexDir))
    val cbRows = graft.util.ManifestCommit.readTable(spark, indexDir, m,
      "codebooks", CodebooksSchema).collect()
    // an absent codebooks table (a flat saveIvfIndex index loaded as
    // PQ) must not silently yield all-zero codebooks and garbage ADC
    // scores
    require(cbRows.nonEmpty,
      s"$indexDir is not a PQ index: its manifest has no 'codebooks' " +
        s"table (a flat IVF index? probe it with loadIvfIndex/" +
        s"annIvfIndexed, or rebuild with savePqIndex)")
    cbRows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    PqIndex(IvfMaintenance.readVectorsManifest(spark, indexDir, m),
      IvfMaintenance.readCodesManifest(spark, indexDir, m),
      graft.util.ManifestCommit.readTable(spark, indexDir, m,
        "centroids", IvfMaintenance.CentroidsSchema), cb)
  }

  /** Add a NEW vector batch to an existing persisted index without
    * retraining — FAISS's train-once/add-many contract, the shape a
    * per-crawl ingest needs (retraining k-means and codebooks per batch
    * wastes the dominant cost and would silently re-shuffle every old
    * vector's cell). The existing centroids place the batch (map-stage
    * assignCells), the existing codebooks encode it (map-stage encode),
    * and both cell-partitioned stores take the batch in their flat
    * level-0 tails in ONE manifest publish — a crashed or retried
    * update can neither half-append (vectors landed, codes lost: the
    * ADC scan would silently miss the batch) nor double-append, and
    * with a `batchId` a re-driven batch is a no-op. Old files are
    * untouched and a probe sees old and new vectors in the same
    * layout; [[VectorOps.compactIvfIndex]] folds the tails into pruned
    * `cell=` dirs on the tiered cadence. Caller owns vec_id uniqueness
    * across batches (as with any append store).
    */
  def addToPqIndex(newBatch: DataFrame, indexDir: String,
                   batchId: Option[String] = None): Unit = {
    val spark = newBatch.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    graft.util.ManifestCommit.requireIndex(conf, indexDir, "addToPqIndex")
    // resolve ONE snapshot and pin both the artifact loads AND the
    // publish to it: the batch is encoded under THIS snapshot's
    // centroids + codebooks, and publishing against a later-resolved
    // manifest would let a rebuild landing in between take the
    // stale-coded batch on the FIRST attempt (no contention, so not
    // even the commuting invariant would have seen it)
    val snap = graft.util.ManifestCommit.current(conf, indexDir)
    val idx = loadPqIndex(spark, indexDir, asOfGen = Some(snap.gen))
    val centroids = idx.centroids.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    require(centroids.nonEmpty,
      s"$indexDir has no centroids — build the index before updating it")
    val assigned = VectorOps.assignCells(newBatch, centroids)
      .select(col("vec_id"), col("cell"))
    IvfMaintenance.appendManifest(spark, indexDir,
      newBatch.join(assigned, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell")),
      codes = Some(encode(newBatch, idx.codebooks).join(assigned, "vec_id")
        .select(col("vec_id"), col("codes"), col("cell"))),
      batchId, at = Some(snap))
  }

  /** Probe the persisted IVF-PQ index: no k-means, no codebook training,
    * no base-corpus access at query time. The probed cell ids (≤ nq ×
    * nprobe distinct, bounded by k) collect to the driver so BOTH scans
    * — the code lists for ADC and the raw vectors for the refine — are
    * statically pruned to probed-cell files.
    */
  def annPqIndexed(q: DataFrame, idx: PqIndex, nprobe: Int = 4,
                   rerank: Int = 50, topk: Int = 10): DataFrame = {
    val luts = queryLuts(q, idx.codebooks)
    val probed = q.crossJoin(broadcast(idx.centroids))
      .select(col("q_id"), col("cell"),
        graft.functions.GraftFunctions.cosine(col("q_emb"), col("centroid")).as("ccos"))
    val wq = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val cells = probed.withColumn("cr", row_number().over(wq))
      .filter(col("cr") <= nprobe).select(col("q_id"), col("cell"))
    val cellIds = cells.select(col("cell")).distinct().collect().map(_.getLong(0))
    val scored = idx.codes.where(col("cell").isin(cellIds.map(Long.box): _*))
      .join(broadcast(cells.join(luts.select(col("q_id"), col("lut")), "q_id")), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.AdcScore.adcScore(col("lut"), col("codes")).as("adc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("vec_id"))
    val cand = scored.withColumn("r", row_number().over(w)).filter(col("r") <= rerank)
      .select(col("q_id"), col("vec_id"))
    val exact = idx.vectors.where(col("cell").isin(cellIds.map(Long.box): _*))
      .join(broadcast(cand), "vec_id")
      .join(broadcast(luts.select(col("q_id"), col("q_emb"))), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineSim(col("q_emb"), col("embedding")).as("cos"))
    val w2 = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topk)
      .select(col("q_id"), col("vec_id"), round(col("cos"), 6).as("cos"), col("rank"))
  }

  val all: Seq[QueryDef] = Seq(annPq, annIvfPq, annIvfAdc)
}
