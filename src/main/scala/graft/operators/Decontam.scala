package graft.operators

import graft.util.Checkpoints.ReliableOps
import graft.QueryDef
import graft.functions.GraftFunctions._
import graft.functions.ShingleHashes
import graft.util.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Eval-set decontamination: tag every training document with its 13-gram
  * overlap against a held-out eval set — the public GPT-3 (Brown et al.
  * 2020, appendix C) / PaLM recipe for keeping benchmark text out of
  * pretraining data.
  *
  * Scale shape: documents never meet each other — each side reduces to
  * DISTINCT 8-byte window hashes (ShingleHashes.longWindowHashes, one
  * codegen'd scan, no gram strings materialized), and contamination is a
  * keyed equi-join on the hash followed by a per-doc count. The eval side
  * is typically small (benchmarks), so AQE broadcasts it; when it is not,
  * the join shuffles 8-byte keys, never text. No step is quadratic and
  * nothing collects to the driver.
  */
object Decontam {

  /** (doc_id, th) per-doc xxhash64 token streams — the one tokenize pass
    * both gram widths (exact 13-gram, near 5-gram) derive from. The CLI
    * `decontam` job persists this frame so running BOTH filters costs a
    * single scan of the text column: the hash arrays are ~8 bytes/token
    * vs the raw text's tens of chars, so the cached intermediate is far
    * smaller than the corpus it replaces.
    */
  def tokenHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), expr("transform(toks, t -> xxhash64(t))").as("th"))

  /** Distinct word-w-gram hashes per doc (docs shorter than w words have
    * no w-grams and are dropped, matching the SQL semantics).
    */
  private def gramsOfTh(th: DataFrame, w: Int): DataFrame =
    th.filter(size(col("th")) >= w)
      .select(col("doc_id"), ShingleHashes.longWindowHashes(col("th"), w).as("grams"))

  /** Per-training-doc overlap against the eval set: (doc_id, n_grams,
    * n_matched, overlap_frac, contaminated). `docs`/`evalDocs` both need
    * (doc_id, text). Counts are over DISTINCT grams, so a gram repeated
    * inside one document counts once — the standard defn.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, w: Int = 13): DataFrame =
    decontaminateTh(tokenHashes(docs), tokenHashes(evalDocs), w)

  /** `decontaminate` starting from pre-hashed token streams (see
    * [[tokenHashes]]) — the entry the CLI job uses to share one tokenize
    * pass with [[decontaminateNearTh]].
    */
  def decontaminateTh(trainTh: DataFrame, evalTh: DataFrame, w: Int = 13): DataFrame = {
    val trainGrams = gramsOfTh(trainTh, w)
    val evalGrams = gramsOfTh(evalTh, w)
      .select(explode(col("grams")).as("g")).distinct()
    val totals = trainGrams.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
    val matched = trainGrams.select(col("doc_id"), explode(col("grams")).as("g"))
      .join(evalGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matched"))
    totals.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("overlap_frac",
        round(col("n_matched").cast("double") / col("n_grams"), 6))
      .withColumn("contaminated", col("n_matched") > 0)
  }

  /** Registered query: eval set = every 10th doc_id of the documents
    * table (a deterministic held-out split the DuckDB oracle replicates);
    * the Spark side joins on 64-bit window hashes where the oracle joins
    * on the gram strings — identical counts short of an xxhash64
    * collision (~n²/2⁶⁵).
    */
  val decontamination: QueryDef = QueryDef(
    "decontamination",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      // ONE tokenize pass serves both splits and every downstream
      // consumer (totals + matched each re-derived the token hashes
      // from the raw text otherwise — the regex tokenize is the
      // dominant per-doc CPU); the eager stable checkpoint materializes
      // the compact per-doc hash arrays (~8 B/token vs the text's
      // tens of chars), the CLI decontam job's persist pattern
      val th = tokenHashes(docs).stableCheckpoint()
      decontaminateTh(
        th.filter(col("doc_id") % 10 =!= 0),
        th.filter(col("doc_id") % 10 === 0))
    },
    Some("""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents),
      grams AS (
        SELECT tk.doc_id, array_to_string(toks[i : i + 12], ' ') AS gram
        FROM tk, UNNEST(generate_series(1, greatest(len(toks) - 12, 0))) AS t(i)
        WHERE len(toks) >= 13),
      dg AS (SELECT DISTINCT doc_id, gram FROM grams),
      eval_grams AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 10 = 0),
      totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM dg
        WHERE doc_id % 10 != 0 GROUP BY doc_id),
      matched AS (SELECT dg.doc_id, COUNT(*) AS n_matched
        FROM dg JOIN eval_grams e USING (gram)
        WHERE dg.doc_id % 10 != 0 GROUP BY dg.doc_id)
      SELECT t.doc_id, t.n_grams, COALESCE(m.n_matched, 0) AS n_matched,
        round(CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / t.n_grams, 6) AS overlap_frac,
        COALESCE(m.n_matched, 0) > 0 AS contaminated
      FROM totals t LEFT JOIN matched m USING (doc_id)"""))

  /** NEAR-duplicate decontamination: the fuzzy complement to the exact
    * 13-gram filter above — a benchmark item lightly paraphrased or
    * truncated in the training set shares most of its word shingles
    * without sharing any single long n-gram, so eval-similarity is
    * measured as exact Jaccard over word 5-gram shingle sets between
    * every training doc and the eval set (the Llama/FLAN-era recipe).
    *
    * Scale shape: bipartite, never quadratic — both sides reduce to
    * distinct 8-byte shingle hashes; shingles occurring in more than
    * `maxDf` docs (train+eval combined) are dropped as stop-shingles
    * BEFORE the join, bounding per-key fan-out by construction (the
    * same cap `dedup_jaccard_exact` uses, mirrored in the oracle); the
    * candidate join is keyed on the hash and only (train, eval) pairs
    * that share a surviving shingle ever materialize. Per-doc output:
    * max Jaccard vs any eval doc and how many eval docs clear `tau`.
    */
  def decontaminateNear(docs: DataFrame, evalDocs: DataFrame, w: Int = 5,
                        maxDf: Int = 100, tau: Double = 0.5): DataFrame =
    decontaminateNearTh(tokenHashes(docs), tokenHashes(evalDocs), w, maxDf, tau)

  /** `decontaminateNear` starting from pre-hashed token streams (see
    * [[tokenHashes]]).
    */
  def decontaminateNearTh(trainTh: DataFrame, evalTh: DataFrame, w: Int = 5,
                          maxDf: Int = 100, tau: Double = 0.5): DataFrame = {
    def shingles(th: DataFrame, idCol: String): DataFrame =
      th.filter(size(col("th")) >= w)
        .select(col("doc_id").as(idCol), explode(
          ShingleHashes.longWindowHashes(col("th"), w)).as("s"))
    val t = shingles(trainTh, "doc_id")
    val e = shingles(evalTh, "eval_id")
    // stop-shingle cap over BOTH sides: a boilerplate shingle present in
    // every doc would otherwise fan the keyed join out to |train|·|eval|
    val df = t.select(col("s")).unionByName(e.select(col("s")))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    val tc = t.join(df, Seq("s"), "left_semi")
    val ec = e.join(df, Seq("s"), "left_semi")
    val tSizes = tc.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val eSizes = ec.groupBy(col("eval_id")).agg(count(lit(1)).as("ne"))
    val inter = tc.join(ec, "s")
      .groupBy(col("doc_id"), col("eval_id")).agg(count(lit(1)).as("inter"))
    val jac = inter
      .join(tSizes, "doc_id").join(eSizes, "eval_id")
      .select(col("doc_id"), col("eval_id"),
        round(col("inter").cast("double") /
          (col("nt") + col("ne") - col("inter")), 6).as("jac"))
    tSizes.select(col("doc_id"))
      .join(jac.groupBy(col("doc_id"))
          .agg(max(col("jac")).as("max_jac"),
            sum(when(col("jac") >= tau, 1L).otherwise(0L)).as("n_eval_hits")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_jac"), lit(0.0)).as("max_jac"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"))
      .withColumn("contaminated", col("n_eval_hits") > 0)
  }

  /** Registered query: same deterministic eval split as `decontamination`
    * (every 10th doc_id); Spark joins 64-bit shingle hashes where the
    * oracle joins gram strings — identical short of an xxhash64
    * collision. Reports only contaminated docs plus a count row would
    * vary with tau noise; instead every train doc emits its max_jac, so
    * the oracle hash covers the full similarity surface.
    */
  val decontamNear: QueryDef = QueryDef(
    "decontam_near",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      // same tokenize-once pattern as `decontamination` above — the
      // near filter's df/semi-join/intersection consumers re-ran the
      // tokenize up to three times per side otherwise
      val th = tokenHashes(docs).stableCheckpoint()
      decontaminateNearTh(
        th.filter(col("doc_id") % 10 =!= 0),
        th.filter(col("doc_id") % 10 === 0))
    },
    Some("""WITH tk AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents),
      sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i : i + 4], ' ') AS s
        FROM tk, UNNEST(generate_series(1, greatest(len(toks) - 4, 0))) AS t(i)
        WHERE len(toks) >= 5),
      df AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
      tc AS (SELECT doc_id, s FROM sh JOIN df USING (s) WHERE doc_id % 10 != 0),
      ec AS (SELECT doc_id AS eval_id, s FROM sh JOIN df USING (s) WHERE doc_id % 10 = 0),
      ts AS (SELECT doc_id, COUNT(*) AS nt FROM tc GROUP BY doc_id),
      es AS (SELECT eval_id, COUNT(*) AS ne FROM ec GROUP BY eval_id),
      inter AS (SELECT doc_id, eval_id, COUNT(*) AS inter
        FROM tc JOIN ec USING (s) GROUP BY doc_id, eval_id),
      jac AS (SELECT doc_id, eval_id,
          round(CAST(inter AS DOUBLE) / (nt + ne - inter), 6) AS jac
        FROM inter JOIN ts USING (doc_id) JOIN es USING (eval_id)),
      agg AS (SELECT doc_id, MAX(jac) AS max_jac,
          SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS n_eval_hits
        FROM jac GROUP BY doc_id)
      SELECT ts.doc_id,
        COALESCE(agg.max_jac, 0.0) AS max_jac,
        CAST(COALESCE(agg.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
        COALESCE(agg.n_eval_hits, 0) > 0 AS contaminated
      FROM ts LEFT JOIN agg USING (doc_id)"""))

  val all: Seq[QueryDef] = Seq(decontamination, decontamNear)
}
