package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** ASCII word tokenizer: equivalent to
  * `regexp_extract_all(lower(s), '[a-z0-9]+', 0)` but as a single byte
  * scan (case-folded inline) instead of a regex NFA — the tokenizer is
  * the per-row hot path of every text query (wordcount, shingling,
  * quality, token counts), and the regex version measured ~1ms/doc.
  *
  * Semantics match the regex for all ASCII input, and for non-ASCII input
  * wherever `lower()` maps multi-byte sequences to non-ASCII output (the
  * overwhelmingly common case). The known divergence: the handful of
  * Unicode chars that case-fold INTO ASCII (e.g. Kelvin sign U+212A → 'k',
  * dotted capital İ U+0130 → 'i' + combining dot) are delimiters here but
  * would survive `lower()` in the regex formulation. This divergence DOES
  * reach oracle comparisons — wordcount/langid/token-count oracles
  * tokenize with `regexp_extract_all(lower(...))` in DuckDB against this
  * expression in Spark — and the hashes match only because the test
  * corpora contain none of the affected code points. A corpus that does
  * would need the oracle SQL to pre-strip them (e.g.
  * `replace(text, chr(8490), ' ')`) or this expression to special-case
  * them; documented rather than handled because the fold-into-ASCII set
  * is ~3 code points that real web text essentially never exercises.
  */
case class AsciiWordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascii_tokens expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    AsciiWordTokens.tokenize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AsciiWordTokens.tokenize($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ascii_tokens"
}

/** Fused tokenize+hash: equivalent to
  * `transform(ascii_tokens(s), t -> xxhash64(t))` — the shingling
  * pipelines' first stage — but as ONE static-kernel call: no
  * per-token UTF8String allocation (unfolded tokens hash their byte
  * range in place), and no HOF loop in the generated code (the
  * composable form's inlined transform+xxhash64 pushed the
  * minhash-signature projection past the JIT huge-method limit —
  * CodegenAuditSpec).
  */
case class AsciiTokenHashes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascii_token_hashes expects string, got ${other.simpleString}")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    AsciiWordTokens.tokenHashes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AsciiWordTokens.tokenHashes($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ascii_token_hashes"
}

/** Per-document term frequencies: `struct<dl, terms: array<struct<term,
  * tf>>>`, where `dl` is the token count and `terms` holds each distinct
  * `ascii_tokens` term once, in first-occurrence order, with its count.
  * One static-kernel call per row, so a BM25 postings pass explodes it
  * into (term, doc_id, dl, tf) rows without a `groupBy` shuffle: a
  * document row already holds all of its tokens.
  */
case class AsciiTermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ascii_term_counts expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = AsciiWordTokens.TermCountsType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(v: Any): Any =
    AsciiWordTokens.termCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.AsciiWordTokens.termCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "ascii_term_counts"
}

object AsciiWordTokens {

  private[functions] val TermCountsType: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("terms", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  /** [[tokenize]]'s tokens counted per distinct term. */
  def termCounts(str: UTF8String): InternalRow = {
    val toks = tokenize(str)
    val n = toks.numElements()
    val slot = new java.util.HashMap[UTF8String, Integer](math.max(16, n * 2))
    val terms = new Array[UTF8String](n)
    val tfs = new Array[Long](n)
    var distinct = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val at = slot.putIfAbsent(t, distinct)
      if (at == null) { terms(distinct) = t; tfs(distinct) = 1L; distinct += 1 }
      else tfs(at) += 1L
      i += 1
    }
    val rows = new Array[Any](distinct)
    i = 0
    while (i < distinct) {
      rows(i) = new GenericInternalRow(Array[Any](terms(i), tfs(i)))
      i += 1
    }
    new GenericInternalRow(Array[Any](n, new GenericArrayData(rows)))
  }

  def asciiTermCounts(c: Column): Column =
    Bridge.column(AsciiTermCounts(Bridge.expression(c)))

  /** xxhash64-of-each-token, fused with the tokenize scan. MUST stay
    * bit-identical to `transform(ascii_tokens(s), t -> xxhash64(t))`:
    * Spark's xxhash64 on a string is XXH64 over its bytes with seed 42.
    */
  def tokenHashes(str: UTF8String): ArrayData = {
    val s = str.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Long](16)
    var i = 0
    val n = s.length
    var start = -1
    var needsFold = false
    while (i <= n) {
      val b = if (i < n) s(i) else ' '.toByte
      val isTok = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')
      if (isTok) {
        if (start < 0) { start = i; needsFold = false }
        if (b >= 'A' && b <= 'Z') needsFold = true
      } else if (start >= 0) {
        val len = i - start
        val h =
          if (!needsFold)
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              s, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, len, 42L)
          else {
            val buf = new Array[Byte](len)
            var j = 0
            while (j < len) {
              val c = s(start + j)
              buf(j) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
              j += 1
            }
            org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
              buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
          }
        out += h
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def tokenHashesCol(c: Column): Column =
    Bridge.column(AsciiTokenHashes(Bridge.expression(c)))

  /** The scan kernel; static so generated code calls it directly and the
    * stage stays inside whole-stage codegen (HashKernels rationale).
    */
  def tokenize(str: UTF8String): ArrayData = {
    val s = str.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    val n = s.length
    var start = -1
    var needsFold = false
    while (i <= n) {
      val b = if (i < n) s(i) else ' '.toByte
      val isTok = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || (b >= 'A' && b <= 'Z')
      if (isTok) {
        if (start < 0) { start = i; needsFold = false }
        if (b >= 'A' && b <= 'Z') needsFold = true
      } else if (start >= 0) {
        val len = i - start
        val tok =
          if (!needsFold) UTF8String.fromBytes(s, start, len)
          else {
            val buf = new Array[Byte](len)
            var j = 0
            while (j < len) {
              val c = s(start + j)
              buf(j) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
              j += 1
            }
            UTF8String.fromBytes(buf)
          }
        out += tok
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def asciiTokens(c: Column): Column =
    Bridge.column(AsciiWordTokens(Bridge.expression(c)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ascii_tokens", exprs => AsciiWordTokens(exprs.head), "built-in")
}
