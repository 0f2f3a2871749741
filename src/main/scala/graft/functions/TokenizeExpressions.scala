package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizers — the byte-walk form of the
  * repo-wide `split(btrim(text), "\\s+")` convention.
  *
  * The declarative form routes through `StringSplit`, whose
  * evaluation recompiles the regex and round-trips the UTF8String
  * through java.lang.String ON EVERY ROW — measured as the dominant
  * kernel cost of the text family (the round-13 bm25/lm probes put
  * each corpus tokenize pass at ~0.4 s single-task at sf0.1, most of
  * it regex machinery, the same finding that motivated
  * [[ShingleKernels]]). These kernels do one byte walk per row, stay
  * inside whole-stage codegen, and are semantically BIT-IDENTICAL to
  * the declarative forms (PropertiesSuite pins each against its regex
  * original on randomized mixed-whitespace strings):
  *
  *  - [[TokenizeKernels.wsTokens]] == `split(btrim(c), "\\s+")`:
  *    btrim strips ASCII 0x20 only; tokens split on maximal runs of
  *    Java-regex `\s` = [ \t\n\x0B\f\r]; a leading/trailing run
  *    yields a leading/trailing EMPTY token (Pattern.split, limit
  *    -1); empty input yields one empty token;
  *  - [[TokenizeKernels.wsTokensNonEmpty]] == `filter(tokens(c),
  *    t => t <> '')` (empties occur only at the edges);
  *  - [[TokenizeKernels.wsTokenCount]] == `when(length(btrim(c)) = 0,
  *    0).otherwise(size(tokens(c)))` — no array materializes at all.
  */
object TokenizeKernels {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** (lo, hi) after trimming ASCII spaces. */
  @inline private def trimmed(bytes: Array[Byte]): (Int, Int) = {
    var lo = 0
    var hi = bytes.length
    while (lo < hi && bytes(lo) == ' ') lo += 1
    while (hi > lo && bytes(hi - 1) == ' ') hi -= 1
    (lo, hi)
  }

  def wsTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val out = new java.util.ArrayList[Any]()
    var i = lo
    var tokStart = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        out.add(UTF8String.fromBytes(bytes, tokStart, i - tokStart))
        while (i < hi && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    out.add(UTF8String.fromBytes(bytes, tokStart, hi - tokStart))
    new GenericArrayData(out.toArray)
  }

  def wsTokensNonEmpty(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val out = new java.util.ArrayList[Any]()
    var i = lo
    var tokStart = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        if (i > tokStart)
          out.add(UTF8String.fromBytes(bytes, tokStart, i - tokStart))
        while (i < hi && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    if (hi > tokStart)
      out.add(UTF8String.fromBytes(bytes, tokStart, hi - tokStart))
    new GenericArrayData(out.toArray)
  }

  /** Nonempty token spans of the trimmed bytes: (starts, ends). */
  private def nonEmptySpans(bytes: Array[Byte], lo: Int, hi: Int)
      : (java.util.ArrayList[Int], java.util.ArrayList[Int]) = {
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = lo
    var tokStart = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        if (i > tokStart) { starts.add(tokStart); ends.add(i) }
        while (i < hi && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    if (hi > tokStart) { starts.add(tokStart); ends.add(hi) }
    (starts, ends)
  }

  /** The j-th run of `n` consecutive token spans, joined by 0x20. */
  private def gramAt(bytes: Array[Byte], starts: java.util.ArrayList[Int],
      ends: java.util.ArrayList[Int], j: Int, n: Int): UTF8String = {
    var len = n - 1
    var k = 0
    while (k < n) { len += ends.get(j + k) - starts.get(j + k); k += 1 }
    val gram = new Array[Byte](len)
    var pos = 0
    k = 0
    while (k < n) {
      if (k > 0) { gram(pos) = ' '; pos += 1 }
      val tl = ends.get(j + k) - starts.get(j + k)
      System.arraycopy(bytes, starts.get(j + k), gram, pos, tl)
      pos += tl
      k += 1
    }
    UTF8String.fromBytes(gram)
  }

  /** Nonempty tokens followed by every run of `n` consecutive tokens
    * joined by one space, WITH multiplicity — the DSIR-style hashed
    * feature stream (unigrams + n-grams) in one byte walk. Identical
    * to `concat(wsTokensNonEmpty(c), when(size >= n,
    * transform(sequence(1, size - n + 1), i => concat_ws(" ",
    * slice(tokens, i, n)))).otherwise(array()))` — which re-walks the
    * token array per n-gram through element_at/concat_ws lambdas
    * (measured 1.7 s single-task at sf0.1 vs 0.15 s for the unigram
    * explode; this kernel removes that gap). Unlike
    * [[ShingleKernels.wordShingles]] there is NO dedup: a feature
    * distribution counts occurrences, not types.
    */
  def wsNgramFeatures(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val (starts, ends) = nonEmptySpans(bytes, lo, hi)
    val m = starts.size()
    val nGrams = if (m >= n) m - n + 1 else 0
    val out = new Array[Any](m + nGrams)
    var j = 0
    while (j < m) {
      out(j) = UTF8String.fromBytes(bytes, starts.get(j),
        ends.get(j) - starts.get(j))
      j += 1
    }
    j = 0
    while (j < nGrams) {
      out(m + j) = gramAt(bytes, starts, ends, j, n)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Every run of `n` consecutive nonempty tokens joined by one
    * space, WITH multiplicity, in document order — the w-token
    * window stream of the substring-dedup family. Identical to
    * `when(size(ws) >= n, transform(sequence(1, size(ws) - n + 1),
    * i => concat_ws(" ", slice(ws, i, n)))).otherwise(array())` over
    * `ws = wsTokensNonEmpty(s)`, minus the per-window slice-array
    * allocation and concat_ws machinery.
    */
  def wsNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val (starts, ends) = nonEmptySpans(bytes, lo, hi)
    val m = starts.size()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    var j = 0
    while (j <= m - n) {
      out(j) = gramAt(bytes, starts, ends, j, n)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document term frequencies: nonempty token -> occurrence
    * count, one byte walk, keys in first-occurrence order (so the
    * output is deterministic at any parallelism). Identical in
    * content to exploding [[wsTokensNonEmpty]] and grouping by
    * (doc, token) — minus the corpus-wide (doc, term) EXCHANGE that
    * grouping costs: the tf of the tfidf/bm25 family is a
    * document-local statistic, so it never needs to leave the row.
    */
  def wsTermCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val (starts, ends) = nonEmptySpans(bytes, lo, hi)
    val m = starts.size()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var j = 0
    while (j < m) {
      val t = UTF8String.fromBytes(bytes, starts.get(j),
        ends.get(j) - starts.get(j))
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      j += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue()(0)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** Per-document n-gram frequencies: space-joined n-token window ->
    * occurrence count, one byte walk, keys in first-occurrence order.
    * Identical in content to exploding [[wsNgrams]] and grouping by
    * (doc, gram) — minus the corpus-wide exchange AND minus the
    * repeat factor on every downstream join probe: an LM score pass
    * joins each DISTINCT bigram once and weights by the count,
    * instead of probing the broadcast model once per occurrence.
    */
  def wsNgramCounts(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.MapData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val (starts, ends) = nonEmptySpans(bytes, lo, hi)
    val m = starts.size()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var j = 0
    while (j + n <= m) {
      val g = gramAt(bytes, starts, ends, j, n)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      j += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue()(0)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  /** Combined per-document feature frequencies: nonempty unigram AND
    * n-gram occurrence counts in ONE map from ONE byte walk — the
    * union of [[wsTermCounts]] and [[wsNgramCounts]] (n ≥ 2 means an
    * n-gram always contains a 0x20 joiner and a token never does, so
    * the two key populations cannot collide and remain separable by
    * `contains ' '`). Unigram keys first in first-occurrence order,
    * then n-gram keys in first-occurrence order — deterministic at
    * any parallelism. One walk over the trimmed bytes replaces the
    * two separate kernel passes the LM/DSIR model builds paid (each
    * pass re-trims, re-spans and re-hashes the same text).
    */
  def wsFeatureCounts(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.MapData = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    val (starts, ends) = nonEmptySpans(bytes, lo, hi)
    val m = starts.size()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var j = 0
    while (j < m) {
      val t = UTF8String.fromBytes(bytes, starts.get(j),
        ends.get(j) - starts.get(j))
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1L
      j += 1
    }
    j = 0
    while (j + n <= m) {
      val g = gramAt(bytes, starts, ends, j, n)
      val c = counts.get(g)
      if (c == null) counts.put(g, Array(1L)) else c(0) += 1L
      j += 1
    }
    val keys = new Array[Any](counts.size())
    val vals = new Array[Any](counts.size())
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue()(0)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  def wsTokenCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    val (lo, hi) = trimmed(bytes)
    if (lo == hi) return 0
    var n = 1
    var i = lo
    while (i < hi) {
      if (isWs(bytes(i))) {
        n += 1
        while (i < hi && isWs(bytes(i))) i += 1
      } else i += 1
    }
    n
  }
}

/** `ws_tokens(text)` == `split(btrim(text), "\\s+")`, one byte walk. */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_tokens needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsTokens(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenizeKernels.wsTokens($c)")
  override protected def withNewChildInternal(c: Expression): WsTokens =
    copy(child = c)
}

/** `ws_tokens_nonempty(text)`: [[WsTokens]] minus the edge empties. */
case class WsTokensNonEmpty(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_tokens_nonempty needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsTokensNonEmpty(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsTokensNonEmpty($c)")
  override protected def withNewChildInternal(c: Expression): WsTokensNonEmpty =
    copy(child = c)
}

/** `ws_token_count(text)`: token count, 0 for blank, no array. */
case class WsTokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_token_count needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsTokenCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsTokenCount($c)")
  override protected def withNewChildInternal(c: Expression): WsTokenCount =
    copy(child = c)
}

/** `ws_ngram_features(text, n)`: nonempty unigrams + n-grams with
  * multiplicity, one byte walk — see
  * [[TokenizeKernels.wsNgramFeatures]].
  */
case class WsNgramFeatures(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 2, s"ws_ngram_features n $n must be >= 2")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_ngram_features needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsNgramFeatures(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsNgramFeatures($c, $n)")
  override protected def withNewChildInternal(c: Expression): WsNgramFeatures =
    copy(child = c)
}

/** `ws_ngrams(text, n)`: n-token windows with multiplicity, in
  * order — see [[TokenizeKernels.wsNgrams]].
  */
case class WsNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, s"ws_ngrams n $n must be >= 2")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_ngrams needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsNgrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): WsNgrams =
    copy(child = c)
}

/** `ws_term_counts(text)`: per-document nonempty-token -> count map,
  * one byte walk, keys in first-occurrence order — see
  * [[TokenizeKernels.wsTermCounts]].
  */
case class WsTermCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types
    .MapType(StringType, org.apache.spark.sql.types.LongType,
      valueContainsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_term_counts needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsTermCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsTermCounts($c)")
  override protected def withNewChildInternal(c: Expression): WsTermCounts =
    copy(child = c)
}

/** `ws_ngram_counts(text, n)`: per-document n-gram -> count map, one
  * byte walk — see [[TokenizeKernels.wsNgramCounts]].
  */
case class WsNgramCounts(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, s"ws_ngram_counts n $n must be >= 2")
  override def dataType: DataType = org.apache.spark.sql.types
    .MapType(StringType, org.apache.spark.sql.types.LongType,
      valueContainsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_ngram_counts needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsNgramCounts(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsNgramCounts($c, $n)")
  override protected def withNewChildInternal(c: Expression): WsNgramCounts =
    copy(child = c)
}

/** `ws_feature_counts(text, n)`: per-document unigram + n-gram ->
  * count map, one byte walk — see
  * [[TokenizeKernels.wsFeatureCounts]]. The counts twin of
  * [[WsNgramFeatures]] (multiplicity as the value, not repeated
  * elements) and the one-pass union of [[WsTermCounts]] and
  * [[WsNgramCounts]].
  */
case class WsFeatureCounts(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, s"ws_feature_counts n $n must be >= 2")
  override def dataType: DataType = org.apache.spark.sql.types
    .MapType(StringType, org.apache.spark.sql.types.LongType,
      valueContainsNull = false)
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"ws_feature_counts needs STRING, got ${child.dataType}")
  override def nullSafeEval(v: Any): Any =
    TokenizeKernels.wsFeatureCounts(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenizeKernels.wsFeatureCounts($c, $n)")
  override protected def withNewChildInternal(c: Expression): WsFeatureCounts =
    copy(child = c)
}

object TokenizeFunctions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
  def ws_tokens(c: Column): Column = column(WsTokens(expression(c)))
  def ws_tokens_nonempty(c: Column): Column =
    column(WsTokensNonEmpty(expression(c)))
  def ws_token_count(c: Column): Column = column(WsTokenCount(expression(c)))
  def ws_ngram_features(c: Column, n: Int): Column =
    column(WsNgramFeatures(expression(c), n))
  def ws_ngrams(c: Column, n: Int): Column =
    column(WsNgrams(expression(c), n))
  def ws_term_counts(c: Column): Column =
    column(WsTermCounts(expression(c)))
  def ws_ngram_counts(c: Column, n: Int): Column =
    column(WsNgramCounts(expression(c), n))
  def ws_feature_counts(c: Column, n: Int): Column =
    column(WsFeatureCounts(expression(c), n))
}
