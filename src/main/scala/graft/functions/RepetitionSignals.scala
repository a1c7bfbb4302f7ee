package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Gopher repetition battery (Rae et al. 2021 §A1.1: top-n-gram
  * character fraction for n = 2..4, duplicated-n-gram character fraction
  * for n = 5..10) — the promoted form of the relational 9-way explode in
  * `gopher_repetition_signals`.
  *
  * Why an Expression: every (doc, n, gram) count key is DOC-LOCAL, so the
  * relational shape's `groupBy(doc_id, n, gram)` hash-aggregation shuffles
  * and hash-probes ~9·L gram-string rows per document for an answer each
  * document could compute alone. Measured at ×30
  * (artifacts/SCALE_r9_gopher.json): the
  * explode + gram-string build is 0.9 s — the count aggregation is ~17 s
  * of the query's 24 s. This expression is ONE compiled pass per document:
  * a prefix-sum of word char-lengths, then for each n one hash-map count
  * over the row's own windows — no row fan-out, no shuffle, and the
  * projection participates in whole-stage codegen (compute is a static
  * call, like [[GearChunks]]).
  *
  * Semantics (exactly the relational/DuckDB formulation, which remains the
  * oracle twin — RepetitionParitySpec pins row-identity):
  *  - words = the input array (split(text, ' '), empties preserved);
  *  - per n ∈ 2..10, gram at position p = concat_ws(" ", words[p..p+n)),
  *    gc(gram) = its non-space char count = Σ numChars(word) (prefix sums);
  *  - top{2,3,4}_chars = c·gc of the most frequent gram, ties to the
  *    binary-largest gram (UTF8String order == Spark string order ==
  *    DuckDB memcmp — `ORDER BY c DESC, gram DESC`);
  *  - dup{5..10}_chars = Σ over grams with c ≥ 2 of c·gc;
  *  - n > |words| ⇒ 0 (the relational left-join's coalesce).
  */
case class RepetitionSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionSignals.outType
  override def prettyName: String = "repetition_signals"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repetition_signals expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    RepetitionSignals.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionSignals.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionSignals =
    copy(child = newChild)
}

object RepetitionSignals {

  val outType: StructType = StructType(
    Seq(2, 3, 4).map(n => StructField(s"top${n}_chars", LongType, nullable = false)) ++
      (5 to 10).map(n => StructField(s"dup${n}_chars", LongType, nullable = false)))

  private val Sep = UTF8String.fromString(" ")

  /** Non-space char count of a word — the prefix-sum unit. Counting
    * NON-SPACE chars (not numChars) keeps gc ≡ the relational twin's
    * `length(translate(gram, ' ', ''))` for ARBITRARY input arrays, not
    * just split(text, ' ') output: an element containing spaces (legal
    * when the function is called directly from SQL) contributes only its
    * visible characters, and two different windows that concat to the
    * same gram string then agree on gc by construction (review r9). The
    * space byte 0x20 never occurs inside a multi-byte UTF-8 sequence, so
    * the byte scan is exact. */
  private def nonSpaceChars(w: UTF8String): Long = {
    val n = w.numBytes()
    var spaces = 0
    var i = 0
    while (i < n) {
      if (w.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    w.numChars().toLong - spaces
  }

  /** value cell: counts(0) = occurrences, counts(1) = first position (gc
    * derives from the prefix sums — same gram string ⇒ same gc) */
  def compute(arr: ArrayData): GenericInternalRow = {
    val L = arr.numElements()
    val words = new Array[UTF8String](L)
    val pre = new Array[Long](L + 1)
    var i = 0
    while (i < L) {
      val w = arr.getUTF8String(i) // split() output: never null
      words(i) = w
      pre(i + 1) = pre(i) + (if (w == null) 0L else nonSpaceChars(w))
      i += 1
    }
    val out = new Array[Any](9)
    var n = 2
    while (n <= 10) {
      var acc = 0L
      if (L >= n) {
        val m = new java.util.HashMap[UTF8String, Array[Long]](
          math.min(L - n + 1, 1 << 16))
        var p = 0
        while (p + n <= L) {
          val g = UTF8String.concatWs(Sep,
            java.util.Arrays.copyOfRange(words, p, p + n).toIndexedSeq: _*)
          val v = m.get(g)
          if (v == null) m.put(g, Array(1L, p.toLong)) else v(0) += 1
          p += 1
        }
        if (n <= 4) {
          var topC = 0L; var topGram: UTF8String = null; var topGc = 0L
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c > topC || (c == topC &&
                (topGram == null || e.getKey.compareTo(topGram) > 0))) {
              val fp = e.getValue()(1).toInt
              topC = c; topGram = e.getKey; topGc = pre(fp + n) - pre(fp)
            }
          }
          acc = topC * topGc
        } else {
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c >= 2) {
              val fp = e.getValue()(1).toInt
              acc += c * (pre(fp + n) - pre(fp))
            }
          }
        }
      }
      out(n - 2) = acc
      n += 1
    }
    new GenericInternalRow(out)
  }
}
