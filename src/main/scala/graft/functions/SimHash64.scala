package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass 64-bit SimHash over a space-tokenized string column —
  * the promoted form of [[TextFunctions.simhashHof]].
  *
  * The higher-order-function formulation evaluates 64 separate `aggregate`
  * folds per document (each one re-walking the word array and re-hashing
  * every word): O(64·n) hashes. This expression walks the words once, hashes
  * each word once (XXH64 with seed 42 — identical to Spark's `xxhash64`, so
  * results are bit-compatible with the HOF twin), and updates all 64 bit
  * counters in-place: O(n) hashes, zero intermediate arrays. Measured 2.6×
  * faster end-to-end on 20k short docs (artifacts/BENCHCOMPARE_r2.jsonl,
  * `simhash_native` vs `simhash_hof`; the gap widens with document length as the hash loop
  * dominates scheduling overhead).
  *
  * Evaluation is interpreted (CodegenFallback) — the per-row cost is the word
  * loop itself, which is already a tight JVM loop; codegen would only inline
  * the dispatch.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects a string input, got ${child.dataType.simpleString}")

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[UTF8String].split(space, -1)
    val votes = new Array[Int](64)
    var w = 0
    while (w < words.length) {
      val word = words(w)
      // identical to Spark's xxhash64(word): XXH64(bytes, seed=42)
      val h = XXH64.hashUnsafeBytes(
        word.getBaseObject, word.getBaseOffset, word.numBytes, 42L)
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      w += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
