package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native in-row term frequency: `array<string>` →
  * `array<struct<term:string, tf:long>>` in ONE pass with a per-row hash
  * map, replacing the higher-order-function form
  * `transform(array_distinct(xs), t → (t, size(filter(xs, _ == t))))`,
  * which is O(distinct × length) per row — measured the largest in-row cost
  * of the scoring stage (a ±k context has ~20 terms ≈ 300 comparisons per
  * context vs 20 map operations here). Entry order is first-occurrence,
  * exactly like array_distinct — property-tested equal to the HOF form
  * including order.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  // containsNull=true is accepted (any parquet checkpoint read makes element
  // types nullable) — a null element yields the entry (null, 0), exactly like
  // the HOF form, whose `x === null` comparison filters to nothing (tested in
  // CodeTokensSpec)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"term_counts needs array<string>, got $t")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = true),
                   StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "term_counts"

  override def nullSafeEval(input: Any): Any =
    TermCounter.count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCounter.count($c)")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounter {

  // per-thread scratch map, cleared per call — executor threads each reuse
  // one map instead of allocating map+entries per row (rows are processed
  // one at a time per thread, and all UTF8String keys are consumed before
  // the call returns, so reuse is safe)
  private val scratch: ThreadLocal[java.util.LinkedHashMap[UTF8String, Array[Long]]] =
    ThreadLocal.withInitial(() => new java.util.LinkedHashMap[UTF8String, Array[Long]](64))

  def count(terms: ArrayData): ArrayData = {
    val n = terms.numElements()
    // first-occurrence order, one pass
    val counts = scratch.get()
    counts.clear()
    var i = 0
    while (i < n) {
      val t = terms.getUTF8String(i)
      if (t == null) {
        // HOF semantics: null appears once (array_distinct) with tf = 0
        // (`x === null` filters to nothing) — never incremented
        if (!counts.containsKey(null)) counts.put(null, Array(0L))
      } else {
        val slot = counts.get(t)
        if (slot == null) counts.put(t, Array(1L)) else slot(0) += 1L
      }
      i += 1
    }
    val out = new Array[AnyRef](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = InternalRow(e.getKey, java.lang.Long.valueOf(e.getValue()(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Column form: drop-in replacement for the HOF term-frequency builder. */
  def termCounts(c: Column): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(c)))

  /** The one IDF definition, smoothed: `ln((n+1)/(df+1)) + 1` for a term in
    * `df` of `n` documents. Never 0, so a term present in every document
    * still contributes to the cosine. */
  def idf(n: Column, df: Column): Column =
    org.apache.spark.sql.functions.log((n + 1).cast("double") / (df + 1)) + 1.0
}
