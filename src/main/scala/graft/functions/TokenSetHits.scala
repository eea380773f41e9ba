package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd token-set hit counter:
  * `size(filter(toks, tk => tk.isInCollection(words)))` in one static call.
  *
  * The composite ran an interpreted lambda (an In over the word list) per
  * token per row — the whole per-row cost of the stopword/function-word
  * scores (q_text_quality, q_text_langid, with 1 and 4 set probes per
  * token respectively) and of the BM25 per-term tf columns (one probe per
  * query term per token). The kernel hashes each token once against a
  * prebuilt UTF8String set.
  *
  * Exact semantics of the composite under the engine's sessions:
  *  - null tokens: `isInCollection` is null → `filter` drops them (never
  *    counted);
  *  - null token ARRAY: legacy `size(null)` = −1 (ansi off), so the count
  *    is −1 — preserved, bit-for-bit, because quality/langid divide by it;
  *  - otherwise the count of ALL occurrences (duplicates count). */
object TokenSetHits {
  def count(a: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = a.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && set.contains(a.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  def apply(toks: Column, words: Seq[String]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TokenSetHitsExpression(
        org.apache.spark.sql.graft.ColumnBridge.expression(toks), words))
}

/** token_set_hits(array<string>, words) → int (−1 for a null array, the
  * legacy size(null) the composite produces). A class of its own, not a
  * [[GraftFunctions.kernel]]: it holds the word set as a per-expression
  * reference object that generated code reads. */
case class TokenSetHitsExpression(child: Expression, words: Seq[String])
    extends UnaryExpression {

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_set_hits expects array<string>, got $other")
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) -1
    else TokenSetHits.count(v.asInstanceOf[ArrayData], wordSet)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    // raw type: Janino's generics support is limited; count()'s signature
    // provides the typing
    val setRef = ctx.addReferenceObj("wordSet", wordSet, "java.util.HashSet")
    val resultCode =
      s"int ${ev.value} = ${childGen.isNull} ? -1 : " +
        s"graft.functions.TokenSetHits.count(${childGen.value}, $setRef);"
    ev.copy(
      code = childGen.code + code"$resultCode",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenSetHitsExpression =
    copy(child = newChild)
  override def prettyName: String = "token_set_hits"
}
