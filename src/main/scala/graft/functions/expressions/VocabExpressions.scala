package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Rank of a string in a sorted literal vocabulary: the 0-based index
  * of `child` in `vocab` (ascending in Spark's string order, UTF8String
  * byte order, no duplicates), -1 for a null or absent value. Never
  * null.
  *
  * Why not a map literal (`typedLit(map)(col)`): Spark's map lookup
  * (GetMapValue) scans the key array linearly, so a vocabulary of a few
  * thousand levels (M5's per-store `id`: 3,049) costs thousands of
  * string compares per row — 2 M rows over 3,049 levels took 5.5 s
  * that way against 0.25 s here (local[4], 4-core VM). The binary
  * search costs ≤ 16 compares for 30,490 levels and reads the
  * vocabulary's own order, so the code is the rank by construction.
  */
case class VocabCode(child: Expression, vocab: Array[UTF8String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "vocab_code"
  // the vocabulary itself can be ~1 MB: plans print its size only
  override def toString: String = s"$prettyName($child, ${vocab.length} values)"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) -1L else VocabCode.rank(vocab, v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("vocab", vocab,
      classOf[Array[UTF8String]].getCanonicalName)
    ev.copy(code = code"""
      |${c.code}
      |long ${ev.value} = ${c.isNull} ? -1L
      |  : graft.functions.expressions.VocabCode$$.MODULE$$.rank($ref, ${c.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): VocabCode =
    copy(child = newChild)
}

object VocabCode {
  /** Binary search under `binaryCompare`, the comparator the vocabulary
    * was sorted with (UTF8String.compareTo refuses to run in tests). */
  def rank(vocab: Array[UTF8String], s: UTF8String): Long = {
    var lo = 0
    var hi = vocab.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val cmp = vocab(mid).binaryCompare(s)
      if (cmp < 0) lo = mid + 1
      else if (cmp > 0) hi = mid - 1
      else return mid.toLong
    }
    -1L
  }
}
