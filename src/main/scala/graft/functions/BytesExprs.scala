package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Byte-buffer assembly helpers for the archive writers.
  *
  * The motivating case is [[graft.operators.WebIntake.exportWet]]: a WET
  * shard is the concatenation of its (sorted) member records. Folding that
  * with pairwise binary `concat` copies the accumulator on every step —
  * O(members²) bytes of memcpy, ~320 GB for a 64 MB shard of 10k records —
  * on the engine's stated 100 TB write path. [[BytesSupport.concatAll]]
  * instead sums the element lengths once, allocates the result once, and
  * copies each element exactly once: O(total bytes).
  */
object BytesSupport {

  /** Single-pass concatenation of the array's binary elements. Null array
    * or any null element → null (an archive shard with a hole is not a
    * shard; the writer's members are non-null by construction, so a null
    * here is a logic error upstream and must not be silently dropped).
    */
  def concatAll(arr: ArrayData): Array[Byte] = {
    if (arr == null) return null
    val n = arr.numElements()
    // getBinary on UnsafeArrayData materializes a fresh copy per call, so
    // the length pass keeps its arrays for the copy pass — each member is
    // materialized exactly once (the scaladoc's one-copy-per-element claim;
    // a second getBinary sweep would memcpy every shard twice on the WET
    // write path this expression exists to linearize)
    val members = new Array[Array[Byte]](n)
    var total = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val m = arr.getBinary(i)
      members(i) = m
      total += m.length
      i += 1
    }
    if (total > Int.MaxValue) return null // > 2 GiB cannot be one JVM array
    val out = new Array[Byte](total.toInt)
    var pos = 0
    i = 0
    while (i < n) {
      val m = members(i)
      System.arraycopy(m, 0, out, pos, m.length)
      pos += m.length
      i += 1
    }
    out
  }
}

/** array<binary> → binary: elements concatenated in array order with one
  * allocation and one copy per element; NULL on a null array, null
  * element, or a result that exceeds a JVM array.
  */
case class BytesConcatAll(child: Expression) extends GraftUnary(
      "graft_bytes_concat_all", "array<binary> input", isArrayOf(BinaryType), nullResult = true) {
  override def dataType: DataType = BinaryType

  protected def call(a: Any): Any = BytesSupport.concatAll(array(a))
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.BytesSupport.concatAll($a)"

  override protected def withNewChildInternal(c: Expression): BytesConcatAll = copy(child = c)
}

object BytesExprs {
  /** Elements of an array<binary> concatenated in order, O(total bytes). */
  def concatAll(arr: Column): Column = column(BytesConcatAll, arr)
}
