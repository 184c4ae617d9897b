package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Per-row DEFLATE size — the classic cheap quality gate: how small a
  * document compresses is a direct measure of its redundancy, catching
  * boilerplate/template/generated text that token-level repetition stats
  * (q65's RepStats) miss when the repetition unit is long or lightly
  * varied. Kennedy-style "compression ratio filtering" is standard in web
  * corpus curation precisely because it is one cheap scan-side pass.
  *
  * java.util.zip.Deflater (raw mode, fixed level) over the input bytes;
  * total — any byte sequence deflates, so the untrusted-bytes rule is
  * satisfied trivially (null in → null out). The expensive part is the
  * deflate itself (~tens of MB/s/core): still scan-speed relative to I/O,
  * but order the gates so cheaper ones run first.
  *
  * The ratio is reported in exact integer permille
  * ([[graft.operators.TextAnalysis.compressionPermille]]) — house
  * determinism style. NOTE: deflate output size is a property of the
  * COMPRESSOR (level, strategy, implementation), not of the text alone;
  * the fixed (JDK Deflater, raw, level) tuple makes it reproducible
  * within the engine, and oracle gates pin BANDS on planted fixtures
  * rather than exact sizes (the q39 bounded-error pattern) because a
  * different zlib build may emit a few bytes more or less.
  */
object CompressSupport {
  // one native Deflater per (thread, level), reset per row: allocating and
  // end()ing a native zlib stream per ROW dominated small-document
  // workloads on this scan hot path (the quality gates run it on every
  // document); reset() yields byte-identical output. Keyed by level (the
  // expression is constructed with one level, but two expressions at
  // different levels may share a task thread).
  //
  // NATIVE FOOTPRINT BOUND (invisible to JVM heap accounting): each pooled
  // Deflater pins ~256 KB of zlib state, so the pool holds at most
  // executor-threads × levels-used (≤ 10, in practice 1) × ~256 KB —
  // ~8 MB on a 32-thread executor, constant for the executor's life. No
  // explicit end() hook is needed for THREAD DEATH: since JDK 12
  // (JDK-8212129) Deflater registers its zlib stream with a Cleaner, so
  // when a dead thread's ThreadLocal map becomes unreachable the native
  // state is freed at the next GC — the pool bounds live usage, the
  // Cleaner reclaims the rest.
  private val deflaters =
    new ThreadLocal[java.util.HashMap[Int, java.util.zip.Deflater]] {
      override def initialValue() = new java.util.HashMap[Int, java.util.zip.Deflater]()
    }

  def deflatedSize(bytes: Array[Byte], level: Int): Int = {
    val pool = deflaters.get()
    var d = pool.get(level)
    if (d == null) { d = new java.util.zip.Deflater(level, true); pool.put(level, d) }
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0
    while (!d.finished()) total += d.deflate(buf)
    total
  }
}

/** INT deflated byte count of a binary column (codegen-enabled). */
case class DeflatedSize(child: Expression, level: Int)
    extends GraftUnary("graft_deflated_size", "binary input", isBinary) {
  require(level >= 0 && level <= 9, s"deflate level must be 0..9, got $level")
  override def dataType: DataType = IntegerType

  protected def call(a: Any): Any = CompressSupport.deflatedSize(bytes(a), level)
  protected def callCode(ctx: CodegenContext, a: String): String =
    s"graft.functions.CompressSupport.deflatedSize($a, $level)"

  override protected def withNewChildInternal(c: Expression): DeflatedSize = copy(child = c)
}

object CompressExprs {
  /** Deflated size in bytes of a binary column at the given level. */
  def deflatedSize(content: Column, level: Int = 6): Column = column(DeflatedSize(_, level), content)
}
