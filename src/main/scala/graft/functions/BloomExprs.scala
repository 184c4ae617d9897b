package graft.functions

import graft.functions.GraftFunction._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Bloom-filter sketch over LongType keys — the scale path for membership
  * probes whose reference set is too large to broadcast-join raw but whose
  * BITS fit comfortably in a task (the shape of benchmark decontamination
  * at web scale: 10^8 fingerprint longs ≈ 800 MB raw vs ~180 MB of bloom
  * bits at 1% false-positive rate, and the corpus-side probe becomes a
  * scan-local filter instead of a corpus-wide shuffle).
  *
  * Layout: byte 0 holds the hash count k (1..32), bytes 8.. hold the bit
  * array (m = (len − 8)·8 bits). The header is part of the buffer from
  * creation, so merge is a plain byte-wise OR (equal headers are an OR
  * fixed point) and an empty partition's buffer is already well-formed.
  *
  * Bit positions use Kirsch–Mitzenmacher double hashing ("Less hashing,
  * same performance: Building a better Bloom filter", ESA 2006):
  * g_j = h1 + j·h2 with h1/h2 two independent splitmix64 finalizer mixes
  * of the key — deterministic, seed-free, engine-portable arithmetic.
  *
  * False positives are inherent to the sketch; exact-result operators pair
  * the probe with an exact confirm join over the survivors (see
  * [[graft.operators.Decontaminate.overlapsViaBloom]]).
  */
object BloomSupport {
  final val HeaderBytes = 8

  /** splitmix64 finalizer (Steele, Lea & Flood, "Fast splittable
    * pseudorandom number generators", OOPSLA 2014) — a full-avalanche
    * 64-bit mix.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def emptyBuffer(numBytes: Int, numHashes: Int): Array[Byte] = {
    require(numBytes > HeaderBytes, s"bloom needs > $HeaderBytes bytes, got $numBytes")
    require(numHashes >= 1 && numHashes <= 32, s"numHashes must be 1..32, got $numHashes")
    val buf = new Array[Byte](numBytes)
    buf(0) = numHashes.toByte
    buf
  }

  def add(buf: Array[Byte], value: Long): Unit = {
    val k = buf(0).toInt
    val m = (buf.length - HeaderBytes).toLong * 8L
    val h1 = mix(value)
    val h2 = mix(value ^ 0x5deece66dL) | 1L // odd stride never collapses mod 2^i
    var j = 0
    while (j < k) {
      val bit = ((h1 + j * h2) & Long.MaxValue) % m
      val idx = HeaderBytes + (bit >>> 3).toInt
      buf(idx) = (buf(idx) | (1 << (bit & 7L).toInt)).toByte
      j += 1
    }
  }

  def mightContain(buf: Array[Byte], value: Long): Boolean = {
    // scan-side code over possibly-foreign bytes must not throw (the
    // corrupt-input rule the media sniffers follow): a binary that is not a
    // well-formed bloom buffer — too short, or a hash count outside 1..32 —
    // answers false rather than crashing the query
    if (buf == null || buf.length <= HeaderBytes || buf(0) < 1 || buf(0) > 32) return false
    val k = buf(0).toInt
    val m = (buf.length - HeaderBytes).toLong * 8L
    val h1 = mix(value)
    val h2 = mix(value ^ 0x5deece66dL) | 1L
    var j = 0
    while (j < k) {
      val bit = ((h1 + j * h2) & Long.MaxValue) % m
      val idx = HeaderBytes + (bit >>> 3).toInt
      if ((buf(idx) & (1 << (bit & 7L).toInt)) == 0) return false
      j += 1
    }
    true
  }

  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length && a(0) == b(0), "merging blooms of different geometry")
    var i = HeaderBytes
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
}

/** Mergeable bloom-build aggregate: `bloom_agg(fp, numBytes, numHashes)` →
  * BinaryType filter. The buffer is the raw byte array — partial (map-side)
  * aggregation ORs per-partition blooms, so the shuffle carries `numBytes`
  * per partition regardless of input cardinality (the same mergeability
  * story as the q84 HLL sketches).
  */
case class BloomBuildAgg(
    child: Expression,
    numBytes: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[Array[Byte]]
    with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] =
    BloomSupport.emptyBuffer(numBytes, numHashes)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) BloomSupport.add(buffer, v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    BloomSupport.or(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer

  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_agg requires a BIGINT key, got ${other.catalogString}")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomBuildAgg =
    copy(child = newChild)
}

/** Scan-side bloom membership probe: `bloom_might_contain(bloomBits, key)`.
  * Codegen-enabled — with the filter bytes as a Literal the probe runs
  * inside whole-stage codegen at the scan, before any shuffle.
  */
case class BloomMightContain(left: Expression, right: Expression) extends GraftBinary(
      "graft_bloom_might_contain", "(binary, bigint)", isBinary, isLong) {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  protected def call(bloom: Any, key: Any): Any =
    BloomSupport.mightContain(bytes(bloom), key.asInstanceOf[Long])
  protected def callCode(ctx: CodegenContext, bloom: String, key: String): String =
    s"graft.functions.BloomSupport.mightContain($bloom, $key)"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

/** Scan-side bloom probe whose bits arrive as a torrent BROADCAST variable
  * instead of a plan Literal — the large-filter vehicle. A Literal is
  * serialized into the physical plan and shipped with every task; at the
  * sizes the scaladoc of [[BloomSupport]] advertises (~180 MB of bits for
  * 10^8 fingerprints) that per-task copy is a practical cliff well before
  * the sketch itself stops fitting. Holding a `Broadcast` handle instead
  * means the expression serializes as a tiny reference; each executor
  * fetches the bits once (torrent), and codegen caches the dereferenced
  * byte[] in a mutable-state slot so the hot loop reads a local field.
  * Same probe arithmetic, same untrusted-bytes never-throw contract.
  */
case class BloomMightContainBcast(
    bits: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression
) extends GraftUnary("graft_bloom_might_contain_bcast", "a BIGINT key", isLong) {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  @transient private lazy val localBits: Array[Byte] = bits.value

  protected def call(key: Any): Any = BloomSupport.mightContain(localBits, key.asInstanceOf[Long])
  protected def callCode(ctx: CodegenContext, key: String): String = {
    val bcastRef =
      ctx.addReferenceObj("graftBloomBcast", bits, "org.apache.spark.broadcast.Broadcast")
    val cached = ctx.addMutableState(
      "byte[]",
      "graftBloomBits",
      v => s"$v = (byte[]) $bcastRef.value();")
    s"graft.functions.BloomSupport.mightContain($cached, $key)"
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContainBcast = copy(child = c)
}

object BloomExprs {
  /** Aggregate a LongType column into bloom-filter bytes. */
  def bloomAgg(key: Column, numBytes: Int, numHashes: Int): Column =
    column(BloomBuildAgg(_, numBytes, numHashes).toAggregateExpression(), key)

  /** Probe bloom bytes (typically a small Literal) for a key. */
  def mightContain(bloom: Column, key: Column): Column = column(BloomMightContain, bloom, key)

  /** Probe broadcast bloom bytes for a key — the large-filter path; see
    * [[BloomMightContainBcast]].
    */
  def mightContainBcast(
      bits: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column
  ): Column = column(BloomMightContainBcast(bits, _), key)
}
