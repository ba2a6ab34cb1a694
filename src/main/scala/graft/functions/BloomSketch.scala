package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BLOOM FILTER over md5-hex keys — the membership leg of the mergeable-
  * summary tier (CMS q87 = frequencies, HLL q88 = cardinality, KMV q55 =
  * distinct sample, Bloom = set membership with NO false negatives).
  *
  * The 100 TB shape this buys (q106): a benchmark/eval gram set — however
  * it is distributed — aggregates into ONE fixed-size bitset (k·m bits =
  * k·m/8 bytes; k=3 rows of 2^17 bits = 48 KiB) whose partial aggregation is the Bloom
  * merge itself (bitwise OR, so map-side combine ships one bitset per
  * partition, never keys). The corpus side then probes the broadcast
  * bitset entirely MAP-SIDE: the expensive decontamination equality join
  * (q66's inverted index, shuffle ∝ corpus grams) shrinks to the bloom-
  * positive grams only — exact-correct because a Bloom has no false
  * negatives, so every true bench-shared gram survives the prefilter.
  *
  * Determinism contract (the q55/q87 md5-twin discipline): keys are
  * 32-char md5 hex strings ([[graft.functions.TextExpressions.Md5WordShingles]]
  * output); the u60 = first-15-hex-chars prefix is sliced into k disjoint
  * 17-bit words, hash row r owning its own m-bit partition of the bitset
  * (a PARTITIONED Bloom — the CMS grid layout, and what lets a SQL oracle
  * replay membership as a distinct (r, position) set). Any engine with
  * md5 reproduces every set bit, every probe verdict, and every false
  * positive bit-for-bit.
  *
  * Reference analog: the reference dedups eval leakage with exact joins
  * at its scale (SURVEY §2 decontamination row); this is the operator
  * that gates that join when the corpus side is 100 TB.
  */
object BloomSketch {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** k 17-bit positions fit the u60 md5 prefix: k ≤ 3, m ≤ 2^17. */
  private[graft] def requireDims(mBits: Int, k: Int): Unit = {
    require(mBits > 0 && mBits <= (1 << 17) && Integer.bitCount(mBits) == 1,
      "mBits must be a power of two <= 2^17 (17-bit words of one u60 digest)")
    require(k > 0 && k <= 3, "0 < k <= 3 hash rows (3 x 17 bits <= 60)")
    require(mBits >= 64, "mBits < 64 would leave sub-word partitions")
  }

  /** Build the partitioned-Bloom bitset from md5-hex keys: ONE row,
    * array<long> of k·m/64 words (hash row r owns words
    * [r·m/64, (r+1)·m/64)). Mergeable by construction — the partial
    * aggregate per partition IS a Bloom of that partition's keys. */
  def bloom_build_hex(c: Column, mBits: Int = 1 << 17, k: Int = 3): Column = {
    requireDims(mBits, k)
    column(BloomHexAgg(expression(c), mBits, k).toAggregateExpression())
  }

  /** The u60 prefix of an md5-hex key (first 15 hex chars) — shared by
    * build and probe, and replayable as ('0x' || substr(h,1,15))::BIGINT
    * in any SQL engine. */
  private[graft] def u60(hexKey: Column): Column =
    conv(substring(hexKey, 1, 15), 16, 10).cast("long")

  /** Probe a broadcast bitset column: true iff ALL k positions of `hexKey`
    * are set — builtin expressions only (conv/shift/element_at), so the
    * corpus scan stays one whole-stage-codegen span with zero shuffle.
    * False positives possible (bounded by (1−e^(−kn/m))^k); false
    * negatives impossible — the property the q106 verify-join prefilter
    * leans on. */
  def bloom_probe_hex(hexKey: Column, bloom: Column, mBits: Int = 1 << 17,
      k: Int = 3): Column = {
    requireDims(mBits, k)
    val u = u60(hexKey)
    val wordsPerRow = mBits / 64
    (0 until k).map { r =>
      val p = shiftrightunsigned(u, 17 * r).bitwiseAND(lit((mBits - 1).toLong))
      val word = element_at(bloom,
        (shiftrightunsigned(p, 6) + lit(r.toLong * wordsPerRow) + lit(1L))
          .cast("int"))
      // dynamic bit index → SQL shiftright (the Scala DSL overload only
      // takes a literal shift; the underlying expression takes any column)
      call_function("shiftright", word, p.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }
}

/** The bitset-building aggregate: buffer = k·m/64 longs, update sets k
  * bits per key, merge is bitwise OR (commutative, associative,
  * idempotent — replay-safe), eval emits the words as array<long>. */
case class BloomHexAgg(
    child: Expression,
    mBits: Int,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  BloomSketch.requireDims(mBits, k)
  private val wordsPerRow = mBits / 64

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bloom_build_hex"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](k * wordsPerRow)

  override def update(buf: Array[Long],
      input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      // first 15 hex chars = u60; identical to conv(substring(h,1,15),16,10).
      // Keys that are not >= 15 hex chars are SKIPPED (treated like null) so
      // a malformed input degrades the same way the conv()-based probe path
      // does, instead of killing the whole aggregation with a parse throw.
      if (s.length >= 15 && BloomHexAgg.isHex15(s)) {
        val u = java.lang.Long.parseLong(s.substring(0, 15), 16)
        var r = 0
        while (r < k) {
          val p = ((u >>> (17 * r)) & (mBits - 1)).toInt
          buf(r * wordsPerRow + (p >>> 6)) |= 1L << (p & 63)
          r += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val boxed = new Array[Any](buf.length)
    var i = 0
    while (i < buf.length) { boxed(i) = buf(i); i += 1 }
    new GenericArrayData(boxed)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = createAggregationBuffer()
    var i = 0
    while (i < out.length) { out(i) = bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomHexAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomHexAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomHexAgg =
    copy(child = newChildren.head)
}

object BloomHexAgg {
  /** Lowercase/uppercase hex check over the first 15 chars — the md5-hex
    * contract ([[graft.functions.TextExpressions.Md5WordShingles]] emits
    * lowercase; uppercase tolerated to match conv()'s case-insensitivity). */
  private[functions] def isHex15(s: String): Boolean = {
    var i = 0
    while (i < 15) {
      val c = s.charAt(i)
      val hex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')
      if (!hex) return false
      i += 1
    }
    true
  }
}
