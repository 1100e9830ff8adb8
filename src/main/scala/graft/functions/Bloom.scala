package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}

/** Mergeable Bloom filter — the approximate-membership primitive a 100 TB
  * pipeline uses as a NEGATIVE CACHE: "definitely not seen" with zero I/O,
  * "maybe seen" escalating to an exact check. Standard uses next to the
  * dedup family (SURVEY §2.9): decontamination against a benchmark-key
  * set, incremental-ingest skip lists ("was this doc_id already ETL'd?"),
  * and join pre-filtering (ship a KB-scale filter instead of shuffling the
  * probe side — the same idea as Spark's own runtime bloom-filter
  * injection, which this mirrors at the user level).
  *
  * Same partial-aggregate story as [[TDigest]]: each partition folds its
  * keys into a filter of fixed (m, k), filters OR-merge associatively, and the
  * serialized artifact is storable and re-mergeable later
  * ([[BloomMergeAgg]]) — build once over yesterday's corpus, union with
  * today's increment without re-scanning.
  *
  * Hashing: double hashing h1 + i·h2 (Kirsch–Mitzenmacher: two hashes
  * simulate k independent ones with no loss in the false-positive bound)
  * over splitmix64 finalizers — full-avalanche mixing, the documented
  * lesson from this repo's LSH families (a weak mix correlates probe
  * positions and inflates the real FPR well past theory).
  *
  * Two in-memory forms, chosen by content: a SPARSE sorted list of set-bit
  * positions while 4 bytes × positions is smaller than the ⌈m/64⌉ × 8-byte
  * bitset, and the DENSE bitset beyond that point. A per-group filter
  * sized for the corpus (the daily rollup keeps m = 2^23, a 1 MiB bitset)
  * usually holds a few hundred bits, so it costs kilobytes, not a
  * megabyte, to allocate, shuffle, merge and store. The switch point
  * follows from m alone; `add`, `merge` and `mightContain` answer the same
  * in either form.
  *
  * STORAGE SCHEMA (version-tagged, shuffle format == at-rest format):
  *   v1 dense  — byte 0 = 1; int32 BE m; int32 BE k;
  *               ⌈m/64⌉ × int64 BE bitset words
  *   v2 sparse — byte 0 = 2; int32 BE m; int32 BE k;
  *               the set-bit positions as strictly increasing int32 BE,
  *               to the end of the payload
  * The encoding is CANONICAL: the bytes depend only on (m, k, set bits),
  * never on the in-memory form. v2 is written exactly when it is the
  * smaller payload (positions < 2 × ⌈m/64⌉), v1 otherwise, so a
  * dense-sized filter keeps its v1 bytes and every stored v1 payload
  * still deserializes.
  */
final class BloomFilter(val numBits: Int, val numHashes: Int) extends Serializable {
  require(numBits > 0 && numHashes > 0)
  private val numWords = (numBits + 63) >>> 6
  // at this many positions the sparse form is as large as the bitset
  // (4 × positions bytes = numWords × 8 bytes): it switches to dense
  private val sparseLimit = 2 * numWords

  // dense form: the bitset, null while sparse
  private var words: Array[Long] = null
  // sparse form: positions(0 until nSorted) sorted and distinct, then the
  // bits set since the last compaction (absent from the sorted prefix)
  private var positions = new Array[Int](math.min(16, sparseLimit))
  private var nPos = 0
  private var nSorted = 0

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def add(key: Long): Unit = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0xc2b2ae3d27d4eb4fL) | 1L
    var i = 0
    while (i < numHashes) {
      setBit((((h1 + i * h2) & Long.MaxValue) % numBits).toInt)
      i += 1
    }
  }

  def mightContain(key: Long): Boolean = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0xc2b2ae3d27d4eb4fL) | 1L
    if (words == null) compact()
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) & Long.MaxValue) % numBits).toInt
      val hit =
        if (words != null) (words(bit >>> 6) & (1L << (bit & 63))) != 0L
        else java.util.Arrays.binarySearch(positions, 0, nSorted, bit) >= 0
      if (!hit) return false
      i += 1
    }
    true
  }

  def merge(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"cannot merge bloom($numBits,$numHashes) with bloom(${other.numBits},${other.numHashes})")
    if (other.words != null) {
      densify()
      var i = 0
      while (i < numWords) { words(i) |= other.words(i); i += 1 }
    } else if (!(other eq this)) {
      var i = 0
      while (i < other.nPos) { setBit(other.positions(i)); i += 1 }
    }
    this
  }

  def serialize(): Array[Byte] = {
    if (words == null) compact()
    val n = if (words == null) nPos else {
      var c = 0; var i = 0
      while (i < numWords) { c += java.lang.Long.bitCount(words(i)); i += 1 }
      c
    }
    if (n < sparseLimit) {
      val bb = ByteBuffer.allocate(9 + 4 * n)
      bb.put(2.toByte).putInt(numBits).putInt(numHashes)
      if (words == null) {
        var i = 0
        while (i < nPos) { bb.putInt(positions(i)); i += 1 }
      } else {
        var w = 0
        while (w < numWords) {
          var bits = words(w)
          while (bits != 0L) {
            bb.putInt(w * 64 + java.lang.Long.numberOfTrailingZeros(bits))
            bits &= bits - 1
          }
          w += 1
        }
      }
      bb.array()
    } else {
      densify()
      val bb = ByteBuffer.allocate(9 + 8 * numWords)
      bb.put(1.toByte).putInt(numBits).putInt(numHashes)
      var i = 0
      while (i < numWords) { bb.putLong(words(i)); i += 1 }
      bb.array()
    }
  }

  private def setBit(bit: Int): Unit =
    if (words != null) words(bit >>> 6) |= 1L << (bit & 63)
    else if (java.util.Arrays.binarySearch(positions, 0, nSorted, bit) < 0) {
      if (nPos == positions.length) {
        compact()
        if (nPos >= sparseLimit) { densify(); setBit(bit); return }
        if (nPos * 2 > positions.length && positions.length < sparseLimit)
          positions = java.util.Arrays.copyOf(positions,
            math.min(positions.length * 2, sparseLimit))
      }
      positions(nPos) = bit
      nPos += 1
    }

  /** Sort the bits appended since the last compaction into the sorted
    * prefix, dropping repeats. */
  private def compact(): Unit = if (nSorted < nPos) {
    java.util.Arrays.sort(positions, nSorted, nPos)
    val out = new Array[Int](positions.length)
    var i = 0; var j = nSorted; var n = 0
    while (i < nSorted || j < nPos) {
      val v =
        if (j == nPos || (i < nSorted && positions(i) <= positions(j))) { i += 1; positions(i - 1) }
        else { j += 1; positions(j - 1) }
      if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
    }
    positions = out
    nPos = n
    nSorted = n
  }

  private def densify(): Unit = if (words == null) {
    words = new Array[Long](numWords)
    var i = 0
    while (i < nPos) { words(positions(i) >>> 6) |= 1L << (positions(i) & 63); i += 1 }
    positions = null
    nPos = 0
    nSorted = 0
  }
}

object BloomFilter {
  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val bb = ByteBuffer.wrap(bytes)
    val version = bb.get()
    require(version == 1 || version == 2, s"unknown bloom sketch version $version")
    val f = new BloomFilter(bb.getInt(), bb.getInt())
    if (version == 1) {
      f.densify()
      var i = 0
      while (i < f.numWords) { f.words(i) = bb.getLong(); i += 1 }
    } else {
      val n = bb.remaining() / 4
      require(bb.remaining() % 4 == 0 && n < f.sparseLimit, "malformed bloom sketch (v2)")
      f.positions = new Array[Int](math.max(n, f.positions.length))
      var i = 0
      while (i < n) {
        val bit = bb.getInt()
        require(bit >= 0 && bit < f.numBits && (i == 0 || bit > f.positions(i - 1)),
          "malformed bloom sketch (v2): positions must be increasing and below m")
        f.positions(i) = bit
        i += 1
      }
      f.nPos = n
      f.nSorted = n
    }
    f
  }
}

/** Aggregate a long key column into a serialized Bloom filter.
  * `numBits` sizes the filter: FPR ≈ (1 − e^(−k·n/m))^k — at 10 bits/key
  * and k=7 that's ~1%; size for the CORPUS cardinality, not the partition,
  * since partial filters OR together. */
case class BloomSketchAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] with UnaryLike[Expression] {

  override def prettyName: String = "bloom_sketch"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_sketch requires BIGINT input, got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomFilter =
    new BloomFilter(numBits, numHashes)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter =
    buffer.merge(other)

  override def eval(buffer: BloomFilter): Any = buffer.serialize()
  override def serialize(buffer: BloomFilter): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomSketchAgg =
    copy(child = newChild)
}

/** OR-merge STORED filters — the cross-day union: yesterday's corpus filter
  * ∪ today's increment, no raw re-scan. All inputs must share (m, k). */
case class BloomMergeAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] with UnaryLike[Expression] {

  override def prettyName: String = "bloom_merge"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_merge requires BINARY sketch input, got ${child.dataType.sql}")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomFilter =
    new BloomFilter(numBits, numHashes)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.merge(BloomFilter.deserialize(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter =
    buffer.merge(other)

  override def eval(buffer: BloomFilter): Any = buffer.serialize()
  override def serialize(buffer: BloomFilter): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomMergeAgg =
    copy(child = newChild)
}

/** Probe: `bloom_might_contain(<filter literal>, key)`. The filter side
  * must be FOLDABLE (a literal / broadcast-collected bytes — the same
  * contract as Spark's internal BloomFilterMightContain): it is
  * deserialized ONCE per executor, not per row, and the probe loop is
  * codegen'd against the shared filter object. A per-row column filter
  * would deserialize a KB–MB bitset for every probe row — analysis-time
  * error instead. */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {

  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a BINARY filter, got ${left.dataType.sql}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires a FOLDABLE filter (collect the " +
          "built filter and pass it as a literal) so it deserializes once, " +
          "not once per probe row")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a BIGINT key, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  // the foldable filter child may still fold to NULL (lit(null) cast to
  // binary); deserialize only when bytes exist so planning/codegen never
  // NPEs — a null filter yields a null result through the normal
  // null-propagation path instead
  @transient private lazy val filterBytes: Array[Byte] =
    left.eval(null).asInstanceOf[Array[Byte]]
  @transient private lazy val filter: BloomFilter =
    BloomFilter.deserialize(filterBytes)

  override def nullSafeEval(bytes: Any, key: Any): Any =
    java.lang.Boolean.valueOf(filter.mightContain(key.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (filterBytes == null) {
      // left child folds to null → nullSafeCodeGen's null check always
      // fires; the body below is unreachable but must still compile
      nullSafeCodeGen(ctx, ev, (_, _) => s"${ev.value} = false;")
    } else {
      // the deserialized filter rides along as a codegen reference object;
      // the literal bytes child only participates in the (constant) null check
      val bf = ctx.addReferenceObj("bloomFilter", filter, classOf[BloomFilter].getName)
      nullSafeCodeGen(ctx, ev, (_, key) => s"${ev.value} = $bf.mightContain($key);")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/** Response-scale probe twin of [[BloomMightContain]] for PER-ROW filter
  * columns — e.g. one filter per group coming out of an aggregate, probed
  * on the handful of result rows a front-end formats. The filter is
  * deserialized per DISTINCT byte array (reference-identity cache, same
  * trick as [[CmsEstimateCount]]), so a frame with G groups pays G
  * decodes, not G×rows. Deliberately [[CodegenFallback]] and deliberately
  * NOT for scan gating: a full-scan probe must use the foldable
  * [[BloomMightContain]], which decodes once and codegens the loop. */
case class BloomProbeRow(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression]
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "bloom_probe_row"
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_probe_row requires a BINARY filter, got ${left.dataType.sql}")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_probe_row requires a BIGINT key, got ${right.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private var cachedRef: Array[Byte] = _
  @transient private var cached: BloomFilter = _

  override def nullSafeEval(bytes: Any, key: Any): Any = {
    val b = bytes.asInstanceOf[Array[Byte]]
    if (!(b eq cachedRef)) {
      cached = BloomFilter.deserialize(b)
      cachedRef = b
    }
    java.lang.Boolean.valueOf(cached.mightContain(key.asInstanceOf[Long]))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomProbeRow =
    copy(left = newLeft, right = newRight)
}

object BloomProbeRow {
  def apply(filter: Column, key: Column): Column =
    ColumnBridge.column(BloomProbeRow(
      ColumnBridge.expression(filter), ColumnBridge.expression(key)))
}

object BloomSketchAgg {
  def apply(c: Column): Column = apply(c, 1 << 20, 7)
  def apply(c: Column, numBits: Int, numHashes: Int): Column =
    ColumnBridge.column(
      BloomSketchAgg(ColumnBridge.expression(c), numBits, numHashes)
        .toAggregateExpression())
}

object BloomMergeAgg {
  def apply(c: Column): Column = apply(c, 1 << 20, 7)
  def apply(c: Column, numBits: Int, numHashes: Int): Column =
    ColumnBridge.column(
      BloomMergeAgg(ColumnBridge.expression(c), numBits, numHashes)
        .toAggregateExpression())
}

object BloomMightContain {
  def apply(filter: Column, key: Column): Column =
    ColumnBridge.column(BloomMightContain(
      ColumnBridge.expression(filter), ColumnBridge.expression(key)))
}
