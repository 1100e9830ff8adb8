package graft.functions

import org.apache.spark.sql.functions._

/** Bloom filter contracts: no false negatives ever, FPR near theory,
  * OR-merge associativity (partials == one pass), the stored-artifact
  * re-merge path, the foldable-filter analysis-time guard, and the
  * canonical v1 (dense) / v2 (sparse) payloads. */
class BloomSpec extends graft.SparkSpec {
  import spark.implicits._

  private def theoreticalFpr(m: Int, k: Int, n: Int): Double =
    math.pow(1.0 - math.exp(-k.toDouble * n / m), k)

  /** The dense-only filter every payload was before the sparse form: a
    * bitset with the same hashing, written as the v1 payload. The
    * reference the v1 path must keep answering like. */
  private final class DenseModel(m: Int, k: Int) {
    val words = new Array[Long]((m + 63) >>> 6)
    private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    private def bits(key: Long): Seq[Int] = {
      val h1 = mix(key)
      val h2 = mix(key ^ 0xc2b2ae3d27d4eb4fL) | 1L
      (0 until k).map(i => (((h1 + i * h2) & Long.MaxValue) % m).toInt)
    }
    def add(key: Long): Unit = bits(key).foreach(b => words(b >>> 6) |= 1L << (b & 63))
    def mightContain(key: Long): Boolean =
      bits(key).forall(b => (words(b >>> 6) & (1L << (b & 63))) != 0L)
    def merge(o: DenseModel): DenseModel = { words.indices.foreach(i => words(i) |= o.words(i)); this }
    def setBits: Seq[Int] = words.indices.flatMap(w => (0 until 64).filter(b =>
      (words(w) & (1L << b)) != 0L).map(w * 64 + _))
    def serialize(): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(9 + words.length * 8)
      bb.put(1.toByte).putInt(m).putInt(k)
      words.foreach(bb.putLong)
      bb.array()
    }
  }

  /** (m, k, set bits) of a payload of either version, decoded here rather
    * than by the class under test. */
  private def decode(bytes: Array[Byte]): (Int, Int, Seq[Int]) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val version = bb.get()
    val (m, k) = (bb.getInt(), bb.getInt())
    val bits = version match {
      case 1 => (0 until (m + 63) / 64).flatMap { w =>
        val word = bb.getLong()
        (0 until 64).filter(b => (word & (1L << b)) != 0L).map(w * 64 + _)
      }
      case 2 => Seq.fill(bb.remaining() / 4)(bb.getInt())
    }
    (m, k, bits)
  }

  test("no false negatives; false-positive rate tracks theory") {
    val rnd = new scala.util.Random(41)
    val members = Array.fill(20000)(rnd.nextLong())
    val f = new BloomFilter(1 << 18, 7) // ~13 bits/key → theory ≈ 0.2%
    members.foreach(f.add)
    assert(members.forall(f.mightContain), "Bloom false negative — broken filter")
    val probes = Array.fill(50000)(rnd.nextLong()).filterNot(members.contains)
    val fpr = probes.count(f.mightContain).toDouble / probes.length
    val bound = theoreticalFpr(1 << 18, 7, 20000) * 3 + 1e-4
    assert(fpr <= bound, s"fpr=$fpr exceeds 3x theory ($bound)")
  }

  test("partial filters OR-merge to exactly the one-pass filter") {
    val rnd = new scala.util.Random(43)
    val keys = Array.fill(10000)(rnd.nextLong())
    val whole = new BloomFilter(1 << 16, 5)
    keys.foreach(whole.add)
    val a = new BloomFilter(1 << 16, 5)
    val b = new BloomFilter(1 << 16, 5)
    keys.take(5000).foreach(a.add)
    keys.drop(5000).foreach(b.add)
    val merged = BloomFilter.deserialize(a.serialize())
      .merge(BloomFilter.deserialize(b.serialize()))
    // OR of bitsets is exact, not approximate: identical words
    assert(merged.serialize().sameElements(whole.serialize()))
  }

  test("distributed sketch + stored re-merge equals membership over the union") {
    val df = spark.range(0, 5000).select((col("id") * 37L).as("k"),
      (col("id") % 4).as("part"))
    // per-part stored artifacts, then BloomMergeAgg over the binaries
    val parts = df.groupBy("part").agg(BloomSketchAgg(col("k"), 1 << 16, 5).as("bf"))
    val remergedBytes = parts.agg(BloomMergeAgg(col("bf"), 1 << 16, 5).as("m"))
      .head().getAs[Array[Byte]](0)
    val f = BloomFilter.deserialize(remergedBytes)
    (0 until 5000).foreach(i => assert(f.mightContain(i * 37L)))
  }

  test("probe runs as a codegen'd literal; member rows all hit") {
    val members = spark.range(0, 1000).select((col("id") * 101L).as("k"))
    val bytes = members.agg(BloomSketchAgg(col("k"), 1 << 16, 5).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probed = spark.range(0, 2000)
      .select(col("id"), BloomMightContain(lit(bytes), col("id") * 101L).as("hit"))
    val plan = { probed.collect(); probed.queryExecution.executedPlan.toString }
    assert(plan.contains("*("), s"probe fell out of whole-stage codegen:\n$plan")
    assert(probed.filter(col("id") < 1000 && !col("hit")).count() == 0)
  }

  test("sparse and dense forms of the same bits serialize to the same bytes " +
      "and answer the same probes") {
    val rnd = new scala.util.Random(47)
    val (m, k) = (1 << 16, 5)
    val sparse = new BloomFilter(m, k) // 300 keys set < 1500 of 65536 bits
    Array.fill(300)(rnd.nextLong()).foreach(sparse.add)
    val bytes = sparse.serialize()
    assert(bytes(0) == 2 && bytes.length < 9 + 8 * (m / 64), "expected a v2 sparse payload")
    // the same bits as a v1 payload deserialize into the dense form
    val model = new DenseModel(m, k)
    decode(bytes)._3.foreach(b => model.words(b >>> 6) |= 1L << (b & 63))
    val dense = BloomFilter.deserialize(model.serialize())
    assert(dense.serialize().sameElements(bytes), "serialization is not canonical")
    val probes = Array.fill(100000)(rnd.nextLong())
    assert(probes.forall(p => sparse.mightContain(p) == dense.mightContain(p)))
    // and a filter past the switch point writes the v1 payload
    val full = new BloomFilter(m, k)
    Array.fill(5000)(rnd.nextLong()).foreach(full.add)
    assert(full.serialize()(0) == 1 && full.serialize().length == 9 + 8 * (m / 64))
  }

  test("a v1 payload deserializes, merges and probes as the dense-only filter did") {
    val rnd = new scala.util.Random(53)
    val (m, k) = (1 << 16, 5)
    def model(n: Int) = {
      val d = new DenseModel(m, k)
      val keys = Array.fill(n)(rnd.nextLong())
      keys.foreach(d.add)
      (d, keys)
    }
    val (few, fewKeys) = model(100)   // v1 bytes holding few bits
    val (more, _) = model(150)
    val (many, _) = model(6000)       // dense-sized
    val probes = Array.fill(20000)(rnd.nextLong()) ++ fewKeys
    val f = BloomFilter.deserialize(few.serialize())
    assert(probes.forall(p => f.mightContain(p) == few.mightContain(p)))
    // v1 + v1, and a sparse filter + v1, merge to the model's bits
    val merged = BloomFilter.deserialize(few.serialize())
      .merge(BloomFilter.deserialize(more.serialize()))
    val sparse = new BloomFilter(m, k)
    fewKeys.foreach(sparse.add)
    sparse.merge(BloomFilter.deserialize(more.serialize()))
    val expected = new DenseModel(m, k).merge(few).merge(more)
    Seq(merged, sparse).foreach { g =>
      assert(decode(g.serialize()) == ((m, k, expected.setBits)))
      assert(probes.forall(p => g.mightContain(p) == expected.mightContain(p)))
    }
    // a dense-sized merge keeps the exact v1 bytes
    val big = BloomFilter.deserialize(many.serialize())
      .merge(BloomFilter.deserialize(few.serialize()))
    assert(big.serialize().sameElements(new DenseModel(m, k).merge(many).merge(few).serialize()))
  }

  test("BloomSketchAgg past the hash-aggregate fallback (> 128 groups) equals " +
      "one-pass filters per group") {
    // m = 4096 bits switches form at 128 positions, so the 300 groups of
    // 0..39 keys span sparse, dense and empty filters; four partitions
    // each hold every group, past ObjectHashAggregate's 128-key fallback
    val (m, k) = (1 << 12, 5)
    val rows = (0 until 300).flatMap { g =>
      (0 until g % 40).map(i => (g, Option(g * 1000003L + i * 7919L))) :+ ((g, None))
    }
    val df = rows.toDF("g", "key").repartition(4)
    val built = df.groupBy("g").agg(BloomSketchAgg(col("key"), m, k).as("bf"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(built.size == 300)
    rows.groupBy(_._1).foreach { case (g, ks) =>
      val f = new BloomFilter(m, k)
      ks.flatMap(_._2).foreach(f.add)
      assert(built(g).sameElements(f.serialize()), s"group $g")
    }
    assert(built.values.exists(_(0) == 1) && built.values.exists(_(0) == 2))
  }

  test("non-foldable filter column is rejected at analysis time") {
    val df = Seq((Array[Byte](1, 2, 3), 7L)).toDF("bf", "k")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(BloomMightContain(col("bf"), col("k"))).collect()
    }
  }

  test("null filter literal yields null results, not an NPE at planning") {
    // a foldable-but-null filter (e.g. a build over zero rows collected as
    // null) must flow through null propagation, never deserialize(null)
    val probed = spark.range(0, 10)
      .select(BloomMightContain(lit(null).cast("binary"), col("id")).as("hit"))
    assert(probed.collect().forall(_.isNullAt(0)))
  }
}
