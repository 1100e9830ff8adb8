package graft.llm

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** End-to-end recall gates for the text near-dup family, driving the REAL
  * production queries (they read `documents.parquet` from a directory — the
  * fixture writes a synthetic corpus with known near-dup pairs there).
  * The driver's DuckDB oracle checks equality-to-SQL-replay for
  * dedup_minhash; RECALL (does banding actually find the near-dups?) is
  * only checkable against a corpus with known true pairs — that's this
  * spec. dedup_simhash has no oracle at all (64-bit wraparound FNV isn't
  * DuckDB-expressible), so this spec is its sole correctness gate. */
class DedupSpec extends graft.SparkSpec {
  import spark.implicits._

  private val nBase = 30

  /** Corpus: nBase bases, nBase near-dups (`nReplace` words swapped),
    * nBase unrelated. True pairs are (i, i+nBase). */
  private def makeCorpus(wordsPerDoc: Int, nReplace: Int, seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    def doc(): Seq[String] = Seq.fill(wordsPerDoc)("w" + rnd.nextInt(500000))
    val bases = Seq.fill(nBase)(doc())
    val dups = bases.map { d =>
      (0 until nReplace).foldLeft(d) { (acc, k) =>
        acc.updated(5 + k * (wordsPerDoc / (nReplace + 1)), "x" + rnd.nextInt(500000))
      }
    }
    val noise = Seq.fill(nBase)(doc())
    val rows = (bases ++ dups ++ noise).zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, "en", "src" + (i % 3), text.length.toLong)
    }
    val dir = Files.createTempDirectory("graft-dedup").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** 2 of 40 words replaced → shingle jaccard ≈ 0.8 (ngram/minhash regime). */
  private lazy val corpusDir: String = makeCorpus(40, 2, 31)

  /** 1 of 200 words replaced (0.5%) — simhash's design regime is
    * near-IDENTICAL docs: each edit shifts every bit's majority vote by up
    * to 4 against a margin of ~√200, so hamming ≤ 3 of 64 only tolerates
    * sub-percent edits. (Coarser near-dups are minhash/ngram territory —
    * the families are complementary, which is why all three ship.) */
  private lazy val longCorpusDir: String = makeCorpus(200, 1, 37)

  private def truePairHits(result: org.apache.spark.sql.DataFrame): Long =
    result.filter(col("db") === col("da") + nBase && col("da") < nBase).count()

  /** Containment's design regime — SUB-document duplication: doc i+nBase is
    * an 18-word slice of doc i (60 words), so containment ≈ 1.0 while
    * jaccard ≈ 16/58 ≈ 0.28 — below the symmetric family's threshold. */
  private lazy val containCorpusDir: String = {
    val rnd = new scala.util.Random(41)
    def doc(): Seq[String] = Seq.fill(60)("w" + rnd.nextInt(500000))
    val bases = Seq.fill(nBase)(doc())
    val subs = bases.map(_.slice(10, 28))
    val noise = Seq.fill(nBase)(doc())
    val rows = (bases ++ subs ++ noise).zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, "en", "src" + (i % 3), text.length.toLong)
    }
    val dir = Files.createTempDirectory("graft-contain").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup_containment catches embedded sub-documents symmetric jaccard misses") {
    val out = Dedup.dedupContainment(spark, containCorpusDir)
    assert(truePairHits(out) === nBase.toLong)
    // the same true pairs sit BELOW the symmetric threshold: jaccard ≈ 16/58
    val jac = Dedup.dedupNgram(spark, containCorpusDir)
    assert(truePairHits(jac) === 0L)
  }

  test("one-sided prefix containment is EXACTLY dedup_containment (pigeonhole guarantee)") {
    val full = Dedup.dedupContainment(spark, containCorpusDir).collect().map(_.toString).toSeq
    val pref = Dedup.dedupContainmentPrefix(spark, containCorpusDir).collect().map(_.toString).toSeq
    assert(pref === full)
    assert(full.nonEmpty)
  }

  test("dedup_clusters groups transitive near-dup chains into one component") {
    val rnd = new scala.util.Random(7)
    def doc(n: Int): Seq[String] = Seq.fill(n)("w" + rnd.nextInt(500000))
    // trio of exact duplicates (0,1,2); a mutation chain (100→101→102:
    // each one word off its predecessor — transitivity must merge all
    // three even if the ends don't pair directly); unrelated noise
    val same = doc(40)
    val c0 = doc(60)
    val c1 = c0.updated(7, "xa")
    val c2 = c1.updated(49, "xb")
    val rows =
      Seq((0L, same), (1L, same), (2L, same),
        (100L, c0), (101L, c1), (102L, c2)) ++
        (200L to 219L).map(i => (i, doc(40)))
    val dir = Files.createTempDirectory("graft-cc").toString
    rows.map { case (id, ws) => (id, ws.mkString(" "), "en", "src0", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = Dedup.dedupClusters(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(byId(0L) === ((3L, "0,1,2")))
    assert(byId(100L)._1 === 3L, byId.toString)
    assert(byId(100L)._2 === "100,101,102")
    // noise docs form no clusters
    assert(out.forall(_.getLong(0) < 200L), out.mkString(";"))
  }

  test("driver union-find short-circuit labels exactly like the " +
    "distributed min-label fixpoint") {
    // forward idea aa: same pair set through both engines — a chain, a
    // star, a 2-cycle merge, singleton-free noise pairs
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),            // chain: min 1 reaches 4
      (10L, 11L), (10L, 12L), (10L, 13L),      // star
      (20L, 21L), (21L, 22L), (22L, 20L),      // cycle
      (30L, 31L), (4L, 30L))                   // late merge into the chain
      .toDF("da", "db")
    val fast = Dedup.clusterLabelsFrom(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dist = Dedup.clusterLabelsFrom(pairs, driverMax = -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(fast === dist)
    // and the labels are the component minima
    assert(fast.filter(_._1 <= 4L).forall(_._2 == 1L))
    assert(fast.filter(p => p._1 >= 30L).forall(_._2 == 1L),
      "the 30-31 pair merges into the chain through 4")
    assert(fast.filter(p => p._1 >= 10L && p._1 <= 13L).forall(_._2 == 10L))
    assert(fast.filter(p => p._1 >= 20L && p._1 <= 22L).forall(_._2 == 20L))
  }

  test("dedup_ngram (exact jaccard with hot-shingle cap) finds every true pair") {
    val out = Dedup.dedupNgram(spark, corpusDir)
    assert(truePairHits(out) === nBase.toLong)
    // and flags no unrelated pair above the 0.3 threshold
    assert(out.filter(!(col("db") === col("da") + nBase && col("da") < nBase)).count() === 0)
  }

  test("prefix-filtered jaccard is EXACTLY dedup_ngram (the PPJoin guarantee)") {
    val full = Dedup.dedupNgram(spark, corpusDir).collect().map(_.toString).toSeq
    val pref = Dedup.dedupNgramPrefix(spark, corpusDir).collect().map(_.toString).toSeq
    assert(pref === full)
    assert(full.nonEmpty)
  }

  test("dedup_minhash banding recovers >= 80% of jaccard~0.8 pairs, verified exactly") {
    val out = Dedup.dedupMinhash(spark, corpusDir)
    val hits = truePairHits(out)
    assert(hits >= (nBase * 0.8).toLong, s"minhash recovered $hits of $nBase")
    // every reported pair carries its EXACT jaccard (candidates are
    // verified, not trusted), so no pair below the 0.5 floor appears
    assert(out.agg(min("jaccard")).head().getDouble(0) >= 0.5)
  }

  test("dedup_simhash recovers near-identical long docs within hamming <= 3") {
    val out = Dedup.dedupSimhash(spark, longCorpusDir)
    val hits = truePairHits(out)
    assert(hits >= (nBase * 0.7).toLong, s"simhash recovered $hits of $nBase")
  }

  test("in-row minhash signatures equal the batch groupBy pipeline's exactly") {
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
    val batch = Dedup.minhashBandsFromShingles(Dedup.shinglesOf(docs))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val inRow = Dedup.minhashInRow(docs)
      .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(col("bands")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(inRow === batch)
  }

  test("online gate: a streamed near-dup of the corpus is flagged, a novel doc is not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
    val corpusBands = Dedup.minhashBandsFromShingles(Dedup.shinglesOf(corpus))
    val corpusSets = Dedup.docShingleSets(corpus)

    // a near-dup of corpus doc 0 (2 of its 40 words changed — the same
    // regime the fixture's true pairs use) and an unrelated doc
    val base = corpus.filter(col("doc_id") === 0L)
      .head().getAs[String]("text").split(" ")
    val nearDup = base.updated(7, "zzz1").updated(23, "zzz2").mkString(" ")
    val novel = (1 to 40).map(i => s"q$i").mkString(" ")

    val in = MemoryStream[(Long, String)](spark)
    val q = Dedup.dedupAgainstCorpus(
        in.toDF().toDF("doc_id", "text"), corpusBands, corpusSets)
      .writeStream.format("memory").queryName("gate").outputMode("append").start()
    try {
      in.addData((1000L, nearDup), (1001L, novel))
      q.processAllAvailable()
      val hits = spark.table("gate")
        .select("doc_id", "corpus_doc").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((1000L, 0L)), s"near-dup not flagged: $hits")
      assert(!hits.exists(_._1 == 1001L), s"novel doc falsely flagged: $hits")
    } finally q.stop()
  }

  test("MJS multi-index banding: same hamming<=3 pairs, wider (sparser) buckets") {
    // the pigeonhole guarantee is exact for BOTH schemes, so the verified
    // pair sets must be identical — MJS only changes which candidates get
    // enumerated before the hamming verify
    val md5 = Dedup.dedupSimhashMd5(spark, longCorpusDir).collect().toSeq
    val mjs = Dedup.dedupSimhashMjs(spark, longCorpusDir).collect().toSeq
    assert(md5.nonEmpty, "fixture produced no hamming<=3 pairs at all")
    assert(mjs === md5)
    // and it still recovers the planted near-identical pairs
    assert(truePairHits(Dedup.dedupSimhashMjs(spark, longCorpusDir))
      >= (nBase * 0.7).toLong)

    // the scale claim, measured on FALSE collisions (the mass that grows
    // quadratically at corpus scale): over random signatures — no true
    // near-dups, so every bucket collision is a wasted candidate — the
    // per-bucket collision mass (Σ n·(n−1)/2 = candidate-join cost) of
    // 30-bit keys must be far below 15-bit keys. (On the tiny fixture
    // above the comparison flips, because TRUE pairs collide in ~10 of 20
    // MJS tables vs 3 of 4 bands — duplication the `distinct` absorbs;
    // what matters at 10⁹ docs is the false mass, and that scales with
    // tables · pairs / 2^key_bits.)
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val rnd2 = new scala.util.Random(53)
    val randSigs = spark.createDataFrame(
      (0 until 5000).map(i => (i.toLong, rnd2.nextLong() & ((1L << 60) - 1))))
      .toDF("doc_id", "sig")
    def pairMass(bands: org.apache.spark.sql.DataFrame): Long =
      bands.groupBy("band", "bh").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1) / 2)).head().getDouble(0).toLong
    val mass15 = pairMass(Dedup.simhash15Bands(randSigs))
    val massMjs = pairMass(Dedup.simhashMjsBands(randSigs))
    // expectation: ~1500 false candidates for 4×15, ~0.2 for 20×30
    assert(massMjs * 10 < mass15,
      s"MJS false-candidate mass $massMjs not far below 4x15's $mass15")
  }

  test("substring fingerprints are alignment-free: a shared passage selects " +
      "the same windows at any offset") {
    import spark.implicits._
    // one 30-token passage embedded at DIFFERENT offsets in two docs whose
    // other tokens are disjoint — position-based striding would miss it
    val passage = (1 to 30).map(i => s"p$i").mkString(" ")
    val docA = ((1 to 7).map(i => s"a$i") :+ passage).mkString(" ")
    val docB = ((1 to 13).map(i => s"b$i") :+ passage :+ "b_tail").mkString(" ")
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val fp = Dedup.substringFingerprints(docs).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // windows fully inside the passage select identically in both docs;
    // md5 is fixed, so this is deterministic (verified non-empty: the
    // 15 passage-only windows yield selected hashes at p=4)
    val shared = fp(1L) intersect fp(2L)
    assert(shared.nonEmpty, s"no shared selected window: $fp")
    // and nothing OUTSIDE the passage collides across the two docs:
    // every shared hash must also appear when the passage stands alone
    val alone = Dedup.substringFingerprints(
        Seq((3L, passage)).toDF("doc_id", "text")).collect()
      .map(_.getLong(1)).toSet
    assert(shared.subsetOf(alone), "shared windows leak outside the passage")
  }

  test("online substring gate: a streamed doc embedding a corpus span is " +
      "flagged, a novel doc is not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
    val index = Dedup.substringIndex(corpus)
    // embed corpus doc 0's full text at an arbitrary offset; novel filler
    val span = corpus.filter(col("doc_id") === 0L).head().getAs[String]("text")
    val embedded = ((1 to 9).map(i => s"x$i") :+ span :+ "x_tail").mkString(" ")
    val novel = (1 to 60).map(i => s"q$i").mkString(" ")

    val in = MemoryStream[(Long, String)](spark)
    val q = Dedup.substringGateAgainstCorpus(
        in.toDF().toDF("doc_id", "text"), index)
      .writeStream.format("memory").queryName("sgate").outputMode("append").start()
    try {
      in.addData((2000L, embedded), (2001L, novel))
      q.processAllAvailable()
      val hits = spark.table("sgate").select("doc_id", "owner").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((2000L, 0L)), s"embedded span not flagged: $hits")
      assert(!hits.exists(_._1 == 2001L), s"novel doc falsely flagged: $hits")
    } finally q.stop()
  }

  test("substring trim drops repeats only from non-canonical docs") {
    import spark.implicits._
    val passage = (1 to 30).map(i => s"p$i").mkString(" ")
    val docA = ((1 to 7).map(i => s"a$i") :+ passage).mkString(" ")
    val docB = ((1 to 13).map(i => s"b$i") :+ passage :+ "b_tail").mkString(" ")
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val out = Dedup.substringTrim(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    // the owner (doc 1, lowest id) loses nothing
    assert(out(1L) === (37L, 0L))
    // doc 2 loses tokens, all from inside the passage, never its own text
    val (n2, dropped2) = out(2L)
    assert(n2 === 44L)
    assert(dropped2 > 0L && dropped2 <= 30L,
      s"trim touched tokens outside the shared passage: dropped $dropped2")
  }

  test("contamination report: per-bench-item offender count, worst doc, " +
    "and shingle coverage") {
    import spark.implicits._
    val t10 = (1 to 10).map(i => s"t$i").mkString(" ")     // 8 shingles
    val bench = Seq(
      (1L, t10),                                           // contaminated
      (2L, (1 to 10).map(i => s"z$i").mkString(" "))       // clean
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, t10),                                          // full copy: 8 shared
      (11L, (1 to 5).map(i => s"t$i").mkString(" ")),      // 3 shared (>= min)
      (12L, (1 to 6).map(i => s"t$i").mkString(" ") + " q7 q8"), // 4 shared
      (13L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")              // unrelated
    ).toDF("doc_id", "text")
    val rows = Dedup.contamReport(corpus, bench).collect()
    assert(rows.length === 1, "clean bench item must not appear")
    val r = rows.head
    assert(r.getAs[Long]("bench_id") === 1L)
    assert(r.getAs[Long]("n_contaminating") === 3L)
    assert(r.getAs[Long]("worst_doc") === 10L)
    assert(r.getAs[Long]("max_shared") === 8L)
    // the full copy alone covers all 8 bench shingles
    assert(r.getAs[Long]("n_covered") === 8L && r.getAs[Long]("n_bsh") === 8L)
    assert(r.getAs[Double]("contamination_frac") === 1.0)
  }

  test("contamination report worst-doc tie-break is the smallest doc_id") {
    import spark.implicits._
    val span = (1 to 6).map(i => s"s$i").mkString(" ")      // 4 shingles
    val bench = Seq((1L, span)).toDF("doc_id", "text")
    val corpus = Seq((21L, span + " x1"), (20L, span + " y1"))
      .toDF("doc_id", "text")                               // both share all 4
    val r = Dedup.contamReport(corpus, bench).collect().head
    assert(r.getAs[Long]("max_shared") === 4L)
    assert(r.getAs[Long]("worst_doc") === 20L)
  }
}
