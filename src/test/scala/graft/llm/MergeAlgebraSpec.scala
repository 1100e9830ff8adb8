package graft.llm

import org.apache.spark.sql.functions._

/** Property gates for the DISTRIBUTIVE MERGE ALGEBRAS behind the
  * streamed stores (ST9 manifest, ST11 quality): the whole
  * exactly-once story rests on "any partition of the corpus, merged in
  * any order, equals the one-shot readout". The example-based specs pin
  * one split; these pin the CLAIM over generated corpora and random
  * multi-way splits (deterministic scalacheck seeds — reproducible
  * failures). */
class MergeAlgebraSpec extends graft.SparkSpec {

  import spark.implicits._
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  // generated documents rows: tiny vocab (forces shared shingles and
  // duplicated tokens), mixed sources, a few empty-ish texts
  private def corpus(n: Int, seed: Long) = {
    val word = Gen.oneOf("the", "a", "of", "data", "spark", "tok", "x9")
    val row = for {
      nw <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(nw, word)
      src <- Gen.oneOf("src0", "src1", "src2")
      lang <- Gen.oneOf("en", "de")
    } yield (ws.mkString(" "), lang, src)
    Gen.listOfN(n, row).pureApply(Gen.Parameters.default, Seed(seed))
      .zipWithIndex
      .map { case ((text, lang, src), i) =>
        (i.toLong, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  // a deterministic pseudo-random B-way split by doc id hash
  private def parts(df: org.apache.spark.sql.DataFrame, b: Int) =
    (0 until b).map(i =>
      df.filter(pmod(xxhash64(col("doc_id")), lit(b)) === i))

  test("property: shard-manifest merge over any random split equals the " +
    "one-shot whole-corpus manifest") {
    for ((seed, b) <- Seq((11L, 2), (12L, 3), (13L, 5))) {
      val docs = corpus(120, seed)
      val whole = TextOps.shardManifest(docs)
        .collect().map(_.toString).toSeq
      val merged = TextOps.mergeManifests(
          parts(docs, b).map(TextOps.shardManifest(_)): _*)
        .collect().map(_.toString).toSeq
      assert(merged === whole, s"seed=$seed b=$b")
    }
  }

  test("property: quality-monitor merge over any random split equals the " +
    "one-shot per-source readout") {
    for ((seed, b) <- Seq((21L, 2), (22L, 4))) {
      val docs = corpus(150, seed)
      val whole = TextOps.qualityMergeFrom(TextOps.qualityPartialsOf(docs))
        .collect().map(_.toString).toSeq
      val merged = TextOps.qualityMergeFrom(
          parts(docs, b).map(TextOps.qualityPartialsOf(_))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(merged === whole, s"seed=$seed b=$b")
      // and merging the same partials in reversed order changes nothing
      val reversed = TextOps.qualityMergeFrom(
          parts(docs, b).reverse.map(TextOps.qualityPartialsOf(_))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(reversed === whole, s"order-dependence at seed=$seed b=$b")
    }
  }

  test("property: classifier pass-rate partials against a frozen model " +
    "merge to the one-shot scoring over any random split") {
    for ((seed, b) <- Seq((31L, 2), (32L, 4))) {
      val docs = corpus(150, seed)
      // the frozen model: trained once on the WHOLE generated corpus —
      // what makes per-doc scores batch-independent
      val model = TextOps.nbModelOf(docs).localCheckpoint()
      val whole = graft.streaming.Streams.classifierMergeFrom(
          graft.streaming.Streams.classifierPartialsOf(docs, model))
        .collect().map(_.toString).toSeq
      val merged = graft.streaming.Streams.classifierMergeFrom(
          parts(docs, b)
            .map(graft.streaming.Streams.classifierPartialsOf(_, model))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(merged === whole, s"seed=$seed b=$b")
      // reversed merge order changes nothing (decimal sums, counts)
      val reversed = graft.streaming.Streams.classifierMergeFrom(
          parts(docs, b).reverse
            .map(graft.streaming.Streams.classifierPartialsOf(_, model))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(reversed === whole, s"order-dependence at seed=$seed b=$b")
    }
  }

  test("property: incremental pair-graph growth equals the one-shot " +
    "full-corpus pair set on corpora with injected near-dups") {
    // docs long enough to shingle, with deliberate duplicate TEXTS so
    // real pairs exist on both sides of every random split
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "tok")
    val doc = for {
      nw <- Gen.chooseNum(4, 10)
      ws <- Gen.listOfN(nw, word)
    } yield ws.mkString(" ")
    for (seed <- Seq(41L, 42L)) {
      val texts = Gen.listOfN(25, doc)
        .pureApply(Gen.Parameters.default, Seed(seed))
      // each text appears twice at different ids — guaranteed near-dups
      val docs = (texts ++ texts).zipWithIndex
        .map { case (t0, i) => (i.toLong, t0) }.toDF("doc_id", "text")
      val full = Dedup.pairsReadout(Dedup.PairGraph.of(docs).pairs)
        .collect().map(_.toString).toSeq
      assert(full.nonEmpty, s"seed $seed produced no near-dup pairs")
      val inc = Dedup.pairsDeltaOf(
          docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 0),
          docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) =!= 0))
        .orderBy(desc("jaccard"), asc("da"), asc("db"))
        .collect().map(_.toString).toSeq
      assert(inc === full, s"incremental growth drifted at seed $seed")
    }
  }

  test("property: manifest diff recovers the complement of any random " +
    "slice") {
    val docs = corpus(100, 31L)
    val slice = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) === 0)
    val rest = docs.filter(pmod(xxhash64(col("doc_id")), lit(3)) =!= 0)
    // diff drops the id-range columns (ranges don't subtract); compare
    // the subtractive columns
    val cols = Seq("shard", "n_docs", "n_tokens", "n_bytes", "content_fp")
    val diff = TextOps.diffManifests(
        TextOps.shardManifest(docs), TextOps.shardManifest(slice))
      .select(cols.map(col): _*).collect().map(_.toString).toSeq
    val direct = TextOps.shardManifest(rest)
      .select(cols.map(col): _*).collect().map(_.toString).toSeq
    assert(diff === direct)
  }

  test("property: the frozen-LM score store merged over any random split " +
    "re-ranks to the one-shot perplexity tiers (ST17's algebra)") {
    for ((seed, b) <- Seq((21L, 2), (22L, 3), (23L, 4))) {
      val docs = corpus(90, seed)
      val (ab0, ctx0, v0) = TextOps.bigramLmOf(docs)
      val (ab, ctx, v) =
        (ab0.localCheckpoint(), ctx0.localCheckpoint(), v0.localCheckpoint())
      val merged = parts(docs, b)
        .map(TextOps.bigramNllAgainstLm(_, ab, ctx, v))
        .reduce(_.unionByName(_))
      val whole = TextOps.pplBucketsOf(docs).collect().map(_.toString).toSeq
      val reranked = TextOps.pplTiersFrom(merged)
        .collect().map(_.toString).toSeq
      assert(reranked === whole, s"seed=$seed b=$b")
    }
  }

  test("property: tier sizes partition each source within 1 (larger " +
    "first), nll ranges are ordered, and the gate keeps exactly the " +
    "allowed tiers' mass") {
    for (seed <- Seq(31L, 32L, 33L)) {
      val docs = corpus(75, seed)
      val tiers = TextOps.pplBucketsOf(docs).collect()
      assert(tiers.map(_.getAs[Long]("n_docs")).sum === 75L, s"seed=$seed")
      tiers.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
        val r = rows.sortBy(_.getAs[Int]("bucket"))
        assert(r.map(_.getAs[Int]("bucket")).toSeq === (1 to r.length),
          s"$src seed=$seed tiers not dense")
        val sizes = r.map(_.getAs[Long]("n_docs"))
        assert(sizes.max - sizes.min <= 1, s"$src seed=$seed ${sizes.toSeq}")
        assert(sizes.sameElements(sizes.sortBy(x => -x)),
          s"$src seed=$seed ${sizes.toSeq}")
        r.sliding(2).foreach {
          case Array(a, c) =>
            assert(a.getAs[Double]("max_nll") <= c.getAs[Double]("min_nll"),
              s"$src seed=$seed ranges out of order")
          case _ =>
        }
      }
      val kept = TextOps.pplGateOf(docs).collect()
        .filter(_.getAs[Boolean]("keep"))
        .groupBy(_.getAs[String]("source")).view
        .mapValues(_.length.toLong).toMap
      tiers.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
        val curated = src.stripPrefix("src").toInt % 3 == 0
        val allowed = rows.filter { r =>
          if (curated) r.getAs[Int]("bucket") <= 2
          else r.getAs[Int]("bucket") == 1
        }.map(_.getAs[Long]("n_docs")).sum
        assert(kept.getOrElse(src, 0L) === allowed,
          s"$src seed=$seed gate mass != allowed tier mass")
      }
    }
  }

  test("property: inverted-index df partials over any random split merge " +
    "to the one-shot dictionary, argmax-doc ties included") {
    for ((seed, b) <- Seq((41L, 2), (42L, 3), (43L, 5))) {
      // the tiny vocab forces heavy term sharing AND cross-part tf ties,
      // exactly the cases where a wrong merge (sum of max, or a tie rule
      // that forgets the doc id) diverges
      val docs = corpus(120, seed)
      val whole = TextOps.invertedIndexOf(docs)
        .collect().map(_.toString).toSeq
      val merged = TextOps.invertedIndexMergeFrom(
          parts(docs, b).map(TextOps.dfPartialsOf(_))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(merged === whole, s"seed=$seed b=$b")
      // merging the same partials in reversed order changes nothing
      val reversed = TextOps.invertedIndexMergeFrom(
          parts(docs, b).reverse.map(TextOps.dfPartialsOf(_))
            .reduce(_ unionByName _))
        .collect().map(_.toString).toSeq
      assert(reversed === whole, s"order-dependence at seed=$seed b=$b")
    }
  }
}
