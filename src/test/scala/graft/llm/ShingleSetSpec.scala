package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** The set-based stages of the hygiene chain — per-doc shingle sets
  * ([[Dedup.docShingleSets]]), MinHash pairs scored from them
  * ([[Dedup.minhashScoredPairsOfSets]]) and the bench overlap
  * ([[Dedup.benchOverlaps]]) — against a reference built from the
  * exploded (doc_id, h) shingle table ([[Dedup.shinglesOf]] regrouped by
  * [[Dedup.docShingleSetsFromShingles]], and a distinct-based overlap), on a
  * hand-built corpus and benchmark whose every row is an edge case. */
class ShingleSetSpec extends graft.SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] = (1 to n).map(i => s"$prefix$i")

  // a near-duplicate chain A~B~C: B swaps 3 words of A, C 3 more of B, so
  // A~B and B~C sit near jaccard 0.62 and A~C near 0.36 — C joins A's
  // cluster only through B
  private val a = words("w", 40)
  private val b = a.updated(5, "bq1").updated(17, "bq2").updated(29, "bq3")
  private val c = b.updated(11, "cx1").updated(23, "cx2").updated(35, "cx3")

  private lazy val bench: DataFrame = Seq(
    1L -> "the quick brown fox jumps",
    // shares "the quick brown" with bench doc 1: that shingle counts once
    2L -> "the quick brown cat sleeps",
    3L -> "ok")
    .toDF("doc_id", "text")

  private lazy val corpus: DataFrame = Seq(
    // shares its id with bench doc 2 and is checked like any corpus doc:
    // 3 bench overlaps drop it, and its kk shingles stay on the corpus
    // side, so doc 33 has no bench overlap
    2L -> "the quick brown fox jumps kk1 kk2 kk3 kk4 kk5",
    33L -> "kk1 kk2 kk3 kk4 kk5 vv1 vv2 vv3 vv4 vv5 vv6",
    20L -> "hello world",                            // fewer than 3 tokens
    21L -> Seq.fill(12)("la").mkString(" "),         // one shingle, repeated
    22L -> Seq.fill(5)("la").mkString(" "),          // the same single shingle
    30L -> "the quick brown fox zz1 zz2 zz3",        // 2 bench overlaps: minOverlap − 1
    31L -> "the quick brown fox jumps yy1 yy2",      // 3 bench overlaps: minOverlap
    32L -> "the quick brown the quick brown the quick brown", // 1 overlap, hit 3 times
    40L -> a.mkString(" "),
    41L -> b.mkString(" "),
    42L -> c.mkString(" "),
    50L -> words("u", 30).mkString(" "))
    .toDF("doc_id", "text")

  private def hyg(df: DataFrame): DataFrame =
    df.select(col("doc_id"), Pipeline.hygienicText(col("text")).as("text"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The chain's survivors rebuilt from the exploded shingle table. */
  private def referenceSurvivors(minOverlap: Int): DataFrame = {
    val cSh = Dedup.shinglesOf(hyg(corpus))
    val bSh = Dedup.shinglesOf(hyg(bench))
    val drop = Dedup.clusterLabelsFrom(
        Dedup.minhashScoredPairsOfSets(Dedup.docShingleSetsFromShingles(cSh))
          .filter(col("jaccard") >= 0.5))
      .filter(col("id") =!= col("lbl")).select(col("id").as("doc_id"))
    val contaminated = cSh.join(bSh.select("h").distinct(), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOverlap).select("doc_id")
    hyg(corpus)
      .join(drop, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  test("shingle sets hold exactly the exploded shingle table, one row per doc") {
    val sets = Dedup.docShingleSets(corpus)
    assert(sets.columns.toSeq === Seq("doc_id", "hs", "n_sh"))
    assert(rows(sets.select(col("doc_id"), explode(col("hs")).as("h"))) ===
      rows(Dedup.shinglesOf(corpus)))
    val got = sets.collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(!got.contains(20L), "a doc of fewer than 3 tokens has no shingle")
    assert(got(21L)._1.size === 1 && got(21L)._2 === 1L, "a repeated shingle counts once")
    got.values.foreach { case (hs, n) =>
      assert(hs === hs.distinct.sorted && n === hs.size.toLong, hs) }
  }

  test("MinHash pairs scored from the sets equal the exploded pipeline's") {
    val fromSets = Dedup.minhashScoredPairsOfSets(Dedup.docShingleSets(corpus))
    val exploded = Dedup.minhashScoredPairsOfSets(
      Dedup.docShingleSetsFromShingles(Dedup.shinglesOf(corpus)))
    assert(rows(fromSets) === rows(exploded))
    val pairs = fromSets.filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(pairs === Set((21L, 22L), (40L, 41L), (41L, 42L)), pairs)
  }

  test("a repeated doc_id keeps one shingle set per row") {
    // doc 60 comes twice: once as a copy of doc 40, once as unrelated
    // text. The in-row sets keep a row each, so the copy pairs with 40
    // and 41; the exploded table merges both rows into one set of 38 + 48
    // shingles, whose jaccard with doc 40 is 38/86
    val docs = Seq(40L -> a.mkString(" "), 41L -> b.mkString(" "),
      60L -> a.mkString(" "), 60L -> words("u", 50).mkString(" "))
      .toDF("doc_id", "text")
    assert(Dedup.docShingleSets(docs).filter(col("doc_id") === 60L).count() === 2L)
    def pairIds(df: DataFrame) = df.filter(col("jaccard") >= 0.5).collect()
      .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    val g = Dedup.PairGraph.of(docs)
    assert(pairIds(g.pairs) === Set((40L, 41L), (40L, 60L), (41L, 60L)))
    assert(rows(g.labels) === Seq("[40,40]", "[41,40]", "[60,40]"))
    val exploded = Dedup.minhashScoredPairsOfSets(
      Dedup.docShingleSetsFromShingles(Dedup.shinglesOf(docs)))
    assert(pairIds(exploded) === Set((40L, 41L)))
  }

  test("bench overlap counts a shingle shared by two bench docs once") {
    val overlaps = Dedup.benchOverlaps(Dedup.docShingleSets(corpus), Dedup.docShingleSets(bench))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    assert(overlaps === Map(2L -> 3L, 30L -> 2L, 31L -> 3L, 32L -> 1L))
    // decontaminate's report equals the distinct-based exploded form
    val cSh = Dedup.shinglesOf(corpus)
    val sizes = cSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    for (m <- Seq(1, 2, 3)) {
      val ref = cSh.join(Dedup.shinglesOf(bench).select("h").distinct(), Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .join(sizes, Seq("doc_id"))
        .withColumn("overlap_frac", round(col("n_overlap").cast("double") / col("n_sh"), 4))
        .filter(col("n_overlap") >= m)
        .select("doc_id", "n_overlap", "n_sh", "overlap_frac")
        .orderBy(desc("n_overlap"), asc("doc_id"))
      assert(Dedup.decontaminate(corpus, bench, m).collect().toSeq === ref.collect().toSeq, m)
    }
  }

  test("corpusSurvivors equals the exploded reference on adversarial rows") {
    for (m <- Seq(2, 3)) {
      val got = Pipeline.corpusSurvivors(corpus, bench, minOverlap = m)
      assert(rows(got) === rows(referenceSurvivors(m)), m)
    }
    val ids = Pipeline.corpusSurvivors(corpus, bench).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // 22, 41 and 42 fall to their clusters' min ids; 31 is contaminated
    // at exactly minOverlap, 30 one short of it, 32 hits one shingle
    // thrice; 2 is contaminated although bench doc 2 has its id, and 33
    // shares shingles only with corpus doc 2
    assert(ids === Set(20L, 21L, 30L, 32L, 33L, 40L, 50L), ids)
  }

  test("corpusHygiene packs the reference survivors with their final md5") {
    val ref = referenceSurvivors(3)
    val refPacked = TextOps.packChunks(ref, 2048L, 8L)
      .join(ref.select(col("doc_id"), md5(col("text")).as("final_md5")), Seq("doc_id"))
      .select("doc_id", "shard", "n_tok", "chunk_id", "chunk_offset", "final_md5")
    val got = Pipeline.corpusHygiene(corpus, bench)
    assert(got.columns.toSeq === refPacked.columns.toSeq)
    assert(rows(got) === rows(refPacked))
  }

  test("union-find cluster labels are a sized local relation the planner broadcasts; " +
    "driverMax = 1 still runs the distributed loop") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val local = Dedup.clusterLabelsFrom(pairs)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      local.queryExecution.analyzed)
    val size = local.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 0 && size < spark.sessionState.conf.defaultSizeInBytes, size)
    val anti = spark.range(1000).toDF("doc_id")
      .join(local.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    assert(anti.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      anti.queryExecution.executedPlan)
    var dist: DataFrame = null
    val labels = jobLabelsDuring { dist = Dedup.clusterLabelsFrom(pairs, driverMax = 1L) }
    assert(labels.contains(Some("dedup.cc_labels")), labels)
    assert(!dist.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(rows(dist) === rows(local))
  }
}
