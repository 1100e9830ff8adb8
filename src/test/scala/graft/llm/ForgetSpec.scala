package graft.llm

import org.apache.spark.sql.functions._

/** Pins for the forget-propagation family (T13b–T13e): the tombstone
  * delta applied to a stored artifact must (a) equal a rebuild from the
  * purged corpus and (b) be idempotent — a redelivered compliance feed is
  * a no-op. The driver's DuckDB oracle re-proves (a) cross-engine at
  * every gate SF; these pins prove the FRAME ALGEBRA inside Spark,
  * including the component-split and min-id-rename cases a random corpus
  * may not exercise. */
class ForgetSpec extends graft.SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def pairsOf(rows: Seq[(Long, Long, Double)]) =
    rows.toDF("da", "db", "jaccard")

  test("forgetPairFrames: component split, min-id rename, untouched " +
    "component verbatim, and singleton drop-out") {
    // components: {1,2,3} (2 bridges), {5,6}, {10,11,12} (11 bridges)
    val pairs = pairsOf(Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.7),
      (10L, 11L, 0.95), (11L, 12L, 0.6)))
    val labels = Dedup.clusterLabelsFrom(pairs)
    val tomb = Seq(2L, 11L).toDF("doc_id")
    val (kept, relab) = Forget.forgetPairFrames(pairs, labels, tomb)
    // both bridged components dissolve to singletons (no surviving edges
    // -> no label rows, matching a rebuild); {5,6} survives verbatim
    assert(kept.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 6L)))
    assert(relab.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((5L, 5L), (6L, 5L)))
  }

  test("forgetPairFrames: removing a component's min id renames the " +
    "surviving component to its new minimum") {
    val pairs = pairsOf(Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (1L, 3L, 0.7)))
    val labels = Dedup.clusterLabelsFrom(pairs)
    val tomb = Seq(1L).toDF("doc_id")
    val (kept, relab) = Forget.forgetPairFrames(pairs, labels, tomb)
    assert(kept.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((2L, 3L)))
    assert(relab.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((2L, 2L), (3L, 2L)))
  }

  test("forgetPairFrames is idempotent: a redelivered tombstone feed is " +
    "a no-op on the already-forgotten store") {
    val pairs = pairsOf(Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.7), (10L, 11L, 0.95)))
    val labels = Dedup.clusterLabelsFrom(pairs)
    val tomb = Seq(2L, 10L).toDF("doc_id")
    val (p1, l1) = Forget.forgetPairFrames(pairs, labels, tomb)
    val (p2, l2) = Forget.forgetPairFrames(p1, l1, tomb)
    assert(p2.collect().toSet === p1.collect().toSet)
    assert(l2.collect().toSet === l1.collect().toSet)
  }

  test("pair-graph forget equals rebuild-from-purged on the real corpus " +
    "(labels AND pairs, in-engine)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val tomb = docs.select("doc_id").filter(col("doc_id") % 37 === 0)
    val fullPairs = Dedup.PairGraph.of(docs).pairs
    val fullLabels = Dedup.clusterLabelsFrom(fullPairs)
    val (kept, relab) = Forget.forgetPairFrames(fullPairs, fullLabels, tomb)
    val purged = docs.filter(col("doc_id") % 37 =!= 0)
    val rebuiltPairs = Dedup.PairGraph.of(purged).pairs
    assert(kept.collect().toSet === rebuiltPairs.collect().toSet)
    assert(Dedup.clusterLabelsFrom(rebuiltPairs).collect().toSet
      === relab.collect().toSet)
  }

  test("kNN-graph forget: the re-rank delta (re-probe ONLY the queries " +
    "that lost a neighbor) equals the full rebuild over the purged " +
    "membership, and the delta is genuinely partial") {
    val stored = Forget.simForgetKnn(spark, sf).collect().toSeq
    val tomb = graft.Tables.t(spark, sf, "embeddings")
      .select("vec_id").filter(col("vec_id") % 37 === 0)
    val mem = Similarity.knnMembership(Similarity.Ivf.stored(spark, sf)(), p = 3)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
    val rebuilt = Similarity.knnEdgesFromMem(mem, k = 3)
      .orderBy("src", "rnk").collect().toSeq
    assert(stored === rebuilt)
    // partial: some surviving query lost a neighbor (re-probed), some
    // did not (served verbatim from the stored edges)
    val edges = Similarity.queries("sim_knn_graph")(spark, sf)
    val affected = edges
      .join(broadcast(tomb.select(col("vec_id").as("dst"))), Seq("dst"), "left_semi")
      .select("src").distinct().count()
    val survivors = edges
      .join(broadcast(tomb.select(col("vec_id").as("src"))), Seq("src"), "left_anti")
      .select("src").distinct().count()
    assert(affected > 0 && affected < survivors,
      s"delta not partial: $affected affected of $survivors surviving queries")
  }

  test("the forget delta PLANS as broadcast anti-joins — one scan over " +
    "the stored artifact, no shuffle for the delete") {
    val pairs = pairsOf(Seq((1L, 2L, 0.9), (5L, 6L, 0.7)))
    val labels = Dedup.clusterLabelsFrom(pairs)
    val tomb = Seq(2L).toDF("doc_id")
    val (kept, _) = Forget.forgetPairFrames(pairs, labels, tomb)
    val p = kept.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ST27: the streamed tombstone feed converges the dictionary store " +
    "under reordering AND redelivery") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val t37 = docs.select("doc_id").filter(col("doc_id") % 37 === 0)
    val t41 = docs.select("doc_id").filter(col("doc_id") % 41 === 0)
    def build(order: Seq[(org.apache.spark.sql.DataFrame, Long)]): Seq[org.apache.spark.sql.Row] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-st27").toString
      val nB = graft.streaming.Streams.dictBatches
      (0L until nB).foreach { b =>
        graft.streaming.Streams.dfStoreSink(
          docs.filter(col("doc_id") % nB === b), b, s"$dir/c")
      }
      order.foreach { case (tb, id) =>
        graft.streaming.Streams.forgetStoreSink(spark, docs, tb, id, dir) }
      graft.streaming.Streams.dfStoreReadout(spark, s"$dir/c").collect().toSeq
    }
    val ordered = build(Seq((t37, 0L), (t41, 1L)))
    // batch 1 FIRST, then batch 0, then a redelivery of batch 1: the
    // cumulative tombstone set is monotone, so the store converges to
    // the same fully-purged dictionary
    val shuffled = build(Seq((t41, 1L), (t37, 0L), (t41, 1L)))
    assert(ordered === shuffled)
    assert(ordered.nonEmpty)
  }

  test("T13e delta is genuinely partial: a single-batch tombstone set " +
    "re-processes ONLY its batch; every other partition is copied " +
    "verbatim (r17 verdict #3 — the %37 gate rule hits all batches, so " +
    "this pin exercises the branch the gate cannot)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val nB = graft.streaming.Streams.dictBatches
    val base = java.nio.file.Files.createTempDirectory("graft-t13e").toString
    (0L until nB).foreach { b =>
      graft.streaming.Streams.dfStoreSink(
        docs.filter(col("doc_id") % nB === b), b, s"$base/c")
    }
    val tomb = docs.select("doc_id")
      .filter(col("doc_id") % nB === 3 && col("doc_id") % 5 === 0)
    assert(tomb.count() > 0)
    val out = java.nio.file.Files.createTempDirectory("graft-t13e-out").toString
    val affected = Forget.forgottenDictInto(spark, docs, tomb, s"$base/c", s"$out/c")
    // |affected| < |batches| and the untouched copies are bit-equal
    assert(affected === Seq(3L))
    val untouchedBase = spark.read.parquet(s"$base/c")
      .filter(col("batch_id") =!= 3).collect().toSet
    val untouchedOut = spark.read.parquet(s"$out/c")
      .filter(col("batch_id") =!= 3).collect().toSet
    assert(untouchedOut === untouchedBase && untouchedOut.nonEmpty)
    // and the merged readout still equals the one-shot purged build
    val readout = graft.streaming.Streams
      .dfStoreReadout(spark, s"$out/c").collect().toSeq
    val oneShot = TextOps.invertedIndexOf(
      docs.join(broadcast(tomb), Seq("doc_id"), "left_anti")).collect().toSeq
    assert(readout === oneShot)
  }

  test("ST27: a single-batch tombstone feed leaves the untouched " +
    "dictionary partitions' FILES byte-identical (dynamic overwrite " +
    "rewrites only the affected batch)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val nB = graft.streaming.Streams.dictBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-st27p").toString
    (0L until nB).foreach { b =>
      graft.streaming.Streams.dfStoreSink(
        docs.filter(col("doc_id") % nB === b), b, s"$dir/c")
    }
    def snap(): Map[String, String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/c"))
        .filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(f.toPath))
          f.getPath -> md.map("%02x".format(_)).mkString
        }.toMap
    }
    val before = snap()
    val tomb = docs.select("doc_id")
      .filter(col("doc_id") % nB === 5 && col("doc_id") % 3 === 0)
    assert(tomb.count() > 0)
    graft.streaming.Streams.forgetStoreSink(spark, docs, tomb, 0L, dir)
    val after = snap()
    val (touched, untouched) =
      before.keySet.partition(_.contains("batch_id=5"))
    assert(untouched.nonEmpty &&
      untouched.forall(p => after.get(p).contains(before(p))),
      "an untouched partition's file was rewritten")
    // the affected partition WAS rewritten (its old files are gone or
    // replaced — the purged re-derive produces different partials)
    assert(touched.nonEmpty && !touched.forall(p => after.get(p).contains(before(p))))
  }

  test("forgetStoreSink redelivery with a DIFFERENT payload unions, " +
    "never erases: the store converges to purge-by-(A UNION B)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val nB = graft.streaming.Streams.dictBatches
    val dir = java.nio.file.Files.createTempDirectory("graft-st27u").toString
    (0L until nB).foreach { b =>
      graft.streaming.Streams.dfStoreSink(
        docs.filter(col("doc_id") % nB === b), b, s"$dir/c")
    }
    val tA = docs.select("doc_id").filter(col("doc_id") % 37 === 0)
    val tB = docs.select("doc_id").filter(col("doc_id") % 41 === 0)
    graft.streaming.Streams.forgetStoreSink(spark, docs, tA, 0L, dir)
    // accidental batch-id reuse: SAME feed batch id, drifted payload —
    // the union keeps A's tombstones in force
    graft.streaming.Streams.forgetStoreSink(spark, docs, tB, 0L, dir)
    val readout = graft.streaming.Streams
      .dfStoreReadout(spark, s"$dir/c").collect().toSeq
    val purged = docs
      .join(broadcast(tA.unionByName(tB)), Seq("doc_id"), "left_anti")
    assert(readout === TextOps.invertedIndexOf(purged).collect().toSeq)
  }

  test("manifestForget algebra: counts subtract, xor self-cancels, " +
    "ranges re-derive ONLY for endpoint-dead groups, fully-purged " +
    "groups vanish, and the delta is idempotent") {
    // three groups: g=0 loses its min doc (endpoint dead -> range
    // re-derive), g=1 loses a middle doc (pure algebra), g=2 loses all
    def docRows(rows: Seq[(Long, Long, Long, Long, Long)]) =
      rows.toDF("shard", "doc_id", "n_toks", "n_bytes", "content_h")
    val all = docRows(Seq(
      (0L, 1L, 10L, 100L, 7L), (0L, 2L, 20L, 200L, 11L), (0L, 3L, 30L, 300L, 13L),
      (1L, 4L, 40L, 400L, 17L), (1L, 5L, 50L, 500L, 19L), (1L, 6L, 60L, 600L, 23L),
      (2L, 7L, 70L, 700L, 29L)))
    val base = all.groupBy("shard").agg(
      count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
      sum("n_bytes").as("n_bytes"), min("doc_id").as("min_doc"),
      max("doc_id").as("max_doc"), expr("bit_xor(content_h)").as("content_fp"))
    val dead = Set(1L, 5L, 7L)
    val tomb = all.filter(col("doc_id").isin(dead.toSeq: _*))
    val surv = all.filter(!col("doc_id").isin(dead.toSeq: _*))
    val got = Forget.manifestForget(base, tomb, surv, Seq("shard"))
    val want = surv.groupBy("shard").agg(
      count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"),
      sum("n_bytes").as("n_bytes"), min("doc_id").as("min_doc"),
      max("doc_id").as("max_doc"), expr("bit_xor(content_h)").as("content_fp"))
      .orderBy("shard")
    assert(got.collect().toSeq === want.collect().toSeq)
    assert(got.count() === 2) // group 2 vanished
    // idempotent: forgetting the same tombstones from the forgotten
    // manifest is a no-op (the tomb partial now matches no stored doc —
    // feed an EMPTY tomb frame, as a redelivered feed resolves to after
    // its anti-join upstream)
    val again = Forget.manifestForget(got,
      tomb.filter(lit(false)), surv, Seq("shard"))
    assert(again.collect().toSeq === got.collect().toSeq)
  }

  test("export-store forget rewrites ONLY the affected shard " +
    "partitions, copies the rest verbatim, and physically removes the " +
    "tombstoned docs' rows") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("graft-exp").toString
    docs.withColumn("shard", TextOps.shardCol(16))
      .write.mode("overwrite").partitionBy("shard").parquet(s"$base/docs")
    // one specific doc -> exactly one affected shard
    val one = docs.select("doc_id").orderBy("doc_id").limit(1)
    val out = java.nio.file.Files.createTempDirectory("graft-exp-out").toString
    val affected = Forget.forgottenExportInto(
      spark, one, s"$base/docs", s"$out/docs")
    assert(affected.size === 1)
    val written = spark.read.parquet(s"$out/docs")
      .withColumn("shard", col("shard").cast("long"))
    val tombId = one.collect()(0).getLong(0)
    assert(written.filter(col("doc_id") === tombId).count() === 0)
    // untouched shards: row sets identical to the base store
    val baseDf = spark.read.parquet(s"$base/docs")
      .withColumn("shard", col("shard").cast("long"))
    val untouchedWant = baseDf.filter(col("shard") =!= affected.head)
      .collect().toSet
    val untouchedGot = written.filter(col("shard") =!= affected.head)
      .collect().toSet
    assert(untouchedGot === untouchedWant && untouchedGot.nonEmpty)
  }

  test("novelty-store forget re-processes ONLY the affected batches and " +
    "equals the purged-corpus rebuild (grams re-min to their first " +
    "surviving doc)") {
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text")
    val nB = graft.streaming.Streams.dictBatches
    val base = java.nio.file.Files.createTempDirectory("graft-nov").toString
    (0L until nB).foreach { b =>
      graft.streaming.Streams.noveltyStoreSink(
        docs.filter(col("doc_id") % nB === b), b, s"$base/n")
    }
    val tomb = docs.select("doc_id")
      .filter(col("doc_id") % nB === 2 && col("doc_id") % 7 === 0)
    assert(tomb.count() > 0)
    val out = java.nio.file.Files.createTempDirectory("graft-nov-out").toString
    val affected = Forget.forgottenNoveltyInto(
      spark, docs, tomb, s"$base/n", s"$out/n")
    assert(affected === Seq(2L))
    // untouched gram partitions equal the base store's
    val gWant = spark.read.parquet(s"$base/n/grams")
      .filter(col("batch_id") =!= 2).collect().toSet
    val gGot = spark.read.parquet(s"$out/n/grams")
      .filter(col("batch_id") =!= 2).collect().toSet
    assert(gGot === gWant && gGot.nonEmpty)
    // readout equals the one-shot purged rebuild
    val got = graft.streaming.Streams
      .noveltyStoreReadout(spark, s"$out/n").collect().toSeq
    val want = TextOps.ngramNoveltyOf(
      docs.join(broadcast(tomb), Seq("doc_id"), "left_anti")).collect().toSeq
    assert(got === want)
  }

  test("SQ8 forget: the stats artifact stays FROZEN (byte-equal) and the " +
    "codes are exactly the survivors' — the sim_forget_sq8 readout " +
    "equals the purged recompute under full-corpus stats") {
    val baseDir = Similarity.sq8StoreDir(spark, sf)
    Forget.simForgetSq8(spark, sf).count() // build the forgotten store
    val fDir = Artifacts.dir(spark, "sq8_forgotten", sf)
    assert(spark.read.parquet(s"$fDir/stats").collect().toSeq ===
      spark.read.parquet(s"$baseDir/stats").collect().toSeq)
    val baseCodes = spark.read.parquet(s"$baseDir/codes")
    val fCodes = spark.read.parquet(s"$fDir/codes")
    assert(fCodes.filter(col("vec_id") % 37 === 0).count() === 0)
    assert(fCodes.count() ===
      baseCodes.filter(col("vec_id") % 37 =!= 0).count())
  }

  test("ST27b as-of: the full-prefix read equals the fully-purged " +
    "dictionary; the k=1 prefix genuinely excludes batch 2's tombstones") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    Seq(37L -> 0L, 41L -> 1L, 43L -> 2L).foreach { case (m, bid) =>
      docs.select("doc_id").filter(col("doc_id") % m === 0)
        .withColumn("batch_id", lit(bid))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(s"$dir/tombs")
    }
    val baseC = s"${graft.streaming.Streams.dfStoreDir(spark, sf)}/c"
    val atK2 = graft.streaming.Streams
      .asofDictRead(spark, docs, baseC, s"$dir/tombs", 2L).collect().toSeq
    val fully = TextOps.invertedIndexOf(docs.filter(
      col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 0 &&
        col("doc_id") % 43 =!= 0)).collect().toSeq
    assert(atK2 === fully)
    val atK1 = graft.streaming.Streams
      .asofDictRead(spark, docs, baseC, s"$dir/tombs", 1L).collect().toSeq
    val twoOnly = TextOps.invertedIndexOf(docs.filter(
      col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 0)).collect().toSeq
    assert(atK1 === twoOnly)
  }

  test("IVF forget equals re-assigning the survivors through the frozen " +
    "quantizer; dictionary forget equals the one-shot purged build") {
    // IVF: the anti-joined store vs assignAgainstCentroids on survivors
    val ivfKey = Forget.simForgetIvf(spark, sf).collect().toSeq
    assert(ivfKey.nonEmpty)
    val cents = Similarity.Ivf.stored(spark, sf)().cents
    val survivors = graft.Tables.t(spark, sf, "embeddings")
      .filter(col("vec_id") % 37 =!= 0)
    val reassigned = Similarity.assignAgainstCentroids(survivors, cents)
      .select(col("cid"), col("nid").as("vec_id"))
      .withColumn("member_h",
        expr("CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("vec_id").as("key_sum"),
        min("vec_id").as("min_vec"), max("vec_id").as("max_vec"),
        expr("bit_xor(member_h)").as("member_fp"))
      .orderBy("cid")
    assert(reassigned.collect().toSeq === ivfKey)
    // dictionary: the partition-reprocessed store vs the one-shot build
    // over the purged corpus — and a REDELIVERED forget batch is a no-op
    val docs = graft.Tables.t(spark, sf, "documents")
    val dictKey = Forget.textForgetDict(spark, sf).collect().toSeq
    val oneShot = TextOps.invertedIndexOf(
      docs.filter(col("doc_id") % 37 =!= 0)).collect().toSeq
    assert(dictKey === oneShot)
    assert(Forget.textForgetDict(spark, sf).collect().toSeq === dictKey)
  }

  test("T13l line-store forget SUBTRACTS: a single-batch tombstone set " +
    "patches only its partition (others bit-equal), the patched merge " +
    "equals the purged one-shot rebuild, and lines that lived only in " +
    "tombstoned docs vanish (zero-count drop)") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val nB = 4L
    val base = java.nio.file.Files.createTempDirectory("graft-t13l").toString
    (0L until nB).foreach { b =>
      graft.streaming.Streams.lineStoreSink(
        docs.filter(col("doc_id") % nB === b), b, s"$base/c")
    }
    val tomb = docs.select("doc_id")
      .filter(col("doc_id") % nB === 1 && col("doc_id") % 3 === 0)
    assert(tomb.count() > 0)
    val out = java.nio.file.Files.createTempDirectory("graft-t13l-out").toString
    val affected = Forget.forgottenLinesInto(
      spark, docs, tomb, nB, s"$base/c", s"$out/c")
    assert(affected === Seq(1L))
    val untouchedBase = spark.read.parquet(s"$base/c")
      .filter(col("batch_id") =!= 1).collect().toSet
    val untouchedOut = spark.read.parquet(s"$out/c")
      .filter(col("batch_id") =!= 1).collect().toSet
    assert(untouchedOut === untouchedBase && untouchedOut.nonEmpty)
    // the subtraction-patched merge equals the rebuild from the purged
    // corpus — including the zero-drop (every tombstoned doc contributes
    // a doc-unique boilerplate-footer line set, so SOME row must vanish)
    val purged = docs.join(broadcast(tomb), Seq("doc_id"), "left_anti")
    val got = graft.streaming.Streams.lineStoreFreqs(spark, s"$out/c")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = TextOps.lineFreqsOf(purged)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
    val baseMerged = graft.streaming.Streams.lineStoreFreqs(spark, s"$base/c")
      .collect().map(_.getString(0)).toSet
    assert((baseMerged -- got.map(_._1)).nonEmpty,
      "no line vanished — the zero-count drop branch was not exercised")
  }

  test("T13m sketch-store forget RE-PROCESSES (sketches cannot subtract): " +
    "one user's tombstone rebuilds only the days that user touched, " +
    "other day partitions stay bit-equal, and the re-merged window pins " +
    "green against the purged raw events") {
    val ev = graft.Tables.t(spark, sf, "events")
    val base = java.nio.file.Files.createTempDirectory("graft-t13m").toString
    graft.operators.Aggregates.sketchPartialsOf(ev)
      .write.mode("overwrite").partitionBy("day").parquet(s"$base/daily")
    val oneUser = ev.agg(min("user_id")).collect()(0).getLong(0)
    val tombUsers = Seq(oneUser).toDF("user_id")
    val allDays = spark.read.parquet(s"$base/daily")
      .select(col("day").cast("string")).distinct().collect()
      .map(_.getString(0)).toSet
    val out = java.nio.file.Files.createTempDirectory("graft-t13m-out").toString
    val affected = Forget.forgottenSketchInto(
      spark, ev, tombUsers, s"$base/daily", s"$out/daily")
    assert(affected.nonEmpty && affected.size < allDays.size,
      s"delta not partial: ${affected.size} of ${allDays.size} days")
    val untouchedBase = spark.read.parquet(s"$base/daily")
      .withColumn("day", col("day").cast("string"))
      .filter(!col("day").isin(affected: _*))
      .select("day", "event_type", "n").collect().toSet
    val untouchedOut = spark.read.parquet(s"$out/daily")
      .withColumn("day", col("day").cast("string"))
      .filter(!col("day").isin(affected: _*))
      .select("day", "event_type", "n").collect().toSet
    assert(untouchedOut === untouchedBase && untouchedOut.nonEmpty)
    // full-history window re-merged from the forgotten store pins green
    // against the purged raw events (count exact, p50/HLL in band)
    val purged = ev.join(broadcast(tombUsers), Seq("user_id"), "left_anti")
    val (lo, hi) = ("2024-01-01", "2024-12-31")
    val pins = graft.operators.Aggregates.dashboardPinsOver(purged,
      graft.operators.Aggregates.sketchMergeFrame(
        spark.read.parquet(s"$out/daily"), lo, hi), lo, hi).collect()
    assert(pins.nonEmpty)
    pins.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
        s"pin failed for ${r.getString(0)}: $r")
    }
    // idempotence: re-running the forget against the forgotten store
    // with the same tombstones is a no-op on the readout
    val out2 = java.nio.file.Files.createTempDirectory("graft-t13m-2").toString
    Forget.forgottenSketchInto(spark, purged, tombUsers, s"$out/daily", s"$out2/daily")
    val m1 = graft.operators.Aggregates.sketchMergeFrame(
      spark.read.parquet(s"$out/daily"), lo, hi)
      .select("event_type", "n", "users_est").collect().toSeq
    val m2 = graft.operators.Aggregates.sketchMergeFrame(
      spark.read.parquet(s"$out2/daily"), lo, hi)
      .select("event_type", "n", "users_est").collect().toSeq
    assert(m1 === m2)
  }
}
