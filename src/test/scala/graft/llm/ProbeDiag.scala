package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scratch diagnostic (not a test): measures, for each brute-force
  * mutual top-3 pair, the centroid-rank each endpoint would need to
  * probe to see the other — calibrates the multi-probe `p` for
  * [[Similarity.KnnGraph.of]]. Run: sbt 'Test/runMain graft.llm.ProbeDiag' */
object ProbeDiag {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val embs = graft.Tables.t(spark, "/root/testdata/sf0.01", "embeddings")
    val vecs = embs.select(col("vec_id"), col("embedding"))
      .withColumn("n2", graft.functions.DotProduct(col("embedding"), col("embedding")))
    val a = vecs.select(col("vec_id").as("src"), col("embedding").as("av"), col("n2").as("an"))
    val b = vecs.select(col("vec_id").as("dst"), col("embedding").as("bv"), col("n2").as("bn"))
    val w = Window.partitionBy("src").orderBy(desc("cos"), asc("dst"))
    val top = a.crossJoin(b).filter(col("src") =!= col("dst"))
      .withColumn("cos", graft.functions.DotProduct(col("av"), col("bv"))
        / (sqrt(col("an")) * sqrt(col("bn"))))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ts = top.toSet
    val mutual = ts.filter { case (x, y) => x < y && ts((y, x)) }
    val m = Similarity.Ivf.of(embs, 16)
    val rankOf = m.scored.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cos"), asc("cid"))))
      .select("vec_id", "cid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val primary = rankOf.collect { case ((v, c), 1) => v -> c }.toMap
    val needP = mutual.toSeq.map { case (u, v) =>
      math.max(rankOf((u, primary(v))), rankOf((v, primary(u)))) }
    (1 to 10).foreach(p => println(
      f"RECALL_AT_P p=$p%2d ${needP.count(_ <= p).toDouble / needP.size}%.3f"))
    // symmetric replication: candidate iff topP(u) and topP(v) share a list
    val ranksBy = rankOf.toSeq.groupBy(_._1._1)
      .map { case (v, xs) => v -> xs.map { case ((_, c), r) => c -> r }.toMap }
    val needSym = mutual.toSeq.map { case (u, v) =>
      val (ru, rv) = (ranksBy(u), ranksBy(v))
      ru.keys.map(c => math.max(ru(c), rv(c))).min }
    (1 to 6).foreach(p => println(
      f"SYM_RECALL_AT_P p=$p%2d ${needSym.count(_ <= p).toDouble / needSym.size}%.3f"))
    val sizes = m.assign.groupBy("cid").count().collect().map(_.getLong(1)).sorted
    println("LISTSIZES " + sizes.mkString(","))
    println("NMUTUAL " + mutual.size)
    spark.stop()
  }
}
