package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free lint: each of the library's single-helper decisions is made
  * by one helper, so a forbidden call in `src/main/scala` code (comment
  * lines excluded) outside that helper's body fails. */
class MaterializeLintSpec extends AnyFunSuite {

  /** A forbidden call and the one helper def, in `file` under the source
    * root, whose body may make it. */
  private case class Rule(call: Regex, file: String, helper: String)

  /** The rule table: one row per single-helper decision. */
  private val rules = Seq(
    Rule("""localCheckpoint\(""".r, "graft/operators/Common.scala", "materialize"),
    Rule("""\bread\b.*\.parquet\(""".r, "graft/Tables.scala", "parquet"))
  private val Seq(checkpoint, parquetRead) = rules

  /** The (file, 1-based line) of every code line making `rule`'s call
    * outside the body of its helper: from the helper's def to the next def. */
  private def strays(root: Path, rule: Rule): Seq[(Path, Int)] = {
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq.sorted
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      val body: Range =
        if (root.relativize(f) != Paths.get(rule.file)) 0 until 0
        else {
          val start = lines.indexWhere(_.contains(s"def ${rule.helper}("))
          val end = lines.indexWhere(_.contains("def "), start + 1)
          if (start < 0) 0 until 0 else start until (if (end < 0) lines.size else end)
        }
      lines.zipWithIndex.collect {
        case (l, i) if rule.call.findFirstIn(l).isDefined && !body.contains(i) && {
            val t = l.trim
            !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
          } => (f, i + 1)
      }
    }
  }

  private val src = Paths.get("src/main/scala")

  test("no localCheckpoint( in src/main/scala outside Common.materialize") {
    assert(Files.isDirectory(src.resolve("graft/operators")))
    assert(strays(src, checkpoint) === Nil)
  }

  test("no parquet read in src/main/scala outside Tables.parquet") {
    assert(Files.isRegularFile(src.resolve(parquetRead.file)))
    assert(strays(src, parquetRead) === Nil)
  }

  test("the lint flags a code line, and skips comments and the helper's body") {
    val root = Files.createTempDirectory("graft-lint")
    val ops = Files.createDirectories(root.resolve("graft/operators"))
    Files.writeString(ops.resolve("Common.scala"),
      """object Common {
        |  def materialize(df: DataFrame, label: String): DataFrame = {
        |    try df.localCheckpoint()
        |    finally ()
        |  }
        |  def other(df: DataFrame) = df.localCheckpoint()
        |}
        |""".stripMargin)
    Files.writeString(root.resolve("graft/Tables.scala"),
      """object Tables {
        |  def parquet(spark: SparkSession, path: String): DataFrame =
        |    spark.read.schema(schema).parquet(path)
        |  def t(spark: SparkSession, path: String) = spark.read.parquet(path)
        |}
        |""".stripMargin)
    val llm = Files.createDirectories(root.resolve("graft/llm"))
    Files.writeString(llm.resolve("Ops.scala"),
      """object Ops {
        |  // df.localCheckpoint() in a line comment
        |  /** df.localCheckpoint() in a doc comment
        |    * df.localCheckpoint() on a continuation line */
        |  val x = df.filter(keep).localCheckpoint()
        |  // s.read.parquet(dir) in a line comment
        |  val y = s.read.parquet(s"$dir/pairs")
        |  val z = s.read.option("mergeSchema", "true").parquet(dir)
        |}
        |""".stripMargin)
    def flagged(rule: Rule) =
      strays(root, rule).map { case (f, n) => root.relativize(f).toString -> n }
    assert(rules.map(flagged) === Seq(
      Seq("graft/llm/Ops.scala" -> 5, "graft/operators/Common.scala" -> 6),
      Seq("graft/Tables.scala" -> 4, "graft/llm/Ops.scala" -> 7, "graft/llm/Ops.scala" -> 8)))
  }
}
