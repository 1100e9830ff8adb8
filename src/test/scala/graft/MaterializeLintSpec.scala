package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free lint: `Common.materialize` is the library's only eager
  * materialization, so a `localCheckpoint(` call in `src/main/scala` code
  * (comment lines excluded) anywhere else fails. */
class MaterializeLintSpec extends AnyFunSuite {

  /** The (file, 1-based line) of every code line calling localCheckpoint
    * outside the body of `def materialize` in operators/Common.scala. */
  private def strayCheckpoints(root: Path): Seq[(Path, Int)] = {
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq.sorted
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      // the helper's body: from its def to the next def
      val body: Range =
        if (root.relativize(f) != Paths.get("graft/operators/Common.scala")) 0 until 0
        else {
          val start = lines.indexWhere(_.contains("def materialize("))
          val end = lines.indexWhere(_.contains("def "), start + 1)
          if (start < 0) 0 until 0 else start until (if (end < 0) lines.size else end)
        }
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("localCheckpoint(") && !body.contains(i) && {
            val t = l.trim
            !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
          } => (f, i + 1)
      }
    }
  }

  test("no localCheckpoint( in src/main/scala outside Common.materialize") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root.resolve("graft/operators")))
    assert(strayCheckpoints(root) === Nil)
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
    val llm = Files.createDirectories(root.resolve("graft/llm"))
    Files.writeString(llm.resolve("Ops.scala"),
      """object Ops {
        |  // df.localCheckpoint() in a line comment
        |  /** df.localCheckpoint() in a doc comment
        |    * df.localCheckpoint() on a continuation line */
        |  val x = df.filter(keep).localCheckpoint()
        |}
        |""".stripMargin)
    assert(strayCheckpoints(root).map { case (f, n) => root.relativize(f).toString -> n } ===
      Seq("graft/llm/Ops.scala" -> 5, "graft/operators/Common.scala" -> 6))
  }
}
