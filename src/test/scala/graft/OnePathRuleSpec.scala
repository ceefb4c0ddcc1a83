package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source rules that keep three "one path" designs from eroding: a
  * streaming twin runs its batch aggregation on Spark's own stateful
  * operators (no hand-written `*GroupsWithState` state machine), the
  * function library reaches a session only through [[GraftExtensions]]
  * (no session-scoped temp-function copy), and the shipped jar carries
  * only the three entry points (dev and verification mains live in
  * `src/test/scala/graft/dev`).
  */
class OnePathRuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val banned = Seq("mapGroupsWithState", "flatMapGroupsWithState",
    "createOrReplaceTempFunction")

  private lazy val mainSources = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no mapGroupsWithState, flatMapGroupsWithState or " +
      "createOrReplaceTempFunction under src/main/scala") {
    assert(mainSources.exists(_.endsWith("GraftExtensions.scala")))
    val offenders = for {
      f <- mainSources
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1} ($b)"
    assert(offenders.isEmpty, s"banned operators in src/main: $offenders")
  }

  test("only Main, Bench and Verify define a main under src/main/scala") {
    val withMain = mainSources.filter { f =>
      val src = Files.readString(f)
      src.contains("def main(") || src.contains("extends App")
    }.map(_.getFileName.toString).sorted
    assert(withMain == List("Bench.scala", "Main.scala", "Verify.scala"))
  }
}
