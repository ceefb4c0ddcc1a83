package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Source rules that keep two "one path" designs from eroding: a
  * streaming twin runs its batch aggregation on Spark's own stateful
  * operators (no hand-written `*GroupsWithState` state machine), and the
  * function library reaches a session only through [[GraftExtensions]]
  * (no session-scoped temp-function copy).
  */
class OnePathRuleSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val banned = Seq("mapGroupsWithState", "flatMapGroupsWithState",
    "createOrReplaceTempFunction")

  test("no mapGroupsWithState, flatMapGroupsWithState or " +
      "createOrReplaceTempFunction under src/main/scala") {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.exists(_.getFileName.toString == "GraftExtensions.scala"))
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${i + 1} ($b)"
    assert(offenders.isEmpty, s"banned operators in src/main: $offenders")
  }
}
