package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The tool layer stays thin: every `main` builds its session and times
  * its noop write through [[Harness]], so no file under src/main/scala but
  * Harness.scala may call `SparkSession.builder` or `.format("noop").save()`.
  * (A streaming `writeStream.format("noop")` sink is not a timing loop and
  * does not match.) Comment lines are skipped. */
class ToolingGuardSpec extends AnyFunSuite {

  private val banned = Seq("SparkSession.builder", ".format(\"noop\").save()")

  private def hits(root: Path): Seq[(Path, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }.flatMap { f =>
    Files.readAllLines(f).asScala
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*") }
      .flatMap(l => banned.filter(l.contains)).map(f -> _)
  }

  test("only Harness.scala builds a session or times a noop write") {
    val all = hits(Paths.get("src/main/scala"))
    val (harness, others) = all.partition(_._1.getFileName.toString == "Harness.scala")
    // the scan is not vacuous: it sees both patterns in the harness itself
    assert(harness.map(_._2).toSet == banned.toSet)
    assert(others.isEmpty, others.map { case (f, p) => s"$f: $p" }.mkString("\n"))
  }
}
