package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The tool layer stays thin, and stage cuts, case folds and Spark
  * listeners each go through one place:
  *  - every `main` builds its session and times its noop write through
  *    [[Harness]], so no file under src/main/scala but Harness.scala may
  *    call `SparkSession.builder` or `.format("noop").save()` (a streaming
  *    `writeStream.format("noop")` sink is not a timing loop and does not
  *    match);
  *  - every stage output is materialized through [[StageCut]], so no file
  *    but StageCut.scala may call `.localCheckpoint(`;
  *  - every case fold goes through `graft.functions.text.fold` (ICU root),
  *    so no file but TextFunctions.scala may call `.toLowerCase`;
  *  - every job, stage and plan count comes from [[QueryProfile]], so no
  *    file but QueryProfile.scala, in src/main or src/test, may register a
  *    listener;
  *  - every md5 prefix becomes an integer through
  *    `graft.functions.text.md5_prefix_long`, so no file but
  *    TextFunctions.scala (whose Column reference forms the kernel tests
  *    compare against) may parse hex with `conv(`; a spelling split over
  *    lines still shows its `conv(` token.
  * Comment lines and this spec are skipped; test code keeps its own
  * sessions, cuts and folds. */
class ToolingGuardSpec extends AnyFunSuite {

  private def hits(root: Path, banned: Seq[String]): Seq[(Path, String)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .filterNot(_.getFileName.toString == "ToolingGuardSpec.scala")
    finally files.close()
  }.flatMap { f =>
    Files.readAllLines(f).asScala
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("//") || t.startsWith("/*") }
      .flatMap(l => banned.filter(l.contains)).map(f -> _)
  }

  /** Hits of `banned` under `roots` must all sit in `owner`, and the owner
    * itself must show every pattern (the scan is not vacuous). */
  private def onlyIn(owner: String, banned: Seq[String],
                     roots: Seq[String] = Seq("src/main/scala")): Unit = {
    val (own, others) = roots.flatMap(r => hits(Paths.get(r), banned))
      .partition(_._1.getFileName.toString == owner)
    assert(own.map(_._2).toSet == banned.toSet)
    assert(others.isEmpty, others.map { case (f, p) => s"$f: $p" }.mkString("\n"))
  }

  test("only Harness.scala builds a session or times a noop write") {
    onlyIn("Harness.scala", Seq("SparkSession.builder", ".format(\"noop\").save()"))
  }

  test("only StageCut.scala materializes a stage cut") {
    onlyIn("StageCut.scala", Seq(".localCheckpoint("))
  }

  test("only TextFunctions.scala folds case") {
    onlyIn("TextFunctions.scala", Seq(".toLowerCase"))
  }

  test("only TextFunctions.scala parses hex with conv(") {
    onlyIn("TextFunctions.scala", Seq("conv("))
  }

  test("only QueryProfile.scala listens") {
    onlyIn("QueryProfile.scala", Seq("addSparkListener(", "listenerManager.register("),
      roots = Seq("src/main/scala", "src/test/scala"))
  }
}
