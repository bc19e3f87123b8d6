package graft

import java.nio.file.Files

import org.apache.spark.graft.BlockLoss
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkGraph

/** The one stage-cut seam under each `spark.graft.stageCut.mode`:
  *  - the eager/lazy contract of `localCheckpoint(eager)` holds in every
  *    mode (eager: materialized when [[StageCut]] returns; lazy: by the
  *    first action that reads it, and no job before — the fixture has no
  *    exchange, whose map stages AQE would run at construction);
  *  - losing the cut's blocks is survived by `disk` (recomputed from the
  *    kept lineage) and `reliable` (read back from the checkpoint dir),
  *    and fails `local` loudly with Spark's named error — never a
  *    silently wrong answer;
  *  - an unknown mode fails naming the value;
  *  - kcore (lazy per-round cuts) and pageRank (eager per-round cuts)
  *    return the same rows under every mode. */
class StageCutSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val Mode = "spark.graft.stageCut.mode"
  private val Modes = Seq("local", "reliable", "disk")
  private lazy val ckptDir = Files.createTempDirectory("graft_stagecut")

  override def beforeAll(): Unit =
    spark.sparkContext.setCheckpointDir(ckptDir.toString)

  override def afterAll(): Unit = {
    val files = Files.walk(ckptDir)
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally files.close()
  }

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(Mode, mode)
    try body
    finally spark.conf.unset(Mode)
  }

  /** 200 rows over 4 partitions; every evaluation of a row's `sq` bumps
    * the returned accumulator, so it counts source computations. */
  private def fixture(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator("stageCut.fixture")
    val sq = udf { (x: Long) => evals.add(1); x * x }.asNondeterministic()
    (spark.range(0, 200, 1, 4).select(col("id"), sq(col("id")).as("sq")), evals)
  }

  /** The fixture seam's two consumers. */
  private def consumers(cut: DataFrame): (Long, Long) =
    (cut.agg(sum("sq")).head().getLong(0), cut.filter(col("id") % 2 === 0).count())

  private val want = ((0L until 200L).map(x => x * x).sum, 100L)

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  for (mode <- Modes) {
    test(s"$mode: an eager cut is materialized before StageCut returns") {
      withMode(mode) {
        val (df, evals) = fixture()
        val (cut, profile) = QueryProfile(spark)(StageCut(df, "fixture.eager"))
        val jobs = profile.jobs.size
        assert(jobs > 0, "no job fired inside an eager StageCut")
        assert(evals.value >= 200L, "the eager cut did not compute its rows")
        val done = evals.value
        assert(consumers(cut) == want)
        assert(evals.value == done, "a consumer re-derived the eager cut")
      }
    }

    test(s"$mode: a lazy cut runs no job until its first read, then stays materialized") {
      withMode(mode) {
        val (df, evals) = fixture()
        val (cut, profile) = QueryProfile(spark)(StageCut(df, "fixture.lazy", eager = false))
        val jobs = profile.jobs.size
        assert(jobs == 0, s"a lazy StageCut fired $jobs job(s)")
        assert(evals.value == 0L)
        assert(cut.count() == 200L)
        assert(evals.value >= 200L, "the first read did not compute the cut")
        val done = evals.value
        assert(consumers(cut) == want)
        assert(evals.value == done, "a consumer re-derived the lazy cut")
      }
    }

    test(s"$mode: losing the cut's blocks after materializing") {
      withMode(mode) {
        val sc = spark.sparkContext
        val (df, evals) = fixture()
        val before = sc.getPersistentRDDs.keySet
        val cut = StageCut(df, "fixture.loss")
        assert(consumers(cut) == want)
        val held = sc.getPersistentRDDs.keySet -- before
        held.foreach(BlockLoss.dropRdd(sc, _))
        val done = evals.value
        mode match {
          case "local" =>
            assert(held.nonEmpty, "a local cut holds its rows in stored blocks")
            val e = intercept[Exception](consumers(cut))
            val msg = messages(e)
            assert(msg.contains("Checkpoint block") && msg.contains("not found"), msg)
          case "disk" =>
            assert(held.nonEmpty, "a disk cut holds its rows in stored blocks")
            assert(consumers(cut) == want)
            assert(evals.value > done, "the lost blocks were not recomputed")
          case "reliable" =>
            assert(consumers(cut) == want)
            assert(evals.value == done, "a reliable cut re-derived its rows")
        }
      }
    }
  }

  test("an unknown mode fails naming the value") {
    withMode("bogus") {
      val e = intercept[IllegalArgumentException](StageCut(spark.range(3).toDF(), "fixture.bad"))
      assert(e.getMessage.contains("bogus"), e.getMessage)
    }
  }

  // a 4-clique with a pendant edge: k=2 peels `e` in round 1, and round 2
  // (reading round 1's lazy cuts) finds the fixed point
  private val graph = Seq("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
    "c" -> "d", "d" -> "e")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("kcore (lazy cuts) and pageRank (eager cuts) agree across every mode") {
    val edges = graph.toDF("s", "d").repartition(2)
    def run(mode: String): (Seq[Row], Seq[Row]) = withMode(mode) {
      (rows(LinkGraph.kcore(edges, "s", "d", k = 2)),
        rows(LinkGraph.pageRank(edges, "s", "d", iterations = 2, driverEdgeCap = 0)))
    }
    val local = run("local")
    assert(local._1.count(r => r.getAs[Boolean]("in_core")) == 4,
      s"fixture drifted: $local")
    for (mode <- Seq("reliable", "disk")) assert(run(mode) == local, mode)
  }
}
