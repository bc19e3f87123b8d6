package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.CutBridge
import org.apache.spark.storage.StorageLevel

/** The one stage-cut seam (design rule 14). Every stage output the engine
  * materializes — corpus-sized streams, per-round iteration state, bounded
  * sketches and model tables alike — goes through `StageCut(df, label,
  * eager)`; no other file under src/main calls `localCheckpoint`
  * (ToolingGuardSpec enforces this). Materializing the shared subtree once
  * is the in-process analog of writing stage outputs between passes.
  *
  * One deployment setting, `spark.graft.stageCut.mode`, decides how EVERY
  * cut is materialized. In every mode the returned frame scans the
  * materialized rows (its plan starts at `Scan ExistingRDD`), so an
  * iterative loop's plan stays O(1) per round:
  *
  *  - `local` (default): `localCheckpoint(eager)` — fastest; blocks live
  *    in executor-local storage with TRUNCATED lineage, so on a real
  *    cluster an executor loss fails the job ("Checkpoint block … not
  *    found") instead of recomputing.
  *  - `reliable`: `checkpoint(eager)` to the configured checkpoint dir
  *    (`sparkContext.setCheckpointDir`) — survives executor loss; the
  *    mode a 100 TB run uses.
  *  - `disk`: the cut's rows persisted `DISK_ONLY` with lineage KEPT — a
  *    lost block is recomputed from its parents; the cheapest
  *    fault-tolerant option when lineage is shallow. The persist is on
  *    the cut's RDD, not the Dataset: a cached Dataset keeps its whole
  *    logical plan, which an iterative loop grows threefold per round
  *    (pageRank ran out of heap at six rounds that way).
  *
  * `eager` is Spark's own `localCheckpoint(eager)` argument and every mode
  * keeps its contract: an eager cut is materialized when `StageCut`
  * returns (under `disk` by one counting job over the persisted rows), a
  * lazy cut by the first action that reads it. (With AQE, building any
  * cut still runs the shuffle stages upstream of it, in every mode: Spark
  * plans the final stage to obtain the rows' RDD.)
  *
  * Release: no cut is ever registered with the CacheManager, so
  * `unpersist()` on a cut frame does nothing in any mode; its blocks are
  * freed by the ContextCleaner once nothing references the frame. A lazy
  * cut therefore keeps its parents reachable until the action that
  * materializes it, so nothing it derives from can be released early.
  * Under `disk` the kept lineage holds every round of an iterative loop
  * until the loop's result is dropped.
  *
  * `label` (`component.seam`) names the seam at its call site; nothing is
  * recorded under it yet.
  */
object StageCut {
  def apply(df: DataFrame, label: String, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.get("spark.graft.stageCut.mode", "local") match {
      case "local"    => df.localCheckpoint(eager)
      case "reliable" => df.checkpoint(eager)
      case "disk"     => CutBridge.persisted(df, StorageLevel.DISK_ONLY, eager)
      case m => throw new IllegalArgumentException(
        s"spark.graft.stageCut.mode must be local|reliable|disk (got $m)")
    }
}
