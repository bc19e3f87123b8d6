package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side data layout: Z-order (Morton) clustering for multi-dimensional
  * partition pruning — the Delta/Iceberg `OPTIMIZE ZORDER BY` idea expressed
  * as plain Spark (the reference delegates layout to Postgres indexes; a
  * 100 TB parquet lake needs file-level min/max pruning instead).
  *
  * Sorting by ONE key gives parquet files tight min/max stats on that key
  * only; interleaving the bits of two keys gives every file a bounded range
  * in BOTH dimensions, so predicates on either key (or both) prune files.
  * The z-key is pure integer bit arithmetic — codegen'd, shuffle-free, and
  * exactly reproducible in any engine (the z1 oracle replays it bit-for-bit).
  *
  * At scale the write is `df.repartitionByRange(nFiles, $"zkey")
  * .sortWithinPartitions($"zkey").write.parquet(...)`; range boundaries come
  * from sampling, so for the deterministic oracle path [[zorderBuckets]]
  * buckets by the z-key's high bits instead (fixed-width ranges — same
  * pruning geometry, reproducible assignment).
  */
object Layout {

  /** Morton interleave of two non-negative long columns, `bits` bits each:
    * bit i of `a` lands at position 2i+1, bit i of `b` at 2i. */
  def zkey2(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** The DuckDB-side expression for [[zkey2]] (kept in one place so the
    * Spark fold and the oracle string cannot drift). */
  def zkey2Sql(a: String, b: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i + 1}) | ((($b >> $i) & 1) << ${2 * i})")
      .mkString(" | ")

  /** Min-max normalization to an 8-bit rank in EXACT integer arithmetic
    * (`div`, not floating division — a double quotient landing one ulp
    * under an integer would flip the floor in one engine and not the
    * other). Z-ordering assumes comparable bit-widths per dimension;
    * normalizing first is what Delta's OPTIMIZE does with its range-id
    * pass. */
  def byteRank(c: String, minV: Long, maxV: Long): Column =
    expr(s"(($c - $minV) * 255) div ${math.max(1L, maxV - minV)}")

  /** Hilbert index of two non-negative `bits`-bit columns — the
    * better-locality sibling of [[zkey2]]: the Hilbert curve has no Morton
    * "seam jumps" (consecutive indices are always grid-adjacent), so
    * per-file bounding boxes come out tighter for the same bucket count —
    * the reason Databricks liquid clustering moved off Z-order. Classic
    * iterative xy2d (one reflect+swap rotation per level), as the
    * [[graft.functions.LayoutExpressions.HilbertIndex]] kernel expression
    * — O(bits) integer loop inside whole-stage codegen (a pure Column fold
    * here is structurally explosive: each level references the previous
    * multiply, ~5^bits inlined tree — see LayoutExpressions' scaladoc) —
    * shuffle-free and replayed bit-for-bit by [[hilbertSqlCtes]]' linear
    * CTE chain. */
  def hilbertKey2(a: Column, b: Column, bits: Int): Column =
    graft.functions.LayoutExpressions.hilbert_index(a, b, bits)

  /** The DuckDB CTE chain replaying [[hilbertKey2]]: `fromCte(xCol, yCol)`
    * → CTEs `h{bits-1}..h0` each carrying (hx, hy, hd) plus `carry`
    * columns; the final CTE exposes `hd` as the Hilbert index. */
  def hilbertSqlCtes(fromCte: String, xCol: String, yCol: String,
                     bits: Int, carry: Seq[String]): String = {
    val n = 1L << bits
    val cols = carry.mkString(", ")
    val init = s"h$bits AS (SELECT $cols, $xCol::BIGINT AS hx, " +
      s"$yCol::BIGINT AS hy, 0::BIGINT AS hd FROM $fromCte)"
    val steps = ((bits - 1) to 0 by -1).map { k =>
      val s = 1L << k
      s"""h$k AS (SELECT $cols,
         |  CASE WHEN ((hy >> $k) & 1) = 0 THEN
         |    (CASE WHEN ((hx >> $k) & 1) = 1 THEN ${n - 1} - hy ELSE hy END)
         |  ELSE hx END AS hx,
         |  CASE WHEN ((hy >> $k) & 1) = 0 THEN
         |    (CASE WHEN ((hx >> $k) & 1) = 1 THEN ${n - 1} - hx ELSE hx END)
         |  ELSE hy END AS hy,
         |  hd + ${s * s} * xor(3 * ((hx >> $k) & 1), (hy >> $k) & 1) AS hd
         |  FROM h${k + 1})""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  /** Hilbert bucket assignment — [[zorderBuckets]]'s shape on the Hilbert
    * index (hkey ∈ [0, 4^bits)). */
  def hilbertBuckets(df: DataFrame, aCol: String, bCol: String,
                     bits: Int, log2Buckets: Int): DataFrame = {
    require(log2Buckets <= 2 * bits, "more buckets than hkey bits")
    df.withColumn("hkey", hilbertKey2(col(aCol), col(bCol), bits))
      .withColumn("bucket", shiftright(col("hkey"), 2 * bits - log2Buckets))
  }

  /** Assign each row a zkey + a fixed-width z-range bucket (the file id a
    * writer would target): bucket = zkey >> (2*bits - log2Buckets). */
  def zorderBuckets(df: DataFrame, aCol: String, bCol: String,
                    bits: Int, log2Buckets: Int): DataFrame = {
    require(log2Buckets <= 2 * bits, "more buckets than zkey bits")
    val z = zkey2(col(aCol), col(bCol), bits)
    df.withColumn("zkey", z)
      .withColumn("bucket", shiftright(col("zkey"), 2 * bits - log2Buckets))
  }

  /** Small-file compaction PLANNER over a table's file-stats listing —
    * the lake-maintenance job every 100 TB parquet/Delta deployment
    * schedules (Delta OPTIMIZE, Iceberg rewrite_data_files): streaming
    * ingest and point upserts (u1/u6/p8's write paths) leave partitions
    * littered with KB-scale files whose per-file open/footer cost
    * dominates scans; the planner decides WHICH files merge into WHICH
    * rewrite groups, per partition, without touching data.
    *
    * Semantics: files under `smallBytes` are candidates; candidates
    * FFD-pack (the [[Corpus.packFfd]] kernel — 11/9·OPT utilization,
    * sort (bytes desc, id)) into `targetBytes` rewrite groups per
    * partition; a group that ends up holding ONE file is a pointless
    * rewrite and reverts to keep (the Delta/Iceberg minFileCount=2
    * convention). Output per file: action ∈ {keep, compact}, the
    * rewrite group id, and the group's file-count/byte totals (NULL on
    * keeps) — all exact integers.
    *
    * 100 TB shape: the input is the FILE LISTING (≈ one row per 100 MB
    * of table — a 100 TB table lists ~10⁶ rows), per-partition file
    * lists collect into one task each (packFfd's stated contract — a
    * partition's listing is bounded by the same ops reality that makes
    * compaction necessary), and the group rollup is one map-side-
    * combined (part, grp) groupBy. The plan is data-free: executing it
    * is the caller's rewrite job. */
  def compactionPlan(files: DataFrame, partCol: String, fileCol: String,
                     sizeCol: String, targetBytes: Long,
                     smallBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"compactionPlan needs targetBytes >= 1 " +
      s"(got $targetBytes)")
    require(smallBytes >= 1 && smallBytes <= targetBytes,
      s"compactionPlan needs 1 <= smallBytes <= targetBytes (got " +
        s"$smallBytes vs $targetBytes) - a 'small' file larger than the " +
        "rewrite target would plan pointless self-rewrites")
    Guards.requireIntegral(files, sizeCol, "compactionPlan")
    val f = files.select(col(partCol).as("part"), col(fileCol).as("file_id"),
      col(sizeCol).cast("long").as("bytes"))
    // two consumers (rollup + plan rows); group-sized
    val packed = graft.StageCut(Corpus.packFfd(f.filter(col("bytes") < smallBytes),
        "file_id", "part", col("bytes"), targetBytes)
      .select(col("shard").as("part"), col("id").as("file_id"),
        col("len").as("bytes"), col("bin").as("grp")), "compactionPlan.packed")
    val groups = packed.groupBy("part", "grp")
      .agg(count(lit(1)).as("group_files"), sum(col("bytes")).as("group_bytes"))
    val planned = packed.join(groups, Seq("part", "grp"))
      .select(col("part"), col("file_id"), col("bytes"),
        when(col("group_files") >= 2, lit("compact")).otherwise(lit("keep"))
          .as("action"),
        when(col("group_files") >= 2, col("grp")).as("grp"),
        when(col("group_files") >= 2, col("group_files")).as("group_files"),
        when(col("group_files") >= 2, col("group_bytes")).as("group_bytes"))
    f.filter(col("bytes") >= smallBytes)
      .select(col("part"), col("file_id"), col("bytes"),
        lit("keep").as("action"), lit(null).cast("long").as("grp"),
        lit(null).cast("long").as("group_files"),
        lit(null).cast("long").as("group_bytes"))
      .unionByName(planned)
  }

  /** Orphan/expired file GC PLANNER — the lake-maintenance sibling of
    * [[compactionPlan]] (Delta VACUUM, Iceberg expire_snapshots +
    * remove_orphan_files): u1/u6's copy-on-write upserts and p8's
    * re-embed rewrites never delete the files they supersede — they move
    * them to a tombstone log for time travel — and failed/zombie writers
    * leave files NO manifest ever referenced. Both classes grow without
    * bound until a planner decides what is safe to delete; deciding
    * WRONG in one direction deletes a time-travel window or a
    * concurrent writer's in-flight file, in the other it leaks storage
    * forever.
    *
    * Inputs: the physical `listing` (file, bytes, modified_s), the live
    * `manifest` (files the current snapshot references), and the
    * `tombstones` log (file, removed_s). Verdict per file, all epochs
    * exact integer seconds:
    *  - `live`      — listed ∧ in manifest: keep (manifest wins even
    *                  over a stray tombstone — a file re-added by a
    *                  later snapshot is live, the Delta re-add rule);
    *  - `expired`   — tombstoned, removed_s ≤ cutoff: DELETE (the
    *                  retention window has passed);
    *  - `retained`  — tombstoned, removed_s > cutoff: keep (time
    *                  travel still reaches it);
    *  - `orphan`    — in neither log, modified_s ≤ cutoff: DELETE;
    *  - `grace`     — in neither log, modified_s > cutoff: keep (an
    *                  in-flight writer's file looks orphaned until its
    *                  commit lands — VACUUM's modification-time grace);
    *  - `missing`   — in the MANIFEST but not on disk: emitted as a
    *                  loud row (bytes NULL, never deletable) — the
    *                  corruption signal a silent anti-join would eat.
    * `reclaim` is the single boolean a deletion job acts on (named so —
    * `delete` is a SQL reserved word and the gate interpolates column
    * names unquoted); reclaimed bytes = Σ bytes over reclaim rows.
    *
    * 100 TB shape: the inputs are LISTING-sized (≈ one row per 100 MB
    * of table, ~10⁶ rows at 100 TB — the u8 argument) and the whole
    * plan is two file-keyed equi full-outer joins + one projection: no
    * data files are read, no window, nothing corpus-sized. */
  def gcPlan(listing: DataFrame, manifest: DataFrame,
             tombstones: DataFrame, fileCol: String, sizeCol: String,
             modifiedCol: String, removedCol: String,
             cutoffEpochS: Long): DataFrame = {
    Guards.requireIntegral(listing, sizeCol, "gcPlan")
    Guards.requireIntegral(listing, modifiedCol, "gcPlan")
    Guards.requireIntegral(tombstones, removedCol, "gcPlan")
    val l = listing.select(col(fileCol).as("file_id"),
      col(sizeCol).cast("long").as("bytes"),
      col(modifiedCol).cast("long").as("modified_s"))
    // a real log carries duplicate actions: manifest entries collapse,
    // the LATEST remove action wins (both stated) — without this the
    // file-keyed joins would fan plan rows out per duplicate
    val m = manifest.select(col(fileCol).as("file_id")).distinct()
      .withColumn("__live", lit(1L))
    val t = tombstones.select(col(fileCol).as("file_id"),
        col(removedCol).cast("long").as("removed_s"))
      .groupBy("file_id").agg(max(col("removed_s")).as("removed_s"))
    l.join(m, Seq("file_id"), "full_outer")
      .join(t, Seq("file_id"), "left")
      .select(col("file_id"), col("bytes"), col("modified_s"),
        col("removed_s"),
        when(col("bytes").isNull, "missing")
          .when(col("__live") === 1L, "live")
          .when(col("removed_s").isNotNull &&
            col("removed_s") <= cutoffEpochS, "expired")
          .when(col("removed_s").isNotNull, "retained")
          .when(col("modified_s") <= cutoffEpochS, "orphan")
          .otherwise("grace").as("status"))
      .withColumn("reclaim",
        col("status").isin("expired", "orphan"))
  }
}
