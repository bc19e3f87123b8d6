package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.text
import graft.operators.Mutations

/** Oracle-backed coverage for the mutation operators (SURVEY §2.1 S13/S14):
  * upsert (MERGE-by-key), metadata merge-patch, and delete cascade. The
  * update sets are derived from the input tables themselves so the DuckDB
  * oracle can reproduce them exactly.
  */
object MutationQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "u1_upsert" -> ((s, d) => upsert(s, d)),
    "u2_merge_metadata" -> ((s, d) => mergeMetadata(s, d)),
    "u3_delete_cascade" -> ((s, d) => deleteCascade(s, d)),
    "u4_migrate_skip" -> ((s, d) => migrateSkip(s, d)),
    "u5_scd2" -> ((s, d) => scd2(s, d)),
    "u6_changelog_apply" -> ((s, d) => changelogApply(s, d)),
    "u7_time_travel" -> ((s, d) => timeTravel(s, d)),
    "u8_compaction_plan" -> ((s, d) => compactionPlan(s, d)),
    "u9_gc_plan" -> ((s, d) => gcPlanQ(s, d)),
    "t50_snapshot_diff" -> ((s, d) => snapshotDiff(s, d))
  )

  /** [[graft.operators.Layout.compactionPlan]] over a synthesized file
    * listing (the named rule: one file per doc, bytes = n_chars·40 +
    * md5 jitter, every 17th file ×40 into the already-compacted tier):
    * per source partition, KB-scale ingest files FFD-pack into 200 KB
    * rewrite groups (threshold 100 KB) — at sf0.01 the 20 partitions
    * plan 2–3 groups each, the ×40 tier keeps, and small partitions'
    * singleton groups revert to keep (all paths populated). */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Tables.documents(spark, dir).select(
      col("source"), col("doc_id").as("file_id"),
      ((col("n_chars") * 40 +
        text.md5_prefix_long(concat(lit("fb:"), col("doc_id")), 1, 6) % 20000) *
        when(col("doc_id") % 17 === 0, 40L).otherwise(1L)).as("bytes"))
    graft.operators.Layout.compactionPlan(files, "source", "file_id",
        "bytes", targetBytes = 200000L, smallBytes = 100000L)
      .orderBy("part", "file_id")
  }

  /** [[graft.operators.Layout.gcPlan]] over a synthesized lake state
    * (every rule named, the u6 modulo-fixture style; epochs exact
    * integer seconds, cutoff 10⁶):
    *  - listing = docs %11 ≠ 0 (file_id = doc_id, bytes = n_chars·40 —
    *    n_chars varies per sf, so the wrong-sf control flips without a
    *    tag) + zombie-writer leftovers for %7 = 0 (file_id + 10⁶,
    *    modified 999000 + (doc_id % 3)·1000 — straddles the cutoff, so
    *    orphan AND grace both populate);
    *  - manifest = docs %3 ≠ 0 — its %11 = 0 members are listed-missing
    *    corruption plants;
    *  - tombstones = docs %3 = 0 (removed 990000 + doc_id·40 — expired
    *    below doc 250, retained above) PLUS %10 = 0 docs, whose %3 ≠ 0
    *    members are ALSO in the manifest — the re-add rule: manifest
    *    wins, they stay live despite the stray tombstone. */
  def gcPlanQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val listing = docs.filter(col("doc_id") % 11 =!= 0).select(
        col("doc_id").as("file_id"), (col("n_chars") * 40).as("bytes"),
        (lit(900000L) + col("doc_id")).as("modified_s"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0).select(
        (col("doc_id") + 1000000L).as("file_id"),
        (col("n_chars") * 7).as("bytes"),
        (lit(999000L) + pmod(col("doc_id"), lit(3)) * 1000).as("modified_s")))
    val manifest = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id").as("file_id"))
    val tombstones = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("file_id"),
        (lit(990000L) + col("doc_id") * 40).as("removed_s"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("file_id"), lit(995000L).as("removed_s")))
    graft.operators.Layout.gcPlan(listing, manifest, tombstones,
        "file_id", "bytes", "modified_s", "removed_s",
        cutoffEpochS = 1000000L)
      .orderBy("file_id", "status")
  }

  /** Snapshot diff on a simulated next crawl (the u6 modulo fixture
    * style): %7 keys vanish, surviving %5 keys change text, %50 keys
    * reappear under new ids — the oracle states every key's expected
    * status from first principles, independent of the join mechanism. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val after = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" updated")))
          .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
    Mutations.snapshotDiff(docs, after, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Ordered CDC-feed application over the documents snapshot: the log
    * carries an Update (seq 1) for every doc_id % 5 == 0 (+1000 chars), a
    * Delete (seq 2) for every doc_id % 7 == 0 — so keys divisible by 35
    * see BOTH and the delete must win by seq order, the
    * last-writer-wins fact this query exists to pin — and Inserts (seq 3)
    * of brand-new keys. The oracle states the EXPECTED FINAL SNAPSHOT
    * from first principles (set algebra over the modulo classes), fully
    * independent of the window+anti-join mechanism. */
  def changelogApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val ups = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .withColumn("seq", lit(1L)).withColumn("op", lit("U"))
    val dels = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("seq", lit(2L)).withColumn("op", lit("D"))
    val ins = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), lit("xx").as("lang"),
        lit("srcnew").as("source"), lit(42L).as("n_chars"),
        lit(3L).as("seq"), lit("I").as("op"))
    val log = ups.unionByName(dels).unionByName(ins)
    Mutations.applyChangelog(docs, log, "doc_id", "seq", "op")
      .orderBy("doc_id")
  }

  /** Time travel over a TWICE-merged SCD2 dimension: u5's update wave at
    * eff=1,000,000 µs, then a second wave at 2,000,000 µs re-versioning
    * custkey % 14 == 0 (keys that already carry two versions gain a
    * third). Three as-of reads — before, between, after — must equal the
    * sequentially-applied upsert states: the oracle computes each state by
    * DIRECT application, the engine by interval reads over the merged
    * history, so the row gates that interval arithmetic == replayed
    * history, not one implementation against itself. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val dim0 = cust
      .withColumn("valid_from_us", lit(0L))
      .withColumn("valid_to_us", lit(null).cast("long"))
    val upd1 = cust.filter(col("c_custkey") % 7 <= 1)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, concat(lit("SEG-"), col("c_custkey") % 3))
          .otherwise(col("c_mktsegment")))
      .unionByName(cust.filter(col("c_custkey") < 4)
        .withColumn("c_custkey", col("c_custkey") + 900000L)
        .withColumn("c_name", concat(lit("NEW "), col("c_custkey") - 900000L))
        .withColumn("c_mktsegment", lit("FRESH")))
    val dim1 = graft.StageCut(Mutations.scd2Merge(dim0, upd1, "c_custkey",
      Seq("c_name", "c_mktsegment"), effUs = 1000000L), "timeTravel.dim1")
    val upd2 = cust.filter(col("c_custkey") % 14 === 0)
      .withColumn("c_mktsegment", concat(lit("SEG2-"), col("c_custkey") % 5))
    val dim2 = graft.StageCut(Mutations.scd2Merge(dim1, upd2, "c_custkey",
      Seq("c_name", "c_mktsegment"), effUs = 2000000L), "timeTravel.dim2")
    Seq(500000L, 1500000L, 2500000L)
      .map(t => Mutations.asOfSnapshot(dim2, t).withColumn("snap_us", lit(t)))
      .reduce(_ unionByName _)
      .select(col("snap_us"), col("c_custkey"), col("c_mktsegment"))
      .orderBy("snap_us", "c_custkey")
  }

  /** SCD Type-2 merge on the customer dimension: v0 = all customers valid
    * from 0, open-ended; the update snapshot changes mktsegment for
    * custkey % 7 == 0, keeps custkey % 7 == 1 IDENTICAL (must pass through
    * untouched, not re-version), and adds three brand-new keys. After the
    * merge at eff=1,000,000 µs, changed keys carry two versions (closed +
    * open), unchanged and non-updated keys one, new keys one. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val dim = cust
      .withColumn("valid_from_us", lit(0L))
      .withColumn("valid_to_us", lit(null).cast("long"))
    val updates = cust.filter(col("c_custkey") % 7 <= 1)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, concat(lit("SEG-"), col("c_custkey") % 3))
          .otherwise(col("c_mktsegment")))
      .unionByName(cust.filter(col("c_custkey") < 4)
        .withColumn("c_custkey", col("c_custkey") + 900000L)
        .withColumn("c_name", concat(lit("NEW "), col("c_custkey") - 900000L))
        .withColumn("c_mktsegment", lit("FRESH")))
    Mutations.scd2Merge(dim, updates, "c_custkey",
      Seq("c_name", "c_mktsegment"), effUs = 1000000L)
      .select(col("c_custkey"), col("c_mktsegment"), col("valid_from_us"),
        col("valid_to_us"))
      .orderBy(col("c_custkey"), col("valid_from_us"))
  }

  /** Migration ingest with on_conflict=skip (`routes/migrate.py`): the
    * incoming batch overlaps the existing corpus on doc_id % 10 == 0 and
    * carries 5 brand-new ids; output = per-incoming status + the post-state
    * row count folded in (so both the status join and the union arm are
    * value-checked). */
  def migrateSkip(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val incoming = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(lit("MIGRATED "), col("doc_id")))
      .unionByName(docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", concat(lit("FRESH "), col("doc_id") - 2000000L)))
    val (state, status) = Mutations.migrateIngest(docs, incoming, "doc_id")
    status
      .crossJoin(broadcast(state.agg(count(lit(1)).as("n_after"))))
      .select(col("doc_id"), col("status"), col("n_after"))
      .orderBy("doc_id")
  }

  /** S13 re-ingest-by-external_id: every doc_id % 50 == 0 row is replaced,
    * three brand-new rows are inserted; output is the full post-merge state
    * (so both the anti-join and the union arm are value-checked). */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val replaced = docs.filter(col("doc_id") % 50 === 0)
      .withColumn("text", concat(lit("UPDATED "), col("doc_id")))
      .withColumn("source", lit("patched"))
    val inserted = docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(lit("NEW "), col("doc_id") - 1000000L))
      .withColumn("source", lit("inserted"))
    Mutations.upsert(docs, replaced.unionByName(inserted), "doc_id")
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("text_len"))
      .orderBy("doc_id")
  }

  /** S13 update_metadata: map-valued metadata with a right-wins merge patch
    * on every doc_id % 100 == 0 row; untouched rows keep their map and have
    * no `reviewed` key (null on projection). */
  def mergeMetadata(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("metadata", map(
        lit("lang"), col("lang"), lit("source"), col("source")))
    Mutations.mergeMetadata(docs, col("doc_id") % 100 === 0,
      Map("source" -> "patched", "reviewed" -> "true"))
      .select(col("doc_id"),
        element_at(col("metadata"), "source").as("m_source"),
        element_at(col("metadata"), "reviewed").as("m_reviewed"),
        element_at(col("metadata"), "lang").as("m_lang"))
      .orderBy("doc_id")
  }

  /** S14 delete cascade across three relations keyed by different columns;
    * output = surviving row count per relation. */
  def deleteCascade(spark: SparkSession, dir: String): DataFrame = {
    val r = Mutations.deleteCascade(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      Tables.events(spark, dir), docIds = Seq(1L, 2L, 3L),
      docKey = "doc_id", chunkDocKey = "vec_id", usageDocKey = "user_id")
    r.documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(r.chunks.agg(count(lit(1)).as("n_chunks")))
      .crossJoin(r.usage.agg(count(lit(1)).as("n_usage")))
  }

  def oracles: Map[String, String] = Map(
    // every key's status from first principles: %7 removed (their %50
    // members reappear under NEW ids — 'added'), surviving %5 changed,
    // the rest same
    "t50_snapshot_diff" ->
      """SELECT doc_id, CASE
        |    WHEN doc_id % 7 = 0 THEN 'removed'
        |    WHEN doc_id % 5 = 0 THEN 'changed'
        |    ELSE 'same' END AS status
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 100000 AS doc_id, 'added' AS status
        |FROM documents WHERE doc_id % 50 = 0
        |ORDER BY doc_id""".stripMargin,
    // the final snapshot from first principles: %7 keys are gone (the
    // seq-2 delete outranks the seq-1 update — LWW), surviving %5 keys
    // carry the update, everything else passes through, inserts appear
    "u6_changelog_apply" ->
      """WITH keep AS (SELECT doc_id, lang, source, n_chars FROM documents
        |             WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0),
        |up AS (SELECT doc_id, lang, source, n_chars + 1000 AS n_chars
        |       FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0),
        |ins AS (SELECT doc_id + 100000 AS doc_id, 'xx' AS lang,
        |          'srcnew' AS source, 42::BIGINT AS n_chars
        |        FROM documents WHERE doc_id % 50 = 0)
        |SELECT * FROM keep UNION ALL SELECT * FROM up UNION ALL
        |SELECT * FROM ins ORDER BY doc_id""".stripMargin,
    // each snapshot computed by DIRECT sequential application of the two
    // update waves (upsert semantics), never via interval logic - the
    // engine's interval reads must land on exactly these states
    // the t44 recursive-CTE FFD replay per partition over the small-file
    // candidates, then the singleton-group keep reversion and the big-file
    // keep union
    // the three synthesized logs (named modulo rules), duplicate actions
    // collapsed exactly as the operator states (distinct manifest, max
    // removed_s), then the verdict CASE and the reclaim projection
    "u9_gc_plan" ->
      """WITH listing AS (
        |  SELECT doc_id AS file_id, (n_chars * 40)::BIGINT AS bytes,
        |    (900000 + doc_id)::BIGINT AS modified_s
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, (n_chars * 7)::BIGINT,
        |    (999000 + (doc_id % 3) * 1000)::BIGINT
        |  FROM documents WHERE doc_id % 7 = 0),
        |manifest AS (SELECT DISTINCT doc_id AS file_id FROM documents
        |  WHERE doc_id % 3 <> 0),
        |tomb AS (SELECT file_id, max(removed_s)::BIGINT AS removed_s FROM (
        |    SELECT doc_id AS file_id,
        |      (990000 + doc_id * 40)::BIGINT AS removed_s
        |    FROM documents WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT doc_id, 995000::BIGINT FROM documents
        |    WHERE doc_id % 10 = 0) GROUP BY file_id),
        |j AS (
        |  SELECT coalesce(l.file_id, m.file_id) AS file_id, l.bytes,
        |    l.modified_s, t.removed_s,
        |    m.file_id IS NOT NULL AS in_manifest
        |  FROM listing l FULL JOIN manifest m ON l.file_id = m.file_id
        |  LEFT JOIN tomb t ON coalesce(l.file_id, m.file_id) = t.file_id),
        |v AS (SELECT file_id, bytes, modified_s, removed_s,
        |    CASE WHEN bytes IS NULL THEN 'missing'
        |         WHEN in_manifest THEN 'live'
        |         WHEN removed_s IS NOT NULL AND removed_s <= 1000000
        |           THEN 'expired'
        |         WHEN removed_s IS NOT NULL THEN 'retained'
        |         WHEN modified_s <= 1000000 THEN 'orphan'
        |         ELSE 'grace' END AS status
        |  FROM j)
        |SELECT *, status IN ('expired', 'orphan') AS reclaim
        |FROM v ORDER BY file_id, status""".stripMargin,

    "u8_compaction_plan" ->
      """WITH RECURSIVE fl AS (
        |  SELECT source AS part, doc_id AS file_id,
        |    ((n_chars * 40 + ('0x' || substr(md5('fb:' || doc_id), 1, 6))::BIGINT % 20000)
        |     * (CASE WHEN doc_id % 17 = 0 THEN 40 ELSE 1 END))::BIGINT AS bytes
        |  FROM documents),
        |small AS (SELECT * FROM fl WHERE bytes < 100000),
        |ord AS (SELECT part, file_id, bytes,
        |    row_number() OVER (PARTITION BY part ORDER BY bytes DESC, file_id) AS rn
        |  FROM small),
        |cnt AS (SELECT part, count(*)::BIGINT AS n FROM ord GROUP BY part),
        |rec(part, i, loads, assigns) AS (
        |  SELECT part, 0::BIGINT, []::BIGINT[], []::BIGINT[] FROM cnt
        |  UNION ALL
        |  SELECT r.part, r.i + 1,
        |    CASE WHEN o.bytes <= 200000 AND coalesce(list_position(
        |           list_transform(r.loads, l -> l + o.bytes <= 200000), true), 0) > 0
        |      THEN list_transform(range(1, len(r.loads) + 1), j ->
        |        CASE WHEN j = list_position(
        |               list_transform(r.loads, l -> l + o.bytes <= 200000), true)
        |          THEN r.loads[j] + o.bytes ELSE r.loads[j] END)
        |      ELSE list_append(r.loads, o.bytes) END,
        |    list_append(r.assigns,
        |      CASE WHEN o.bytes <= 200000 AND coalesce(list_position(
        |             list_transform(r.loads, l -> l + o.bytes <= 200000), true), 0) > 0
        |        THEN list_position(
        |               list_transform(r.loads, l -> l + o.bytes <= 200000), true) - 1
        |        ELSE len(r.loads) END)
        |  FROM rec r JOIN ord o ON o.part = r.part AND o.rn = r.i + 1),
        |asg AS (SELECT o.part, o.file_id, o.bytes, f.assigns[o.rn]::BIGINT AS grp
        |  FROM ord o JOIN (SELECT r.part, r.assigns FROM rec r JOIN cnt c
        |                   ON r.part = c.part AND r.i = c.n) f
        |  ON o.part = f.part),
        |gs AS (SELECT part, grp, count(*)::BIGINT AS gf, sum(bytes)::BIGINT AS gb
        |       FROM asg GROUP BY 1, 2),
        |planned AS (SELECT a.part, a.file_id, a.bytes,
        |    CASE WHEN g.gf >= 2 THEN 'compact' ELSE 'keep' END AS action,
        |    CASE WHEN g.gf >= 2 THEN a.grp END AS grp,
        |    CASE WHEN g.gf >= 2 THEN g.gf END AS group_files,
        |    CASE WHEN g.gf >= 2 THEN g.gb END AS group_bytes
        |  FROM asg a JOIN gs g ON a.part = g.part AND a.grp = g.grp),
        |big AS (SELECT part, file_id, bytes, 'keep' AS action,
        |    NULL::BIGINT AS grp, NULL::BIGINT AS group_files,
        |    NULL::BIGINT AS group_bytes
        |  FROM fl WHERE bytes >= 100000)
        |SELECT * FROM (SELECT * FROM planned UNION ALL SELECT * FROM big)
        |ORDER BY part, file_id""".stripMargin,

    "u7_time_travel" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |upd1 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'SEG-' || (c_custkey % 3)
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM cust WHERE c_custkey % 7 <= 1
        |  UNION ALL
        |  SELECT c_custkey + 900000, 'NEW ' || c_custkey, 'FRESH'
        |  FROM cust WHERE c_custkey < 4),
        |s1 AS (
        |  SELECT c_custkey, c_mktsegment FROM upd1
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment FROM cust
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd1)),
        |upd2 AS (SELECT c_custkey, 'SEG2-' || (c_custkey % 5) AS c_mktsegment
        |         FROM cust WHERE c_custkey % 14 = 0),
        |s2 AS (
        |  SELECT c_custkey, c_mktsegment FROM upd2
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment FROM s1
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM upd2))
        |SELECT 500000::BIGINT AS snap_us, c_custkey, c_mktsegment FROM cust
        |UNION ALL
        |SELECT 1500000::BIGINT, c_custkey, c_mktsegment FROM s1
        |UNION ALL
        |SELECT 2500000::BIGINT, c_custkey, c_mktsegment FROM s2
        |ORDER BY snap_us, c_custkey""".stripMargin,
    "u5_scd2" ->
      """WITH cust AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |upd AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN 'SEG-' || (c_custkey % 3)
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM cust WHERE c_custkey % 7 <= 1
        |  UNION ALL
        |  SELECT c_custkey + 900000, 'NEW ' || c_custkey, 'FRESH'
        |  FROM cust WHERE c_custkey < 4),
        |changed AS (SELECT u.c_custkey FROM cust c JOIN upd u USING (c_custkey)
        |  WHERE c.c_name IS DISTINCT FROM u.c_name
        |     OR c.c_mktsegment IS DISTINCT FROM u.c_mktsegment),
        |newkeys AS (SELECT u.c_custkey FROM upd u
        |  LEFT JOIN cust c USING (c_custkey) WHERE c.c_custkey IS NULL),
        |fin AS (
        |  SELECT c.c_custkey, c.c_mktsegment,
        |    0::BIGINT AS valid_from_us, NULL::BIGINT AS valid_to_us
        |  FROM cust c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM changed)
        |  UNION ALL
        |  SELECT c.c_custkey, c.c_mktsegment, 0::BIGINT, 1000000::BIGINT
        |  FROM cust c JOIN changed USING (c_custkey)
        |  UNION ALL
        |  SELECT u.c_custkey, u.c_mktsegment, 1000000::BIGINT, NULL::BIGINT
        |  FROM upd u
        |  WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
        |     OR u.c_custkey IN (SELECT c_custkey FROM newkeys))
        |SELECT c_custkey, c_mktsegment, valid_from_us, valid_to_us FROM fin
        |ORDER BY c_custkey, valid_from_us""".stripMargin,
    "u1_upsert" ->
      """WITH upd AS (
        |  SELECT doc_id, 'UPDATED ' || doc_id AS text, lang, 'patched' AS source, n_chars
        |  FROM documents WHERE doc_id % 50 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'NEW ' || doc_id, lang, 'inserted', n_chars
        |  FROM documents WHERE doc_id < 3),
        |merged AS (
        |  SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |  UNION ALL SELECT * FROM upd)
        |SELECT doc_id, source, length(text) AS text_len FROM merged ORDER BY doc_id""".stripMargin,
    "u2_merge_metadata" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 100 = 0 THEN 'patched' ELSE source END AS m_source,
        |  CASE WHEN doc_id % 100 = 0 THEN 'true' END AS m_reviewed,
        |  lang AS m_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "u3_delete_cascade" ->
      """SELECT
        |  (SELECT count(*) FROM documents WHERE doc_id NOT IN (1,2,3)) AS n_docs,
        |  (SELECT count(*) FROM embeddings WHERE vec_id NOT IN (1,2,3)) AS n_chunks,
        |  (SELECT count(*) FROM events WHERE user_id NOT IN (1,2,3)) AS n_usage""".stripMargin,
    "u4_migrate_skip" ->
      """WITH inc AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 FROM documents WHERE doc_id < 5),
        |st AS (SELECT inc.doc_id,
        |         CASE WHEN d.doc_id IS NOT NULL THEN 'skipped' ELSE 'created' END AS status
        |       FROM inc LEFT JOIN documents d USING (doc_id)),
        |n AS (SELECT (SELECT count(*) FROM documents)
        |           + (SELECT count(*) FROM st WHERE status = 'created') AS n_after)
        |SELECT st.doc_id, st.status, n.n_after FROM st, n ORDER BY st.doc_id""".stripMargin
  )
}
