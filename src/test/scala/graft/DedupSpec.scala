package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, explode, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Detection-quality properties for the dedup family: a planted near-dup
  * pair must surface (and unrelated docs must not) — the DuckDB oracles
  * prove engine-equivalence, this proves the operators actually catch dups.
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def randText(): String =
    Seq.fill(60)(rnd.alphanumeric.take(2 + rnd.nextInt(6)).mkString).mkString(" ")

  // 20 unrelated docs + a planted pair: doc 100 and doc 101 differ by one word
  private val base = randText()
  private def corpus = ((0 until 20).map(i => (i.toLong, randText())) ++
    Seq((100L, base), (101L, base.replaceFirst(" ", " EDIT ")))).toDF("doc_id", "text")

  test("softDedup: weight = 1/dup_count ppm; mirrored draws pin the exact keep set") {
    def u(i: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sdd:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(6), 16) % 1000000L
    }
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "same text"), (9L, "unique")).toDF("doc_id", "text")
    val out = Dedup.softDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(9L).getAs[Long]("dup_count") == 1L &&
      out(9L).getAs[Long]("weight_ppm") == 1000000L &&
      out(9L).getAs[Boolean]("kept"), "singletons always keep full weight")
    (1L to 4L).foreach { i =>
      assert(out(i).getAs[Long]("dup_count") == 4L)
      assert(out(i).getAs[Long]("weight_ppm") == 250000L)
      assert(out(i).getAs[Boolean]("kept") == (u(i) * 4 < 1000000L),
        s"doc $i accept bit must equal the mirrored md5 draw")
    }
    // weights, not the keep bits, carry the expectation law exactly:
    // each cluster's total weight is ~1e6 regardless of realized keeps
    assert((1L to 4L).map(i => out(i).getAs[Long]("weight_ppm")).sum == 1000000L)
  }

  test("minhashLshPairs surfaces the planted near-dup, not random pairs") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      shingleSize = 5, numHashes = 16, bands = 4, minEst = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((100L, 101L)))
    assert(pairs.head._3 >= 0.5)
  }

  test("simhashNearDups surfaces the planted near-dup under Hamming <= 3") {
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((100L, 101L)))
  }

  test("exactGroups groups exact copies only") {
    val withCopy = corpus.union(Seq((102L, base)).toDF("doc_id", "text"))
    val groups = Dedup.exactGroups(withCopy, "doc_id", "text")
      .select("canonical_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(groups == Seq((100L, 2L))) // 100 & 102 exact; 101 differs
  }

  test("embeddingLshPairs surfaces a planted near-identical embedding pair") {
    val r = new scala.util.Random(11)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    val base = vec()
    val nearDup = base.clone(); nearDup(5) = nearDup(5) + 0.01f
    val rows = ((0 until 30).map(i => (i.toLong, vec().toSeq)) ++
      Seq((100L, base.toSeq), (101L, nearDup.toSeq))).toDF("vec_id", "embedding")
    val pairs = graft.operators.Dedup.embeddingLshPairs(
      rows, "vec_id", "embedding", dim = 64, blocks = 4, minCosine = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((100L, 101L)))
  }

  test("exactGroups handles a planted mega-cluster through the salted path") {
    // 5,000 copies of one text: the holistic id-list agg would pin one
    // reducer without salting; the salted two-stage form must still emit
    // one complete, sorted group.
    val mega = ((0 until 5000).map(i => (1000L + i, base)) ++
      (0 until 20).map(i => (i.toLong, randText()))).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(mega, "doc_id", "text")
      .select("canonical_id", "ids", "dup_count")
      .as[(Long, Seq[Long], Long)].collect().toSeq
    assert(groups.length == 1)
    val (canon, ids, n) = groups.head
    assert(canon == 1000L && n == 5000L)
    assert(ids == (0 until 5000).map(1000L + _)) // complete and sorted
  }

  test("embeddingLshPairs candidate exchange carries no vector column") {
    val r = new scala.util.Random(13)
    val rows = (0 until 16).map(i =>
      (i.toLong, Array.fill(64)(r.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val plan = Dedup.embeddingLshPairs(rows, "vec_id", "embedding", dim = 64)
      .queryExecution.optimizedPlan
    // every exchange below the band self-join must ship (id, block_key)
    // only — find the join on block_key and check its children's output
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val bandJoins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "block_key")) => j
    }
    assert(bandJoins.nonEmpty)
    bandJoins.foreach { j =>
      j.children.foreach { side =>
        assert(side.output.map(_.name).toSet == Set("id", "block_key"),
          s"band-join input carries extra columns: ${side.output.map(_.name)}")
      }
    }
  }

  test("minhashLshKeepList labels a dup cluster by its min id, pair-free") {
    val keep = Dedup.minhashLshKeepList(
      corpus.union(Seq((102L, base)).toDF("doc_id", "text")),
      "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(keep(100L) == 100L && keep(101L) == 100L && keep(102L) == 100L)
    assert(keep(3L) == 3L) // unrelated doc keeps itself
  }

  test("connectedComponents collapses a multi-hop chain to one cluster") {
    // chain 1-2-3-4 (diameter 3) + isolated pair — small graph, so this
    // exercises the single-task union-find dispatch path
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp.size == 6)
  }

  test("connectedComponents iterative path matches union-find on a long path") {
    // path 0-1-2-...-12: worst-case diameter for min-label propagation;
    // threshold 0 forces the distributed rounds, matching the default
    // union-find answer exactly
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val iterative = Dedup.connectedComponents(edges, maxIter = 20,
      smallEdgeThreshold = 0L).as[(Long, Long)].collect().toMap
    val unionFind = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert((0L to 12L).forall(iterative(_) == 0L))
    assert(iterative == unionFind)
  }

  test("text.lsh_band_keys stays in lockstep with Dedup's exploded band keys") {
    // two callers of one per-band formula, `text.lsh_band_key`: the Column
    // array form maps it over the band indices for composition, Dedup
    // applies it to its exploded constant `band_idx` on the scale path (the
    // explode dodges the CollapseProject re-evaluation trap); this guard
    // makes drift in either caller a test failure instead of a recall drop
    import graft.functions.text
    val docs = corpus.limit(5)
    val viaColumn = docs
      .select(col("doc_id"),
        explode(text.lsh_band_keys(
          text.minhash_signature_fast(text.normalize(col("text")), 16, 5),
          bands = 4, rowsPerBand = 4)).as("band_key"))
      .as[(Long, String)].collect().toSet
    val viaDedup = Dedup.bandIndex(docs, "doc_id", "text")
      .select(col("id"), col("band_key")).as[(Long, String)].collect().toSet
    assert(viaColumn == viaDedup)
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    // diameter-12 path cannot converge in one round: partially-propagated
    // labels must never be returned silently (iterative path forced)
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, maxIter = 1, smallEdgeThreshold = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("dupSpans finds the shared passage and counts window positions") {
    // docs 1 & 2 share an 8-token passage embedded at different offsets;
    // doc 3 is disjoint. With n=4 the 8-token passage yields 5 shared
    // 4-token windows in each doc.
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $passage three four"),
      (2L, s"$passage five six seven"),
      (3L, "red orange yellow green blue indigo violet purple pink")
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", n = 4)
      .select("id", "dup_spans", "first_pos").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 5L, 2L), (2L, 5L, 0L)))
  }

  test("dupSpans stride subsamples window starts but still hits the passage") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $passage three four"),
      (2L, s"zero $passage five six")
    ).toDF("doc_id", "text")
    // stride 2 keeps even window starts only: a window collides only if its
    // start parity survives in BOTH docs (here the passage offsets differ by
    // one, so recall drops — the documented stride trade-off)
    val out = Dedup.dupSpans(docs, "doc_id", "text", n = 4, stride = 2)
      .select("id", "dup_spans").as[(Long, Long)].collect().toMap
    val full = Dedup.dupSpans(docs, "doc_id", "text", n = 4)
      .select("id", "dup_spans").as[(Long, Long)].collect().toMap
    assert(out.getOrElse(1L, 0L) < full(1L))
  }

  test("removeDupSpans: owner keeps the shared passage, non-owner loses it verbatim") {
    val passage = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha $passage omega"),
      (2L, s"intro words here $passage tail bits"),
      (3L, "totally unique content with no shared spans at all")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text")
      .select("id", "kept_text", "n_tokens", "n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((s"alpha $passage omega", 10L, 0L)),
      "min-id owner keeps its copy untouched")
    assert(out(2L) == (("intro words here tail bits", 13L, 8L)),
      "non-owner drops exactly the shared token positions")
    assert(out(3L)._3 == 0L, "doc with no shared spans is untouched")
  }

  test("removeDupSpans: overlapping shared spans union their coverage (no double count)") {
    // 9 shared tokens = two overlapping shared 8-grams in each non-owner;
    // covered union is 9 positions, not 16
    val passage = (1 to 9).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"a b $passage"),
      (2L, s"x y z $passage")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text")
      .select("id", "kept_text", "n_removed").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._2 == 0L)
    assert(out(2L) == (("x y z", 9L)))
  }

  test("removeDupSpans: docs shorter than the span width are never touched") {
    val docs = Seq((1L, "short doc"), (2L, "short doc")).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text")
      .select("id", "n_removed").as[(Long, Long)].collect().toMap
    assert(out.values.forall(_ == 0L))
  }

  test("fuzzyPairs: a planted one-edit typo pair is found; distant same-block text is cut") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brwon fox jumps over the lazy dog near the river bank today"), // transposition (2 edits) after the blocking prefix, inside the 40-char field
      (3L, "the quick brown cat that is nothing like the others in any way at all xyzw"),
      (4L, "completely different text that shares no prefix with anything here")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"only the typo pair qualifies: $got")
    assert(got.head._3 == 2L, s"transposition = 2 unit edits: $got")
  }

  test("fuzzyMatchAgainst equals the cross-set slice of fuzzyPairs (no corpus recompute)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (9L, "the quick brwon fox jumps over the lazy dog near the river bank today"),
      (2L, "some other corpus text that matches nothing incoming at this distance"),
      (8L, "fresh incoming text that matches nothing in the corpus either way ok")
    ).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" < 5); val inc = docs.filter($"doc_id" >= 5)
    val idx = Dedup.fuzzyIndex(corpus, "doc_id", "text")
    val got = Dedup.fuzzyMatchAgainst(inc, "doc_id", "text", idx, maxDist = 4)
      .as[(Long, Long, Long)].collect().toSet
    val full = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 4)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => p._1 < 5 && p._2 >= 5)
    assert(got == full, s"incremental $got vs batch cross-slice $full")
    assert(got == Set((1L, 9L, 2L)), s"the planted cross-set typo pair: $got")
  }

  test("fuzzyPairs: lengths straddling the old div-8 bucket boundary still pair (|Δlen| gate)") {
    // 22 vs 24 normalized chars — old length-buckets 2 vs 3 would have
    // silently dropped this 2-edit pair; the |Δlen| <= maxDist lower
    // bound keeps it (the round-9 ADVICE recall fix, pinned here).
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta x")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L)), s"boundary-straddling pair found: $got")
  }

  test("fuzzyPairs/fuzzyMatchAgainst: a planted 10k-doc mega-block is capped, not joined") {
    // 10_000 docs share the blocking prefix — uncapped that is ~5·10⁷
    // Levenshtein candidates on ONE shuffle key; the maxBlock stop-block
    // cap drops the block (boilerplate, not near-dup signal) so the job
    // stays bounded, and fuzzyStopBlocks reports exactly what was cut.
    val mega = spark.range(10L, 10010L)
      .select($"id".as("doc_id"),
        concat(lit("boilerplate header shared by all docs no "),
          $"id".cast("string")).as("text"))
    val pair = Seq(
      (1L, "unique needle text one with a small typo"),
      (2L, "unique needle text one with a smal typo")).toDF("doc_id", "text")
    val docs = mega.unionByName(pair)
    val got = Dedup.fuzzyPairs(docs, "doc_id", "text", maxDist = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"only the out-of-block pair survives the cap: ${got.take(5)}")
    val stops = Dedup.fuzzyStopBlocks(docs, "doc_id", "text")
      .as[(String, Long)].collect().toSeq
    assert(stops == Seq(("boilerpl", 10000L)),
      s"the audit view names the dropped block + size: $stops")
    // incremental arm: same cap, computed on the index (corpus) side
    val idx = Dedup.fuzzyIndex(docs, "doc_id", "text")
    val inc = Seq((20001L, "boilerplate header shared by all docs no 42"),
      (20002L, "unique needle text one with a small typo!"))
      .toDF("doc_id", "text")
    val m = Dedup.fuzzyMatchAgainst(inc, "doc_id", "text", idx, maxDist = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(m.forall(_._2 != 20001L) && m.exists(r => r._1 == 1L && r._2 == 20002L),
      s"mega-block incoming matches nothing; needle matches: ${m.take(5)}")
  }

  test("corpusOverlap: planted half-overlap exact ppm; identical corpora agree on every lane") {
    // A and C are textually identical corpora; B shares exactly the first
    // 6 of 11 distinct 5-gram shingles with each (union 16 -> 375000 ppm)
    val rows = Seq(
      (1L, "A", "aaaaabbbbbccccc"),
      (2L, "B", "aaaaabbbbbddddd"),
      (3L, "C", "aaaaabbbbbccccc")
    ).toDF("doc_id", "grp", "text")
    val out = Dedup.corpusOverlap(rows, "grp", "text")
      .orderBy("source_a", "source_b")
      .select("source_a", "source_b", "n_a", "n_b", "n_common", "jaccard_ppm", "sig_agree")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(out.map(t => (t._1, t._2)) == Seq(("A","B"), ("A","C"), ("B","C")))
    val ab = out(0); val ac = out(1); val bc = out(2)
    assert(ab._3 == 11 && ab._4 == 11 && ab._5 == 6 && ab._6 == 375000, ab)
    // identical shingle sets: full intersection, full lane agreement
    assert(ac._5 == 11 && ac._6 == 1000000 && ac._7 == 16, ac)
    // B-vs-C mirrors B-vs-A exactly (C == A)
    assert(bc._5 == ab._5 && bc._6 == ab._6 && bc._7 == ab._7, (ab, bc))
  }

  test("t63 dedup-recall row: metric invariants on the planted-cluster corpus") {
    val out = graft.queries.TextQueries
      .dedupRecallQ(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(6L, 10L))
    val Array(lo, hi) = out
    // (th, n_truth, n_found, n_tp, precision_ppm, recall_ppm)
    assert(lo._2 == hi._2 && lo._2 > 0, "one ground truth, both thresholds")
    assert(hi._3 <= lo._3, "raising the lane threshold can only shrink found")
    assert(hi._4 <= lo._4 && lo._4 <= math.min(lo._2, lo._3))
    for (r <- out) {
      assert(r._5 >= 0 && r._5 <= 1000000L && r._6 >= 0 && r._6 <= 1000000L)
      assert(r._5 == (if (r._3 == 0) 0L else r._4 * 1000000L / r._3))
      assert(r._6 == r._4 * 1000000L / r._2)
    }
    // the planted variants are findable at all: recall is material, and
    // the strict threshold buys precision on this corpus
    assert(lo._6 > 300000L, s"recall collapsed: $lo")
    assert(hi._5 >= lo._5, s"precision did not improve with the threshold: $out")
  }

  test("containmentPairs: a planted prefix-subset doc reads containment " +
    "1.0 toward its superset while the reverse direction is cut by the " +
    "threshold — the asymmetry Jaccard rows cannot express") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 8 3-gram shingles, all inside doc 2
      (2L, "a b c d e f g h i j k l m n o p q r s t"), // 18 shingles
      (3L, "zz yy xx ww vv uu tt ss rr qq") // unrelated
    ).toDF("id", "text")
    val out = operators.Dedup.containmentPairs(docs, "id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq((1L, 2L, 8L, 8L, 1000000L)),
      s"hand-computed: doc1's 8 shingles ⊆ doc2's 18; (2,1) reads " +
        s"8/18 = 444444 ppm < 800000 and doc3 shares nothing — got " +
        s"${out.toSeq}")
    // Jaccard of the planted pair is 8/18 = 0.44 — under the t7-style
    // 0.5+ dup thresholds; the containment row is the only detector
  }

  test("containmentPairs: a boilerplate shingle hotter than dfCap is " +
    "dropped from sample AND index — hot-only docs emit no candidates " +
    "(the stated recall trade), and guards are loud") {
    import spark.implicits._
    // five identical 4-token docs: every shingle has df 5 > dfCap 2, so
    // the rare set is empty — no candidates, no quadratic hot-key join
    val hot = (10L to 14L).map(i => (i, "x y z w")).toDF("id", "text")
    val out = operators.Dedup.containmentPairs(hot, "id", "text",
      dfCap = 2)
    assert(out.count() == 0L, "hot-only corpus must emit nothing")
    val bad = intercept[IllegalArgumentException] {
      operators.Dedup.containmentPairs(hot, "id", "text",
        thresholdPpm = 0L)
    }
    assert(bad.getMessage.contains("thresholdPpm"))
    val badM = intercept[IllegalArgumentException] {
      operators.Dedup.containmentPairs(hot, "id", "text", sampleM = 1)
    }
    assert(badM.getMessage.contains("sampleM"))
  }
}
