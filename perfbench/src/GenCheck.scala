package perfbench

/** Generator self-check (`run.py --gencheck`): the same seed must render
  * byte-identical inputs, and a second seed must render inputs of the same
  * size and shape. No Spark is started. */
object GenCheck {
  private def fileShape(fs: Seq[Gen.FileDoc]): Map[String, Double] = {
    val n = fs.size.toDouble
    val sizes = fs.filter(_.planted.isEmpty).map(_.bytes.length.toDouble)
    Gen.kinds.map(k => s"share.$k" -> fs.count(f => f.kind == k && f.planted.isEmpty) / n).toMap ++
      Map("docs" -> n, "planted_share" -> fs.count(_.planted.nonEmpty) / n,
        "median_bytes" -> Stats.median(sizes), "apps" -> fs.map(_.appId).distinct.size.toDouble)
  }

  private def curateShape(c: Gen.CurateCorpus): Map[String, Double] = {
    val n = c.docs.size.toDouble
    Map("docs" -> n, "copies" -> c.exactGroups.map(_.size - 1).sum.toDouble,
      "near" -> c.nearPairs.size.toDouble, "contaminated_share" -> c.contaminated.size / n,
      "spam_share" -> c.spam.size / n,
      "median_bytes" -> Stats.median(c.docs.map(_._2.length.toDouble)))
  }

  private def reads(seed: Long): String = {
    val r = Gen.rng(seed, 5)
    Gen.digest((0 until 500).iterator.map(i =>
      Gen.read(r, Seq("dense", "list", "multivector")(i % 3), i % 3, i / 3) match {
        case q => s"${q.copy(filter = None)}|${q.filter.map(_.json)}".getBytes("UTF-8")
      }))
  }

  /** Shares agree within 3 points, other statistics within 12%. */
  private def close(key: String, a: Double, b: Double): Boolean =
    if (key.contains("share")) math.abs(a - b) <= 0.03
    else math.abs(a - b) <= 0.12 * math.max(a, b)

  def run(seed: Long): Int = {
    var ok = true
    def report(what: String, pass: Boolean, detail: String): Unit = {
      ok &&= pass
      println(s"${if (pass) "ok  " else "FAIL"} $what: $detail")
    }
    val d1 = Gen.digest(Gen.files(seed, 2400).iterator.map(_.digestBytes))
    val d2 = Gen.digest(Gen.files(seed, 2400).iterator.map(_.digestBytes))
    report("files digest repeats", d1 == d2, d1.take(16))
    val c1 = Gen.curate(seed, 4000); val c2 = Gen.curate(seed, 4000)
    report("curate digest repeats", c1.digest == c2.digest, c1.digest.take(16))
    report("serve read stream repeats", reads(seed) == reads(seed), reads(seed).take(16))
    report("a second seed differs",
      Gen.digest(Gen.files(seed + 1, 2400).iterator.map(_.digestBytes)) != d1, "")
    val (a, b) = (fileShape(Gen.files(seed, 2400)), fileShape(Gen.files(seed + 1, 2400)))
    a.keys.toSeq.sorted.foreach(k => report(s"files shape $k", close(k, a(k), b(k)),
      f"${a(k)}%.4f vs ${b(k)}%.4f"))
    val (x, y) = (curateShape(c1), curateShape(Gen.curate(seed + 1, 4000)))
    x.keys.toSeq.sorted.foreach(k => report(s"curate shape $k", close(k, x(k), y(k)),
      f"${x(k)}%.4f vs ${y(k)}%.4f"))
    println(if (ok) "gencheck: PASS" else "gencheck: FAIL")
    if (ok) 0 else 1
  }
}
