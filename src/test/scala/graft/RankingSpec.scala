package graft

import org.apache.spark.sql.Row

/** Semantic pins for the RankingOps group (the DuckDB oracle checks
  * hash-equality; these pin the properties the hash can't name).
  */
class RankingSpec extends SparkSpec {
  private def run(key: String) =
    operators.RankingOps.queries(key)(spark, sf()).collect()

  test("bm25_topk returns 10 distinct docs in strictly ranked order") {
    val rows = run("bm25_topk")
    assert(rows.length === 10)
    assert(rows.map(_.getLong(0)).distinct.length === 10)
    assert(rows.map(_.getInt(1)).toSeq === (1 to 10))
    val scores = rows.map(_.getLong(2)).toSeq
    assert(scores === scores.sorted.reverse, "scores must be non-increasing")
    assert(scores.forall(_ > 0), "Lucene idf keeps contributions positive")
  }

  test("mixture_weighted_resample keeps ~budget·w/W per source, content-derived") {
    val rows = run("mixture_weighted_resample")
    assert(rows.length === 20, "every source must survive at fixture rates")
    val wSum = rows.map(_.getLong(1)).sum
    val tRows = rows.map(_.getLong(2)).sum
    val budget = tRows * 2 / 5
    rows.foreach { case Row(src: String, w: Long, nTotal: Long, nKept: Long) =>
      assert(nKept <= nTotal, s"$src kept more than it had")
      val target = budget.toDouble * w / wSum
      // md5 is uniform: binomial(n_total, rate) stays within ±35% of the
      // target at n_total=25 (sf0.001) with margin to spare
      assert(math.abs(nKept - target) <= target * 0.35 + 3,
        s"$src kept $nKept, target $target")
    }
    val total = rows.map(_.getLong(3)).sum
    assert(math.abs(total - budget) <= budget / 5, s"overall kept $total vs budget $budget")
  }

  test("hybrid rerank: candidates come from bm25 top-10; both rankings are sound") {
    val lexical = run("bm25_topk").map(_.getLong(0)).toSet
    val rows = run("hybrid_retrieval_rerank")
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getLong(0)).toSet.subsetOf(lexical),
      "dense stage may only rerank lexical survivors")
    val n = rows.length
    assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to n),
      "bm25_rank is a permutation over the candidates")
    assert(rows.map(_.getInt(2)).sorted.toSeq === (1 to n),
      "hybrid_rank is a permutation over the candidates")
    val byHybrid = rows.sortBy(_.getInt(2))
    assert(byHybrid.sliding(2).filter(_.length == 2).forall(p =>
      p(0).getDouble(4) >= p(1).getDouble(4) - 1e-9),
      "cosine non-increasing in hybrid rank")
    val byLex = rows.sortBy(_.getInt(1))
    assert(byLex.sliding(2).filter(_.length == 2).forall(p =>
      p(0).getLong(3) >= p(1).getLong(3)),
      "bm25 score non-increasing in bm25 rank")
  }

  test("pagerank_event_transitions conserves fixed-point mass and ranks all types") {
    val rows = run("pagerank_event_transitions")
    assert(rows.length === 5, "one row per event type")
    val mass = rows.map(_.getLong(1)).sum
    val scale = 1000000000000L
    // floors leak a few units per node per round; dangling mass none
    assert(mass <= scale && mass >= scale - scale / 100,
      s"mass $mass must stay within 1% of $scale")
    val prs = rows.map(_.getLong(1)).toSeq
    assert(prs === prs.sorted.reverse)
    assert(prs.forall(_ > 0))
  }

  test("pagerank distributed join-loop is bit-identical to the driver iterate") {
    // limit 0 forces the GraphOps-style equi-join loop (the
    // beyond-driver-memory vocabulary path); default routes the 5-type
    // fixture driver-side. Same int64 recurrence ⇒ same bits.
    val driver = run("pagerank_event_transitions")
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val dist = withConf("graft.route.smallRows", "0") {
      run("pagerank_event_transitions")
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(dist === driver, "distributed iterate diverged from driver iterate")
  }

  test("pagerank is invariant to input partitioning") {
    val a = run("pagerank_event_transitions").map(r => (r.getString(0), r.getLong(1))).toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val b = run("pagerank_event_transitions").map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(a === b, "int64 fixed-point iterate must be partition-invariant")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("dsir_importance_resample weights replay exactly on the driver") {
    val rows = operators.CurationOps
      .queries("dsir_importance_resample")(spark, sf()).collect()
    val docs = Tables.documents(spark, sf())
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val target = Set("src0", "src1")
    def buckets(text: String): Seq[Long] =
      text.split(" ").filter(_.nonEmpty).toSeq
        .map(w => java.lang.Long.parseLong(md5Hex(w).substring(0, 2), 16))
    val ctM = docs.filter(d => target(d._2)).flatMap(d => buckets(d._3))
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val crDocs = docs.filterNot(d => target(d._2))
    val crM = crDocs.flatMap(d => buckets(d._3))
      .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val (tt, tr) = (ctM.values.sum, crM.values.sum)
    def lamFp(b: Long): Long =
      (math.log(((ctM.getOrElse(b, 0L) + 1) * (tr + 256)).toDouble /
                ((crM.getOrElse(b, 0L) + 1) * (tt + 256)).toDouble) * 1e6).toLong
    val expected = crDocs.map { d =>
      (d._1, buckets(d._3).map(lamFp).sum)
    }.toMap
    assert(rows.length === math.min(50, crDocs.length))
    assert(rows.forall(r => !target(r.getString(1))),
      "target-domain docs never appear in the scored pool")
    val ws = rows.map(_.getLong(2)).toSeq
    assert(ws === ws.sorted.reverse, "rows ranked by weight")
    rows.foreach(r => assert(r.getLong(2) === expected(r.getLong(0)),
      s"weight mismatch for doc ${r.getLong(0)}"))
  }

  test("length_percentile_gate thresholds are the rank-defined p95") {
    val rows = operators.CurationOps
      .queries("length_percentile_gate")(spark, sf()).collect()
    val docs = Tables.documents(spark, sf()).select("doc_id", "lang", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byLang = docs.groupBy(_._2)
    assert(rows.map(_.getString(0)).toSet === byLang.keySet)
    rows.foreach { r =>
      val (lang, n, p95, nDrop, nKept) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      val g = byLang(lang)
      assert(n === g.length.toLong)
      val sorted = g.sortBy(d => (d._3, d._1)).map(_._3)
      val k = ((n * 95 + 99) / 100).toInt
      assert(p95 === sorted(k - 1), s"p95 for $lang")
      assert(nDrop === g.count(_._3 > p95).toLong)
      assert(nKept === n - nDrop)
    }
  }

  test("template_phrase_detect replays as distinct-doc 3-gram recurrence >= 3") {
    val rows = operators.CurationOps
      .queries("template_phrase_detect")(spark, sf()).collect()
    val docs = Tables.documents(spark, sf()).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def phrases(text: String): Set[String] = {
      val ws = text.split(" ", -1)
      (0 to math.max(ws.length - 3, 0))
        .map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    val counts = docs
      .flatMap { case (src, t) => phrases(t).map(p => (src, p)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val nDocs = docs.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val expected = counts.filter(_._2 >= 3)
    assert(rows.length === expected.size, "exactly the recurring phrases")
    assert(rows.nonEmpty, "fixture corpus contains recurring 3-grams")
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) === expected(k), s"doc count for $k")
      assert(r.getLong(3) === nDocs(k._1))
      assert(r.getLong(4) === r.getLong(2) * 1000000L / r.getLong(3))
    }
  }
}
