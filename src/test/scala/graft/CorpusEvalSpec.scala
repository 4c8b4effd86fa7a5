package graft

/** Semantic pins for CorpusEvalOps: the precision/recall identities
  * (hits bounded by both sides, fp ratios replay from counts), the
  * backoff sanity laws (log-probs strictly negative, seen-mass
  * dominance), and the entropy bounds (0 ≤ H ≤ ln(charset)).
  */
class CorpusEvalSpec extends SparkSpec {
  private def run(key: String) =
    operators.CorpusEvalOps.queries(key)(spark, sf()).collect()

  test("minhash_candidate_quality: hit bounds and fp ratio replay") {
    val Array(r) = run("minhash_candidate_quality")
    val (ns, nt, nc, nh) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(ns > 0)
    assert(nh <= nt && nh <= nc, "hits are an intersection")
    if (nc > 0) assert(r.getLong(4) === nh * 1000000L / nc)
    if (nt > 0) assert(r.getLong(5) === nh * 1000000L / nt)
    // a sane LSH config has to find SOMETHING when truth is non-empty
    if (nt > 0) assert(nh > 0, "band candidates must overlap exact truth")
  }

  test("stupid_backoff_logprob: strictly negative averages per source") {
    val rows = run("stupid_backoff_logprob")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sum, avg) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0)
      // every scored bigram has probability < 1 ⇒ ln < 0 (floor'd)
      assert(sum < 0 && avg < 0)
      // avg replays from the sum (toward-zero)
      assert(avg === sum / n)
    }
  }

  test("lsh_s_curve_calibration's shingle pin is tracked: releasePins reclaims it") {
    graft.functions.Checkpoints.releasePins(spark) // drain earlier suites' pins
    val df = operators.CorpusEvalOps.queries("lsh_s_curve_calibration")(spark, sf())
    df.collect()
    val released = graft.functions.Checkpoints.releasePins(spark)
    assert(released >= 1, "the shingle table's pin bypassed the pin registry")
    assert(df.columns.nonEmpty) // keeps the plan, and so its pin, reachable
  }

  test("lsh_s_curve_calibration: rates in range; theory curve monotone") {
    val rows = run("lsh_s_curve_calibration")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, n, c, meas, theo) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(b >= 0 && b <= 9 && c <= n)
      assert(meas === c * 1000000L / n)
      // theory replays: 1-(1-j^4)^4 at the bucket center
      val j = (2 * b + 1) / 20.0
      val expect = math.floor(
        (1.0 - math.pow(1.0 - math.pow(j, 4.0), 4.0)) * 1e6).toLong
      assert(theo === expect)
    }
    val theos = rows.sortBy(_.getLong(0)).map(_.getLong(4))
    assert(theos.zip(theos.tail).forall { case (a, b) => a <= b },
      "S-curve is monotone in J")
  }

  test("cluster_policy_disagreement: partition accounting") {
    val Array(r) = run("cluster_policy_disagreement")
    val (n, same, dis, rate) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(n >= 1 && same + dis === n, "every cluster classified once")
    assert(rate === dis * 1000000L / n)
  }

  test("dedup_savings_estimate: accounting identities") {
    val Array(r) = run("dedup_savings_estimate")
    val (n, dups, total, saved, fp) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(n === Tables.documents(spark, sf()).count())
    assert(dups >= 0 && dups < n)
    assert(saved <= total && saved >= 0)
    assert(fp === saved * 1000000L / total)
    // n_dup_docs = n_docs − distinct hashes
    val distinctHashes = Tables.documents(spark, sf())
      .selectExpr("sha2(text, 256) AS h").distinct().count()
    assert(dups === n - distinctHashes)
  }

  test("char_entropy_by_source: 0 <= H <= ln(distinct chars)") {
    val rows = run("char_entropy_by_source")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, k, h) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n > 0 && k >= 1 && k <= n)
      assert(h >= -k, "entropy >= 0 up to per-char floor slack")
      val hMax = (math.log(k.toDouble) * 1e9).toLong
      assert(h <= hMax, s"H bounded by ln(k): $h vs $hMax")
    }
  }

  test("burrows_delta_sources: pair structure and a full Scala replay") {
    import org.apache.spark.sql.functions._
    val rows = operators.CorpusEvalOps.queries("burrows_delta_sources")(
        spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sources = Tables.documents(spark, sf())
      .select("source").distinct().collect().map(_.getString(0)).sorted
    val m = sources.length
    assert(rows.size === m * (m - 1) / 2, "all unordered source pairs")
    rows.foreach { case ((a, b), d) =>
      assert(a < b, "canonical order")
      assert(d >= 0, s"Delta($a, $b) = $d negative")
    }
    // full replay: rebuild the z grid in Scala from raw counts
    val toks = Tables.documents(spark, sf())
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nS = toks.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val topW = toks.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(20).map(_._1)
    def trunc(a: Long, b: Long): Long =
      if (a < 0) -((-a) / b) else a / b
    val rate = (for (s0 <- sources; w <- topW) yield {
      val c = toks.find(t => t._1 == s0 && t._2 == w).map(_._3).getOrElse(0L)
      (s0, w) -> c * 1000000L / nS(s0)
    }).toMap
    val zs = topW.map { w =>
      val rs = sources.map(s0 => rate((s0, w)))
      val (sr, srr) = (rs.sum, rs.map(r => BigInt(r) * r).sum)
      val mu = sr / m
      val varI = ((BigInt(m) * srr - BigInt(sr) * sr) /
        (m.toLong * (m - 1))).toLong
      val sigma = math.floor(math.sqrt(varI.toDouble)).toLong
      w -> sources.map(s0 => s0 ->
        (if (sigma == 0) 0L else trunc((rate((s0, w)) - mu) * 1000000L, sigma))
      ).toMap
    }.toMap
    for (i <- sources.indices; j <- i + 1 until m) {
      val (a, b) = (sources(i), sources(j))
      val expect = topW.map(w => math.abs(zs(w)(a) - zs(w)(b))).sum / 20
      assert(rows((a, b)) === expect, s"Delta($a, $b) replay")
    }
  }
  test("lsh_band_planner: P(s) leaf replay + best-layout argmin") {
    val rows = run("lsh_band_planner")
    assert(rows.length === 5, "five factorizations of 16")
    val nm = operators.LlmOps.queries("minhash_near_dedup")(spark, sf())
      .collect().map(r => r.getInt(2).toLong) // n_match per pair
    rows.foreach { r =>
      val (b, rr, nPairs, nDup, fp, fn, err, best) = (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7))
      assert(b * rr === 16L, "layout factorizes the signature")
      assert(nPairs === nm.length.toLong)
      assert(nDup === nm.count(_ >= 8).toLong)
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, rr.toDouble), b.toDouble)
      val fpExp = nm.filter(_ < 8)
        .map(m => math.floor(p(m / 16.0) * 1e6).toLong).sum
      val fnExp = nm.filter(_ >= 8)
        .map(m => 1000000L - math.floor(p(m / 16.0) * 1e6).toLong).sum
      assert(fp === fpExp && fn === fnExp, s"($b,$rr) mass replay")
      assert(err === fp + fn)
      assert(!best || rows.forall(o => o.getLong(6) > err ||
        (o.getLong(6) == err && o.getLong(0) >= b)), "argmin with min-b tie")
    }
    assert(rows.count(_.getBoolean(7)) === 1, "exactly one winner")
  }

  test("dedup_cascade_audit: stage counts replay + conservation") {
    val rows = run("dedup_cascade_audit").map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf())
      .selectExpr("doc_id", "sha2(text, 256) AS h").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.length.toLong
    val keep1 = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val labels = spark.read.parquet(
      operators.IncrementalMaintainOps.mhccBase(spark, sf())).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keep2 = keep1.groupBy(labels).values.map(_.min).toSet
    assert(rows("1_exact") === ((n - keep1.size, keep1.size.toLong,
      (n - keep1.size) * 1000000L / n)), "exact stage replay")
    assert(rows("2_near_dup") === ((keep1.size.toLong - keep2.size,
      keep2.size.toLong, (keep1.size - keep2.size) * 1000000L / n)),
      "near-dup stage replay")
    assert(rows("3_kept")._2 === keep2.size.toLong)
    assert(rows("1_exact")._1 + rows("2_near_dup")._1 +
      rows("3_kept")._2 === n, "stages partition the corpus")
  }

  test("minhash_estimator_calibration: deciles bounded; rates exact; pairs = candidate count") {
    val rows = operators.CorpusEvalOps
      .queries("minhash_estimator_calibration")(spark, sf()).collect()
    assert(rows.nonEmpty, "the fixture has banded candidates")
    rows.foreach { r =>
      val (dec, n, err, nw, rate) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(dec >= 0L && dec <= 9L)
      assert(nw <= n && rate === nw * 1000000L / n)
      assert(err >= 0L && err <= 1000000L, "|est - J| is a probability gap")
    }
    // the calibration covers EVERY banded candidate pair exactly once
    val nCand = graft.functions.TextSim.signatureBandPairs(
      spark.read.parquet(operators.LlmOps.minhashLayout(spark, sf())),
      numBands = operators.LlmOps.MinHashBands,
      rowsPerBand = operators.LlmOps.MinHashRowsPerBand).count()
    assert(rows.map(_.getLong(1)).sum === nCand,
      "decile pair counts partition the candidate set")
  }
}
