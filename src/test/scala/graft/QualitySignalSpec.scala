package graft

import graft.functions.JlProject
import org.apache.spark.sql.functions._

/** Laws for the round-11 quality-signal / projection operators: the
  * Gopher top-bigram gate against a full independent Scala recompute,
  * the JL expression against a driver-side reference fold + the md5
  * sign rule, and the PQ reconstruction profile against an independent
  * in-engine re-derivation from the persisted layout.
  */
class QualitySignalSpec extends SparkSpec {
  import spark.implicits._

  test("top_bigram_mass matches an independent Scala recompute") {
    val got = operators.QualitySignalOps.queries("top_bigram_mass")(
        spark, sf())
      .select("source", "n_docs", "n_flagged", "mean_share_fp")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

    val docs = Tables.documents(spark, sf())
      .select("source", "text").as[(String, String)].collect()
    val perDoc = docs.flatMap { case (src, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 2) None
      else {
        val counts = ws.sliding(2).map(_.mkString(" "))
          .toSeq.groupBy(identity).view.mapValues(_.size.toLong)
        val cTop = counts.values.max
        val nBi = (ws.length - 1).toLong
        Some(src -> (cTop * 1000000L / nBi))
      }
    }
    val expected = perDoc.groupBy(_._1).map { case (src, xs) =>
      val shares = xs.map(_._2)
      src -> (shares.length.toLong,
        shares.count(_ > operators.QualitySignalOps.FlagFp).toLong,
        shares.sum / shares.length)
    }
    assert(got === expected)
  }

  test("jl_project matches a reference fold and the md5 sign rule") {
    // sign rule: recompute a handful of cells from first principles
    val md = java.security.MessageDigest.getInstance("MD5")
    def sgn(i: Int, j: Int): Int = {
      val hex = md.digest(s"${i}_${j}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("01234567".contains(hex.charAt(0))) 1 else -1
    }
    for (i <- Seq(0, 1, 63, 4095); j <- 0 until JlProject.K)
      assert(JlProject.signMatrix(i)(j) === sgn(i, j),
        s"sign matrix disagrees with the md5 rule at ($i, $j)")

    // expression vs reference fold on real vectors
    val rows = Tables.embeddings(spark, sf())
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"),
        JlProject.of(col("embedding")).as("p"))
      .as[(Long, Array[Float], Array[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, emb, p) =>
      assert(p.length === JlProject.K)
      val ref = Array.fill(JlProject.K)(0L)
      emb.zipWithIndex.foreach { case (x, i) =>
        val fx = (x.toDouble * 1e6).toLong
        (0 until JlProject.K).foreach(j =>
          ref(j) += JlProject.signMatrix(i)(j) * fx)
      }
      assert(p.toSeq === ref.toSeq, s"vec $id: expression != reference fold")
    }
  }

  test("random_projection_jl moments are k rows over the full corpus") {
    val n = Tables.embeddings(spark, sf()).count()
    val out = operators.QualitySignalOps.queries("random_projection_jl")(
        spark, sf())
      .select(col("j"), col("n"), col("sumsq_fp").cast("double"))
      .as[(Int, Long, Double)].collect()
    assert(out.map(_._1).toSeq === (0 until JlProject.K))
    out.foreach { case (j, cnt, ss) =>
      assert(cnt === n, s"coordinate $j covers $cnt of $n vectors")
      assert(ss >= 0.0)
    }
  }

  test("pq_subspace_recon_error matches an independent in-engine re-derivation") {
    val got = operators.SemiStructuredOps.queries("pq_subspace_recon_error")(
        spark, sf())
      .select(col("j"), col("n_vecs"), col("sum_err_fp").cast("string"),
        col("mean_err_fp"))
      .as[(Int, Long, String, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // independent re-derivation: explode ne positions, join the
    // persisted codebook as a DataFrame (no pq_recon_err expression)
    val layout = operators.SemiStructuredOps.pqLayoutPathForSpec(spark, sf())
    val v = spark.read.parquet(layout)
    val cb = spark.read.parquet(s"$layout.codebook")
    val terms = v.select(col("vec_id"), col("codes"),
        posexplode(col("ne")).as(Seq("pos0", "x")))
      .withColumn("vidx", col("pos0") + 1)
      .join(cb, col("vidx") === cb("idx"))
      .filter(expr("element_at(codes, j + 1) = code"))
      .select(col("vec_id"), col("j"),
        expr("CAST(FLOOR((CAST(x AS DOUBLE) - val) * (CAST(x AS DOUBLE) - val) * 1e12) AS BIGINT)")
          .as("t"))
    val expected = terms.groupBy("vec_id", "j").agg(sum("t").as("e"))
      .groupBy("j")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("e").cast("decimal(38,0)")).as("sum_err_fp"))
      .withColumn("mean_err_fp", expr("CAST(sum_err_fp DIV n_vecs AS BIGINT)"))
      .select(col("j"), col("n_vecs"), col("sum_err_fp").cast("string"),
        col("mean_err_fp"))
      .as[(Int, Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq === expected.toSeq)
    got.foreach { case (_, _, s, m) =>
      assert(BigDecimal(s) >= 0 && m >= 0)
    }
  }

  test("flesch_kincaid_by_source: per-doc leaf replay; count laws") {
    val rows = operators.QualitySignalOps.queries(
      "flesch_kincaid_by_source")(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val docs = Tables.documents(spark, sf())
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val leaves = ds.map { case (_, text) =>
        val w = text.split(" ", -1).length.toLong
        val sents = math.max(1L, "[.!?]".r.findAllIn(text).length.toLong)
        val syl = math.max(w,
          "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong)
        val fk = math.floor(
          (0.39 * w / sents + 11.8 * syl / w - 15.59) * 1e6).toLong
        (w, sents, syl, fk)
      }
      val sumFk = leaves.map(_._4).sum
      val mean = if (sumFk >= 0) sumFk / ds.length
        else -((-sumFk) / ds.length)
      (src, ds.length.toLong, leaves.map(_._1).sum, leaves.map(_._2).sum,
        leaves.map(_._3).sum, mean)
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq === expect, "bit-exact per-source replay")
    rows.foreach { case (_, nDocs, w, sents, syl, _) =>
      assert(syl >= w, "syllables floored at one per word")
      assert(sents >= nDocs, "sentences floored at one per doc")
      assert(w >= nDocs, "split never yields zero tokens")
    }
  }

  test("stopword_density_gate: exact replay + gate threshold law") {
    val stop = Set("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "it", "for", "on", "as", "at", "by", "be", "this", "that",
      "with", "from")
    val docs = Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = operators.QualitySignalOps.queries(
      "stopword_density_gate")(spark, sf()).collect()
    assert(rows.length === docs.size, "one row per document")
    rows.foreach { r =>
      val (id, n, ns, ratio, keep) = (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))
      val ws = docs(id).split(" ")
      assert(n === ws.length.toLong)
      assert(ns === ws.count(stop).toLong, s"doc $id stopword count")
      assert(ratio === ns * 1000000L / n)
      assert(keep === (ratio >= 20000L), s"doc $id gate replay")
    }
    // the synthetic corpus carries function words: the gate passes some
    // and (with a 2% bar) the flag is not vacuously constant-true
    assert(rows.exists(_.getBoolean(5)), "some docs pass the gate")
  }

  test("gopher_quality_rules: census laws + per-doc rule replay on one doc") {
    val res = SparkEntry.queries("gopher_quality_rules")(spark, sf())
      .collect()
    val total = graft.Tables.documents(spark, sf()).count()
    assert(res.map(_.getLong(1)).sum === total, "every doc lands once")
    res.foreach { r =>
      val n = r.getLong(1)
      val passes = (2 to 6).map(r.getLong)
      val passAll = r.getLong(7)
      passes.foreach(p => assert(p >= 0 && p <= n, s"rule count in [0,n]: $r"))
      assert(passAll <= passes.min,
        s"pass_all cannot exceed any single rule: $r")
    }
    // replay every rule on one concrete document
    val doc = graft.Tables.documents(spark, sf())
      .orderBy("doc_id").limit(1).collect().head
    val ws = doc.getString(doc.fieldIndex("text")).split(" ")
    val stop = Set("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    val n = ws.length.toLong
    val rWc = n >= 50 && n <= 100000
    val meanLenFp = ws.map(_.length.toLong).sum * 1000000L / n
    val rWl = meanLenFp >= 3000000L && meanLenFp <= 10000000L
    val rSw = ws.filter(stop).distinct.length >= 2
    val cTop = ws.groupBy(identity).values.map(_.length).max.toLong
    val rTs = cTop * 1000000L / n <= 200000L
    val rAl = ws.count(_.exists(_.isLetter)).toLong * 1000000L / n >= 800000L
    // the per-doc booleans exist only pre-rollup; re-derive the doc's
    // source row bounds: its flags must be consistent with the census
    val srcRow = res.find(_.getString(0) ==
      doc.getString(doc.fieldIndex("source"))).get
    Seq(rWc, rWl, rSw, rTs, rAl).zipWithIndex.foreach { case (flag, i) =>
      val cnt = srcRow.getLong(2 + i)
      if (flag) assert(cnt >= 1, s"rule $i true for doc 0 but census 0")
      else assert(cnt < srcRow.getLong(1),
        s"rule $i false for doc 0 but census full")
    }
  }

  test("ccnet_ppl_bucket_filter: terciles partition each source ~n/3") {
    val res = SparkEntry.queries("ccnet_ppl_bucket_filter")(spark, sf())
      .collect()
    val bySrc = res.groupBy(_.getString(0))
    bySrc.foreach { case (src, rows) =>
      val buckets = rows.map(_.getString(1)).toSet
      assert(buckets.subsetOf(Set("head", "middle", "tail")), s"$src buckets")
      val counts = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      val n = counts.values.sum
      // exact-rank cutoffs: each bucket holds between n/3 - 1 and
      // n/3 + 2 docs modulo ties (the fixture has distinct-enough
      // per-doc NLLs that ties never span a cutoff at this scale)
      counts.foreach { case (b, c) =>
        assert(math.abs(c - n / 3.0) <= 3,
          s"$src/$b: $c of $n not a tercile") }
      // fluency ordering: head's mean NLL <= middle's <= tail's (±1 fp
      // unit of per-doc truncation slack at the cutoffs)
      val mean = rows.map(r => r.getString(1) -> r.getLong(4)).toMap
      assert(mean("head") <= mean("middle") + 1 &&
        mean("middle") <= mean("tail") + 1, s"$src bucket means out of order")
    }
  }
}
