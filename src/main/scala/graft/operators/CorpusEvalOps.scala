package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck, truncDivSpark, truncDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-pipeline evaluation operators (round-10 widening, fourth
  * session): precision/recall of the MinHash band-candidate generator
  * against exact shingle-Jaccard ground truth (the dedup acceptance
  * gate — `ann_recall_eval`'s sibling for the near-dup family),
  * stupid-backoff bigram log-probability by source (the web-scale LM
  * scoring rule of Brants et al. — no discounting model to fit, one
  * multiplicative backoff), and per-source character entropy (the
  * gibberish/encoding-anomaly monitor).
  *
  * Determinism & scale design:
  *   - Ground truth is exact Jaccard over the SAME 3-shingle definition
  *     the persisted signatures hash, computed ONLY within the
  *     deterministic 10% doc sample (the bounded-ground-truth pattern:
  *     at corpus scale the sample fraction is the knob, never the
  *     corpus² truth); the J ≥ 0.5 threshold is the integer-exact
  *     3·inter ≥ na+nb comparison — no doubles.
  *   - Backoff scoring state is vocab²-bounded (observed bigram types);
  *     each eval bigram's log-score is one FLOOR'd IEEE ln over exact
  *     integer counts (identical text both engines), weighted by its
  *     integer eval count and integer-summed; train/eval split is the
  *     deterministic doc_id % 7 rule (split_leakage_audit's family).
  *   - Char entropy state is (source × charset)-bounded; the corpus
  *     flows through one map-side-combinable count after the position
  *     expansion (the shingle-oracle envelope recipe).
  */
object CorpusEvalOps extends OpGroup {

  /** Stupid-backoff log-score of an eval bigram type, over exact
    * integer counts: seen ⇒ ln(cb/cu); unseen ⇒ ln(0.4·(cw+1)/(T+V)).
    */
  private val backoffTermSql =
    """CAST(FLOOR(CASE WHEN cb > 0
      | THEN ln(CAST(cb AS DOUBLE) / cu)
      | ELSE ln(0.4 * (CAST(cw AS DOUBLE) + 1) / (t_tok + v_sz))
      | END * 1000000000.0) AS BIGINT)""".stripMargin.replace("\n", " ")

  /** Function words for the Burrows Delta profile (top-K corpus words
    * by total count, ties to word asc) and the sign-explicit
    * toward-zero division both engines agree on for negative z.
    */
  private val BurrowsK = 20

  /** 2·SE MinHash-estimator bound 2·√(J(1−J)/k) in 1e-6 fixed point,
    * spelled over the exact (inter, un) integers so both engines build
    * identical doubles: √(inter·(un−inter)/k)·2/un. J ∈ {0, 1} ⇒ SE 0
    * (the estimator must be exact there — within iff err = 0).
    */
  private val mhBoundSql =
    s"""CAST(FLOOR(2.0 * sqrt(CAST(inter AS DOUBLE) * (un - inter)
       | / ${LlmOps.MinHashes}.0) / un * 1000000.0) AS BIGINT)"""
      .stripMargin.replace("\n", " ")

  /** (doc_id, shs): each document's distinct word 3-shingles, PINNED
    * once. The explode every consumer runs makes the optimizer infer
    * `size(shs) > 0` and push the WHOLE shingle expression down into
    * the (1-split) scan as a filter predicate, re-evaluated once per
    * consumer subtree — a 1.4–1.7 s single-task stage per copy (the
    * §4.4 duplicated-expression trap, JVM edition). The pin cuts the
    * plan to one shingle pass over the caller's spread partitions and
    * stops the filter pushdown at the materialized blocks; it is a
    * tracked pin, so `Checkpoints.releasePins` reclaims it.
    */
  private def pinnedShingles(docs: DataFrame): DataFrame =
    graft.functions.Checkpoints.pin(docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shs",
        array_distinct(graft.functions.TextSim.shingles("ws", 3)))
      .select("doc_id", "shs"))

  /** The 10% truth sample (doc_id % 10 = 0) as pinned shingle sets,
    * scan-spread below the shingle transform (r18, see Spread doc).
    */
  private def truthSample(s: SparkSession, d: String): DataFrame =
    pinnedShingles(graft.functions.Spread(
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 10 === 0),
      col("doc_id")))

  /** Every sample pair sharing a shingle: (doc_a < doc_b, na, nb, inter)
    * with the two shingle-set sizes and their exact intersection.
    */
  private def truthPairs(sample: DataFrame): DataFrame = {
    val tok = sample.select(col("doc_id"), explode(col("shs")).as("sh"))
    val sized = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inv = tok.join(sized, "doc_id")
    inv.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Burrows' Delta stylometry (r12, Burrows 2002): pairwise style
    // distance between sources = mean |z_a − z_b| over the top-K
    // function-word rates — THE attribution statistic of text
    // forensics, here reading which sources share a generating
    // process/template (near-identical Delta pairs are merge or
    // contamination candidates the content-hash dedup family can't
    // see). Scale: token pass folds to the (source × K) rate grid
    // (zero-filled — a missing function word IS signal); per-word
    // moments are |sources|-bounded; the pair matrix is the
    // |sources|²-bounded OUTPUT, built from a broadcast self-join of
    // the tiny z table. Rates/μ exact ppm; σ = FLOOR'd IEEE sqrt of
    // the exact integer variance; z uses sign-explicit truncation.
    "burrows_delta_sources" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val csw = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val ns = csw.groupBy("source").agg(sum("c").as("n_s"))
      val top = csw.groupBy("w").agg(sum("c").as("ct"))
        .orderBy(col("ct").desc, col("w")).limit(BurrowsK).select("w")
      val grid = ns.crossJoin(broadcast(top))
        .join(csw, Seq("source", "w"), "left")
        .withColumn("r", expr("coalesce(c, 0) * 1000000 DIV n_s"))
      val stats = grid.groupBy("w").agg(count(lit(1)).as("m"),
          sum("r").as("sr"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("srr"))
        .withColumn("mu", expr("sr DIV m"))
        .withColumn("sigma", expr(
          """CAST(FLOOR(sqrt(CAST(
            |  CAST((CAST(m AS DECIMAL(38,0)) * srr - CAST(sr AS DECIMAL(38,0)) * sr)
            |    DIV (m * (m - 1)) AS BIGINT) AS DOUBLE))) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
      val z = grid
        .join(broadcast(stats.select("w", "mu", "sigma")), "w")
        .withColumn("z", expr("CASE WHEN sigma = 0 THEN 0 ELSE " +
          truncDivSpark("(r - mu) * 1000000", "sigma") + " END"))
        .select("source", "w", "z")
      z.select(col("source").as("source_a"), col("w"), col("z").as("z_a"))
        .join(broadcast(
          z.select(col("source").as("source_b"), col("w"),
            col("z").as("z_b"))), "w")
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(expr(s"sum(abs(z_a - z_b)) DIV $BurrowsK").as("delta_fp"))
        .orderBy("source_a", "source_b")
    }),

    // Dedup candidate quality: MinHash band candidates (est_j ≥ 0.5)
    // vs exact 3-shingle Jaccard ≥ 0.5 inside the 10% truth sample.
    "minhash_candidate_quality" -> ((s, d) => {
      val sample = truthSample(s, d)
      val truth = truthPairs(sample)
        .filter(expr("3 * inter >= na + nb"))
        .select("doc_a", "doc_b").withColumn("t", lit(1L))
      val cand = graft.functions.TextSim
        .signatureBandPairs(s.read.parquet(LlmOps.minhashLayout(s, d)),
          numBands = LlmOps.MinHashBands,
          rowsPerBand = LlmOps.MinHashRowsPerBand)
        .filter(col("n_match") >= LlmOps.MinHashDupSlots &&
          col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0)
        .select("doc_a", "doc_b").withColumn("c", lit(1L))
      val u = truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      val nDocs = sample.select(count(lit(1)).as("n_sample_docs"))
      u.agg(sum(coalesce(col("t"), lit(0L))).as("n_truth"),
          sum(coalesce(col("c"), lit(0L))).as("n_cand"),
          sum(coalesce(col("t"), lit(0L)) * coalesce(col("c"), lit(0L)))
            .as("n_hit"))
        .crossJoin(broadcast(nDocs))
        .select(col("n_sample_docs"), col("n_truth"), col("n_cand"),
          col("n_hit"),
          expr("CASE WHEN n_cand = 0 THEN NULL " +
            "ELSE n_hit * 1000000 DIV n_cand END").as("precision_fp"),
          expr("CASE WHEN n_truth = 0 THEN NULL " +
            "ELSE n_hit * 1000000 DIV n_truth END").as("recall_fp"))
    }),

    // C25 (r15) — MinHash estimator CALIBRATION (Broder 1997): the
    // candidate-quality row above answers "does banding find the true
    // pairs"; this one answers "is the ESTIMATE itself honest" — per
    // exact-Jaccard decile, the measured |est − J| of the k=16-slot
    // estimator and the fraction of pairs inside the 2·SE theory bound
    // (Var[est] = J(1−J)/k for k independent permutations ⇒ ~95%
    // coverage when the estimator is unbiased). A calibration decile
    // drifting out of bound means the hash family is correlated or the
    // slot count too small for the operating range — the number that
    // justifies (or indicts) every est_jaccard the dedup family emits.
    // Exactness: est_fp and j_fp are exact integer ratios; the 2·SE
    // bound is ONE shared-text IEEE leaf over exact (inter, un); the
    // candidate pair with NO shared shingles (possible in principle
    // via band-hash collisions) reads inter = 0 via the LEFT join.
    // Scale: candidates come from the persisted layout's banded join
    // (bucket-capped, never all-pairs); the exact-J truth is computed
    // ONLY over candidate-touched docs (a semi-join restriction), so
    // its inverted-index cost is candidate-bounded, not corpus-bounded.
    "minhash_estimator_calibration" -> ((s, d) => {
      val cand = graft.functions.TextSim
        .signatureBandPairs(s.read.parquet(LlmOps.minhashLayout(s, d)),
          numBands = LlmOps.MinHashBands,
          rowsPerBand = LlmOps.MinHashRowsPerBand)
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      // scan-spread below the shingle transform (r18): the semi-join is
      // a broadcast, so the shingling inherited the 1-split fixture
      // scan's parallelism — a 1.7 s single-task stage
      // candDocs is candidate-bounded (cap construction) — broadcast
      // it explicitly: size ESTIMATES of the multi-join band pipeline
      // are wildly off and the planner otherwise sorts the corpus for
      // a sort-merge semi join
      val sample = pinnedShingles(graft.functions.Spread(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          col("doc_id"))
        .join(broadcast(candDocs), Seq("doc_id"), "left_semi"))
      val tok = sample.select(col("doc_id"), explode(col("shs")).as("sh"))
      val sized = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = tok.as("a").join(tok.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      val scored = cand
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sized.select(col("doc_id").as("doc_a"), col("n").as("na")),
          "doc_a")
        .join(sized.select(col("doc_id").as("doc_b"), col("n").as("nb")),
          "doc_b")
        .withColumn("un", expr("na + nb - inter"))
        .withColumn("est_fp", expr(
          s"CAST(n_match AS BIGINT) * 1000000 DIV ${LlmOps.MinHashes}"))
        .withColumn("j_fp", expr("inter * 1000000 DIV un"))
        .withColumn("abs_err", expr("abs(est_fp - j_fp)"))
        .withColumn("bound_fp", expr(mhBoundSql))
        .withColumn("decile", expr("least(j_fp DIV 100000, 9L)"))
      scored.groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"), sum("abs_err").as("sum_err"),
          sum(when(col("abs_err") <= col("bound_fp"), 1L).otherwise(0L))
            .as("n_within_2se"))
        .select(col("decile"), col("n_pairs"),
          expr("sum_err DIV n_pairs").as("mean_abs_err_fp"),
          col("n_within_2se"),
          expr("n_within_2se * 1000000 DIV n_pairs").as("within_rate_fp"))
        .orderBy("decile")
    }),

    // Stupid-backoff bigram log-probability of the eval split
    // (doc_id % 7 = 0) under the train-split LM, reported per source.
    "stupid_backoff_logprob" -> ((s, d) => {
      def bigrams(df: DataFrame) = df
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), col("source"), explode(expr(
          """transform(sequence(0, greatest(size(ws) - 2, 0)),
            |  i -> named_struct('u', ws[i], 'w', ws[i + 1]))"""
            .stripMargin.replace("\n", " "))).as("b"))
        .filter(col("b.w").isNotNull)
        .select(col("doc_id"), col("source"),
          col("b.u").as("u"), col("b.w").as("w"))
      val docs = Tables.documents(s, d)
      val train = bigrams(docs.filter(col("doc_id") % 7 =!= 0))
      val eval_ = bigrams(docs.filter(col("doc_id") % 7 === 0))
      val cb = train.groupBy("u", "w").agg(count(lit(1)).as("cb"))
      val cuT = train.groupBy("u").agg(count(lit(1)).as("cu"))
      val cwT = train.groupBy("w").agg(count(lit(1)).as("cw"))
      val tot = train.agg(count(lit(1)).as("t_tok"),
        countDistinct("w").as("v_sz"))
      val ev = eval_.groupBy("source", "u", "w")
        .agg(count(lit(1)).as("ce"))
      ev.join(cb, Seq("u", "w"), "left")
        .join(cuT, Seq("u"), "left")
        .join(cwT, Seq("w"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("cb", coalesce(col("cb"), lit(0L)))
        .withColumn("cu", coalesce(col("cu"), lit(0L)))
        .withColumn("cw", coalesce(col("cw"), lit(0L)))
        .withColumn("term_fp", expr(backoffTermSql))
        .groupBy("source")
        .agg(sum("ce").as("n_bigrams"),
          sum(expr("ce * term_fp")).as("sum_logprob_fp"))
        .withColumn("avg_logprob_fp",
          expr(signedFpDiv("sum_logprob_fp", "n_bigrams * 1000000")))
        .select("source", "n_bigrams", "sum_logprob_fp", "avg_logprob_fp")
        .orderBy("source")
    }),

    // LSH S-curve calibration: measured band-candidate rate per exact
    // Jaccard decile (inside the 10% truth sample) against the
    // theoretical 1−(1−J^r)^b for the configured (b=4, r=4) layout —
    // the plot that justifies the band configuration. One truth pass
    // (shared shape with minhash_candidate_quality) + one candidate
    // join; buckets are integer-exact J deciles; theory is a single
    // IEEE leaf over the bucket-center literal.
    "lsh_s_curve_calibration" -> ((s, d) => {
      val truth = truthPairs(truthSample(s, d))
        .withColumn("bucket",
          expr("least(9, 10 * inter DIV (na + nb - inter))"))
      val cand = graft.functions.TextSim
        .signatureBandPairs(s.read.parquet(LlmOps.minhashLayout(s, d)),
          numBands = LlmOps.MinHashBands,
          rowsPerBand = LlmOps.MinHashRowsPerBand)
        .filter(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0)
        .select("doc_a", "doc_b").withColumn("c", lit(1L))
      truth.join(cand, Seq("doc_a", "doc_b"), "left")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"),
          sum(coalesce(col("c"), lit(0L))).as("n_cand"))
        .withColumn("measured_fp", expr("n_cand * 1000000 DIV n_pairs"))
        .withColumn("theory_fp", expr(
          """CAST(FLOOR((1.0 - power(1.0 - power((2 * bucket + 1) / 20.0, 4.0),
            | 4.0)) * 1000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .select("bucket", "n_pairs", "n_cand", "measured_fp", "theory_fp")
        .orderBy("bucket")
    }),

    // Survivor-policy disagreement over the persisted near-dup
    // clusters: does keep-first (min doc_id) pick the same
    // representative as keep-longest (max n_chars, ties to the
    // smaller id)? The policy-sensitivity number a dedup design review
    // asks for; fourth consumer of the shared ccLabels layout.
    "cluster_policy_disagreement" -> ((s, d) => {
      val labels = s.read.parquet(TrainingDataOps.ccLabels(s, d))
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val j = labels.join(docs, "doc_id")
      val per = j.groupBy("component")
        .agg(count(lit(1)).as("sz"), min("doc_id").as("rep_first"),
          max("n_chars").as("max_chars"))
        .filter(col("sz") >= 2)
      val longest = j.join(per.select(col("component"),
          col("max_chars")), "component")
        .filter(col("n_chars") === col("max_chars"))
        .groupBy("component").agg(min("doc_id").as("rep_longest"))
      per.join(longest, "component")
        .agg(count(lit(1)).as("n_multi_clusters"),
          sum(when(col("rep_first") === col("rep_longest"), 1L)
            .otherwise(0L)).as("n_same_rep"),
          sum(when(col("rep_first") =!= col("rep_longest"), 1L)
            .otherwise(0L)).as("n_disagree"))
        .withColumn("disagree_rate_fp",
          expr("n_disagree * 1000000 DIV n_multi_clusters"))
    }),

    // What exact dedup would SAVE: byte mass of the non-canonical
    // copies in each full-text sha256 group — the number that
    // justifies running the dedup pass at all. One map-side hash
    // aggregation; group state is (hash → count, bytes).
    "dedup_savings_estimate" -> ((s, d) => {
      val groups = Tables.documents(s, d)
        .select(sha2(col("text"), 256).as("h"), col("n_chars"))
        .groupBy("h")
        .agg(count(lit(1)).as("cnt"), min("n_chars").as("bytes_each"))
      groups.agg(
          sum("cnt").as("n_docs"),
          sum(expr("cnt - 1")).as("n_dup_docs"),
          sum(expr("cnt * bytes_each")).as("bytes_total"),
          sum(expr("(cnt - 1) * bytes_each")).as("bytes_saved"))
        .withColumn("savings_fp",
          expr("bytes_saved * 1000000 DIV bytes_total"))
        .select("n_docs", "n_dup_docs", "bytes_total", "bytes_saved",
          "savings_fp")
    }),

    // Character-distribution entropy per source (encoding/gibberish
    // monitor): H = −Σ (c/n)·ln(c/n) in 1e9 fixed point. r11 altitude
    // fix (VERDICT ask #5): each document folds to ≤|alphabet|
    // frequency cells MAP-SIDE via the codegen char_freq expression —
    // the old per-character explode pushed corpus-bytes rows (~1e14 at
    // 100 TB) into the partial aggregate; now the explode carries
    // docs·|alphabet| cells and the (source, ch) aggregate sums
    // per-doc counts (identical totals, code-point iteration on both
    // engines; empty docs fold to an empty array — the ADVICE r10
    // descending-sequence edge is gone by construction).
    "char_entropy_by_source" -> ((s, d) => {
      val cnt = Tables.documents(s, d)
        .select(col("source"), explode(graft.functions.CharFreq.of(col("text")))
          .as("f"))
        .groupBy(col("source"), col("f.ch").as("ch"))
        .agg(sum(col("f.c")).as("c"))
      val tot = cnt.groupBy("source").agg(sum("c").as("n_chars"))
      cnt.join(broadcast(tot), "source")
        .withColumn("term_fp", expr(
          """CAST(FLOOR(-(CAST(c AS DOUBLE) / n_chars)
            | * ln(CAST(c AS DOUBLE) / n_chars)
            | * 1000000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .groupBy("source", "n_chars")
        .agg(count(lit(1)).as("n_distinct_chars"),
          sum("term_fp").as("entropy_fp"))
        .select("source", "n_chars", "n_distinct_chars", "entropy_fp")
        .orderBy("source")
    }),

    // C21 (r14) — LSH band-layout planner: score every (bands b, rows
    // r) factorization of the 16-hash signature against the OBSERVED
    // candidate-pair similarity sample — expected false-positive mass
    // Σ P(s; b,r) over non-dup pairs plus false-negative mass
    // Σ (1 − P(s)) over dup pairs, P(s) = 1 − (1 − s^r)^b, dup ⇔
    // est_jaccard ≥ 1/2 (the MinHashDupSlots convention) — and pick the
    // argmin. lsh_s_curve_calibration VALIDATES the current 4×4 layout;
    // this op answers the next question: is a different factorization
    // BETTER for this corpus's similarity profile. Exactness: s =
    // n_match/16 exact rational; each P is ONE FLOOR'd shared-text IEEE
    // leaf; masses integer-sum. Scale: pairs come from the persisted
    // signature machinery (ID-only, bucket-capped); the 5-layout grid
    // is a broadcast constant; the argmin a 1-row stitch.
    "lsh_band_planner" -> ((s, d) => {
      val pairs = graft.functions.TextSim
        .signatureBandPairs(s.read.parquet(LlmOps.minhashLayout(s, d)),
          numBands = LlmOps.MinHashBands,
          rowsPerBand = LlmOps.MinHashRowsPerBand)
        .select(col("n_match"))
      val layouts = s.range(0, 1)
        .select(explode(typedLit(Seq((16L, 1L), (8L, 2L), (4L, 4L),
          (2L, 8L), (1L, 16L)))).as("br"))
        .select(col("br._1").as("b"), col("br._2").as("r"))
      val scored = pairs.crossJoin(broadcast(layouts))
        .withColumn("p_fp", expr(
          """CAST(FLOOR((1.0 - power(1.0 - power(
            |  CAST(n_match AS DOUBLE) / 16.0, CAST(r AS DOUBLE)),
            |  CAST(b AS DOUBLE))) * 1000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .groupBy("b", "r")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("n_match") >= LlmOps.MinHashDupSlots, 1L)
            .otherwise(0L)).as("n_dup_pairs"),
          sum(when(col("n_match") < LlmOps.MinHashDupSlots, col("p_fp"))
            .otherwise(0L)).as("fp_mass_fp"),
          sum(when(col("n_match") >= LlmOps.MinHashDupSlots,
            lit(1000000L) - col("p_fp")).otherwise(0L)).as("fn_mass_fp"))
        .withColumn("err_fp", col("fp_mass_fp") + col("fn_mass_fp"))
      val best = scored.agg(min(struct(col("err_fp"), col("b")))
        .as("bs")).select(col("bs.err_fp").as("best_err"),
        col("bs.b").as("best_b"))
      scored.crossJoin(broadcast(best))
        .select(col("b"), col("r"), col("n_pairs"), col("n_dup_pairs"),
          col("fp_mass_fp"), col("fn_mass_fp"), col("err_fp"),
          (col("err_fp") === col("best_err") && col("b") === col("best_b"))
            .as("is_best"))
        .orderBy(col("b").desc)
    }),

    // C22 (r14) — dedup cascade audit: the marginal benefit of each
    // dedup stage on ONE corpus — exact sha256 keep-first removes the
    // verbatim copies, then MinHash connected-component keep-one (over
    // the persisted base dup graph) removes the near-dups the hash
    // can't see. The table every curation deployment reads before
    // paying for the next stage: if near_dup's marginal removal rate
    // is ~0, the cheap exact pass suffices. Counting convention
    // (pinned): stage-2 keeps the MINIMUM surviving doc_id per
    // component among exact survivors. Scale: one sha-keyed exchange +
    // one component-keyed aggregate over the persisted labels; the
    // report is 3 rows.
    "dedup_cascade_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val keep1 = docs.groupBy("h").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val labels = s.read.parquet(IncrementalMaintainOps.mhccBase(s, d))
      val keep2 = keep1.join(labels, "doc_id")
        .groupBy("component").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val nTot = docs.agg(count(lit(1)).as("n_total"))
      val n1 = keep1.agg(count(lit(1)).as("n1"))
      val n2 = keep2.agg(count(lit(1)).as("n2"))
      val m = nTot.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      m.select(lit("1_exact").as("stage"),
          (col("n_total") - col("n1")).as("n_removed"),
          col("n1").as("n_remaining"),
          expr("(n_total - n1) * 1000000 DIV n_total").as("removed_rate_fp"))
        .unionByName(m.select(lit("2_near_dup").as("stage"),
          (col("n1") - col("n2")).as("n_removed"),
          col("n2").as("n_remaining"),
          expr("(n1 - n2) * 1000000 DIV n_total").as("removed_rate_fp")))
        .unionByName(m.select(lit("3_kept").as("stage"),
          lit(0L).as("n_removed"), col("n2").as("n_remaining"),
          expr("n2 * 1000000 DIV n_total").as("removed_rate_fp")))
        .orderBy("stage")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // identical grid/moments/z; σ is the same FLOOR'd IEEE sqrt of the
    // exact integer variance, z the same sign-explicit truncation
    "burrows_delta_sources" -> {
      val zDuck = truncDivDuck("(r - mu) * 1000000", "sigma")
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |csw AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |        FROM toks GROUP BY source, w),
         |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
         |       FROM csw GROUP BY source),
         |top AS (SELECT w FROM (SELECT w, sum(c) AS ct FROM csw GROUP BY w)
         |        ORDER BY ct DESC, w LIMIT $BurrowsK),
         |grid AS (
         |  SELECT ns.source, top.w,
         |         coalesce(c.c, 0) * 1000000 // ns.n_s AS r
         |  FROM ns CROSS JOIN top
         |  LEFT JOIN csw c ON c.source = ns.source AND c.w = top.w),
         |stats AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS m,
         |         CAST(sum(r) AS BIGINT) AS sr,
         |         CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS srr
         |  FROM grid GROUP BY w),
         |ms AS (
         |  SELECT w, m, sr // m AS mu,
         |         CAST(FLOOR(sqrt(CAST(
         |           CAST((CAST(m AS HUGEINT) * srr
         |             - CAST(sr AS HUGEINT) * sr)
         |             // (m * (m - 1)) AS BIGINT) AS DOUBLE)))
         |           AS BIGINT) AS sigma
         |  FROM stats),
         |z AS (
         |  SELECT g.source, g.w,
         |         CASE WHEN sigma = 0 THEN 0 ELSE $zDuck END AS z
         |  FROM grid g JOIN ms USING (w))
         |SELECT a.source AS source_a, b.source AS source_b,
         |       CAST(sum(abs(a.z - b.z)) // $BurrowsK AS BIGINT) AS delta_fp
         |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    "minhash_candidate_quality" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              LlmOps.minhashLayoutCache.lastPath, numHashes = LlmOps.MinHashes,
              numBands = LlmOps.MinHashBands,
              rowsPerBand = LlmOps.MinHashRowsPerBand)},
         |sample AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE doc_id % 10 = 0),
         |shs AS (
         |  SELECT DISTINCT doc_id,
         |         array_to_string(ws[CAST(t.i + 1 AS INTEGER)
         |           : CAST(t.i + 3 AS INTEGER)], ' ') AS sh
         |  FROM sample CROSS JOIN range(0, 8193) t(i)
         |  WHERE t.i <= greatest(len(ws) - 3, 0)),
         |sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM shs GROUP BY 1),
         |inv AS (SELECT s.doc_id, z.n, s.sh
         |        FROM shs s JOIN sized z USING (doc_id)),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM inv a JOIN inv b
         |    ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
         |  HAVING 3 * count(*) >= a.n + b.n),
         |cnd AS (
         |  SELECT doc_a, doc_b FROM m
         |  WHERE n_match >= ${LlmOps.MinHashDupSlots}
         |    AND doc_a % 10 = 0 AND doc_b % 10 = 0),
         |u AS (
         |  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         |         CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS t,
         |         CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS c
         |  FROM truth t FULL OUTER JOIN cnd c
         |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
         |agg AS (
         |  SELECT CAST(sum(t) AS BIGINT) AS n_truth,
         |         CAST(sum(c) AS BIGINT) AS n_cand,
         |         CAST(sum(t * c) AS BIGINT) AS n_hit,
         |         (SELECT CAST(count(*) AS BIGINT) FROM sample)
         |           AS n_sample_docs
         |  FROM u)
         |SELECT n_sample_docs, n_truth, n_cand, n_hit,
         |       CAST(CASE WHEN n_cand = 0 THEN NULL
         |            ELSE n_hit * 1000000 // n_cand END AS BIGINT)
         |         AS precision_fp,
         |       CAST(CASE WHEN n_truth = 0 THEN NULL
         |            ELSE n_hit * 1000000 // n_truth END AS BIGINT)
         |         AS recall_fp
         |FROM agg""".stripMargin,

    // same banded-candidate CTE + the sample shingle truth, scored per
    // pair with the identical 2·SE leaf, rolled up per exact-J decile
    "minhash_estimator_calibration" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              LlmOps.minhashLayoutCache.lastPath, numHashes = LlmOps.MinHashes,
              numBands = LlmOps.MinHashBands,
              rowsPerBand = LlmOps.MinHashRowsPerBand)},
         |cdocs AS (
         |  SELECT doc_a AS doc_id FROM m
         |  UNION SELECT doc_b FROM m),
         |sample AS (
         |  SELECT d.doc_id, string_split(d.text, ' ') AS ws
         |  FROM documents d JOIN cdocs USING (doc_id)),
         |shs AS (
         |  SELECT DISTINCT doc_id,
         |         array_to_string(ws[CAST(t.i + 1 AS INTEGER)
         |           : CAST(t.i + 3 AS INTEGER)], ' ') AS sh
         |  FROM sample CROSS JOIN range(0, 8193) t(i)
         |  WHERE t.i <= greatest(len(ws) - 3, 0)),
         |sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM shs GROUP BY 1),
         |ints AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS inter
         |  FROM shs a JOIN shs b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT m.n_match, COALESCE(i.inter, 0) AS inter,
         |         za.n + zb.n - COALESCE(i.inter, 0) AS un
         |  FROM m
         |  JOIN sized za ON za.doc_id = m.doc_a
         |  JOIN sized zb ON zb.doc_id = m.doc_b
         |  LEFT JOIN ints i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b),
         |rows_ AS (
         |  SELECT least(inter * 1000000 // un, 999999) // 100000
         |           AS decile,
         |         abs(CAST(n_match AS BIGINT) * 1000000
         |             // ${LlmOps.MinHashes}
         |           - inter * 1000000 // un) AS abs_err,
         |         $mhBoundSql AS bound_fp
         |  FROM scored)
         |SELECT CAST(decile AS BIGINT) AS decile,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(abs_err) // count(*) AS BIGINT)
         |         AS mean_abs_err_fp,
         |       CAST(sum(CASE WHEN abs_err <= bound_fp THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_within_2se,
         |       CAST(sum(CASE WHEN abs_err <= bound_fp THEN 1 ELSE 0 END)
         |         * 1000000 // count(*) AS BIGINT) AS within_rate_fp
         |FROM rows_ GROUP BY 1 ORDER BY 1""".stripMargin,

    "stupid_backoff_logprob" ->
      s"""WITH bi AS (
         |  SELECT doc_id, source, ws[CAST(t.i + 1 AS INTEGER)] AS u,
         |         ws[CAST(t.i + 2 AS INTEGER)] AS w
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
         |        FROM documents) x
         |  CROSS JOIN range(0, 8193) t(i)
         |  WHERE t.i <= greatest(len(ws) - 2, 0)
         |    AND ws[CAST(t.i + 2 AS INTEGER)] IS NOT NULL),
         |train AS (SELECT * FROM bi WHERE doc_id % 7 <> 0),
         |ev0 AS (SELECT * FROM bi WHERE doc_id % 7 = 0),
         |cb AS (SELECT u, w, CAST(count(*) AS BIGINT) AS cb
         |       FROM train GROUP BY 1, 2),
         |cu AS (SELECT u, CAST(count(*) AS BIGINT) AS cu
         |       FROM train GROUP BY 1),
         |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
         |       FROM train GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t_tok,
         |               CAST(count(DISTINCT w) AS BIGINT) AS v_sz
         |        FROM train),
         |ev AS (SELECT source, u, w, CAST(count(*) AS BIGINT) AS ce
         |       FROM ev0 GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT e.source, e.ce,
         |         $backoffTermSql AS term_fp
         |  FROM (SELECT e0.source, e0.ce,
         |               COALESCE(b.cb, 0) AS cb, COALESCE(c1.cu, 0) AS cu,
         |               COALESCE(c2.cw, 0) AS cw, t.t_tok, t.v_sz
         |        FROM ev e0
         |        LEFT JOIN cb b ON b.u = e0.u AND b.w = e0.w
         |        LEFT JOIN cu c1 ON c1.u = e0.u
         |        LEFT JOIN cw c2 ON c2.w = e0.w
         |        CROSS JOIN tot t) e),
         |agg AS (
         |  SELECT source, CAST(sum(ce) AS BIGINT) AS n_bigrams,
         |         CAST(sum(ce * term_fp) AS BIGINT) AS sum_logprob_fp
         |  FROM scored GROUP BY source)
         |SELECT source, n_bigrams, sum_logprob_fp,
         |       CAST(${signedFpDivDuck("sum_logprob_fp",
                  "n_bigrams * 1000000")} AS BIGINT) AS avg_logprob_fp
         |FROM agg ORDER BY source""".stripMargin,

    "lsh_s_curve_calibration" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              LlmOps.minhashLayoutCache.lastPath, numHashes = LlmOps.MinHashes,
              numBands = LlmOps.MinHashBands,
              rowsPerBand = LlmOps.MinHashRowsPerBand)},
         |sample AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents WHERE doc_id % 10 = 0),
         |shs AS (
         |  SELECT DISTINCT doc_id,
         |         array_to_string(ws[CAST(t.i + 1 AS INTEGER)
         |           : CAST(t.i + 3 AS INTEGER)], ' ') AS sh
         |  FROM sample CROSS JOIN range(0, 8193) t(i)
         |  WHERE t.i <= greatest(len(ws) - 3, 0)),
         |sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM shs GROUP BY 1),
         |inv AS (SELECT s.doc_id, z.n, s.sh
         |        FROM shs s JOIN sized z USING (doc_id)),
         |truth AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na,
         |         b.n AS nb, CAST(count(*) AS BIGINT) AS inter
         |  FROM inv a JOIN inv b
         |    ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |bucketed AS (
         |  SELECT doc_a, doc_b,
         |         least(9, 10 * inter // (na + nb - inter)) AS bucket
         |  FROM truth),
         |cnd AS (
         |  SELECT doc_a, doc_b, 1 AS c FROM m
         |  WHERE doc_a % 10 = 0 AND doc_b % 10 = 0),
         |agg AS (
         |  SELECT t.bucket, CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(COALESCE(c.c, 0)) AS BIGINT) AS n_cand
         |  FROM bucketed t LEFT JOIN cnd c
         |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
         |  GROUP BY t.bucket)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_pairs, n_cand,
         |       CAST(n_cand * 1000000 // n_pairs AS BIGINT) AS measured_fp,
         |       CAST(FLOOR((1.0 - power(1.0
         |         - power((2 * bucket + 1) / 20.0, 4.0), 4.0))
         |         * 1000000.0) AS BIGINT) AS theory_fp
         |FROM agg ORDER BY bucket""".stripMargin,

    // the same recursive closure as the other ccLabels consumers,
    // joined to doc lengths and folded to the policy contrast
    "cluster_policy_disagreement" ->
      s"""WITH RECURSIVE ${LlmOps.jaccardCtesDuck},
         |jp AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.3),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM jp
         |  UNION ALL SELECT doc_b, doc_a FROM jp),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM docs
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS doc_id, min(dst) AS component
         |         FROM reach GROUP BY src),
         |jj AS (
         |  SELECT c.component, c.doc_id, dd.n_chars
         |  FROM comp c JOIN documents dd ON dd.doc_id = c.doc_id),
         |per AS (
         |  SELECT component, CAST(count(*) AS BIGINT) AS sz,
         |         min(doc_id) AS rep_first, max(n_chars) AS max_chars
         |  FROM jj GROUP BY component HAVING count(*) >= 2),
         |longest AS (
         |  SELECT j.component, min(j.doc_id) AS rep_longest
         |  FROM jj j JOIN per p ON p.component = j.component
         |  WHERE j.n_chars = p.max_chars
         |  GROUP BY j.component),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_multi_clusters,
         |         CAST(sum(CASE WHEN p.rep_first = l.rep_longest
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_same_rep,
         |         CAST(sum(CASE WHEN p.rep_first <> l.rep_longest
         |              THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree
         |  FROM per p JOIN longest l ON l.component = p.component)
         |SELECT n_multi_clusters, n_same_rep, n_disagree,
         |       CAST(n_disagree * 1000000 // n_multi_clusters AS BIGINT)
         |         AS disagree_rate_fp
         |FROM m""".stripMargin,

    "dedup_savings_estimate" ->
      """WITH groups AS (
        |  SELECT sha256(text) AS h, CAST(count(*) AS BIGINT) AS cnt,
        |         CAST(min(n_chars) AS BIGINT) AS bytes_each
        |  FROM documents GROUP BY 1),
        |m AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_docs,
        |         CAST(sum(cnt - 1) AS BIGINT) AS n_dup_docs,
        |         CAST(sum(cnt * bytes_each) AS BIGINT) AS bytes_total,
        |         CAST(sum((cnt - 1) * bytes_each) AS BIGINT) AS bytes_saved
        |  FROM groups)
        |SELECT n_docs, n_dup_docs, bytes_total, bytes_saved,
        |       CAST(bytes_saved * 1000000 // bytes_total AS BIGINT)
        |         AS savings_fp
        |FROM m""".stripMargin,

    "char_entropy_by_source" ->
      """WITH chars AS (
        |  SELECT source, substring(text, CAST(t.i AS INTEGER), 1) AS ch
        |  FROM documents CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= length(text)),
        |cnt AS (SELECT source, ch, CAST(count(*) AS BIGINT) AS c
        |        FROM chars GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_chars
        |        FROM cnt GROUP BY 1)
        |SELECT c.source, t.n_chars,
        |       CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |       CAST(sum(CAST(FLOOR(-(CAST(c.c AS DOUBLE) / t.n_chars)
        |         * ln(CAST(c.c AS DOUBLE) / t.n_chars)
        |         * 1000000000.0) AS BIGINT)) AS BIGINT) AS entropy_fp
        |FROM cnt c JOIN tot t ON t.source = c.source
        |GROUP BY c.source, t.n_chars ORDER BY c.source""".stripMargin,

    "lsh_band_planner" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              LlmOps.minhashLayoutCache.lastPath,
              numHashes = LlmOps.MinHashes,
              numBands = LlmOps.MinHashBands,
              rowsPerBand = LlmOps.MinHashRowsPerBand)},
         |layouts(b, r) AS (VALUES
         |  (CAST(16 AS BIGINT), CAST(1 AS BIGINT)), (8, 2), (4, 4),
         |  (2, 8), (1, 16)),
         |scored AS (
         |  SELECT l.b, l.r, m.n_match,
         |    CAST(FLOOR((1.0 - power(1.0 - power(
         |      CAST(m.n_match AS DOUBLE) / 16.0, CAST(l.r AS DOUBLE)),
         |      CAST(l.b AS DOUBLE))) * 1000000.0) AS BIGINT) AS p_fp
         |  FROM m CROSS JOIN layouts l),
         |agg AS (
         |  SELECT b, r, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN n_match >= ${LlmOps.MinHashDupSlots}
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
         |    CAST(sum(CASE WHEN n_match < ${LlmOps.MinHashDupSlots}
         |      THEN p_fp ELSE 0 END) AS BIGINT) AS fp_mass_fp,
         |    CAST(sum(CASE WHEN n_match >= ${LlmOps.MinHashDupSlots}
         |      THEN 1000000 - p_fp ELSE 0 END) AS BIGINT) AS fn_mass_fp
         |  FROM scored GROUP BY 1, 2),
         |e AS (SELECT *, fp_mass_fp + fn_mass_fp AS err_fp FROM agg),
         |best AS (SELECT err_fp AS best_err, b AS best_b FROM e
         |         ORDER BY err_fp, b LIMIT 1)
         |SELECT e.b, e.r, e.n_pairs, e.n_dup_pairs, e.fp_mass_fp,
         |       e.fn_mass_fp, e.err_fp,
         |       (e.err_fp = best.best_err AND e.b = best.best_b)
         |         AS is_best
         |FROM e CROSS JOIN best ORDER BY e.b DESC""".stripMargin,

    "dedup_cascade_audit" ->
      s"""WITH RECURSIVE ${graft.functions.TextSim.signatureBandPairsDuck(
              LlmOps.minhashLayoutCache.lastPath,
              numHashes = LlmOps.MinHashes,
              numBands = LlmOps.MinHashBands,
              rowsPerBand = LlmOps.MinHashRowsPerBand)},
         |dup AS (SELECT doc_a, doc_b FROM m
         |        WHERE n_match >= ${LlmOps.MinHashDupSlots}),
         |nodes AS (SELECT doc_id
         |          FROM read_parquet(
         |            '${LlmOps.minhashLayoutCache.lastPath}/*.parquet')),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
         |          UNION ALL SELECT doc_b, doc_a FROM dup),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM nodes
         |  UNION
         |  SELECT x.src, e.b FROM reach x JOIN edges e ON x.dst = e.a),
         |comp AS (SELECT src AS doc_id, min(dst) AS component
         |         FROM reach GROUP BY src),
         |keep1 AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |keep2 AS (
         |  SELECT min(k.doc_id) AS doc_id
         |  FROM keep1 k JOIN comp c ON c.doc_id = k.doc_id
         |  GROUP BY c.component),
         |mm AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents)
         |           AS n_total,
         |         (SELECT CAST(count(*) AS BIGINT) FROM keep1) AS n1,
         |         (SELECT CAST(count(*) AS BIGINT) FROM keep2) AS n2)
         |SELECT * FROM (
         |  SELECT '1_exact' AS stage, n_total - n1 AS n_removed,
         |         n1 AS n_remaining,
         |         (n_total - n1) * 1000000 // n_total AS removed_rate_fp
         |  FROM mm
         |  UNION ALL
         |  SELECT '2_near_dup', n1 - n2, n2,
         |         (n1 - n2) * 1000000 // n_total FROM mm
         |  UNION ALL
         |  SELECT '3_kept', CAST(0 AS BIGINT), n2,
         |         n2 * 1000000 // n_total FROM mm)
         |ORDER BY stage""".stripMargin,
  )
}
