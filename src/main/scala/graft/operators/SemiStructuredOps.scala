package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Modern semi-structured + learned-index operators.
  *
  *   - VARIANT (Spark 4): the schema-on-read path for `events.props`
  *     beyond string JSON functions — parse once into the binary variant
  *     encoding, extract typed fields. This is what the reference's
  *     defensive `.get(...)` dict access (app.py:143,156-157) becomes at
  *     warehouse scale.
  *   - k-means IVF: ann_ivf_topk uses the stored `label` as the coarse
  *     cell; here the quantizer is LEARNED (driver-side spherical
  *     k-means, [[graft.functions.AnnIvf]]) — the genuine 100 TB ANN
  *     path: train ONCE on a bounded md5-ordered sample (never inside
  *     the per-query plan), assign cells at write time, probe the
  *     nprobe=2 nearest cells per query. The fit reads no partitioning,
  *     so cells are a function of the data alone. Cluster assignments
  *     are model-dependent ⇒ rows-only check + structural and recall
  *     assertions in AnnSpec.
  */
object SemiStructuredOps extends OpGroup {

  /** Target cell population for the coarse quantizer. k scales as
    * ⌈n / TargetCellSize⌉ (floored at 4) so Σ|cell|² — the candidate
    * count of every cell equi-join (knn_graph_topk, semantic_dedup,
    * the whole graph family) — grows LINEARLY with the corpus instead
    * of quadratically: fixed k at 10× data means 10× cell sizes and
    * 100× pairs; scaled k means 10× cells of the SAME size and 10×
    * pairs (the claim SCALE_SF1 measures at a real extra decade). The
    * constant is chosen so every shipped fixture scale (≤2000 vectors
    * at sf0.1) keeps the historical k=4 — plans, oracles, and recall
    * assertions at test scales are bit-unchanged; only a genuinely
    * larger corpus grows its cell count, exactly as a production
    * re-fit would.
    */
  private val TargetCellSize = 500L

  /** The md5-ordered fit sample of the dataset's embeddings
    * ([[graft.functions.AnnPq.fitSample]]), collected once per
    * application and shared by the IVF and PQ fits.
    */
  private def fitSample(s: SparkSession, d: String): Array[Array[Float]] =
    graft.SessionState.application(s)("SemiStructuredOps.fitSample", d)(
      graft.functions.AnnPq.fitSample(Tables.embeddings(s, d)))

  /** One quantizer (k centroids) per dataset, fitted lazily on the
    * shared fit sample and reused by every invocation — at 100 TB the
    * model is fitted offline on a sample and persisted next to the
    * table; re-training inside a query would be wrong by construction.
    * k=4 cells: the fixture embeddings are directionally near-uniform
    * (AnnSpec measures the recall ceilings), so fewer, larger cells is
    * the honest recall/efficiency point for THIS corpus; clustered
    * corpora take a larger k (AnnSpec's planted-cluster test runs k=8).
    */
  private def quantizer(s: SparkSession, d: String): Array[Array[Double]] =
    graft.SessionState.application(s)("SemiStructuredOps.quantizer", d) {
      val n = Tables.rowCount(s, d, "embeddings")
      val k = math.max(4L, (n + TargetCellSize - 1) / TargetCellSize).toInt
      graft.functions.AnnIvf.fitQuantizer(fitSample(s, d), k)
    }

  /** The FROZEN coarse quantizer, exposed for the CDC-incremental IVF
    * maintenance path (IncrementalIvfOps): fresh vectors must quantize
    * against the model the serving layout was built with — never a
    * refit — or carried cell assignments and batch assignments would
    * come from different models (the serving-layout contract).
    */
  private[graft] def frozenQuantizer(s: SparkSession, d: String)
      : Array[Array[Double]] = quantizer(s, d)

  /** The FROZEN PQ codebooks, same contract as [[frozenQuantizer]]. */
  private[graft] def frozenPqCodebook(s: SparkSession, d: String)
      : Array[Array[Array[Double]]] = pqCodebook(s, d)

  /** Write-time-indexed serving layout: the corpus persisted as parquet
    * PARTITIONED BY its quantizer cell, once per (application, dataset) —
    * "assign cells at write time" made literal. Probing this layout can
    * skip whole cell directories (dynamic partition pruning; PlanSpec
    * asserts it) instead of scanning the corpus. The centroids (k rows of
    * model metadata) are persisted as a sibling parquet: together the two
    * files make the learned model's output plain INPUT DATA, so the
    * DuckDB oracle can re-derive the whole probe + exact-cosine ranking
    * independently (see [[oracleSql]]).
    */
  private val ivfLayoutCache = new graft.Layout("graft_ivf")

  /** Path of the session's materialized IVF serving layout — for
    * sibling oracles that re-derive cell-blocked candidate sets from
    * the same persisted files (contrastive_pair_mining).
    */
  private[operators] def ivfLayoutPath: String = ivfLayoutCache.lastPath

  private[graft] def ivfLayout(s: SparkSession, d: String): String =
    ivfLayoutCache(s, d, graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      graft.functions.AnnIvf.assign(s, Tables.embeddings(s, d), quantizer(s, d))
        .select(col("vec_id"), col("embedding"), col("cell"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(p)
      import s.implicits._
      quantizer(s, d).toSeq.zipWithIndex
        .map { case (c, i) => (i, c) }
        .toDF("cand_cell", "centroid")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p.centroids")
      // Per-vector residual distance, computed ONCE at index-build time
      // from the just-persisted cells + centroids and stored as integer
      // model state (the PQ-codebook precedent — real IVF indexes store
      // residual norms for reranking). Downstream consumers and the
      // DuckDB oracle read these BIGINT bits; no engine ever re-derives
      // the float math on the verification path (rounds 6-7 proved the
      // driver's DuckDB build evaluates the FLOAT/floor chain
      // differently). AnnSpec pins persisted == in-engine derivation ==
      // an independent driver-side float replay.
      outlierDistances(s, p)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p.dist2")
    }

  /** The in-engine float derivation of each stored vector's squared
    * distance to its own cell centroid, 1e15 fixed-point: the diff
    * vector is rounded through FLOAT (one well-defined IEEE rounding of
    * `x/norm − c` — div and sub are single correctly-rounded ops), then
    * `fixed_dot(diff, diff)` — per-element floor(d·d·1e15) with an
    * associative BIGINT sum (functions/VectorExpr.scala), deterministic
    * on any partitioning. Runs once at layout-build time to persist the
    * `.dist2` sibling; AnnSpec re-runs it to prove the persisted bits
    * match a fresh derivation and an independent driver-side replay.
    */
  private[graft] def outlierDistances(s: SparkSession, layoutPath: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val stored = s.read.parquet(layoutPath)
      .select(col("vec_id"), col("embedding"),
        col("cell").cast("int").as("cell"))
      .withColumn("norm", graft.functions.VectorFunctions.norm("embedding"))
    val cents = s.read.parquet(s"$layoutPath.centroids")
      .select(col("cand_cell").cast("int").as("cell"), col("centroid"))
    stored.join(broadcast(cents), "cell")
      .withColumn("diff", expr(
        """zip_with(embedding, centroid,
          |  (x, y) -> CAST(CAST(x AS DOUBLE) / norm - y AS FLOAT))""".stripMargin))
      .select(col("vec_id"), col("cell"),
        expr("fixed_dot(diff, diff)").as("dist2_fp"))
  }

  /** PQ codebooks, fitted once per dataset driver-side on the same
    * md5-ordered sample of NORMALIZED vectors as [[quantizer]] —
    * offline model fitting. m=8 subspaces, k=16
    * codes: 64-dim float32 → 8 small ints, ~32× scan compression.
    */
  private def pqCodebook(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    graft.SessionState.application(s)("SemiStructuredOps.pqCodebook", d)(
      graft.functions.AnnPq.fitCodebooks(fitSample(s, d), m = 8, k = 16))

  /** PQ serving layout, written once per (application, dataset): the
    * normalized vectors + their codes as one parquet, the codebook
    * flattened to (j, code, idx, val) rows as a sibling — the learned
    * model's output as plain INPUT DATA, so the DuckDB oracle re-derives
    * the full fixed-point ADC ranking from scratch (same pattern as the
    * IVF layout oracle).
    */
  private val pqLayoutCache = new graft.Layout("graft_pq")

  /** Materialized PQ layout path, for the spec's independent
    * re-derivation (QualitySignalSpec).
    */
  private[graft] def pqLayoutPathForSpec(s: SparkSession, d: String): String =
    pqLayout(s, d)

  private def pqLayout(s: SparkSession, d: String): String =
    pqLayoutCache(s, d, graft.Layout.fingerprint(Tables.embeddings(s, d))) { p =>
      val cb = pqCodebook(s, d)
      graft.functions.AnnPq.register(s, cb)
      graft.functions.VectorFunctions.register(s)
      Tables.embeddings(s, d)
        .withColumn("__n", graft.functions.VectorFunctions.norm("embedding"))
        .withColumn("ne",
          graft.functions.VectorFunctions.unitNormalized("embedding", "__n"))
        .withColumn("codes", expr("pq_encode(ne)"))
        .select("vec_id", "ne", "codes")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
      import s.implicits._
      val sub = cb(0)(0).length
      (for { j <- cb.indices; k <- cb(j).indices; dd <- 0 until sub }
        yield (j, k, j * sub + dd + 1, cb(j)(k)(dd)))
        .toDF("j", "code", "idx", "val")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$p.codebook")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // VARIANT parse + typed path extraction.
    "variant_semistructured" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'long')").as("k_long"),
          expr("variant_get(v, '$.k', 'string')").as("k_str"),
          expr("variant_get(v, '$.missing', 'long')").as("absent"))
        .orderBy("event_id")),

    // IVF with a learned coarse quantizer: the pre-fitted spherical
    // k-means centroids assign cells at scan time; each query probes its
    // nprobe=2 nearest centroids (recall floor asserted in AnnSpec
    // against the exact brute-force top-k), exact fixed-point cosine
    // within them. See graft.functions.AnnIvf for the plan shape.
    "ann_kmeans_ivf" -> ((s, d) => {
      // materialize the serving layout (write-once): the oracle verifies
      // THIS query against the persisted cells + centroids, which are
      // exactly what the in-memory assignment gives (same centroids,
      // deterministic kernel; AnnSpec asserts the identity)
      ivfLayout(s, d)
      graft.functions.AnnIvf.topk(s, Tables.embeddings(s, d),
        quantizer(s, d), col("vec_id") < 10, topK = 3, nprobe = 2)
    }),

    // PQ-ADC search over the persisted code layout: the corpus is
    // scanned as 8 small ints per vector (~32× smaller than the float
    // vectors), scored against EXACT queries by fixed-point ADC
    // (asymmetric distance), top-3 per query. Codes + codebook are
    // persisted data, so DuckDB re-derives the identical ranking —
    // a GREEN-hash approximate-NN operator.
    "ann_pq_adc" -> ((s, d) => {
      val stored = s.read.parquet(pqLayout(s, d))
      graft.functions.AnnPq.register(s, pqCodebook(s, d))
      val q = stored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("ne").as("q_ne"))
      val scored = stored.select(col("vec_id"), col("codes"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("fx", expr("pq_adc(q_ne, codes)"))
      val w = Window.partitionBy("q_id").orderBy(col("fx").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("fx").cast("double") / 1e15, 6).as("adc_cosine"))
        .orderBy("q_id", "rank")
    }),

    // PQ quantization-loss profile (r11): per SUBSPACE, the corpus
    // reconstruction error of the persisted codes against the exact
    // normalized vectors — the tuning read that says which subspace is
    // burning recall (a hot subspace wants more codebook bits or a
    // rotation before anyone re-trains the whole quantizer). The
    // per-vector fold is the codegen pq_recon_err expression (PqEncode
    // house pattern: map-side, zero joins); everything after is an
    // m-bounded moment aggregate. Corpus sums accumulate in
    // DECIMAL(38,0)/HUGEINT but are EMITTED as digit strings — r11
    // proved the driver hash reds any decimal128 output column even
    // when both engines agree on value and type, so no decimal128
    // crosses the SELECT boundary. The mean is a floor division of
    // non-negatives, identical on both engines.
    "pq_subspace_recon_error" -> ((s, d) => {
      val stored = s.read.parquet(pqLayout(s, d))
      graft.functions.AnnPq.register(s, pqCodebook(s, d))
      stored.select(col("vec_id"),
          posexplode(expr("pq_recon_err(ne, codes)")).as(Seq("j", "e")))
        .groupBy("j")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("e").cast("decimal(38,0)")).as("sum_dec"))
        .withColumn("mean_err_fp",
          expr("CAST(sum_dec DIV n_vecs AS BIGINT)"))
        .select(col("j"), col("n_vecs"),
          col("sum_dec").cast("string").as("sum_err_fp"),
          col("mean_err_fp"))
        .orderBy("j")
    }),

    // PQ codebook utilization per subspace (r12): how many codes the
    // corpus actually uses, how many are DEAD, and the Shannon entropy
    // of the code distribution — the quantizer health check that pairs
    // with pq_subspace_recon_error (dead/skewed codes waste bits the
    // recon-error profile can't see; the fix is re-training or fewer
    // bits). One posexplode of the persisted m-code arrays into an
    // (m × k)-bounded count grid; entropy terms use the house
    // 1e9-FLOOR'd IEEE-ln convention (char_entropy_by_source).
    "pq_code_utilization" -> ((s, d) => {
      val stored = s.read.parquet(pqLayout(s, d))
      val used = stored
        .select(posexplode(col("codes")).as(Seq("j", "code")))
        .groupBy("j", "code").agg(count(lit(1)).as("c"))
      val tot = used.groupBy("j")
        .agg(sum("c").as("n_vecs"), count(lit(1)).as("n_used"))
      val kc = s.read.parquet(pqLayout(s, d) + ".codebook")
        .select("j", "code").distinct()
        .groupBy("j").agg(count(lit(1)).as("k_codes"))
      used.join(broadcast(tot), "j")
        .withColumn("term_fp", expr(
          """CAST(FLOOR(-(CAST(c AS DOUBLE) / n_vecs)
            | * ln(CAST(c AS DOUBLE) / n_vecs)
            | * 1000000000.0) AS BIGINT)"""
            .stripMargin.replace("\n", " ")))
        .groupBy("j", "n_vecs", "n_used")
        .agg(sum("term_fp").as("entropy_fp"))
        .join(broadcast(kc), "j")
        .select(col("j"), col("n_vecs"), col("k_codes"), col("n_used"),
          (col("k_codes") - col("n_used")).as("n_dead"), col("entropy_fp"))
        .orderBy("j")
    }),

    // The SERVING form of the same search: probe the cell-partitioned
    // parquet layout — cells assigned at write time, probe filters prune
    // whole cell directories (dynamic partition pruning). Must return
    // exactly what the in-memory path returns (AnnSpec asserts identity).
    "ann_ivf_partition_pruned" -> ((s, d) => {
      val stored = s.read.parquet(ivfLayout(s, d))
      graft.functions.AnnIvf.topkAssigned(s, stored, quantizer(s, d),
        col("vec_id") < 10, topK = 3, nprobe = 2)
    }),

    // IVF cell-balance audit (r13): per-cell population + the
    // imbalance factor max/mean — the serving-layout health read
    // behind every Σ|cell|² bound in this file: one runaway cell
    // re-quadratizes knn_graph/semantic_dedup and becomes the probe
    // tail latency at serving time (the standard IVF ops dashboard
    // number; re-train the quantizer when it drifts). Pure integer
    // over the cell-partitioned layout's counts.
    "ivf_cell_balance" -> ((s, d) => {
      val cells = s.read.parquet(ivfLayout(s, d))
        .groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
      val tot = cells.agg(sum("n_vecs").as("n"), max("n_vecs").as("mx"),
        count(lit(1)).as("n_cells"))
      cells.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 1000000 DIV n").as("share_fp"),
          expr("mx * n_cells * 1000000 DIV n").as("imbalance_fp"))
        .orderBy("cell")
    }),

    // IVF recall-vs-nprobe curve (r13): recall@3 of the persisted-
    // layout probe at nprobe ∈ {1,2,3,4} against the exact brute-force
    // top-3 — THE serving trade-off curve (latency grows with nprobe,
    // recall saturates; pick the knee). The nprobe=4 row probes every
    // cell (k=4 quantizer) and is the recall=1.0 anchor by
    // construction, the matryoshka identity-row pattern. ONE scored
    // set over the ≤10-query sample × corpus feeds the exact truth AND
    // all four probe depths (candidates filter by their cell's
    // per-query centroid rank — the AnnIvf probe rule); recall is an
    // exact 1e-6 integer division. Ground truth only ever exists for
    // the bounded query sample — never a corpus×corpus pass.
    "ivf_nprobe_recall_curve" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val stored = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"),
          graft.functions.VectorFunctions.norm("embedding").as("norm"))
      val cents = s.read.parquet(s"${ivfLayout(s, d)}.centroids")
        .select(col("cand_cell").cast("int").as("cand_cell"),
          col("centroid"))
      val q = stored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("norm").as("q_norm"))
      val wq = Window.partitionBy("q_id")
        .orderBy(col("dist2"), col("cand_cell"))
      val cellRank = q.crossJoin(broadcast(cents))
        .withColumn("dist2", expr(
          """aggregate(zip_with(q_emb, centroid,
            |  (x, y) -> (CAST(x AS DOUBLE) / q_norm - y)
            |          * (CAST(x AS DOUBLE) / q_norm - y)),
            |  0D, (acc, v) -> acc + v)""".stripMargin))
        .select(col("q_id").as("cr_q"), col("cand_cell"),
          row_number().over(wq).as("cr"))
      val scored = stored.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot("q_emb", "embedding")
            / (col("q_norm") * col("norm")))
        .select("q_id", "vec_id", "cell", "cos")
      val wAll = Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      val exact = scored.withColumn("re", row_number().over(wAll))
        .filter(col("re") <= 3).select("q_id", "vec_id")
        .withColumn("hit", lit(1L))
      val nEx = exact.agg(count(lit(1)).as("n_exact"))
      val wNp = Window.partitionBy("np", "q_id")
        .orderBy(col("cos").desc, col("vec_id"))
      scored.join(broadcast(cellRank),
          col("q_id") === col("cr_q") && col("cell") === col("cand_cell"))
        .select(col("q_id"), col("vec_id"), col("cos"), col("cr"),
          explode(typedLit((1 to 4).toList)).as("np"))
        .filter(col("cr") <= col("np"))
        .withColumn("ri", row_number().over(wNp))
        .filter(col("ri") <= 3)
        .join(broadcast(exact), Seq("q_id", "vec_id"), "left")
        .groupBy("np")
        .agg(count(lit(1)).as("n_returned"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .crossJoin(broadcast(nEx))
        .select(col("np"), col("n_returned"), col("n_hit"),
          expr("n_hit * 1000000 DIV n_exact").as("recall_fp"))
        .orderBy("np")
    }),

    // IVF probe COST curve (r13): the expected scanned-candidate
    // fraction at nprobe ∈ {1..4} — the latency side of the
    // recall-vs-nprobe trade (read the two curves together and pick
    // the knee: recall saturates while cost keeps climbing toward
    // 1.0 at nprobe=k). PURE integer off the persisted layout: per
    // (query, np) the scan size is the sum of probed-cell populations
    // minus the self-exclusion when the query's own cell is probed;
    // the fraction is one truncating division by n_q·(N−1). Probe
    // selection is the SAME centroid ranking as the recall curve.
    // Scale: |q|×k cell ranks join the k-row cell-count table
    // broadcast; nothing touches the corpus vectors beyond the
    // layout's cell-count aggregate.
    "ivf_probe_cost_curve" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val stored = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"),
          graft.functions.VectorFunctions.norm("embedding").as("norm"))
      val cellCnt = stored.groupBy("cell").agg(count(lit(1)).as("csz"))
      val nTot = stored.agg(count(lit(1)).as("n_corpus"))
      val cents = s.read.parquet(s"${ivfLayout(s, d)}.centroids")
        .select(col("cand_cell").cast("int").as("cand_cell"),
          col("centroid"))
      val q = stored.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("norm").as("q_norm"), col("cell").as("q_cell"))
      val wq = Window.partitionBy("q_id")
        .orderBy(col("dist2"), col("cand_cell"))
      val cellRank = q.crossJoin(broadcast(cents))
        .withColumn("dist2", expr(
          """aggregate(zip_with(q_emb, centroid,
            |  (x, y) -> (CAST(x AS DOUBLE) / q_norm - y)
            |          * (CAST(x AS DOUBLE) / q_norm - y)),
            |  0D, (acc, v) -> acc + v)""".stripMargin))
        .select(col("q_id"), col("q_cell"), col("cand_cell"),
          row_number().over(wq).as("cr"))
      cellRank
        .join(broadcast(cellCnt), col("cand_cell") === col("cell"))
        .select(col("q_id"), col("q_cell"), col("cand_cell"), col("cr"),
          col("csz"), explode(typedLit((1 to 4).toList)).as("np"))
        .filter(col("cr") <= col("np"))
        .groupBy("np", "q_id")
        .agg(sum("csz").as("raw"),
          max(when(col("cand_cell") === col("q_cell"), 1L)
            .otherwise(0L)).as("own"))
        .withColumn("scanned", col("raw") - col("own"))
        .groupBy("np")
        .agg(count(lit(1)).as("n_queries"),
          sum("scanned").as("scanned_total"))
        .crossJoin(broadcast(nTot))
        .select(col("np"), col("n_queries"), col("scanned_total"),
          expr("""CAST(CAST(scanned_total AS DECIMAL(38,0)) * 1000000
                 | DIV (n_queries * (n_corpus - 1)) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("scan_frac_fp"))
        .orderBy("np")
    }),

    // L54 (r14) — the recall/cost PARETO frontier: join the two nprobe
    // curves and flag each operating point efficient iff no other point
    // has ≥ recall at strictly lower scan cost — the one-table answer
    // to "which nprobe do we serve at", with the marginal recall of
    // each extra probe alongside (the knee is where marginal recall
    // collapses while cost keeps climbing). Composes the two audited
    // curves (ONE source of truth); the dominance check is a k-row ×
    // k-row broadcast comparison (k = 4 operating points, the
    // bounded-pair-grid class).
    "ann_pareto_frontier" -> ((s, d) => {
      val pts = queries("ivf_nprobe_recall_curve")(s, d)
        .select("np", "recall_fp")
        .join(queries("ivf_probe_cost_curve")(s, d)
          .select("np", "scan_frac_fp"), "np")
        .localCheckpoint()
      val other = pts.select(col("recall_fp").as("rec2"),
        col("scan_frac_fp").as("cost2"))
      val dominated = pts.join(broadcast(other),
          col("rec2") >= col("recall_fp") &&
            col("cost2") < col("scan_frac_fp"), "left_semi")
        .select(col("np"), lit(false).as("efficient"))
      val prev = pts.select((col("np") + 1).as("np"),
        col("recall_fp").as("rec_prev"))
      pts.join(broadcast(prev), Seq("np"), "left")
        .join(broadcast(dominated), Seq("np"), "left")
        .select(col("np"), col("recall_fp"), col("scan_frac_fp"),
          (col("recall_fp") - col("rec_prev")).as("marginal_recall_fp"),
          coalesce(col("efficient"), lit(true)).as("efficient"))
        .orderBy("np")
    }),

    // Corpus-wide kNN GRAPH over the IVF serving layout: every vector's
    // top-3 same-cell neighbors by exact fixed-point cosine — the
    // embedding-graph build that feeds graph-based dedup, clustering,
    // and label propagation (the all-nodes sibling of ann_ivf_topk's
    // 10-query probe). Scale: candidate pairs are the cell equi-join
    // (Σ|cell|², the quantity the quantizer's k controls — the SemDeDup
    // argument); rank<=3 rewrites to WindowGroupLimit, so each task
    // forwards at most 3 edges per node into the per-node rank shuffle.
    // Isolated cell-singletons contribute no edges (graph semantics).
    "knn_graph_topk" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val stored = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"))
      val withNorm = stored.withColumn("norm",
        graft.functions.VectorFunctions.norm("embedding"))
      // Spread the probe side over the session's shuffle parallelism
      // (r18 optimization, guide §2.5 "synthetic partitioning"): the
      // Σ|cell|² cosine work runs in the MAP stage of the broadcast
      // join, so its parallelism was whatever the layout's file-split
      // count happened to be (4 tasks at sf0.1 — the suite's whole
      // graph family sat on one-eighth of the cores). A deterministic
      // hash repartition on (cell, vec_id) — explicit N so AQE cannot
      // coalesce the tiny vector shuffle back into one partition —
      // costs one linear shuffle of the vectors and spreads the
      // quadratic pair compute evenly at any scale.
      val nPart = s.sessionState.conf.numShufflePartitions
      val a = withNorm.select(col("vec_id").as("src"),
        col("cell").as("cell_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a"))
        .repartition(nPart, col("cell_a"), col("src"))
      val b = withNorm.select(col("vec_id").as("dst"),
        col("cell").as("cell_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b"))
      val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
      a.join(b, col("cell_a") === col("cell_b") && col("src") =!= col("dst"))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot("emb_a", "emb_b") /
            (col("norm_a") * col("norm_b")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("src"), col("rank"), col("dst"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("src", "rank")
    }),

    // LABEL PROPAGATION over the kNN graph — the standard semi-
    // supervised consumer of knn_graph_topk's edges: a 20% seed set
    // (vec_id % 5 = 0 keeps its true label) propagates to unlabeled
    // nodes by weighted majority vote over each node's OWN kNN list
    // (out-edges; weight = 4 − rank, an exact integer derived from the
    // bit-proven cosine ranking), synchronous rounds, seeds clamped.
    // Ties break (weight DESC, label ASC) — a total order, so every
    // round is deterministic on any partitioning. A graph within the
    // size oracle (graft.plans.SizeRoute) iterates driver-side on the
    // collected rows; beyond it the SAME recurrence runs as an
    // edges⋈labels equi-join loop, superseded round snapshots released
    // eagerly. AnnSpec pins bit-equality of the two paths with the limit
    // at 0. Oracle: the [[LpIters]]-stage
    // unrolled CTE replay (the PageRank recipe) over edges re-derived
    // from the persisted layout.
    "label_propagation_knn" -> ((s, d) => {
      val seeds = Tables.embeddings(s, d)
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("node"), col("label").as("seed_lab"))
      val edges = queries("knn_graph_topk")(s, d)
        .select(col("src"), col("dst"),
          (lit(4) - col("rank")).cast("long").as("w"))
        .localCheckpoint()
      val nodes = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id").as("node"))
      val collected = graft.plans.SizeRoute.collectIfSmall(edges, seeds, nodes)

      if (collected.isDefined) {
        // collected iterate: the kNN graph of an offline-model-sized
        // corpus slice (the PQ-codebook scale argument)
        val Seq(edgeRows, seedRows, nodeRows) = collected.get
        val e = edgeRows.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2)))
        // the collect above was the snapshot's last reader — release its
        // blocks eagerly (the distributed branch's discipline; ADVICE r7)
        graft.functions.Checkpoints.release(edges)
        val seedMap = seedRows
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        val nodeList = nodeRows.map(_.getLong(0)).sorted
        var lab: Map[Long, Option[Int]] =
          nodeList.map(n => n -> seedMap.get(n)).toMap
        for (_ <- 1 to LpIters) {
          val votes = new scala.collection.mutable.HashMap[(Long, Int), Long]()
          e.foreach { case (src, dst, w) =>
            lab(dst).foreach(l =>
              votes.update((src, l), votes.getOrElse((src, l), 0L) + w))
          }
          val pick = votes.toSeq.groupBy(_._1._1).map { case (srcN, vs) =>
            srcN -> vs.map { case ((_, l), ws) => (l, ws) }
              .sortBy { case (l, ws) => (-ws, l) }.head._1
          }
          lab = nodeList.map(n =>
            n -> (if (seedMap.contains(n)) Some(seedMap(n))
                  else pick.get(n).orElse(lab(n)))).toMap
        }
        import s.implicits._
        nodeList.toSeq.map(n => (n, seedMap.contains(n), lab(n)))
          .toDF("vec_id", "is_seed", "label_pred")
          .orderBy("vec_id")
      } else {
        var labels = nodes.join(seeds, Seq("node"), "left")
          .select(col("node"), col("seed_lab").as("lab")).localCheckpoint()
        for (_ <- 1 to LpIters) {
          val votes = edges
            .join(labels.filter(col("lab").isNotNull)
              .select(col("node").as("dst"), col("lab")), "dst")
            .groupBy("src", "lab").agg(sum("w").as("wsum"))
          val wdw = Window.partitionBy("src")
            .orderBy(col("wsum").desc, col("lab"))
          val pick = votes.withColumn("rn", row_number().over(wdw))
            .filter(col("rn") === 1)
            .select(col("src").as("node"), col("lab").as("vote"))
          val next = labels.join(pick, Seq("node"), "left")
            .join(seeds, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("seed_lab"), col("vote"), col("lab")).as("lab"))
            .localCheckpoint()
          graft.functions.Checkpoints.release(labels)
          labels = next
        }
        graft.functions.Checkpoints.release(edges)
        labels.join(seeds, Seq("node"), "left")
          .select(col("node").as("vec_id"),
            col("seed_lab").isNotNull.as("is_seed"),
            col("lab").as("label_pred"))
          .orderBy("vec_id")
      }
    }),

    // K-CORE pruning of the kNN graph: peel nodes of degree < k from
    // the SYMMETRIZED edge set in synchronous rounds — the graph-dedup
    // hygiene step that strips weakly-connected periphery (an isolated
    // near-dup pair is noise; a dense core is a boilerplate family
    // worth one representative). Direction matters: the top-3 kNN list
    // is asymmetric, so the graph is symmetrized (u~v if either lists
    // the other) before degrees are counted. Each peel round is one
    // alive-semi-join + one degree aggregate over the bounded kNN edge
    // set (≤ 2·3·|V| edges by construction — never corpus²), with
    // per-round localCheckpoint + eager release (the CC/LP loop
    // discipline). [[KcoreIters]] synchronous rounds reach the true
    // 2-core on the fixtures — AnnSpec peels one more round driver-side
    // and asserts the fixpoint held.
    "kcore_graph_prune" -> ((s, d) => {
      // pin the directed edges BEFORE symmetrizing: the union references
      // knn twice, so materializing und alone still executed the kNN
      // pipeline twice (r18 optimization); the directed snapshot is
      // released as soon as und is materialized
      val knn = queries("knn_graph_topk")(s, d).select("src", "dst")
        .localCheckpoint()
      val und = knn
        .union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint()
      graft.functions.Checkpoints.release(knn)
      val nodes = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id").as("node"))
      // An edge set within the size oracle (graft.plans.SizeRoute) peels
      // on the driver — bit-for-bit the same synchronous-round fixpoint;
      // each distributed peel round costs two near-empty jobs (KcoreIters
      // rounds were ~1.2 s at bench scale).
      val collected = graft.plans.SizeRoute.collectIfSmall(und.select("src", "dst"))
      val (deg0Df, aliveDf) = if (collected.isDefined) {
        val es = collected.get.head
          .map(r => (r.getLong(0), r.getLong(1)))
        val deg0M = es.groupBy(_._1).map { case (k, v) => (k, v.length.toLong) }
        var aliveSet = es.map(_._1).toSet
        for (_ <- 1 to KcoreIters) {
          val deg = es.iterator
            .filter(e => aliveSet(e._1) && aliveSet(e._2))
            .toSeq.groupBy(_._1).map { case (k, v) => (k, v.length) }
          aliveSet = deg.collect { case (k, n) if n >= KcoreK => k }.toSet
        }
        import s.implicits._
        (deg0M.toSeq.sorted.toDF("node", "deg0"),
          aliveSet.toSeq.sorted.toDF("node"))
      } else {
        val deg0 = und.groupBy("src").agg(count(lit(1)).as("deg0"))
          .select(col("src").as("node"), col("deg0"))
        var alive = und.select(col("src").as("node")).distinct()
          .localCheckpoint()
        for (_ <- 1 to KcoreIters) {
          val next = und
            .join(alive.select(col("node").as("src")), "src")
            .join(alive.select(col("node").as("dst")), "dst")
            .groupBy("src").agg(count(lit(1)).as("deg"))
            .filter(col("deg") >= KcoreK)
            .select(col("src").as("node")).localCheckpoint()
          graft.functions.Checkpoints.release(alive)
          alive = next
        }
        (deg0, alive)
      }
      // und and the final alive snapshot stay live — the returned plan
      // still reads both (deg0 is lazy); the weak registry hands them
      // to the ContextCleaner once the plan is dropped (GlobalRank r7
      // contract), while the loop's superseded rounds were released
      // eagerly above.
      nodes
        .join(deg0Df, Seq("node"), "left")
        .na.fill(0L, Seq("deg0"))
        .join(aliveDf.withColumn("in_core", lit(true)), Seq("node"), "left")
        .na.fill(false, Seq("in_core"))
        .select(col("node").as("vec_id"), col("deg0"), col("in_core"))
        .orderBy("vec_id")
    }),

    // Embedding OUTLIER filter over the IVF layout: each vector's
    // squared distance to its OWN cell centroid, flagged against a
    // relative margin over the cell mean — the curation step that drops
    // garbage embeddings (truncated docs, encoder failures) before
    // dedup/training mines them as "hard" examples. The distance is
    // INDEX STATE, not query work: `dist2_fp` (1e15 fixed-point BIGINT,
    // see [[outlierDistances]]) is computed once at layout-build time
    // and persisted in the `.dist2` sibling — rounds 6-7 proved that
    // re-deriving the FLOAT/floor chain inside another engine's SQL is
    // not portable (the driver's DuckDB build flipped one rounding both
    // rounds), so the float math now happens exactly once, in Spark,
    // and every verifier consumes the integer bits (AnnSpec pins
    // persisted == fresh in-engine derivation == a driver-side float
    // replay). The threshold test (1.05× the cell mean) multiplies in
    // DECIMAL(38,0): dist2_fp reaches 4e15 for unit vectors, so int64
    // cross-multiplication would wrap silently once a cell holds ~2e4
    // vectors while DuckDB promotes to HUGEINT — decimal keeps both
    // engines exact at any cell size. The 5% margin fits the fixture's
    // near-uniform directional spread (max/mean ≈ 1.08 — the AnnSpec
    // recall-ceiling regime); a clustered real corpus takes a larger
    // margin. Cost: one scan of the (vec_id, cell, dist2_fp) sidecar +
    // one cell aggregate — nothing corpus².
    "embedding_outlier_filter" -> ((s, d) => {
      val dist = s.read.parquet(s"${ivfLayout(s, d)}.dist2")
        .select(col("vec_id"), col("cell").cast("int").as("cell"),
          col("dist2_fp"))
      val cellStats = dist.groupBy("cell")
        .agg(sum(col("dist2_fp").cast("decimal(38,0)")).as("sum_fp_dec"),
          count(lit(1)).as("n_cell"))
      dist.join(cellStats, "cell")
        .select(col("vec_id"), col("cell"), col("dist2_fp"),
          (col("dist2_fp").cast("decimal(38,0)") * col("n_cell") * 100 >
            col("sum_fp_dec") * 105).as("is_outlier"))
        .orderBy("vec_id")
    }),

    // SemDeDup (Abbas et al., 2023): semantic dedup via the LEARNED
    // clustering — pairwise cosine only WITHIN each quantizer cell of
    // the serving layout, never across the corpus. A vector is dropped
    // iff a SMALLER-id cell-mate sits within cosine ≥ τ (the
    // deterministic keep-one-representative rule; transitive closure
    // deliberately not taken, matching the paper's per-cluster filter).
    // Scale: cost is Σ|cell|², the quantity SemDeDup's k controls — k
    // grows with the corpus so cells stay bounded; the join is an
    // equi-join on cell (never all-pairs), and only (id, cos) pairs
    // shuffle out of it.
    "semantic_dedup_cluster" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val stored = s.read.parquet(ivfLayout(s, d))
        .select(col("vec_id"), col("embedding"),
          col("cell").cast("int").as("cell"))
      val withNorm = stored.withColumn("norm",
        graft.functions.VectorFunctions.norm("embedding"))
      val a = withNorm.select(col("vec_id").as("id_a"),
        col("cell").as("cell_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a"))
      val b = withNorm.select(col("vec_id").as("id_b"),
        col("cell").as("cell_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b"))
      val dominated = a
        .join(b, col("cell_a") === col("cell_b") && col("id_b") < col("id_a"))
        .withColumn("cos",
          graft.functions.VectorFunctions.dot("emb_a", "emb_b") /
            (col("norm_a") * col("norm_b")))
        .filter(col("cos") >= SemDedupTau)
        .select(col("id_a").as("vec_id")).distinct()
        .withColumn("dup", lit(true))
      stored.join(dominated, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("cell"), col("dup").isNull.as("is_kept"))
        .orderBy("vec_id")
    }),
  )

  /** SemDeDup cosine threshold: fixture cells are directionally
    * near-uniform (AnnSpec), so τ sits just above the within-cell
    * cosine bulk — low enough to drop a meaningful tail, high enough to
    * keep most of each cell (the paper's ~epsilon ball).
    */
  private val SemDedupTau = 0.4

  /** Label-propagation synchronous rounds: cells are small-diameter, so
    * 3 rounds saturate any cell containing a seed.
    */
  private val LpIters = 3

  /** k-core knobs: core order (degree ≥ 2 in the symmetrized kNN graph)
    * and synchronous peel rounds. 4 rounds reach the true 2-core on the
    * fixtures (AnnSpec peels a fifth round on the driver and asserts
    * the fixpoint); the bounded unroll is what makes the recurrence
    * oracle-replayable (the PageRank/label-prop argument).
    */
  private val KcoreK = 2
  private val KcoreIters = 4

  /** `def`, not `val`: the ANN oracle references the session's serving
    * layout, known only after the query has materialized it (Verify's
    * run order guarantees that). The oracle is STRUCTURAL, not circular:
    * the layout + centroid files carry only the learned model's output
    * (cell assignments, k centroid vectors); the probe selection
    * (nprobe=2 nearest centroids) and the exact fixed-point cosine top-k
    * inside the probed cells are both re-derived in DuckDB from scratch.
    * Cosine ranking is bit-exact (integer fixed-point dot, exact norms);
    * the centroid-distance ranking sums IEEE doubles in engine order, so
    * it agrees whenever no two centroid distances are within an ulp —
    * guaranteed here by well-separated centroids (AnnSpec measures them).
    */
  def oracleSql: Map[String, String] =
    // ann_pareto_frontier composes the two curve oracles verbatim as
    // derived tables (one source of truth — a curve-oracle fix flows
    // into the frontier automatically)
    baseOracles + ("ann_pareto_frontier" ->
      s"""WITH pts AS (
         |  SELECT r.np, r.recall_fp, c.scan_frac_fp
         |  FROM (${baseOracles("ivf_nprobe_recall_curve")}) r
         |  JOIN (${baseOracles("ivf_probe_cost_curve")}) c USING (np)),
         |prev AS (SELECT np + 1 AS np, recall_fp AS rec_prev FROM pts)
         |SELECT p.np, p.recall_fp, p.scan_frac_fp,
         |  CAST(p.recall_fp - pr.rec_prev AS BIGINT) AS marginal_recall_fp,
         |  NOT EXISTS (SELECT 1 FROM pts q
         |              WHERE q.recall_fp >= p.recall_fp
         |                AND q.scan_frac_fp < p.scan_frac_fp) AS efficient
         |FROM pts p LEFT JOIN prev pr ON pr.np = p.np
         |ORDER BY p.np""".stripMargin)

  private def baseOracles: Map[String, String] = Map(
    // fixed-point ADC re-derived from the persisted codes + codebook:
    // Σ floor(q[idx]·val·1e15) as BIGINT is order-independent, so the
    // ranking is bit-identical to PqAdcScore's long sum
    "ann_pq_adc" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, ne, codes FROM read_parquet('${pqLayoutCache.lastPath}/*.parquet')),
         |q AS (SELECT vec_id AS q_id, ne AS q_ne FROM corpus WHERE vec_id < 10),
         |cb AS (SELECT j, code, idx, val
         |       FROM read_parquet('${pqLayoutCache.lastPath}.codebook/*.parquet')),
         |scored AS (
         |  SELECT q.q_id, c.vec_id,
         |         sum(CAST(floor(CAST(q.q_ne[cb.idx] AS DOUBLE) * cb.val * 1e15)
         |             AS BIGINT)) AS fx
         |  FROM q CROSS JOIN corpus c
         |  JOIN cb ON cb.code = c.codes[cb.j + 1]
         |  WHERE c.vec_id <> q.q_id
         |  GROUP BY q.q_id, c.vec_id),
         |ranked AS (
         |  SELECT q_id, vec_id, fx,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY fx DESC, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
         |       round(CAST(fx AS DOUBLE) / 1e15, 6) AS adc_cosine
         |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    // the same persisted codes + codebook, reconstruction error
    // re-derived slot-by-slot: floor((ne[idx] − val)²·1e12) is one
    // IEEE subtract/square per slot (bit-identical on both engines),
    // summed per (vec, subspace) then folded to the m-bounded report
    "pq_subspace_recon_error" ->
      s"""WITH v AS (
         |  SELECT vec_id, ne, codes
         |  FROM read_parquet('${pqLayoutCache.lastPath}/*.parquet')),
         |cb AS (SELECT j, code, idx, val
         |       FROM read_parquet('${pqLayoutCache.lastPath}.codebook/*.parquet')),
         |terms AS (
         |  SELECT v.vec_id, cb.j,
         |         CAST(floor((CAST(v.ne[cb.idx] AS DOUBLE) - cb.val)
         |           * (CAST(v.ne[cb.idx] AS DOUBLE) - cb.val) * 1e12)
         |           AS BIGINT) AS t
         |  FROM v JOIN cb ON v.codes[cb.j + 1] = cb.code),
         |per AS (SELECT vec_id, j, CAST(sum(t) AS BIGINT) AS e
         |        FROM terms GROUP BY 1, 2)
         |SELECT j, CAST(count(*) AS BIGINT) AS n_vecs,
         |       CAST(sum(CAST(e AS HUGEINT)) AS VARCHAR) AS sum_err_fp,
         |       CAST(sum(CAST(e AS HUGEINT)) // count(*) AS BIGINT)
         |         AS mean_err_fp
         |FROM per GROUP BY j ORDER BY j""".stripMargin,
    // same persisted codes + codebook; code histogram re-derived by
    // unnesting the m-code arrays, entropy via the shared FLOOR'd-ln
    // term convention
    "pq_code_utilization" ->
      s"""WITH v AS (
         |  SELECT vec_id, codes
         |  FROM read_parquet('${pqLayoutCache.lastPath}/*.parquet')),
         |used AS (
         |  SELECT CAST(t.i - 1 AS INT) AS j, codes[CAST(t.i AS INT)] AS code,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM v CROSS JOIN range(1, 129) t(i)
         |  WHERE t.i <= len(codes)
         |  GROUP BY 1, 2),
         |tot AS (SELECT j, CAST(sum(c) AS BIGINT) AS n_vecs,
         |               CAST(count(*) AS BIGINT) AS n_used
         |        FROM used GROUP BY j),
         |kc AS (SELECT j, CAST(count(DISTINCT code) AS BIGINT) AS k_codes
         |       FROM read_parquet('${pqLayoutCache.lastPath}.codebook/*.parquet')
         |       GROUP BY j),
         |terms AS (
         |  SELECT u.j, t.n_vecs, t.n_used,
         |         CAST(FLOOR(-(CAST(u.c AS DOUBLE) / t.n_vecs)
         |           * ln(CAST(u.c AS DOUBLE) / t.n_vecs)
         |           * 1000000000.0) AS BIGINT) AS term_fp
         |  FROM used u JOIN tot t USING (j))
         |SELECT j, CAST(max(n_vecs) AS BIGINT) AS n_vecs,
         |       CAST(max(k.k_codes) AS BIGINT) AS k_codes,
         |       CAST(max(n_used) AS BIGINT) AS n_used,
         |       CAST(max(k.k_codes) - max(n_used) AS BIGINT) AS n_dead,
         |       CAST(sum(term_fp) AS BIGINT) AS entropy_fp
         |FROM terms JOIN kc k USING (j)
         |GROUP BY j ORDER BY j""".stripMargin,
    "variant_semistructured" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long,
        |       json_extract_string(props, '$.k') AS k_str,
        |       CAST(NULL AS BIGINT) AS absent
        |FROM events ORDER BY event_id""".stripMargin,
    "ann_ivf_partition_pruned" -> ivfProbeSql,

    "ivf_cell_balance" ->
      s"""WITH $ivfCorpusCtes,
         |cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
         |          FROM corpus GROUP BY cell),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n,
         |               CAST(max(n_vecs) AS BIGINT) AS mx,
         |               CAST(count(*) AS BIGINT) AS n_cells
         |        FROM cells)
         |SELECT cells.cell, cells.n_vecs,
         |       CAST(n_vecs * 1000000 // n AS BIGINT) AS share_fp,
         |       CAST(mx * n_cells * 1000000 // n AS BIGINT)
         |         AS imbalance_fp
         |FROM cells CROSS JOIN tot ORDER BY cells.cell""".stripMargin,

    // same persisted layout + centroids, same probe rule and exact
    // top-3 truth, all four probe depths off the one scored set
    "ivf_nprobe_recall_curve" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH $ivfCorpusCtes,
         |cent AS (
         |  SELECT CAST(cand_cell AS INTEGER) AS cand_cell, centroid
         |  FROM read_parquet('${ivfLayoutCache.lastPath}.centroids/*.parquet')),
         |q AS (
         |  SELECT c.vec_id AS q_id, c.embedding AS q_emb, n.norm AS q_norm
         |  FROM corpus c JOIN norms n ON c.vec_id = n.vec_id
         |  WHERE c.vec_id < 10),
         |dist AS (
         |  SELECT q.q_id, ct.cand_cell,
         |         sum((CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])
         |           * (CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])) AS dist2
         |  FROM q CROSS JOIN cent ct CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(q.q_emb), len(ct.centroid))
         |  GROUP BY q.q_id, ct.cand_cell),
         |cellr AS (
         |  SELECT q_id, cand_cell, row_number() OVER (PARTITION BY q_id
         |    ORDER BY dist2, cand_cell) AS cr
         |  FROM dist),
         |dots AS (
         |  SELECT q.q_id, c.vec_id, c.cell,
         |         ${dotFpDuck("q.q_emb", "c.embedding")} AS dot
         |  FROM q JOIN corpus c ON c.vec_id <> q.q_id
         |  CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(q.q_emb), len(c.embedding))
         |  GROUP BY q.q_id, c.vec_id, c.cell),
         |scored AS MATERIALIZED (
         |  SELECT d.q_id, d.vec_id, d.cell,
         |         (CAST(d.dot AS DOUBLE) / 1e15) / (nq.norm * nc.norm) AS cos
         |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
         |              JOIN norms nc ON d.vec_id = nc.vec_id),
         |exact AS MATERIALIZED (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS re FROM scored)
         |  WHERE re <= 3),
         |nex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
         |grid(np) AS (VALUES (1), (2), (3), (4)),
         |byp AS (
         |  SELECT np, q_id, vec_id FROM (
         |    SELECT g.np, s.q_id, s.vec_id,
         |           row_number() OVER (PARTITION BY g.np, s.q_id
         |             ORDER BY s.cos DESC, s.vec_id) AS ri
         |    FROM scored s
         |    JOIN cellr r ON r.q_id = s.q_id AND r.cand_cell = s.cell
         |    JOIN grid g ON r.cr <= g.np)
         |  WHERE ri <= 3)
         |SELECT np, CAST(count(*) AS BIGINT) AS n_returned,
         |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_hit,
         |       CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |         * 1000000 // n_exact AS BIGINT) AS recall_fp
         |FROM byp LEFT JOIN exact e USING (q_id, vec_id) CROSS JOIN nex
         |GROUP BY np, n_exact ORDER BY np""".stripMargin
    },

    // same persisted layout, same centroid ranking, same
    // self-exclusion convention and truncating fraction
    "ivf_probe_cost_curve" ->
      s"""WITH $ivfCorpusCtes,
         |cent AS (
         |  SELECT CAST(cand_cell AS INTEGER) AS cand_cell, centroid
         |  FROM read_parquet('${ivfLayoutCache.lastPath}.centroids/*.parquet')),
         |q AS (
         |  SELECT c.vec_id AS q_id, c.embedding AS q_emb, n.norm AS q_norm,
         |         c.cell AS q_cell
         |  FROM corpus c JOIN norms n ON c.vec_id = n.vec_id
         |  WHERE c.vec_id < 10),
         |dist AS (
         |  SELECT q.q_id, ct.cand_cell,
         |         sum((CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])
         |           * (CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])) AS dist2
         |  FROM q CROSS JOIN cent ct CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(q.q_emb), len(ct.centroid))
         |  GROUP BY q.q_id, ct.cand_cell),
         |cellr AS (
         |  SELECT q_id, cand_cell, row_number() OVER (PARTITION BY q_id
         |    ORDER BY dist2, cand_cell) AS cr
         |  FROM dist),
         |cc AS (SELECT cell, CAST(count(*) AS BIGINT) AS csz
         |       FROM corpus GROUP BY cell),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM corpus),
         |grid(np) AS (VALUES (1), (2), (3), (4)),
         |perq AS (
         |  SELECT g.np, r.q_id,
         |         CAST(sum(cc.csz) AS BIGINT)
         |           - CAST(max(CASE WHEN r.cand_cell = q.q_cell
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS scanned
         |  FROM cellr r JOIN cc ON cc.cell = r.cand_cell
         |  JOIN q ON q.q_id = r.q_id
         |  JOIN grid g ON r.cr <= g.np
         |  GROUP BY g.np, r.q_id)
         |SELECT np, CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(sum(scanned) AS BIGINT) AS scanned_total,
         |       CAST(CAST(sum(scanned) AS HUGEINT) * 1000000
         |         // (count(*) * (n_corpus - 1)) AS BIGINT)
         |         AS scan_frac_fp
         |FROM perq CROSS JOIN ntot GROUP BY np, n_corpus
         |ORDER BY np""".stripMargin,
    // outlier flags re-derived from the persisted `.dist2` sidecar: the
    // per-vector distance is INTEGER index state written once by Spark
    // at layout-build time (rounds 6-7 proved float re-derivation is
    // not portable across DuckDB builds — the driver's build flipped
    // one FLOAT/floor rounding both rounds), so the oracle re-checks
    // the cell statistics and the margin rule from exact BIGINT bits;
    // the margin compares in HUGEINT (Spark side uses DECIMAL(38,0))
    // so neither engine can wrap int64. The float derivation itself is
    // validated in-engine by AnnSpec (persisted == fresh derivation ==
    // an independent driver-side float replay).
    "embedding_outlier_filter" -> {
      s"""WITH dist AS (
         |  SELECT vec_id, CAST(cell AS INTEGER) AS cell, dist2_fp
         |  FROM read_parquet('${ivfLayoutCache.lastPath}.dist2/*.parquet')),
         |stats AS (
         |  SELECT cell, CAST(sum(dist2_fp) AS HUGEINT) AS sum_fp,
         |         count(*) AS n_cell
         |  FROM dist GROUP BY cell)
         |SELECT d.vec_id, d.cell, d.dist2_fp,
         |       (CAST(d.dist2_fp AS HUGEINT) * s.n_cell * 100
         |          > s.sum_fp * 105) AS is_outlier
         |FROM dist d JOIN stats s USING (cell)
         |ORDER BY d.vec_id""".stripMargin
    },
    // the kNN graph re-derived from the same persisted cells: within-
    // cell pairs, fixed-point cosine (bit-exact), per-node top-3
    "knn_graph_topk" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH $ivfCorpusCtes,
         |dots AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |         ${dotFpDuck("a.embedding", "b.embedding")} AS dot
         |  FROM corpus a JOIN corpus b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= len(a.embedding)
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT d.src, d.dst,
         |         (CAST(d.dot AS DOUBLE) / 1e15) / (na.norm * nb.norm) AS cos
         |  FROM dots d JOIN norms na ON d.src = na.vec_id
         |              JOIN norms nb ON d.dst = nb.vec_id)
         |SELECT src, CAST(rank AS INTEGER) AS rank, dst,
         |       round(cos, 6) AS cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY src
         |        ORDER BY cos DESC, dst) AS rank FROM scored)
         |WHERE rank <= 3 ORDER BY src, rank""".stripMargin
    },
    // ann_kmeans_ivf (the in-memory-assign path) provably returns the
    // SAME rows as the serving layout probe — the layout's cells ARE the
    // fitted centroids' assignment output (AnnSpec asserts the identity) —
    // so it shares the structural re-derivation verbatim.
    "ann_kmeans_ivf" -> ivfProbeSql,
    // the LP recurrence unrolled to LpIters chained CTE stages (the
    // PageRank replay recipe) over the SAME within-cell top-3 edge
    // derivation the knn_graph_topk oracle proves
    "label_propagation_knn" -> labelPropDuck,
    "kcore_graph_prune" -> kcoreDuck,
    // SemDeDup re-derived from the same persisted cells: within-cell
    // pairs, fixed-point cosine (bit-exact), dominated-by-smaller-id
    // rule — only the cell assignments are taken from the layout.
    "semantic_dedup_cluster" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH $ivfCorpusCtes,
         |dots AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         ${dotFpDuck("a.embedding", "b.embedding")} AS fx
         |  FROM corpus a JOIN corpus b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= len(a.embedding)
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT DISTINCT d.id_a AS vec_id
         |  FROM dots d
         |  JOIN norms na ON na.vec_id = d.id_a
         |  JOIN norms nb ON nb.vec_id = d.id_b
         |  WHERE (CAST(d.fx AS DOUBLE) / 1e15) / (na.norm * nb.norm) >= $SemDedupTau)
         |SELECT c.vec_id, c.cell, (p.vec_id IS NULL) AS is_kept
         |FROM corpus c LEFT JOIN dup p ON c.vec_id = p.vec_id
         |ORDER BY c.vec_id""".stripMargin
    },
  )

  /** Shared DuckDB CTE prefix over the persisted IVF layout: the
    * cell-partitioned corpus + exact fixed-point norms. Every oracle
    * reading the layout starts from this block, so the path convention,
    * dim envelope (2049) and 1e15 scaling live in exactly one string.
    */
  private def ivfCorpusCtes: String = {
    import graft.functions.VectorFunctions.dotFpDuck
    s"""corpus AS (
       |  SELECT vec_id, embedding, CAST(cell AS INTEGER) AS cell
       |  FROM read_parquet('${ivfLayoutCache.lastPath}/cell=*/*.parquet', hive_partitioning=1)),
       |norms AS (
       |  SELECT c.vec_id,
       |         sqrt(CAST(${dotFpDuck("embedding", "embedding")} AS DOUBLE) / 1e15) AS norm
       |  FROM corpus c CROSS JOIN range(1, 2049) t(i)
       |  WHERE t.i <= len(c.embedding)
       |  GROUP BY c.vec_id)""".stripMargin
  }

  /** Shared DuckDB CTE chain re-deriving the kNN edge set from the
    * persisted layout exactly as the knn_graph_topk oracle does
    * (within-cell fixed-point cosine top-3, weight = 4 − rank):
    * `corpus`/`norms` (via [[ivfCorpusCtes]]) → `dots` → `scored` →
    * `edges(src, dst, w)`. Consumed by both graph oracles
    * (label propagation, k-core).
    */
  private[operators] def knnEdgeCtes: String = {
    import graft.functions.VectorFunctions.dotFpDuck
    s"""$ivfCorpusCtes,
       |dots AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |         ${dotFpDuck("a.embedding", "b.embedding")} AS dot
       |  FROM corpus a JOIN corpus b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  CROSS JOIN range(1, 2049) t(i)
       |  WHERE t.i <= len(a.embedding)
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.src, d.dst,
       |         (CAST(d.dot AS DOUBLE) / 1e15) / (na.norm * nb.norm) AS cos
       |  FROM dots d JOIN norms na ON d.src = na.vec_id
       |              JOIN norms nb ON d.dst = nb.vec_id),
       |edges AS (
       |  SELECT src, dst, CAST(4 - rank AS BIGINT) AS w FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rank FROM scored)
       |  WHERE rank <= 3)""".stripMargin
  }

  /** DuckDB replay of label propagation: edges via [[knnEdgeCtes]],
    * then the synchronous vote recurrence unrolled to [[LpIters]]
    * chained CTE stages — per-stage aggregation rules out a recursive
    * CTE, the pagerankDuck reasoning.
    */
  private def labelPropDuck: String = {
    val stages = (1 to LpIters).map { k =>
      s"""v$k AS (
         |  SELECT e.src, l.lab, sum(e.w) AS wsum
         |  FROM edges e JOIN lp${k - 1} l ON l.node = e.dst
         |  WHERE l.lab IS NOT NULL GROUP BY e.src, l.lab),
         |p$k AS (
         |  SELECT src, lab FROM (
         |    SELECT src, lab, row_number() OVER (PARTITION BY src
         |      ORDER BY wsum DESC, lab) AS rn FROM v$k)
         |  WHERE rn = 1),
         |lp$k AS (
         |  SELECT l.node, coalesce(s.seed_lab, p.lab, l.lab) AS lab
         |  FROM lp${k - 1} l
         |  LEFT JOIN seeds s ON s.node = l.node
         |  LEFT JOIN p$k p ON p.src = l.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgeCtes,
       |seeds AS (
       |  SELECT vec_id AS node, label AS seed_lab
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |lp0 AS (
       |  SELECT c.vec_id AS node, s.seed_lab AS lab
       |  FROM corpus c LEFT JOIN seeds s ON s.node = c.vec_id),
       |$stages
       |SELECT l.node AS vec_id, (s.node IS NOT NULL) AS is_seed,
       |       l.lab AS label_pred
       |FROM lp$LpIters l LEFT JOIN seeds s ON s.node = l.node
       |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB replay of the k-core peel: edges via [[knnEdgeCtes]],
    * symmetrized + deduped, then [[KcoreIters]] synchronous peel rounds
    * as chained CTEs (per-round aggregation — same unroll reasoning).
    */
  private def kcoreDuck: String = {
    val rounds = (1 to KcoreIters).map { k =>
      s"""a$k AS (
         |  SELECT u.src AS node
         |  FROM und u JOIN a${k - 1} s ON s.node = u.src
         |             JOIN a${k - 1} t ON t.node = u.dst
         |  GROUP BY u.src HAVING count(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnEdgeCtes,
       |und AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM edges
       |    UNION ALL SELECT dst, src FROM edges)),
       |deg0 AS (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg0
       |  FROM und GROUP BY src),
       |a0 AS (SELECT DISTINCT src AS node FROM und),
       |$rounds
       |SELECT c.vec_id, coalesce(d.deg0, 0) AS deg0,
       |       (a.node IS NOT NULL) AS in_core
       |FROM corpus c
       |LEFT JOIN deg0 d ON d.node = c.vec_id
       |LEFT JOIN a$KcoreIters a ON a.node = c.vec_id
       |ORDER BY c.vec_id""".stripMargin
  }

  /** DuckDB re-derivation of the full IVF probe from the persisted
    * serving layout: nprobe=2 centroid selection + exact fixed-point
    * cosine top-3 inside the probed cells. Shared by both IVF keys.
    */
  private def ivfProbeSql: String = {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH $ivfCorpusCtes,
         |cent AS (
         |  SELECT CAST(cand_cell AS INTEGER) AS cand_cell, centroid
         |  FROM read_parquet('${ivfLayoutCache.lastPath}.centroids/*.parquet')),
         |q AS (
         |  SELECT c.vec_id AS q_id, c.embedding AS q_emb, n.norm AS q_norm
         |  FROM corpus c JOIN norms n ON c.vec_id = n.vec_id
         |  WHERE c.vec_id < 10),
         |dist AS (
         |  SELECT q.q_id, ct.cand_cell,
         |         sum((CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])
         |           * (CAST(q.q_emb[t.i] AS DOUBLE) / q.q_norm - ct.centroid[t.i])) AS dist2
         |  FROM q CROSS JOIN cent ct CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(q.q_emb), len(ct.centroid))
         |  GROUP BY q.q_id, ct.cand_cell),
         |probes AS (
         |  SELECT q_id, cand_cell FROM (
         |    SELECT q_id, cand_cell,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY dist2, cand_cell) AS cr
         |    FROM dist)
         |  WHERE cr <= 2),
         |dots AS (
         |  SELECT q.q_id, c.vec_id, c.cell,
         |         ${dotFpDuck("q.q_emb", "c.embedding")} AS dot
         |  FROM q JOIN probes p ON q.q_id = p.q_id
         |         JOIN corpus c ON c.cell = p.cand_cell AND c.vec_id <> q.q_id
         |  CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= least(len(q.q_emb), len(c.embedding))
         |  GROUP BY q.q_id, c.vec_id, c.cell),
         |scored AS (
         |  SELECT d.q_id, d.vec_id, d.cell,
         |         (CAST(d.dot AS DOUBLE) / 1e15) / (nq.norm * nc.norm) AS cos
         |  FROM dots d JOIN norms nq ON d.q_id = nq.vec_id
         |              JOIN norms nc ON d.vec_id = nc.vec_id)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
         |       cell, round(cos, 6) AS cosine
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |        ORDER BY cos DESC, vec_id) AS rank FROM scored)
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }
}
