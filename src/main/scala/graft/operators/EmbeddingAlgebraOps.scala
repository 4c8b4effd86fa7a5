package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{truncDivSpark, truncDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-matrix algebra (round-10 widening, second session): the
  * covariance structure and leading principal component of the corpus
  * embedding matrix — the two linear-algebra reads an embedding-QC
  * pass runs before trusting a vector store (correlated dimensions ⇒
  * wasted capacity / a broken encoder head; the top component and its
  * dominance ⇒ how anisotropic the space is, the known failure mode of
  * contrastive encoders). Both are Σ-of-outer-products computations:
  * the only corpus-sized pass is the GramUpperSum typed-Aggregator
  * fold (r12 — each row multiply-adds into one d(d+1)/2-cell buffer
  * map-side, replacing the earlier per-row outer-product EXPLODE; the
  * shuffle now carries one buffer per partition, not rows·d²/2
  * records), and ALL downstream state is d²-bounded (the gram matrix),
  * which is precisely how a 1000-executor PCA is actually built —
  * partial gram per partition, one d²-sized shuffle, iterate on
  * broadcast-sized vectors.
  *
  * Determinism & scale design:
  *   - Embedding floats fix-point at the LEAF (trunc(x·1e6) — the
  *     embedding_dim_stats convention); every product/sum after is
  *     exact integer arithmetic in DECIMAL(38,0)/HUGEINT. No double
  *     exists anywhere in either query — engine agreement is
  *     arithmetic, not numerical.
  *   - The covariance test statistic is the cross-multiplied exact
  *     form n·Σxy − Σx·Σy (no division, no mean), ranked by absolute
  *     value — rank-stable under any partitioning.
  *   - Power-iteration normalization is integer: v·1e6 div max|v|,
  *     with TRUNCATING division spelled sign-explicitly on both
  *     engines (Spark DIV truncates toward zero, DuckDB // floors —
  *     the CASE makes them agree on negatives).
  *   - Envelope: per-element products fx·fx ≤ 1e12; gram cells reach
  *     rows·1e12 (DECIMAL(38,0) holds to ~1e26 rows); iteration-2
  *     terms reach d·cell·1e6 ≈ 1e22 at fixture scale — all inside
  *     DECIMAL(38,0)/HUGEINT by wide margins. `cov_num` = n·Σxy−Σx·Σy
  *     reaches rows²·1e12, past int64 already at ~3k rows — it MUST
  *     stay DECIMAL(38,0)/HUGEINT internally, never BIGINT.
  *   - Output type rule (r12): the r11 fix (cast the oracle HUGEINT
  *     to DECIMAL(38,0) so types align) did NOT green the driver
  *     hash — the driver reds decimal128 outputs even when both
  *     engines emit value-identical, type-aligned decimal128 (the r11
  *     verdict's controlled experiment: hard_negative_mining greened
  *     on BIGINT, all four decimal128-output queries stayed red). So
  *     NO decimal128 reaches any SELECT list: `cov_num` orders as
  *     exact decimal and is emitted as a canonical digit STRING on
  *     both engines.
  */
object EmbeddingAlgebraOps extends OpGroup {

  /** Leaf fixed-point of the float embedding, as an int64 array. */
  private val fxArr =
    expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1000000 AS BIGINT))")

  /** Exact DECIMAL(38,0) reconstruction of a GramCell limb pair. */
  private val cellSum =
    "CAST(c.sHi AS DECIMAL(38,0)) * 1000000000000000000 + c.sLo"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Top-|covariance| dimension pairs. r12 (VERDICT r11 polish #7):
    // the gram folds through the GramUpperSum typed Aggregator — each
    // row multiply-adds into ONE d(d+1)/2-cell buffer map-side (the
    // CharFreq precedent), so the shuffle carries one buffer per
    // partition instead of rows·d²/2 exploded records. The d
    // per-dimension sums broadcast back twice; the ranking key is the
    // exact integer n·Σxy − Σx·Σy. TakeOrdered top-20.
    "embedding_covariance_topk" -> ((s, d) => {
      val gram = udaf(new graft.functions.GramUpperSum)
      val emb = Tables.embeddings(s, d).withColumn("fxs", fxArr)
      val pairs = emb.agg(gram(col("fxs")).as("g"))
        .select(explode(col("g")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"), col("c.n").as("n"),
          expr(cellSum).as("sxy"))
        .filter(col("i") < col("j"))
      val dims = emb.select(posexplode(col("fxs")).as(Seq("pos", "fx")))
        .groupBy("pos").agg(sum(col("fx").cast("decimal(38,0)")).as("sx"))
      pairs
        .join(broadcast(dims.select(col("pos").as("i"), col("sx").as("sx_i"))), "i")
        .join(broadcast(dims.select(col("pos").as("j"), col("sx").as("sx_j"))), "j")
        .withColumn("cov_dec",
          expr("CAST(n AS DECIMAL(38,0)) * sxy - sx_i * sx_j"))
        .orderBy(abs(col("cov_dec")).desc, col("i"), col("j"))
        .limit(20)
        .select(col("i"), col("j"), col("n"),
          col("cov_dec").cast("string").as("cov_num"))
    }),

    // Participation-ratio dimensionality (r13; Gao et al. 2017's
    // neural-dimensionality convention): PR = (Σλ)²/Σλ² = tr(C)²/‖C‖²_F
    // — the effective dimension of the embedding cloud WITHOUT any
    // eigendecomposition, because trace and Frobenius norm read
    // directly off the covariance cells (PR = d ⟺ isotropic, PR ≪ d ⟺
    // the anisotropic collapse embedding_anisotropy flags). Scale
    // invariance of PR lets the whole read stay integer: covariance
    // NUMERATORS n·Σxy − ΣxΣy fold through the SAME GramUpperSum
    // map-side buffer as covariance_topk, each cell truncates by n
    // (signed toward-zero, pinned), and PR is one DECIMAL(38,0)
    // division of exact integers — envelope ~1e3 rows × d=64 inside
    // 38 digits at the Frobenius fold.
    "embedding_participation_ratio" -> ((s, d) => {
      val gram = udaf(new graft.functions.GramUpperSum)
      val emb = Tables.embeddings(s, d).withColumn("fxs", fxArr)
      val cells = emb.agg(gram(col("fxs")).as("g"))
        .select(explode(col("g")).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"),
          col("c.n").as("n"), expr(cellSum).as("sxy"))
      val dims = emb.select(posexplode(col("fxs")).as(Seq("pos", "fx")))
        .groupBy("pos").agg(sum(col("fx").cast("decimal(38,0)")).as("sx"))
      val nd = dims.agg(count(lit(1)).as("n_dims"))
      cells
        .join(broadcast(dims.select(col("pos").as("i"),
          col("sx").as("sx_i"))), "i")
        .join(broadcast(dims.select(col("pos").as("j"),
          col("sx").as("sx_j"))), "j")
        .withColumn("cov_dec",
          expr("CAST(n AS DECIMAL(38,0)) * sxy - sx_i * sx_j"))
        .withColumn("cbar", expr(truncDivSpark("cov_dec", "n")))
        .agg(max("n").as("n"),
          sum(when(col("i") === col("j"), col("cbar")).otherwise(0L)
            .cast("decimal(38,0)")).as("tr"),
          sum(expr(
            """CASE WHEN i = j THEN 1 ELSE 2 END
              | * (CAST(cbar AS DECIMAL(38,0)) * cbar)"""
              .stripMargin.replace("\n", " "))).as("fro2"))
        .crossJoin(broadcast(nd))
        .select(col("n"), col("n_dims"), expr(
          """CASE WHEN fro2 > 0 THEN
            |CAST(tr * tr * 1000000 DIV fro2 AS BIGINT)
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " "))
          .as("pr_fp"))
    }),

    // Leading principal component by two normalized power-iteration
    // steps over the (uncentered) gram matrix: G folds through the
    // SAME GramUpperSum map-side buffer (r12 — upper triangle only;
    // the full grid is recovered by mirroring the ≤d(d+1)/2 cells
    // inside the post-aggregate single-row array, so symmetry costs
    // zero corpus work); v₁ = G·1, v₂ = G·v̂₁, each normalized to 1e6
    // fixed point by its max-|component| (integer trunc-div). The
    // iteration state (v, its max) is d-sized — broadcast both times;
    // nothing corpus-sized survives past the first aggregate.
    "embedding_pca_power_iter" -> ((s, d) => {
      val gram = udaf(new graft.functions.GramUpperSum)
      val emb = Tables.embeddings(s, d).withColumn("fxs", fxArr)
      val g = emb.agg(gram(col("fxs")).as("gu"))
        .select(explode(expr(
          """flatten(transform(gu, c -> CASE WHEN c.i = c.j
            |  THEN array(named_struct('i', c.i, 'j', c.j,
            |    'sHi', c.sHi, 'sLo', c.sLo))
            |  ELSE array(named_struct('i', c.i, 'j', c.j,
            |      'sHi', c.sHi, 'sLo', c.sLo),
            |    named_struct('i', c.j, 'j', c.i,
            |      'sHi', c.sHi, 'sLo', c.sLo)) END))"""
            .stripMargin)).as("c"))
        .select(col("c.i").as("i"), col("c.j").as("j"),
          expr(cellSum).as("gij"))
      val v1 = g.groupBy("i").agg(sum("gij").as("v1raw"))
      val m1 = v1.agg(max(abs(col("v1raw"))).as("m1"))
      val v1s = v1.crossJoin(broadcast(m1))
        .select(col("i").as("j"),
          expr(truncDivSpark("v1raw * 1000000", "m1")).as("v1s"))
      val v2 = g.join(broadcast(v1s), "j")
        .groupBy("i")
        .agg(sum(expr("gij * v1s")).as("v2raw"))
      val m2 = v2.agg(max(abs(col("v2raw"))).as("m2"))
      v2.crossJoin(broadcast(m2))
        .join(broadcast(v1s.select(col("j").as("i"), col("v1s"))), "i")
        .select(col("i").as("pos"), col("v1s"),
          expr(truncDivSpark("v2raw * 1000000", "m2")).as("v2s"))
        .orderBy("pos")
    }),

    // Per-dimension clip calibration (r12, fifth session): the
    // rank-defined P1/P99 thresholds of every embedding dimension and
    // the mass they would clip — the calibration table an int8/fp8
    // quantizer reads BEFORE embedding_quantize_int8 runs (clip too
    // tight and recon error explodes on the tails; too loose and the
    // integer grid wastes range on outliers). Percentile picks are
    // the psi convention (value at rank ⌈q·n⌉ off the per-dimension
    // two-phase prefix sum — no engine quantiles); clipped mass is an
    // exact support-fold count against the broadcast threshold table.
    // Scale: the (pos, fx) support folds map-side; everything after
    // is d-bounded.
    "embedding_clip_calibration" -> ((s, d) => {
      val ex = Tables.embeddings(s, d).withColumn("fxs", fxArr)
        .select(posexplode(col("fxs")).as(Seq("pos", "fx")))
      // r19: pin the (pos, fx) support once — it feeds the prefix-sum
      // measuring pass, the cum plan, the per-dimension totals AND the
      // final clipped-mass fold, so the posexplode aggregate otherwise
      // re-executes per branch — and take BOTH percentile picks in one
      // pass over cum (min fx past each threshold) instead of two
      // join+filter+agg branches that each re-run the window
      val sup = graft.functions.Checkpoints.pin(
        ex.groupBy("pos", "fx").agg(count(lit(1)).as("c")))
      val cum = graft.functions.GlobalRank
        .prefixSum(sup, "cum", col("c"), Seq("pos"), Seq("fx"))
      val ns = sup.groupBy("pos").agg(sum("c").as("n"))
        .withColumn("lo_t", expr("(n + 99) DIV 100"))
        .withColumn("hi_t", expr("(99 * n + 99) DIV 100"))
      val picks = cum.join(broadcast(ns), "pos")
        .groupBy("pos").agg(
          min(when(col("cum") >= col("lo_t"), col("fx"))).as("lo_fp"),
          min(when(col("cum") >= col("hi_t"), col("fx"))).as("hi_fp"))
      val th = ns.join(picks, "pos")
      sup.join(broadcast(th), "pos")
        .groupBy("pos", "n", "lo_fp", "hi_fp")
        .agg(sum(when(col("fx") < col("lo_fp"), col("c")).otherwise(0L))
          .as("below"),
          sum(when(col("fx") > col("hi_fp"), col("c")).otherwise(0L))
            .as("above"))
        .select(col("pos").cast("long").as("pos"), col("n"),
          col("lo_fp"), col("hi_fp"),
          (col("hi_fp") - col("lo_fp")).as("range_fp"),
          (col("below") + col("above")).as("clipped_n"))
        .orderBy("pos")
    }),

    // Corpus anisotropy via the sum-vector identity (r12, fifth
    // session; Ethayarajh 2019 observed contextual embedding spaces
    // are anisotropic — random pairs have large expected similarity,
    // which silently inflates every cosine-threshold dedup/retrieval
    // gate in this suite): the mean pairwise RAW dot product over all
    // n(n−1) ordered pairs equals (‖Σv‖² − Σ‖v‖²)/(n(n−1)) — so the
    // all-pairs read costs ONE d-bounded pass, no pair join at any
    // scale. Dots are in exact fx² units (fx = trunc(x·1e6));
    // ‖Σv‖² and Σ‖v‖² fold in DECIMAL(38,0)/HUGEINT; the numerator
    // is emitted as a canonical digit STRING (decimal ban) beside
    // two truncating fixed-point ratios: the mean pairwise dot and
    // the mean squared norm (both ×1e-6 in raw-unit² terms).
    "embedding_anisotropy" -> ((s, d) => {
      // n is count(DISTINCT vec_id) over non-null/non-empty vectors on
      // BOTH engines (ADVICE r12): the oracle's n comes from the
      // exploded rows (UNNEST drops NULL/empty arrays), so a raw
      // count(*) here would diverge the identity's n if the fixture
      // ever gained a NULL embedding or a duplicate vec_id.
      val emb = Tables.embeddings(s, d).withColumn("fxs", fxArr)
        .filter(col("fxs").isNotNull && size(col("fxs")) > 0)
      val perRow = emb.select(
        expr("""aggregate(fxs, CAST(0 AS DECIMAL(38,0)),
               | (acc, x) -> acc + CAST(x AS DECIMAL(38,0)) * x)"""
          .stripMargin.replace("\n", " ")).as("sq"),
        col("vec_id"), col("fxs"))
      val q = perRow.agg(countDistinct("vec_id").cast("long").as("n"),
        sum("sq").as("sum_sq_norm"))
      val dims = emb.select(posexplode(col("fxs")).as(Seq("pos", "fx")))
        .groupBy("pos").agg(sum(col("fx").cast("decimal(38,0)")).as("sx"))
      val s2 = dims.agg(sum(expr("sx * sx")).as("norm_sum_sq"))
      q.crossJoin(broadcast(s2))
        .withColumn("num", expr("norm_sum_sq - sum_sq_norm"))
        .filter(col("n") >= 2)
        .select(col("n"),
          col("num").cast("string").as("pair_dot_num"),
          expr(truncDivSpark("num",
            "CAST(n AS DECIMAL(38,0)) * (n - 1) * 1000000"))
            .as("mean_pair_dot_fp"),
          expr("CAST(sum_sq_norm DIV (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)")
            .as("mean_sq_norm_fp"))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "embedding_covariance_topk" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |pr AS (
         |  SELECT a.pos AS i, b.pos AS j, a.fx * b.fx AS p
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos < b.pos),
         |pa AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sxy
         |  FROM pr GROUP BY i, j),
         |dims AS (
         |  SELECT pos, CAST(sum(CAST(fx AS HUGEINT)) AS HUGEINT) AS sx
         |  FROM ex GROUP BY pos)
         |SELECT pa.i, pa.j, pa.n,
         |       CAST(CAST(n AS HUGEINT) * sxy - dx.sx * dy.sx
         |         AS VARCHAR) AS cov_num
         |FROM pa JOIN dims dx ON dx.pos = pa.i
         |        JOIN dims dy ON dy.pos = pa.j
         |ORDER BY abs(CAST(n AS HUGEINT) * sxy - dx.sx * dy.sx) DESC,
         |         pa.i, pa.j
         |LIMIT 20""".stripMargin,

    // same GramUpperSum-equivalent pair sums (all i ≤ j), same
    // truncate-by-n cells, same pure-integer PR division
    "embedding_participation_ratio" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |pr AS (
         |  SELECT a.pos AS i, b.pos AS j, a.fx * b.fx AS p
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.pos <= b.pos),
         |pa AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CAST(p AS HUGEINT)) AS HUGEINT) AS sxy
         |  FROM pr GROUP BY i, j),
         |dims AS (
         |  SELECT pos, CAST(sum(CAST(fx AS HUGEINT)) AS HUGEINT) AS sx
         |  FROM ex GROUP BY pos),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_dims FROM dims),
         |cb AS (
         |  SELECT pa.i, pa.j, pa.n,
         |         ${truncDivDuck(
                     "CAST(pa.n AS HUGEINT) * pa.sxy - dx.sx * dy.sx",
                     "pa.n")} AS cbar
         |  FROM pa JOIN dims dx ON dx.pos = pa.i
         |          JOIN dims dy ON dy.pos = pa.j),
         |agg AS (
         |  SELECT max(n) AS n,
         |         sum(CASE WHEN i = j THEN cbar ELSE 0 END) AS tr,
         |         sum((CASE WHEN i = j THEN 1 ELSE 2 END)
         |             * (CAST(cbar AS HUGEINT) * cbar)) AS fro2
         |  FROM cb)
         |SELECT n, n_dims,
         |  CASE WHEN fro2 > 0 THEN
         |    CAST(CAST(tr AS HUGEINT) * tr * 1000000 // fro2 AS BIGINT)
         |  ELSE NULL END AS pr_fp
         |FROM agg CROSS JOIN nd""".stripMargin,

    "embedding_pca_power_iter" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |g AS (
         |  SELECT a.pos AS i, b.pos AS j,
         |         CAST(sum(CAST(a.fx AS HUGEINT) * b.fx) AS HUGEINT) AS gij
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
         |  GROUP BY a.pos, b.pos),
         |v1 AS (SELECT i, CAST(sum(gij) AS HUGEINT) AS v1raw
         |       FROM g GROUP BY i),
         |m1 AS (SELECT max(abs(v1raw)) AS m1 FROM v1),
         |v1s AS (SELECT i AS j,
         |               ${truncDivDuck("v1raw * 1000000", "m1")} AS v1s
         |        FROM v1 CROSS JOIN m1),
         |v2 AS (
         |  SELECT g.i, CAST(sum(gij * v1s) AS HUGEINT) AS v2raw
         |  FROM g JOIN v1s ON v1s.j = g.j GROUP BY g.i),
         |m2 AS (SELECT max(abs(v2raw)) AS m2 FROM v2)
         |SELECT v2.i AS pos, v1s.v1s,
         |       ${truncDivDuck("v2raw * 1000000", "m2")} AS v2s
         |FROM v2 CROSS JOIN m2
         |JOIN v1s ON v1s.j = v2.i
         |ORDER BY pos""".stripMargin,

    // same rank-defined picks / support-fold clip counts
    "embedding_clip_calibration" ->
      s"""WITH ex AS MATERIALIZED (
         |  SELECT CAST(i - 1 AS BIGINT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |sup AS MATERIALIZED (
         |  SELECT pos, fx, CAST(count(*) AS BIGINT) AS c
         |  FROM ex GROUP BY 1, 2),
         |cum AS (SELECT pos, fx, c,
         |               CAST(sum(c) OVER (PARTITION BY pos ORDER BY fx)
         |                 AS BIGINT) AS cum
         |        FROM sup),
         |ns AS (SELECT pos, CAST(sum(c) AS BIGINT) AS n,
         |              (CAST(sum(c) AS BIGINT) + 99) // 100 AS lo_t,
         |              (99 * CAST(sum(c) AS BIGINT) + 99) // 100 AS hi_t
         |       FROM sup GROUP BY 1),
         |lo AS (SELECT c.pos, min(c.fx) AS lo_fp
         |       FROM cum c JOIN ns ON ns.pos = c.pos
         |       WHERE c.cum >= ns.lo_t GROUP BY 1),
         |hi AS (SELECT c.pos, min(c.fx) AS hi_fp
         |       FROM cum c JOIN ns ON ns.pos = c.pos
         |       WHERE c.cum >= ns.hi_t GROUP BY 1),
         |th AS (SELECT ns.pos, ns.n, lo.lo_fp, hi.hi_fp
         |       FROM ns JOIN lo ON lo.pos = ns.pos
         |       JOIN hi ON hi.pos = ns.pos)
         |SELECT th.pos, th.n, th.lo_fp, th.hi_fp,
         |       th.hi_fp - th.lo_fp AS range_fp,
         |       CAST(sum(CASE WHEN s.fx < th.lo_fp THEN s.c ELSE 0 END)
         |         + sum(CASE WHEN s.fx > th.hi_fp THEN s.c ELSE 0 END)
         |         AS BIGINT) AS clipped_n
         |FROM sup s JOIN th ON th.pos = s.pos
         |GROUP BY th.pos, th.n, th.lo_fp, th.hi_fp
         |ORDER BY th.pos""".stripMargin,

    // same sum-vector identity; HUGEINT folds, string numerator out
    "embedding_anisotropy" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |q AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
         |             sum(CAST(fx AS HUGEINT) * fx) AS sum_sq_norm
         |      FROM ex),
         |dims AS (SELECT pos, CAST(sum(CAST(fx AS HUGEINT)) AS HUGEINT)
         |                 AS sx
         |         FROM ex GROUP BY pos),
         |s2 AS (SELECT sum(sx * sx) AS norm_sum_sq FROM dims),
         |f AS (SELECT n, sum_sq_norm,
         |             norm_sum_sq - sum_sq_norm AS num
         |      FROM q CROSS JOIN s2 WHERE n >= 2)
         |SELECT n, CAST(num AS VARCHAR) AS pair_dot_num,
         |       ${truncDivDuck("num",
                  "CAST(n AS HUGEINT) * (n - 1) * 1000000")}
         |         AS mean_pair_dot_fp,
         |       CAST(sum_sq_norm // (CAST(n AS HUGEINT) * 1000000)
         |         AS BIGINT) AS mean_sq_norm_fp
         |FROM f""".stripMargin,
  )
}
