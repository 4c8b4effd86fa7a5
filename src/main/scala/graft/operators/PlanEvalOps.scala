package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{truncDivSpark, truncDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fingerprinting, planner-diagnostics and clustering-eval widening
  * (round 12):
  *
  *   - `winnowing_fingerprints`: Schleimer/Wilkerson/Aiken 2003
  *     winnowing (the MOSS algorithm): per doc, the minimum k-gram
  *     hash of every w-window is selected (tie → rightmost), giving a
  *     position-robust fingerprint set with guaranteed density
  *     2/(w+1) — the fingerprint family used for plagiarism/overlap
  *     detection where shingle sets are too big to keep. Reports
  *     per-source density (the 2/(w+1) acceptance check) and the
  *     cross-doc shared-fingerprint rate (the overlap signal).
  *   - `join_cardinality_estimate`: the System-R uniformity estimate
  *     |A⋈B| ≈ |A|·|B|/max(ndv_A, ndv_B) vs the exact Σ f_A(k)·f_B(k)
  *     for the schema's three fact joins — the planner diagnostic that
  *     says how wrong the independence assumption is per key BEFORE
  *     anyone trusts a cost model at 100 TB.
  *   - `bcubed_cluster_eval`: B³ precision/recall/F1 (Bagga & Baldwin
  *     1998) of the near-dup clustering against the embedding labels —
  *     the standard extrinsic clustering metric (unlike purity it
  *     penalizes both over-merging and over-splitting per item).
  *     Seventh consumer of the persisted ccLabels layout.
  *
  * Determinism & scale design:
  *   - winnowing: k-gram explode is token-linear; the window min runs
  *     inside per-DOC partitions (doc-bounded, never a global window);
  *     tie-break is encoded INTO the min key (h || '_' || zero-padded
  *     reversed pos), so "min string" is the whole selection rule and
  *     both engines string-compare identically. The shared-hash pass
  *     is one combinable countDistinct per hash; the join back is
  *     1-row-per-key build side (no skew amplification). Density ppm
  *     is exact integer.
  *   - join estimate: per-side key histograms are map-side combinable;
  *     actual = Σ f_A·f_B over the key equi-join of the two histograms
  *     (|keys| rows, NOT the data join). n_A·n_B and f products lift
  *     to DECIMAL(38,0) internally (n_A·n_B ≈ 1e22 at 100 TB passes
  *     int64); outputs are BIGINT. err_ppm uses the sign-explicit
  *     truncating division (Spark DIV truncates, DuckDB // floors —
  *     the CASE makes them agree on negative errors).
  *   - B³: cells/sizes are three combinable counts over the
  *     (component, label) grid; per-cell terms lift to DECIMAL(38,0)
  *     BEFORE the m² multiply (m ≈ 1e9 at 100 TB would pass int64);
  *     per-cell truncation is part of the metric definition, applied
  *     identically on both engines; the report is ONE row.
  */
object PlanEvalOps extends OpGroup {

  /** winnowing k (tokens per gram) and window w (grams per window). */
  private val GramK = 3
  private val WinW = 4

  /** One fact join to profile: (name, tableA, keyA, tableB, keyB). */
  private case class JoinCase(name: String, a: String, ka: String,
      b: String, kb: String)
  private val JoinCases = Seq(
    JoinCase("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    JoinCase("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    JoinCase("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MOSS winnowing: per source, docs / fingerprints / mean density
    // ppm (expected ≈ 2/(w+1) = 400000) / share of fingerprints whose
    // hash appears in ≥ 2 distinct docs corpus-wide.
    "winnowing_fingerprints" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= GramK)
      val grams = docs.select(col("doc_id"), col("source"),
        (size(col("ws")) - (GramK - 1)).as("n_grams"),
        posexplode(expr(
          s"""transform(sequence(0, size(ws) - $GramK),
             |  i -> md5(array_join(slice(ws, i + 1, $GramK), ' ')))"""
            .stripMargin)).as(Seq("pos", "h")))
      // the whole selection rule lives in ONE sortable key: min over
      // the window of (hash asc, rightmost-position-on-tie)
      val keyed = grams.withColumn("hk",
        expr("concat(h, '_', lpad(CAST(100000 - pos AS STRING), 6, '0'))"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(0, WinW - 1)
      val fps = keyed.withColumn("sel", min("hk").over(w))
        .filter(col("pos") <= col("n_grams") - WinW)
        .select(col("doc_id"), col("source"), col("n_grams"),
          substring(col("sel"), 1, 32).as("h"))
        .distinct()
      val shared = fps.groupBy("h")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select(col("h"), lit(1L).as("is_shared"))
      val per = fps.join(shared, Seq("h"), "left")
        .groupBy("doc_id", "source")
        .agg(max("n_grams").as("n_grams"), count(lit(1)).as("n_fp"),
          sum(coalesce(col("is_shared"), lit(0L))).as("n_sh"))
      per.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_fp").as("n_fps"),
          sum(expr("n_fp * 1000000 DIV n_grams")).as("dens_sum"),
          sum("n_sh").as("n_sh"))
        .select(col("source"), col("n_docs"), col("n_fps"),
          expr("dens_sum DIV n_docs").as("mean_density_fp"),
          expr("n_sh * 1000000 DIV n_fps").as("shared_rate_fp"))
        .orderBy("source")
    }),

    // System-R uniformity estimate vs exact join size, per fact join.
    "join_cardinality_estimate" -> ((s, d) => {
      def table(n: String): DataFrame = n match {
        case "lineitem" => Tables.lineitem(s, d)
        case "orders" => Tables.orders(s, d)
        case "part" => Tables.part(s, d)
        case "customer" => Tables.customer(s, d)
      }
      val rows = JoinCases.map { jc =>
        val fa = table(jc.a).groupBy(col(jc.ka).as("k"))
          .agg(count(lit(1)).as("fa"))
        val fb = table(jc.b).groupBy(col(jc.kb).as("k"))
          .agg(count(lit(1)).as("fb"))
        val profA = fa.agg(sum("fa").as("n_a"), count(lit(1)).as("ndv_a"))
        val profB = fb.agg(sum("fb").as("n_b"), count(lit(1)).as("ndv_b"))
        val actual = fa.join(fb, "k")
          .agg(coalesce(sum(expr("CAST(fa AS DECIMAL(38,0)) * fb")), lit(0))
            .cast("decimal(38,0)").as("act_dec"))
        profA.crossJoin(profB).crossJoin(actual)
          .select(lit(jc.name).as("join_name"), col("n_a"), col("n_b"),
            col("ndv_a"), col("ndv_b"),
            expr("""CAST(CAST(n_a AS DECIMAL(38,0)) * n_b
                   DIV greatest(ndv_a, ndv_b) AS BIGINT)""").as("est"),
            col("act_dec").cast("long").as("actual"))
      }
      rows.reduce(_ union _)
        .withColumn("err_ppm",
          expr(truncDivSpark(
            "(CAST(est AS DECIMAL(38,0)) - actual) * 1000000", "actual")))
        .orderBy("join_name")
    }),

    // B³ over the near-dup clustering vs embedding labels: one row.
    "bcubed_cluster_eval" -> ((s, d) => {
      val labels = s.read.parquet(TrainingDataOps.ccLabels(s, d))
      val cls = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("label"))
      val items = labels.join(cls, "doc_id")
      val cells = items.groupBy("component", "label")
        .agg(count(lit(1)).as("m"))
      val compSz = items.groupBy("component").agg(count(lit(1)).as("sc"))
      val labSz = items.groupBy("label").agg(count(lit(1)).as("sl"))
      val t = cells.join(compSz, "component").join(labSz, "label")
        .agg(
          sum("m").as("n_items"),
          countDistinct("component").as("n_clusters"),
          countDistinct("label").as("n_labels"),
          sum(expr("CAST(CAST(m AS DECIMAL(38,0)) * m * 1000000 DIV sc AS BIGINT)"))
            .as("pt"),
          sum(expr("CAST(CAST(m AS DECIMAL(38,0)) * m * 1000000 DIV sl AS BIGINT)"))
            .as("rt"))
      t.select(col("n_items"), col("n_clusters"), col("n_labels"),
          expr("pt DIV n_items").as("precision_fp"),
          expr("rt DIV n_items").as("recall_fp"))
        .withColumn("f1_fp",
          expr("""CASE WHEN precision_fp + recall_fp = 0 THEN 0
                 ELSE 2 * precision_fp * recall_fp
                   DIV (precision_fp + recall_fp) END"""))
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "winnowing_fingerprints" ->
      s"""WITH docs AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS ws
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= $GramK),
         |grams AS (
         |  SELECT doc_id, source, CAST(t.i AS BIGINT) AS pos,
         |         md5(array_to_string(ws[(CAST(t.i AS INT) + 1):
         |           (CAST(t.i AS INT) + $GramK)], ' ')) AS h,
         |         len(ws) - ${GramK - 1} AS n_grams
         |  FROM docs CROSS JOIN range(0, 8192) t(i)
         |  WHERE t.i <= len(ws) - $GramK),
         |keyed AS (
         |  SELECT doc_id, source, pos, n_grams,
         |         h || '_' || lpad(CAST(100000 - pos AS VARCHAR), 6, '0') AS hk
         |  FROM grams),
         |win AS (
         |  SELECT doc_id, source, pos, n_grams,
         |         min(hk) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS sel
         |  FROM keyed),
         |fps AS (
         |  SELECT DISTINCT doc_id, source, n_grams,
         |         substring(sel, 1, 32) AS h
         |  FROM win WHERE pos <= n_grams - $WinW),
         |shared AS (
         |  SELECT h FROM fps GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= 2),
         |per AS (
         |  SELECT f.doc_id, f.source, max(f.n_grams) AS n_grams,
         |         CAST(count(*) AS BIGINT) AS n_fp,
         |         CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_sh
         |  FROM fps f LEFT JOIN shared sh ON sh.h = f.h
         |  GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_fp) AS BIGINT) AS n_fps,
         |       CAST(sum(n_fp * 1000000 // n_grams) // count(*) AS BIGINT)
         |         AS mean_density_fp,
         |       CAST(sum(n_sh) * 1000000 // sum(n_fp) AS BIGINT)
         |         AS shared_rate_fp
         |FROM per GROUP BY source ORDER BY source""".stripMargin,

    "join_cardinality_estimate" -> {
      val unions = JoinCases.map { jc =>
        s"""SELECT '${jc.name}' AS join_name,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${jc.a}) AS n_a,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${jc.b}) AS n_b,
           |  (SELECT CAST(count(DISTINCT ${jc.ka}) AS BIGINT) FROM ${jc.a})
           |    AS ndv_a,
           |  (SELECT CAST(count(DISTINCT ${jc.kb}) AS BIGINT) FROM ${jc.b})
           |    AS ndv_b,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${jc.a} a
           |     JOIN ${jc.b} b ON a.${jc.ka} = b.${jc.kb}) AS actual"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH base AS ($unions)
         |SELECT join_name, n_a, n_b, ndv_a, ndv_b,
         |       CAST(CAST(n_a AS HUGEINT) * n_b
         |         // greatest(ndv_a, ndv_b) AS BIGINT) AS est,
         |       actual,
         |       ${truncDivDuck(
             s"(CAST(n_a AS HUGEINT) * n_b // greatest(ndv_a, ndv_b) - actual) * 1000000",
             "actual")} AS err_ppm
         |FROM base ORDER BY join_name""".stripMargin
    },

    // cluster labels re-derived via the recursive closure (the shared
    // ccLabels adjudication pattern), classes from the embeddings table
    "bcubed_cluster_eval" ->
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
         |items AS (
         |  SELECT c.doc_id, c.component, e.label
         |  FROM comp c JOIN embeddings e ON e.vec_id = c.doc_id),
         |cells AS (SELECT component, label, CAST(count(*) AS BIGINT) AS m
         |          FROM items GROUP BY 1, 2),
         |csz AS (SELECT component, CAST(count(*) AS BIGINT) AS sc
         |        FROM items GROUP BY 1),
         |lsz AS (SELECT label, CAST(count(*) AS BIGINT) AS sl
         |        FROM items GROUP BY 1),
         |t AS (
         |  SELECT CAST(sum(m) AS BIGINT) AS n_items,
         |         CAST(count(DISTINCT ce.component) AS BIGINT) AS n_clusters,
         |         CAST(count(DISTINCT ce.label) AS BIGINT) AS n_labels,
         |         CAST(sum(CAST(CAST(m AS HUGEINT) * m * 1000000 // sc
         |           AS BIGINT)) AS BIGINT) AS pt,
         |         CAST(sum(CAST(CAST(m AS HUGEINT) * m * 1000000 // sl
         |           AS BIGINT)) AS BIGINT) AS rt
         |  FROM cells ce JOIN csz USING (component) JOIN lsz USING (label))
         |SELECT n_items, n_clusters, n_labels,
         |       pt // n_items AS precision_fp,
         |       rt // n_items AS recall_fp,
         |       CASE WHEN pt // n_items + rt // n_items = 0 THEN 0
         |            ELSE 2 * (pt // n_items) * (rt // n_items)
         |              // (pt // n_items + rt // n_items) END AS f1_fp
         |FROM t""".stripMargin,
  )
}
