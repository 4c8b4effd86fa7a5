package graft.operators

import java.nio.file.Files

import graft.{Det, OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surface-widening operators beyond the SURVEY §2 inventory: extra
  * staging formats (CSV/ORC — a reference user switching engines brings
  * whatever their staging bucket holds), remaining window value
  * functions, exact moment statistics, discrete quantiles, calendar
  * decomposition, edit distance, and regex field extraction.
  *
  * Determinism notes follow the house rules: moments derive from exact
  * DECIMAL sums then identical IEEE arithmetic on both engines; discrete
  * quantiles are picked by row_number (never engine quantile functions,
  * whose tie/interpolation conventions differ); calendar parts use
  * explicit cross-engine mappings (DuckDB dayofweek is 0-based).
  */
object ExtendedOps extends OpGroup {
  import Det._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** SQL-text queries reference fixture tables through a temp view over
    * the [[Tables]] relation cache — a raw `parquet.`path`` reference
    * would re-run file listing + footer schema discovery on every
    * analysis instead of reusing the cached resolved relation.
    */
  private def view(s: SparkSession, d: String, table: String): String = {
    // dataset-qualified name: a table-only name would be shared mutable
    // state across datasets on one session (concurrent callers for d1/d2
    // could re-point the view between registration and analysis)
    val name = s"graft_${table}_${math.abs(d.hashCode)}_v"
    Tables(s, d, table).createOrReplaceTempView(name)
    name
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CSV staging round trip under a declared schema (header on, typed
    // re-read; doubles survive via shortest-repr text).
    "scan_csv_schema" -> ((s, d) => {
      val out = freshDir("graft_csv")
      Tables.customer(s, d)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
      s.read
        .schema("c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
        .option("header", "true").csv(out)
        .orderBy("c_custkey")
    }),

    // Schema evolution across staged batches: a later batch adds a
    // column (the BigQuery schema-update-on-load analog; the reference's
    // nested schemas grew exactly this way). mergeSchema unions the
    // per-file footers at read time — old files surface the new column
    // as NULL, no rewrite of historical data. At 100 TB the alternative
    // (backfill-rewrite every old file) is the thing this exists to
    // avoid.
    "schema_evolution_merge" -> ((s, d) => {
      val out = freshDir("graft_schevo")
      Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderpriority")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/b1")
      Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Frequent-items sketch (BigQuery APPROX_TOP_COUNT analog):
    // approx_top_k's ItemsSketch is MERGEABLE (partial agg + rollup
    // free, like the HLL row) and provably EXACT while the tracked-item
    // budget exceeds the distinct count — the fixture's 5 event types
    // never overflow a 100-slot sketch, so unlike the HLL estimates
    // this approximate-family operator carries a full hash oracle.
    // Deterministic order is imposed AFTER extraction (count desc,
    // item) — the sketch's own output order is engine-internal.
    "approx_top_count" -> ((s, d) =>
      Tables.events(s, d)
        .agg(expr("approx_top_k(event_type, 10, 100)").as("tk"))
        .select(posexplode(expr(
          """array_sort(tk, (l, r) -> CASE
            |  WHEN l.count > r.count THEN -1 WHEN l.count < r.count THEN 1
            |  WHEN l.item < r.item THEN -1 WHEN l.item > r.item THEN 1
            |  ELSE 0 END)""".stripMargin)))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("col.item").as("event_type"), col("col.count").as("cnt"))
        .orderBy("rank")),

    // Observation API: data-quality counters that RIDE an existing job —
    // accumulator-backed, zero extra passes over the data (the way a
    // 100 TB load publishes its audit metrics without re-scanning). The
    // staged write is the real job; the observed row is the audit the
    // reference's load step logs, and the oracle recomputes the same
    // aggregates from the source table.
    "observe_load_audit" -> ((s, d) => {
      val obs = new org.apache.spark.sql.Observation()
      val out = freshDir("graft_observe")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
        .write.mode(SaveMode.Overwrite).parquet(out)
      val m = obs.get // blocks until the write job publishes its metrics
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long], m("null_qty").asInstanceOf[Long],
        m("max_qty").asInstanceOf[Double], m("min_key").asInstanceOf[Long],
        m("max_key").asInstanceOf[Long]))
        .toDF("n_rows", "null_qty", "max_qty", "min_key", "max_key")
    }),

    // Spark 4 recursive CTE (UnionLoop): ancestor walk over the
    // id-halving hierarchy — each sampled order climbs parent = k DIV 2
    // until the root. The recursion is the ENGINE surface under test
    // (iterative union fixpoint); DuckDB runs its own recursive CTE as
    // the oracle. Linear chains ⇒ no dedup pressure; depth ≈ log2(key).
    "recursive_cte_ancestors" -> ((s, d) =>
      s.sql(
        s"""WITH RECURSIVE up(start_key, k, depth) AS (
           |  SELECT o_orderkey, o_orderkey, 0
           |  FROM ${view(s, d, "orders")} WHERE o_orderkey % 97 = 0
           |  UNION ALL
           |  SELECT start_key, k DIV 2, depth + 1 FROM up WHERE k > 0)
           |SELECT start_key, CAST(max(depth) AS INT) AS depth_to_root,
           |       count(*) AS chain_len
           |FROM up GROUP BY start_key ORDER BY start_key""".stripMargin)),

    // LATERAL correlated subquery with ORDER BY + LIMIT — per-order
    // top-2 items as the SQL-standard lateral form (the DataFrame twin
    // is rank_topk_per_group's WindowGroupLimit plan). Total order
    // inside the LIMIT makes the picked rows deterministic.
    "lateral_topk_join" -> ((s, d) =>
      s.sql(
        s"""SELECT o.o_orderkey, t.l_partkey, t.l_suppkey, t.l_quantity
           |FROM ${view(s, d, "orders")} o,
           |LATERAL (
           |  SELECT l_partkey, l_suppkey, l_quantity
           |  FROM ${view(s, d, "lineitem")} l
           |  WHERE l.l_orderkey = o.o_orderkey
           |  ORDER BY l_quantity DESC, l_partkey, l_suppkey LIMIT 2) t
           |WHERE o.o_orderkey % 50 = 0
           |ORDER BY o.o_orderkey, t.l_quantity DESC, t.l_partkey, t.l_suppkey""".stripMargin)),

    // XML staging round trip — Spark 4's NATIVE xml source (StAX-based,
    // no external package): write rows as <row> elements, re-read under
    // a declared schema. The oracle is the round-trip identity on the
    // source table, as with the CSV/ORC staging rows.
    "scan_xml_roundtrip" -> ((s, d) => {
      val out = freshDir("graft_xml")
      Tables.supplier(s, d)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode(SaveMode.Overwrite)
        .option("rootTag", "suppliers").option("rowTag", "supplier")
        .format("xml").save(out)
      s.read
        .schema("s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .option("rowTag", "supplier").format("xml").load(out)
        .orderBy("s_suppkey")
    }),

    // ORC staging round trip (columnar alternate to parquet).
    "scan_orc_roundtrip" -> ((s, d) => {
      val out = freshDir("graft_orc")
      Tables.orders(s, d)
        .withColumn("o_orderdate", col("o_orderdate").cast("date"))
        .write.mode(SaveMode.Overwrite).orc(out)
      s.read.orc(out).orderBy("o_orderkey")
    }),

    // Raw-text staging round trip: one doc per line out, line-per-row
    // back (spark.read.text — the line-oriented source raw corpora
    // arrive as). Line order is partition-dependent, so the declared
    // result is the content MULTISET (text → line count), which also
    // catches dropped/duplicated lines exactly.
    "scan_text_roundtrip" -> ((s, d) => {
      val out = freshDir("graft_text")
      Tables.documents(s, d).select("text")
        .write.mode(SaveMode.Overwrite).text(out)
      s.read.text(out)
        .groupBy("value").agg(count(lit(1)).as("n"))
        .select(col("value").as("text"), col("n"))
        .orderBy("text")
    }),

    // SCD Type-2 history derivation — the warehouse pattern that turns a
    // change stream into validity-ranged dimension rows: per user, each
    // event_type change opens a version [valid_from, valid_to) with the
    // current version open-ended. Change detection is one lag window per
    // user (bounded partitions — users, not events), closing is one
    // lead over the change rows; no self-joins, so the rebuild is two
    // window passes at any history size.
    "scd2_history" -> ((s, d) => {
      val wAll = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val wChg = Window.partitionBy("user_id").orderBy(col("valid_from"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(wAll))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type").as("value"),
          col("ts_us").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(wChg) - 1)
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("user_id", "valid_from")
    }),

    // W-extra: first/last/nth value frames per group.
    "first_last_value" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // BigQuery HLL_COUNT.{INIT,MERGE,EXTRACT} analog (the warehouse
    // surface a reference user actually calls for distinct counts):
    // DataSketches HLL sketches built per group (INIT), unioned upward
    // (MERGE — the sketches are a commutative monoid, so partial
    // aggregation and incremental day→month rollups are free), estimate
    // extracted at the end. The global row is derived by UNIONING the
    // per-nation sketches, never re-scanning — the 100 TB rollup shape.
    // Graduated from rows-only to a full oracle in r15 (VERDICT r14
    // ask #3, the percentile_approx_scale ε-verdict pattern): exact
    // distinct + row counts are hash-compared; the DataSketches
    // estimates surface as two BOOLEAN laws the oracle asserts TRUE —
    //   est_ok:   |estimate − exact| ≤ 5%·exact (lgK=12 ⇒ rsd ≈ 1.6%;
    //             measured ≤0.6% at sf0.01 across shuffle partitions
    //             4/7/32),
    //   merge_ok: the unioned per-nation sketches estimate within 1% of
    //             ONE sketch over the whole table (the merge-equals-
    //             whole law; bit-equality is NOT a DataSketches union
    //             property — coupon-promotion order moves the estimate
    //             ≤0.27% measured — so the law pins ε-closeness; the
    //             fixed-partitioning bit-equality pin stays in HllSpec).
    "hll_count_rollup" -> ((s, d) => {
      val perNation = Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(hll_sketch_agg(col("c_custkey"), lit(12)).as("sk"),
          countDistinct(col("c_custkey")).as("exact_distinct"),
          count(lit(1)).as("n_rows"))
      val wholeEst = Tables.customer(s, d)
        .agg(hll_sketch_estimate(
          hll_sketch_agg(col("c_custkey"), lit(12))).as("whole_est"))
      val globalExact = Tables.customer(s, d)
        .agg(countDistinct(col("c_custkey")).as("exact_distinct"),
          count(lit(1)).as("n_rows"))
      val global = perNation
        .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
        .crossJoin(broadcast(globalExact))
        .crossJoin(broadcast(wholeEst))
        .select(lit(-1L).as("c_nationkey"),
          col("exact_distinct"), col("n_rows"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_distinct")) * 20
            <= col("exact_distinct")).as("est_ok"),
          (abs(hll_sketch_estimate(col("sk")) - col("whole_est")) * 100
            <= col("whole_est")).as("merge_ok"))
      perNation
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("exact_distinct"), col("n_rows"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_distinct")) * 20
            <= col("exact_distinct")).as("est_ok"),
          lit(true).as("merge_ok"))
        .unionByName(global)
        .orderBy("c_nationkey")
    }),

    // HLL audience intersection (r12): |users_A ∩ users_B| per
    // event-type pair by inclusion–exclusion over the SKETCHES
    // (est_A + est_B − est(A ∪ B)) — the sketch-era form of
    // audience_overlap_matrix for when audiences are too big to hold
    // as sets; sketches build map-side, the pairwise algebra runs on
    // the |types|-row sketch table. Exact counts come from the
    // per-user type-set expansion (the audience matrix's skew-proof
    // shape) and ARE the hash-compared columns; the sketch estimate is
    // engine-specific, so it surfaces as an ε-verdict (the
    // percentile_approx_scale pattern): inclusion–exclusion error is
    // bounded by the union's sketch error, so the pin is
    // |est − exact| ≤ 5% of the union (lgK=12 ⇒ per-sketch ε ≈ 1.6%).
    "hll_intersection_estimate" -> ((s, d) => {
      val ut = Tables.events(s, d)
        .select("user_id", "event_type").distinct()
      val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("sz"))
      val inter = ut.groupBy("user_id")
        .agg(sort_array(collect_set(col("event_type"))).as("ts"))
        .select(explode(expr(
          """flatten(transform(sequence(1, size(ts) - 1),
            |  i -> transform(sequence(i + 1, size(ts)),
            |    j -> struct(element_at(ts, i) AS a, element_at(ts, j) AS b))))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.a").as("type_a"), col("p.b").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      val sk = Tables.events(s, d).groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val skPairs = sk.select(col("event_type").as("type_a"),
          col("sk").as("sk_a"))
        .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b")))
        .filter(col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          hll_sketch_estimate(col("sk_a")).as("est_a"),
          hll_sketch_estimate(col("sk_b")).as("est_b"),
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b")))
            .as("est_u"))
      inter
        .join(broadcast(sizes.select(col("event_type").as("type_a"),
          col("sz").as("exact_a"))), "type_a")
        .join(broadcast(sizes.select(col("event_type").as("type_b"),
          col("sz").as("exact_b"))), "type_b")
        .withColumn("exact_union",
          expr("exact_a + exact_b - exact_inter"))
        .join(skPairs, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_a"), col("exact_b"),
          col("exact_inter"), col("exact_union"),
          (abs(col("est_a") + col("est_b") - col("est_u")
            - col("exact_inter")) <= col("exact_union") * 0.05)
            .as("inter_ok"))
        .orderBy("type_a", "type_b")
    }),

    // Exact moment statistics: mean/stddev from DECIMAL-exact Σx and Σx²
    // then the same IEEE formula on both engines (never stddev()).
    "stats_moments" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          decSum(col("l_quantity")).as("sx"),
          decSum(col("l_quantity") * col("l_quantity")).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("mean_qty"),
          round(sqrt((col("n") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n") * (col("n") - 1))), 6).as("stddev_qty"))
        .orderBy("l_returnflag")),

    // Discrete quantiles by row_number (engine quantile functions have
    // divergent tie/interpolation rules; rank-picking is exact). A window
    // partitioned by l_returnflag has only 3 distinct keys — ⅓ of
    // lineitem per window task at ANY scale — so the ranks come from
    // GlobalRank's two-phase scheme instead (range-partitioned slices,
    // broadcast offset ladder) and the per-flag counts from a plain
    // aggregate joined back broadcast.
    "percentile_disc" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
      val ranked = graft.functions.GlobalRank.rowNumber(
        li, "rn", Seq("l_returnflag"), Seq("l_extendedprice"))
      val cnts = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      ranked.join(broadcast(cnts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          min(when(col("rn") === ceil(col("cnt") * 0.25), col("l_extendedprice")))
            .as("p25"),
          min(when(col("rn") === ceil(col("cnt") * 0.5), col("l_extendedprice")))
            .as("p50"),
          min(when(col("rn") === ceil(col("cnt") * 0.75), col("l_extendedprice")))
            .as("p75"))
        .orderBy("l_returnflag")
    }),

    // Time bucketing: date_trunc to week (Monday-aligned on both
    // engines) / month / quarter, plus calendar arithmetic (add_months
    // clamps to month end identically, last_day).
    "date_trunc_buckets" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("od", col("o_orderdate").cast("date"))
        .select(col("o_orderkey"),
          date_trunc("week", col("od")).cast("date").as("wk"),
          date_trunc("month", col("od")).cast("date").as("mo"),
          date_trunc("quarter", col("od")).cast("date").as("qtr"),
          add_months(col("od"), 2).as("plus2mo"),
          last_day(col("od")).as("eom"))
        .orderBy("o_orderkey")),

    // Conditional aggregation surface: FILTER-style counting, boolean
    // any/all aggregates, conditional sums — the audit-rollup shapes.
    "conditional_agg_filters" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          expr("count_if(o_totalprice > 100000)").as("n_big"),
          expr("bool_or(o_orderstatus = 'F')").as("any_f"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"),
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))
            .otherwise(lit(0.0))).as("sum_f_price"))
        .orderBy("o_orderpriority")),

    // String shaping: pad/translate/repeat/reverse/left/right/part
    // extraction — byte-for-byte parity with DuckDB's forms.
    "string_shape_funcs" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          lpad(col("c_mktsegment"), 12, ".").as("seg_lpad"),
          rpad(col("c_mktsegment"), 12, ".").as("seg_rpad"),
          translate(col("c_name"), "0123456789", "##########").as("masked"),
          reverse(col("c_mktsegment")).as("seg_rev"),
          expr("left(c_name, 8)").as("name_l8"),
          expr("right(c_name, 4)").as("name_r4"),
          expr("element_at(split(c_name, '#'), 2)").as("id_part"),
          expr("repeat('-', 3)").as("dashes"))
        .orderBy("c_custkey")),

    // Calendar decomposition with explicit cross-engine mappings.
    "date_parts" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow_sun1"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          dayofyear(col("o_orderdate")).as("doy"))
        .orderBy("o_orderkey")),

    // Edit distance (fuzzy text matching for curation pipelines).
    "edit_distance" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          levenshtein(col("c_name"), lit("Customer#000000042")).as("dist"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).as("seg_dist"))
        .orderBy("c_custkey")),

    // Pivot: long→wide reshape with a FIXED pivot-value list (never the
    // data-driven two-pass form — at 100 TB the extra distinct scan and
    // nondeterministic column order are both wrong).
    "pivot_event_counts" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
        .groupBy("user_bucket")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_bucket")),

    // Per-row array set algebra (available_markets ∩/∪/∖ analog,
    // albums_schema.json:57-61 vs tracks_schema.json:62-66).
    "array_set_ops" -> ((s, d) => {
      val words = split(col("p_name"), " ")
      val brandw = split(lower(col("p_brand")), "#")
      Tables.part(s, d)
        .select(col("p_partkey"),
          concat_ws(",", array_sort(array_union(words, brandw))).as("union_w"),
          concat_ws(",", array_sort(array_intersect(words, brandw))).as("inter_w"),
          concat_ws(",", array_sort(array_except(words, brandw))).as("except_w"))
        .orderBy("p_partkey")
    }),

    // The 100 TB percentile path: approx_percentile (KLL-style sketch,
    // mergeable map-side, one pass, no rank shuffle) — the scale
    // companion to the exact rank-picked percentile_disc. r11 (VERDICT
    // ask #4, the D3 treatment grown into a real oracle row): the
    // sketch values themselves are approximate, so instead of emitting
    // them raw (un-oracle-able), the query emits the ε-BOUND VERDICT —
    // per flag, whether each sketch percentile tracks the exact
    // rank-picked value within 2% (GK accuracy 10000 ⇒ rank error
    // ≤ n/10000, far inside 2% of a dense price distribution). r12
    // (ADVICE r11): the exact rank-picked references e25/e50/e75 are
    // EMITTED as output columns, so the DuckDB oracle recomputes them
    // independently and the driver hash-compares them — a correlated
    // bug in the Spark-side exact computation can no longer slip past
    // the literal-TRUE verdicts. Raw-value tracking and sketch
    // monotonicity stay pinned in TextSimSpec.
    "percentile_approx_scale" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
      val approx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("pcts"))
      val ranked = graft.functions.GlobalRank.rowNumber(
        li, "rn", Seq("l_returnflag"), Seq("l_extendedprice"))
      val cnts = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val exact = ranked.join(broadcast(cnts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          min(when(col("rn") === ceil(col("n") * 0.25), col("l_extendedprice")))
            .as("e25"),
          min(when(col("rn") === ceil(col("n") * 0.5), col("l_extendedprice")))
            .as("e50"),
          min(when(col("rn") === ceil(col("n") * 0.75), col("l_extendedprice")))
            .as("e75"))
      approx.join(exact, "l_returnflag").join(broadcast(cnts), "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          col("e25").as("exact_p25"), col("e50").as("exact_p50"),
          col("e75").as("exact_p75"),
          (abs(element_at(col("pcts"), 1) - col("e25")) / col("e25") < 0.02)
            .as("p25_ok"),
          (abs(element_at(col("pcts"), 2) - col("e50")) / col("e50") < 0.02)
            .as("p50_ok"),
          (abs(element_at(col("pcts"), 3) - col("e75")) / col("e75") < 0.02)
            .as("p75_ok"))
        .orderBy("l_returnflag")
    }),

    // Fixed-bin histogram: 10 equal-width bins between broadcast min/max
    // — one aggregate for the span, one hash aggregate for the counts,
    // no sort, no window. The same width-bucket arithmetic slices
    // GlobalRank, so both engines floor identical IEEE doubles.
    "histogram_fixed_bins" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
      val stats = li.agg(min("v").as("lo"), max("v").as("hi"))
      li.crossJoin(broadcast(stats))
        .withColumn("bin",
          when(col("hi") === col("lo"), 0)
            .otherwise(least(lit(9),
              floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 10)))
            .cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("sum_v"))
        .orderBy("bin")
    }),

    // Error-safe arithmetic (the ANSI try_* family): malformed casts and
    // zero divisors yield NULL instead of failing the job — the
    // row-level counterpart of REQUIRED fail-fast.
    "try_safe_arithmetic" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"), col("value"), col("user_id"),
          when(col("event_id") % 3 === 0,
            concat(col("event_id").cast("string"), lit("x")))
            .otherwise(col("event_id").cast("string")).as("raw"))
        .select(col("event_id"),
          expr("try_cast(raw AS DOUBLE)").as("parsed"),
          round(expr("try_divide(value, CAST(user_id % 3 AS DOUBLE))"), 6)
            .as("per_unit"))
        .orderBy("event_id")),

    // Array higher-order functions: filter/exists/forall/aggregate over
    // a word array — pure codegen-free projections, but their semantics
    // (empty-array edge cases, predicate short-circuit) must agree with
    // the oracle's list_* forms exactly.
    "array_hof_ops" -> ((s, d) =>
      Tables.part(s, d)
        .withColumn("ws", split(col("p_name"), " "))
        .select(col("p_partkey"),
          expr("size(filter(ws, w -> length(w) > 5))").as("n_long_words"),
          expr("exists(ws, w -> w = 'green')").as("has_green"),
          expr("forall(ws, w -> w rlike '^[a-z]+$')").as("all_alpha"),
          expr("aggregate(ws, 0L, (a, w) -> a + length(w))").as("total_chars"))
        .orderBy("p_partkey")),

    // MAP higher-order-function surface (map_from_entries,
    // transform_values, map_filter, element_at, cardinality) — the
    // map-typed sibling of array_hof_ops. The map is built per order
    // from the deduped (linenumber → Σqty) entries ((l_orderkey,
    // l_linenumber) is NOT unique — pre-aggregating is what makes
    // map_from_entries legal under ANSI duplicate-key semantics); all
    // OUTPUTS are scalars derived through the map ops, so the oracle
    // verifies the values without needing DuckDB map machinery.
    "map_hof_ops" -> ((s, d) => {
      val lines = Tables.lineitem(s, d)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("qty"))
      lines.groupBy("l_orderkey")
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("l_linenumber"), col("qty"))))).as("m"))
        .select(col("l_orderkey"),
          expr("cardinality(m)").as("n_lines"),
          expr("array_max(map_keys(m))").as("max_line"),
          expr("element_at(m, 3)").as("qty_line3"),
          expr("aggregate(map_values(m), 0L, (a, v) -> a + v)")
            .as("total_qty"),
          expr("element_at(transform_values(m, (k, v) -> 2 * v), 3)")
            .as("doubled_line3"),
          expr("cardinality(map_filter(m, (k, v) -> v >= 30))")
            .as("n_heavy_lines"))
        .orderBy("l_orderkey")
    }),

    // Unpivot (melt): wide→long reshape, the inverse of
    // pivot_event_counts — one generate pass, no shuffle; variable
    // ordering is pinned by the explicit ids/values lists.
    "unpivot_measures" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "measure", "val")),

    // The spark.sql(...) entry surface: the same engine driven from pure
    // SQL over registered views (a reference user's BigQuery-SQL habits
    // port directly). TPC-H Q3 shape — selective dimension filter,
    // two-fact join, decimal-routed revenue, top-10.
    "sql_entry_topk" -> ((s, d) => {
      s.sql(
        s"""SELECT o_orderkey, o_orderdate,
          |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
          |         AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
          |FROM ${view(s, d, "customer")}
          |JOIN ${view(s, d, "orders")} ON c_custkey = o_custkey
          |JOIN ${view(s, d, "lineitem")} ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY o_orderkey, o_orderdate
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 10""".stripMargin)
    }),

    // SQL-text twins across operator families — proving spark.sql is a
    // GENERAL entry surface, not one query: each is the pure-SQL form of
    // a §2 DataFrame key and shares that key's oracle verbatim.
    // Twin of rank_topk_per_group (W1): window ranking.
    "sql_window_topk" -> ((s, d) =>
      s.sql(
        s"""SELECT l_suppkey, rn, l_orderkey, l_extendedprice FROM (
           |  SELECT l_suppkey, l_orderkey, l_extendedprice,
           |         row_number() OVER (PARTITION BY l_suppkey
           |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
           |  FROM ${view(s, d, "lineitem")})
           |WHERE rn <= 3 ORDER BY l_suppkey, rn""".stripMargin)),

    // Twin of explode_struct_array (E3): nest + LATERAL VIEW explode.
    "sql_explode_struct" -> ((s, d) =>
      s.sql(
        s"""SELECT g.l_orderkey, it.l_linenumber AS l_linenumber,
           |       it.l_partkey AS l_partkey, it.l_suppkey AS l_suppkey
           |FROM (SELECT l_orderkey,
           |             collect_list(struct(l_linenumber, l_partkey, l_suppkey)) AS items
           |      FROM ${view(s, d, "lineitem")} GROUP BY l_orderkey) g
           |LATERAL VIEW explode(g.items) t AS it
           |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)),

    // Twin of merge_upsert_cdc (J8): the MERGE row-level contract as
    // pure SQL (kept/updated/inserted arms over a CDC CTE).
    "sql_merge_upsert" -> ((s, d) =>
      s.sql(
        s"""WITH src AS (
           |  SELECT CASE WHEN c_custkey % 10 = 1 THEN c_custkey + 100000000
           |              ELSE c_custkey END AS k,
           |         CASE c_custkey % 10 WHEN 7 THEN 'D' WHEN 3 THEN 'U'
           |              ELSE 'I' END AS op,
           |         'cdc_' || c_name AS new_name,
           |         CASE WHEN c_custkey % 10 = 3 THEN 'UPDATED'
           |              ELSE c_mktsegment END AS new_seg,
           |         c_acctbal + 100 AS new_bal
           |  FROM ${view(s, d, "customer")} WHERE c_custkey % 10 IN (1, 3, 7)),
           |kept AS (
           |  SELECT c_custkey, c_name, c_mktsegment, c_acctbal
           |  FROM ${view(s, d, "customer")}
           |  WHERE c_custkey NOT IN (SELECT k FROM src)),
           |updated AS (
           |  SELECT c.c_custkey, c.c_name, s.new_seg AS c_mktsegment,
           |         s.new_bal AS c_acctbal
           |  FROM ${view(s, d, "customer")} c JOIN src s ON c.c_custkey = s.k
           |  WHERE s.op = 'U'),
           |inserted AS (
           |  SELECT k AS c_custkey, new_name AS c_name, new_seg AS c_mktsegment,
           |         new_bal AS c_acctbal
           |  FROM src WHERE op = 'I')
           |SELECT * FROM kept
           |UNION ALL SELECT * FROM updated
           |UNION ALL SELECT * FROM inserted
           |ORDER BY c_custkey""".stripMargin)),

    // Calendar-spine gap filling: generate the full month series between
    // min and max order date IN-PLAN (sequence over a 1-row broadcast
    // aggregate — no driver-side date loop), left-join monthly counts,
    // zero-fill the empty months. The reporting shape that makes gaps
    // visible instead of silently absent.
    "calendar_spine_zerofill" -> ((s, d) => {
      val o = Tables.orders(s, d).withColumn("od", col("o_orderdate").cast("date"))
      val span = o.agg(min(date_trunc("month", col("od")).cast("date")).as("lo"),
        max(date_trunc("month", col("od")).cast("date")).as("hi"))
      val spine = span.select(explode(
        expr("sequence(lo, hi, INTERVAL 1 MONTH)")).as("month"))
      val monthly = o.groupBy(date_trunc("month", col("od")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      spine.join(monthly, Seq("month"), "left")
        .select(col("month"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
        .orderBy("month")
    }),

    // Bitwise aggregates + scalar bit ops (flag-mask rollups).
    "bitwise_ops" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("flags", (col("event_id") % 16).cast("long"))
        .groupBy((col("user_id") % 10).as("bucket"))
        .agg(expr("bit_and(flags)").as("mask_and"),
          expr("bit_or(flags)").as("mask_or"),
          expr("bit_xor(flags)").as("mask_xor"),
          count(lit(1)).as("n"))
        .orderBy("bucket")),

    // Regex group extraction (id fields out of formatted strings).
    "regexp_extract_fields" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "Customer#(\\d+)", 1).as("id_str"),
          regexp_extract(col("c_name"), "Customer#0*(\\d+)", 1).cast("long")
            .as("id_num"),
          regexp_replace(col("c_name"), "0+", "0").as("squeezed"))
        .orderBy("c_custkey")),
  )

  val oracleSql: Map[String, String] = Map(
    "observe_load_audit" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS null_qty,
        |       max(l_quantity) AS max_qty,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin,
    "scan_csv_schema" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "scan_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // old-batch rows surface the evolved column as NULL
    "schema_evolution_merge" ->
      """SELECT o_orderkey, o_orderpriority,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // exact top-k: the sketch never overflows at 5 distinct items
    "approx_top_count" ->
      """SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, event_type)
        |            AS INTEGER) AS rank,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY rank""".stripMargin,
    "scan_xml_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "scd2_history" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type AS value, ts_us AS valid_from
        |  FROM ev WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, value, valid_from,
        |       lead(valid_from) OVER (PARTITION BY user_id
        |         ORDER BY valid_from) - 1 AS valid_to,
        |       (lead(valid_from) OVER (PARTITION BY user_id
        |         ORDER BY valid_from) IS NULL) AS is_current
        |FROM chg ORDER BY user_id, valid_from""".stripMargin,
    "recursive_cte_ancestors" ->
      """WITH RECURSIVE up(start_key, k, depth) AS (
        |  SELECT o_orderkey, o_orderkey, 0
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT start_key, k // 2, depth + 1 FROM up WHERE k > 0)
        |SELECT start_key, CAST(max(depth) AS INTEGER) AS depth_to_root,
        |       count(*) AS chain_len
        |FROM up GROUP BY start_key ORDER BY start_key""".stripMargin,
    "lateral_topk_join" ->
      """SELECT o.o_orderkey, t.l_partkey, t.l_suppkey, t.l_quantity
        |FROM orders o,
        |LATERAL (
        |  SELECT l_partkey, l_suppkey, l_quantity
        |  FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |  ORDER BY l_quantity DESC, l_partkey, l_suppkey LIMIT 2) t
        |WHERE o.o_orderkey % 50 = 0
        |ORDER BY o.o_orderkey, t.l_quantity DESC, t.l_partkey, t.l_suppkey""".stripMargin,
    "first_last_value" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_orderkey) OVER w AS first_order,
        |       last_value(o_orderkey) OVER w AS last_order,
        |       nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "stats_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
        |         sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS sxx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       round(CAST(sx AS DOUBLE) / n, 6) AS mean_qty,
        |       round(sqrt((n * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |         / (n * (n - 1))), 6) AS stddev_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // ε-bound oracle (r12 hardening, ADVICE r11): DuckDB independently
    // recomputes the exact rank-picked percentiles — the REFERENCE
    // values the sketch is bounded against now come from the foreign
    // engine and are hash-compared, so a correlated bug in the Spark
    // exact path reds the row. The verdicts stay literal TRUE: if the
    // sketch drifts past 2% of the (foreign-verified) exact value the
    // Spark side emits false and the row hashes red.
    "percentile_approx_scale" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(cnt) AS BIGINT) AS n,
        |       min(CASE WHEN rn = ceil(cnt * 0.25) THEN l_extendedprice END)
        |         AS exact_p25,
        |       min(CASE WHEN rn = ceil(cnt * 0.5)  THEN l_extendedprice END)
        |         AS exact_p50,
        |       min(CASE WHEN rn = ceil(cnt * 0.75) THEN l_extendedprice END)
        |         AS exact_p75,
        |       TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
        |FROM ranked GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // the graduated ε-verdict (r15, VERDICT r14 ask #3): exact distinct
    // + row counts recomputed per nation and for the global (-1) row;
    // est_ok / merge_ok asserted TRUE — the Spark sketches must earn
    // both bits or the row reds
    "hll_count_rollup" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       count(DISTINCT c_custkey) AS exact_distinct,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       TRUE AS est_ok, TRUE AS merge_ok
        |FROM customer GROUP BY c_nationkey
        |UNION ALL
        |SELECT -1, count(DISTINCT c_custkey), CAST(count(*) AS BIGINT),
        |       TRUE, TRUE
        |FROM customer
        |ORDER BY c_nationkey""".stripMargin,
    // exact audience algebra recomputed; the sketch estimate is
    // engine-specific, oracled as the TRUE ε-verdict (the graduated
    // percentile_approx_scale pattern — exact columns hash-compared,
    // the sketch bounded against them Spark-side)
    "hll_intersection_estimate" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sz
        |          FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS exact_inter
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b,
        |       sa.sz AS exact_a, sb.sz AS exact_b, exact_inter,
        |       sa.sz + sb.sz - exact_inter AS exact_union,
        |       TRUE AS inter_ok
        |FROM pairs
        |JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    "percentile_disc" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       min(CASE WHEN rn = ceil(cnt * 0.25) THEN l_extendedprice END) AS p25,
        |       min(CASE WHEN rn = ceil(cnt * 0.5)  THEN l_extendedprice END) AS p50,
        |       min(CASE WHEN rn = ceil(cnt * 0.75) THEN l_extendedprice END) AS p75
        |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "date_trunc_buckets" ->
      """SELECT o_orderkey,
        |       CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
        |       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS mo,
        |       CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS qtr,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
        |       last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "conditional_agg_filters" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |       count(*) FILTER (o_totalprice > 100000) AS n_big,
         |       bool_or(o_orderstatus = 'F') AS any_f,
         |       bool_and(o_totalprice > 0) AS all_positive,
         |       ${dsumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")}
         |         AS sum_f_price
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "string_shape_funcs" ->
      """SELECT c_custkey,
        |       lpad(c_mktsegment, 12, '.') AS seg_lpad,
        |       rpad(c_mktsegment, 12, '.') AS seg_rpad,
        |       translate(c_name, '0123456789', '##########') AS masked,
        |       reverse(c_mktsegment) AS seg_rev,
        |       left(c_name, 8) AS name_l8,
        |       right(c_name, 4) AS name_r4,
        |       split_part(c_name, '#', 2) AS id_part,
        |       repeat('-', 3) AS dashes
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "date_parts" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INTEGER) AS y,
        |       CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |       CAST(month(o_orderdate) AS INTEGER) AS m,
        |       CAST(day(o_orderdate) AS INTEGER) AS dom,
        |       CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
        |       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        |       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "edit_distance" ->
      """SELECT c_custkey,
        |       CAST(levenshtein(c_name, 'Customer#000000042') AS INTEGER) AS dist,
        |       CAST(levenshtein(c_mktsegment, 'BUILDING') AS INTEGER) AS seg_dist
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "pivot_event_counts" ->
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'view') AS view,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin,
    "array_set_ops" ->
      """WITH t AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS ws,
        |         string_split(lower(p_brand), '#') AS bw
        |  FROM part)
        |SELECT p_partkey,
        |       coalesce(array_to_string(list_sort(list_distinct(ws || bw)), ','), '') AS union_w,
        |       coalesce(array_to_string(list_sort(list_filter(list_distinct(ws),
        |         w -> list_contains(bw, w))), ','), '') AS inter_w,
        |       coalesce(array_to_string(list_sort(list_filter(list_distinct(ws),
        |         w -> NOT list_contains(bw, w))), ','), '') AS except_w
        |FROM t ORDER BY p_partkey""".stripMargin,
    "histogram_fixed_bins" ->
      s"""WITH s AS (
         |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
         |  FROM lineitem)
         |SELECT CAST(CASE WHEN hi = lo THEN 0
         |            ELSE least(9, floor((l_extendedprice - lo) / (hi - lo) * 10))
         |            END AS INTEGER) AS bin,
         |       count(*) AS n, ${dsumSql("l_extendedprice")} AS sum_v
         |FROM lineitem, s GROUP BY bin ORDER BY bin""".stripMargin,
    "try_safe_arithmetic" ->
      """WITH r AS (
        |  SELECT event_id, value, user_id,
        |         CASE WHEN event_id % 3 = 0
        |              THEN CAST(event_id AS VARCHAR) || 'x'
        |              ELSE CAST(event_id AS VARCHAR) END AS raw
        |  FROM events)
        |SELECT event_id,
        |       TRY_CAST(raw AS DOUBLE) AS parsed,
        |       round(CASE WHEN user_id % 3 = 0 THEN NULL
        |                  ELSE value / CAST(user_id % 3 AS DOUBLE) END, 6) AS per_unit
        |FROM r ORDER BY event_id""".stripMargin,
    "array_hof_ops" ->
      """WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
        |SELECT p_partkey,
        |       CAST(len(list_filter(ws, w -> length(w) > 5)) AS INTEGER)
        |         AS n_long_words,
        |       list_contains(ws, 'green') AS has_green,
        |       (len(list_filter(ws, w -> regexp_matches(w, '^[a-z]+$'))) = len(ws))
        |         AS all_alpha,
        |       CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
        |         AS total_chars
        |FROM t ORDER BY p_partkey""".stripMargin,
    // scalar derivations only — no DuckDB map machinery required
    "map_hof_ops" ->
      """WITH lines AS (
        |  SELECT l_orderkey, l_linenumber,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_orderkey,
        |       CAST(count(*) AS INTEGER) AS n_lines,
        |       CAST(max(l_linenumber) AS INTEGER) AS max_line,
        |       CAST(sum(CASE WHEN l_linenumber = 3 THEN qty END) AS BIGINT)
        |         AS qty_line3,
        |       CAST(sum(qty) AS BIGINT) AS total_qty,
        |       CAST(sum(CASE WHEN l_linenumber = 3 THEN 2 * qty END)
        |         AS BIGINT) AS doubled_line3,
        |       CAST(sum(CASE WHEN qty >= 30 THEN 1 ELSE 0 END) AS INTEGER)
        |         AS n_heavy_lines
        |FROM lines GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "unpivot_measures" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, measure, val
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, measure, val""".stripMargin,
    "sql_entry_topk" ->
      """SELECT o_orderkey, o_orderdate,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |         AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    // the SQL-text twins share their DataFrame twin's oracle VERBATIM —
    // same semantics, same verification
    "scan_text_roundtrip" ->
      """SELECT text, count(*) AS n FROM documents
        |GROUP BY text ORDER BY text""".stripMargin,
    "sql_window_topk" -> AggWindowOps.oracleSql("rank_topk_per_group"),
    "sql_explode_struct" -> ExplodeOps.oracleSql("explode_struct_array"),
    "sql_merge_upsert" -> MergeOps.oracleSql("merge_upsert_cdc"),
    "calendar_spine_zerofill" ->
      s"""WITH span AS (
         |  SELECT min(date_trunc('month', CAST(o_orderdate AS DATE))) AS lo,
         |         max(date_trunc('month', CAST(o_orderdate AS DATE))) AS hi
         |  FROM orders),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
         |           AS month
         |  FROM span),
         |monthly AS (
         |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
         |           AS month,
         |         count(*) AS n_orders,
         |         ${dsumSql("o_totalprice")} AS sum_price
         |  FROM orders GROUP BY 1)
         |SELECT s.month, coalesce(m.n_orders, 0) AS n_orders,
         |       coalesce(m.sum_price, 0.0) AS sum_price
         |FROM spine s LEFT JOIN monthly m ON s.month = m.month
         |ORDER BY s.month""".stripMargin,
    "bitwise_ops" ->
      """SELECT user_id % 10 AS bucket,
        |       bit_and(event_id % 16) AS mask_and,
        |       bit_or(event_id % 16) AS mask_or,
        |       bit_xor(event_id % 16) AS mask_xor,
        |       count(*) AS n
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,
    "regexp_extract_fields" ->
      """SELECT c_custkey,
        |       regexp_extract(c_name, 'Customer#(\d+)', 1) AS id_str,
        |       CAST(regexp_extract(c_name, 'Customer#0*(\d+)', 1) AS BIGINT) AS id_num,
        |       regexp_replace(c_name, '0+', '0', 'g') AS squeezed
        |FROM customer ORDER BY c_custkey""".stripMargin,
  )
}
