package graft.operators

import graft.{OpGroup, Tables}
import graft.Det.{signedFpDiv, signedFpDivDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout engineering estimators (round-10 widening, fourth
  * session): the planning numbers a 100 TB lakehouse compaction job
  * computes BEFORE rewriting data — dictionary-encoding gain per
  * string column, delta+zigzag bit-packing width for the event-id
  * stream, and a min/max row-group pruning simulation contrasting a
  * sort-clustered layout against the natural key order (the "should
  * we sort on shipdate" question answered with the actual skip
  * ratios). Complements `zorder_layout_stats` (interleaved clustering)
  * and `rle_event_compression` (run-length) with the remaining two
  * parquet encoding families + the skipping payoff metric.
  *
  * Determinism & scale design:
  *   - Every estimator aggregates map-side-combinably: per-(column,
  *     value) counts for the dictionary (domain-bounded state), per-
  *     block min/max/max-zigzag for the other two (corpus/4096 rows of
  *     intermediate, output bounded by the width/cut domain).
  *   - Global row numbering for block assignment routes through
  *     [[graft.functions.GlobalRank.rowNumber]] (two-phase beyond the
  *     size threshold); the previous-row value for deltas is the
  *     rank-equi-join lag (the TWAP recipe), never a partition-less
  *     lag window.
  *   - Bit widths are `length(bin(x))` — identical string-of-binary
  *     semantics on both engines (bin(0) = "0" ⇒ width 1); zigzag is
  *     spelled as an explicit CASE so negative-delta mapping cannot
  *     diverge.
  */
object StorageLayoutOps extends OpGroup {

  private val DeltaBlock = 128
  private val PruneBlock = 4096

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Dictionary-encoding gain for the low-cardinality string columns:
    // raw bytes vs (distinct-value bytes + bit-packed index stream).
    "dict_encoding_gain" -> ((s, d) => {
      val cols = Tables.events(s, d)
          .select(lit("events.event_type").as("col_name"),
            col("event_type").as("v"))
        .unionByName(Tables.documents(s, d)
          .select(lit("documents.lang").as("col_name"), col("lang").as("v")))
        .unionByName(Tables.documents(s, d)
          .select(lit("documents.source").as("col_name"),
            col("source").as("v")))
      val perVal = cols.groupBy("col_name", "v")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("len", octet_length(col("v")).cast("long"))
      perVal.groupBy("col_name")
        .agg(sum("cnt").as("n_values"),
          count(lit(1)).as("n_distinct"),
          sum(expr("cnt * len")).as("raw_bytes"),
          sum(col("len").cast("long")).as("dict_value_bytes"))
        .withColumn("index_bits",
          expr("CAST(length(bin(n_distinct - 1)) AS BIGINT)"))
        .withColumn("dict_bytes",
          expr("dict_value_bytes + (n_values * index_bits + 7) DIV 8"))
        .withColumn("gain_fp",
          expr(signedFpDiv("raw_bytes - dict_bytes", "raw_bytes")))
        .select("col_name", "n_values", "n_distinct", "raw_bytes",
          "dict_bytes", "gain_fp")
        .orderBy("col_name")
    }),

    // Delta+zigzag bit-pack width histogram for event_id in arrival
    // (ts, event_id) order, per 128-row block: how many bits/value
    // would DELTA_BINARY_PACKED spend on this stream.
    "delta_bitpack_estimate" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"))
      val rn = graft.functions.GlobalRank
        .rowNumber(ev, "rn", Nil, Seq("ts", "event_id"))
      val prev = rn.select((col("rn") + 1).as("rn"),
        col("event_id").as("prev_id"))
      val blocks = rn.join(prev, "rn")
        .withColumn("delta", col("event_id") - col("prev_id"))
        .withColumn("zz", expr(
          "CASE WHEN delta >= 0 THEN 2 * delta ELSE -2 * delta - 1 END"))
        .withColumn("blk", expr(s"(rn - 1) DIV $DeltaBlock"))
        .groupBy("blk")
        .agg(count(lit(1)).as("nd"), max("zz").as("max_zz"))
        .withColumn("width_bits",
          expr("CAST(length(bin(max_zz)) AS BIGINT)"))
      blocks.groupBy("width_bits")
        .agg(count(lit(1)).as("n_blocks"), sum("nd").as("n_deltas"))
        .orderBy("width_bits")
    }),

    // Min/max pruning simulation: 4096-row blocks under two layouts
    // (clustered by shipdate vs natural orderkey order), skip ratio of
    // a `l_shipdate >= Jan-1(year)` predicate per observed year — the
    // sort-vs-skip payoff table.
    "minmax_prune_simulation" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_shipdate").cast("date").as("sd"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      // sliceOn must be numeric: the date layout slices on the epoch
      // day number, the key layout on the order key itself
      def layout(name: String, ord: Seq[String],
          slice: org.apache.spark.sql.Column): DataFrame =
        graft.functions.GlobalRank.rowNumber(li, "rn", Nil, ord,
            sliceOn = Some(slice))
          .withColumn("blk", expr(s"(rn - 1) DIV $PruneBlock"))
          .groupBy("blk")
          .agg(min("sd").as("lo"), max("sd").as("hi"),
            count(lit(1)).as("n_rows"))
          .withColumn("layout", lit(name))
      // The two layouts are independent pipelines whose measured-small
      // numbering windows are each planned single-task — and the union
      // fuses both into ONE task that sorts the table twice
      // back-to-back (measured r18: a 1.8 s single-task stage reading
      // both branches' 24 MB; the sliced route measured WORSE, 0.72×,
      // its extra measuring passes re-scanning lineitem). Build + pin
      // each branch's tiny block table (~n/4096 rows) on its own driver
      // thread instead, so the two sorts run concurrently (guide §2.6)
      // and the returned plan only unions the pinned results.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fDate = Future(graft.functions.Checkpoints.pin(layout("shipdate_sorted",
        Seq("sd", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        expr("datediff(sd, DATE '1970-01-01')"))))
      val fKey = Future(graft.functions.Checkpoints.pin(layout("orderkey_sorted",
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        col("l_orderkey"))))
      val blocks = Await.result(fDate, Duration.Inf)
        .unionByName(Await.result(fKey, Duration.Inf))
      val cuts = li.select(year(col("sd")).as("cut_year")).distinct()
      blocks.crossJoin(broadcast(cuts))
        .withColumn("cut", expr("make_date(cut_year, 1, 1)"))
        .groupBy("layout", "cut_year")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("hi") < col("cut"), 1L).otherwise(0L)).as("n_skip"),
          sum(when(col("lo") >= col("cut"), 1L).otherwise(0L)).as("n_full"))
        .withColumn("n_partial", expr("n_blocks - n_skip - n_full"))
        .withColumn("skip_ratio_fp", expr("n_skip * 1000000 DIV n_blocks"))
        .select("layout", "cut_year", "n_blocks", "n_skip", "n_full",
          "n_partial", "skip_ratio_fp")
        .orderBy("layout", "cut_year")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "dict_encoding_gain" ->
      s"""WITH cols AS (
         |  SELECT 'events.event_type' AS col_name, event_type AS v FROM events
         |  UNION ALL
         |  SELECT 'documents.lang', lang FROM documents
         |  UNION ALL
         |  SELECT 'documents.source', source FROM documents),
         |perval AS (
         |  -- strlen = byte length in DuckDB (octet_length there is BLOB-only)
         |  SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt,
         |         CAST(strlen(v) AS BIGINT) AS len
         |  FROM cols GROUP BY col_name, v),
         |agg AS (
         |  SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n_values,
         |         CAST(count(*) AS BIGINT) AS n_distinct,
         |         CAST(sum(cnt * len) AS BIGINT) AS raw_bytes,
         |         CAST(sum(len) AS BIGINT) AS dict_value_bytes
         |  FROM perval GROUP BY col_name),
         |w AS (
         |  SELECT *, CAST(length(bin(n_distinct - 1)) AS BIGINT) AS index_bits
         |  FROM agg),
         |f AS (
         |  SELECT col_name, n_values, n_distinct, raw_bytes,
         |         CAST(dict_value_bytes + (n_values * index_bits + 7) // 8
         |           AS BIGINT) AS dict_bytes
         |  FROM w)
         |SELECT col_name, n_values, n_distinct, raw_bytes, dict_bytes,
         |       CAST(${signedFpDivDuck("raw_bytes - dict_bytes", "raw_bytes")}
         |         AS BIGINT) AS gain_fp
         |FROM f ORDER BY col_name""".stripMargin,

    "delta_bitpack_estimate" ->
      s"""WITH ordered AS (
         |  SELECT event_id,
         |         row_number() OVER (ORDER BY ts, event_id) AS rn,
         |         lag(event_id) OVER (ORDER BY ts, event_id) AS prev_id
         |  FROM events),
         |deltas AS (
         |  SELECT (rn - 1) // $DeltaBlock AS blk,
         |         event_id - prev_id AS delta
         |  FROM ordered WHERE prev_id IS NOT NULL),
         |blocks AS (
         |  SELECT blk, CAST(count(*) AS BIGINT) AS nd,
         |         CAST(max(CASE WHEN delta >= 0 THEN 2 * delta
         |                  ELSE -2 * delta - 1 END) AS BIGINT) AS max_zz
         |  FROM deltas GROUP BY blk)
         |SELECT CAST(length(bin(max_zz)) AS BIGINT) AS width_bits,
         |       CAST(count(*) AS BIGINT) AS n_blocks,
         |       CAST(sum(nd) AS BIGINT) AS n_deltas
         |FROM blocks GROUP BY 1 ORDER BY width_bits""".stripMargin,

    "minmax_prune_simulation" ->
      s"""WITH li AS (
         |  SELECT CAST(l_shipdate AS DATE) AS sd, l_orderkey, l_linenumber,
         |         l_partkey, l_suppkey
         |  FROM lineitem),
         |bydate AS (
         |  SELECT 'shipdate_sorted' AS layout,
         |         (row_number() OVER (ORDER BY sd, l_orderkey, l_linenumber,
         |            l_partkey, l_suppkey) - 1) // $PruneBlock AS blk, sd
         |  FROM li),
         |bykey AS (
         |  SELECT 'orderkey_sorted' AS layout,
         |         (row_number() OVER (ORDER BY l_orderkey, l_linenumber,
         |            l_partkey, l_suppkey) - 1) // $PruneBlock AS blk, sd
         |  FROM li),
         |blocks AS (
         |  SELECT layout, blk, min(sd) AS lo, max(sd) AS hi,
         |         CAST(count(*) AS BIGINT) AS n_rows
         |  FROM (SELECT * FROM bydate UNION ALL SELECT * FROM bykey) u
         |  GROUP BY layout, blk),
         |cuts AS (SELECT DISTINCT CAST(year(sd) AS INTEGER) AS cut_year
         |         FROM li),
         |j AS (
         |  SELECT b.layout, c.cut_year, b.lo, b.hi,
         |         make_date(c.cut_year, 1, 1) AS cut
         |  FROM blocks b CROSS JOIN cuts c),
         |agg AS (
         |  SELECT layout, cut_year, CAST(count(*) AS BIGINT) AS n_blocks,
         |         CAST(sum(CASE WHEN hi < cut THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_skip,
         |         CAST(sum(CASE WHEN lo >= cut THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_full
         |  FROM j GROUP BY layout, cut_year)
         |SELECT layout, cut_year, n_blocks, n_skip, n_full,
         |       CAST(n_blocks - n_skip - n_full AS BIGINT) AS n_partial,
         |       CAST(n_skip * 1000000 // n_blocks AS BIGINT) AS skip_ratio_fp
         |FROM agg ORDER BY layout, cut_year""".stripMargin,
  )
}
