package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scale-safe global / grouped row numbering and prefix sums — the
  * measured two-phase rank.
  *
  * `Window.orderBy(k)` with no `partitionBy` moves EVERY row through one
  * task (Spark warns about exactly this); it is the canonical 100×-scale
  * killer. The same total numbering is computable in two distributed
  * passes:
  *
  *   1. assign each row a SLICE id — a pure, deterministic function of
  *      its own key value: the number of broadcast SAMPLE-QUANTILE
  *      boundaries ≤ the key (boundaries measured once per group and
  *      embedded as a local relation, so every pass slices identically).
  *      Slices are ordered, non-overlapping, equal-POPULATION key
  *      ranges — skew-proof by construction — so ranking is
  *      slice-local + offset;
  *   2. `row_number` (or running sum) locally, partitioned by
  *      (slice, group) — every window task sees ~1/numSlices of its group;
  *   3. per-(slice, group) counts/totals — at most numSlices tiny rows
  *      per group — are collected and prefix-summed on the DRIVER into
  *      each slice's starting offset, then broadcast back as a local
  *      relation. This is the same driver-side pass Spark's own
  *      `RDD.zipWithIndex` and `RangePartitioner` run; the declarative
  *      alternative (a broadcast triangular self-join of the counts)
  *      is equivalent but compiles the input subtree into every DAG
  *      branch — six scans of the source per rank in round 2's plans;
  *   4. global rank = slice offset + local rank.
  *
  * SIZE-AWARE ROUTING: the span pass also measures the row count. When
  * the largest group fits comfortably in ONE task (measured count ≤
  * `graft.globalrank.smallThreshold`, default 4M rows), the plain
  * window IS the right plan — one job, two stages — and the slice
  * machinery would be pure overhead. The threshold is a session conf so
  * tests can pin either path; at cluster scale the measured count routes
  * large inputs to the sliced plan automatically, like AQE re-planning
  * on observed statistics.
  *
  * Why not `repartitionByRange` + `spark_partition_id`? Range exchanges
  * pick their boundaries by SAMPLING, seeded per physical exchange — and
  * the rank/count branches of a multi-branch DAG each compile their own
  * exchange, so their partition ids are only consistent if exchange
  * reuse happens to fire. A value-derived slice is identical in every
  * branch by construction, on any cluster, in any plan.
  *
  * Quantile boundaries (vs width buckets between min/max) mean a skewed
  * key DISTRIBUTION cannot starve 31 slices and straggle one — each
  * slice carries ~1/numSlices of the rows wherever the mass sits. The
  * only residual concentration is equal-VALUE ties, which MUST share a
  * slice (ties never straddle slices); a single value holding most of a
  * group is inherently unsliceable by any order-preserving scheme.
  *
  * The numbering is deterministic whenever (group ++ order) totally
  * orders the rows; under ties the numbers within a tie group are
  * arbitrary (exactly as with a plain window) but the k-th smallest
  * VALUE is stable, which is what rank-picking consumers rely on. Ties
  * never straddle slices: equal slice keys map to equal slices. The
  * slice key must be non-null. On the sliced path the input is pinned
  * with `localCheckpoint` before the measuring passes, so a
  * non-deterministic input (sample/limit/mutable source) cannot make the
  * collected offsets disagree with the final pass.
  */
object GlobalRank {

  private val ThresholdKey = "graft.globalrank.smallThreshold"

  /** Eagerly unpersist every still-reachable pin this session made —
    * the sliced paths' snapshots and every [[Checkpoints.pin]]. The
    * registry and its lifetime belong to [[Checkpoints]] (session scope
    * in `graft.SessionState`); this stays the entry point that harnesses
    * call between queries. Returns the number of pins released.
    */
  def releaseCheckpoints(spark: org.apache.spark.sql.SparkSession): Int =
    Checkpoints.releasePins(spark)

  /** Routing-pass cost guard (r18 optimization), OPT-IN per call site:
    * the measuring pass (count, and on the sliced path quantile bounds)
    * EXECUTES the input plan, and the returned ranking plan executes it
    * again — so a derived input pays its full compute twice per call.
    * With `pinInput = true` the rows are pinned ONCE up front (the same
    * localCheckpoint the sliced path already required for determinism)
    * and every pass reads the materialized blocks.
    *
    * Opt-in, not automatic: measured r18 both ways — pinning wins only
    * when the input is EXPENSIVE to recompute (spearman's 1.2M-row
    * rank-count table over a lineitem aggregate, chatterjee's
    * join-attached ranks), while for the cheap value-domain support
    * tables the stat family feeds in (tens of thousands of rows off one
    * events scan) the materialization costs more than the recompute it
    * saves (page_trend_test 0.29 s → 0.60 s under an always-pin
    * policy). The caller knows which regime it is in; the default
    * preserves the pre-r18 plan. Scan-shaped and already-pinned inputs
    * are never re-pinned.
    */
  private def pinIfWorthIt(df: DataFrame, pinInput: Boolean): DataFrame =
    if (pinInput) Checkpoints.pinIfDerived(df) else df

  /** Per-group max row count from the cheap routing pass (one tiny row
    * per group — GlobalRank exists for few-group rankings, so the
    * collect is bounded by design).
    */
  private def measureCounts(df: DataFrame, groupCols: Seq[String]): Long = {
    val statsDf =
      if (groupCols.isEmpty) df.agg(count(lit(1)).as("__gr_n"))
      else df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("__gr_n"))
    val rows = statsDf.collect()
    if (rows.isEmpty) 0L else rows.map(_.getAs[Long]("__gr_n")).max
  }

  /** Per-group SAMPLE-QUANTILE slice boundaries (numSlices-quantiles of
    * the slice key), collected as a local relation — only the large-N
    * path pays this extra pass. Quantile boundaries make slices
    * equal-POPULATION by construction, so a skewed key distribution
    * cannot starve 31 slices and straggle one; only equal-VALUE ties
    * still share a slice (they must: ties never straddle slices).
    */
  private def measureBounds(df: DataFrame, base: Column,
      groupCols: Seq[String], numSlices: Int): DataFrame = {
    val withBase = df.withColumn("__gr_base", base)
    val ps = (1 until numSlices).map(i => i.toDouble / numSlices)
    val bnds = expr(
      s"percentile_approx(__gr_base, array(${ps.mkString(", ")}), 1000)")
      .as("__gr_bnds")
    val statsDf =
      if (groupCols.isEmpty) withBase.agg(bnds)
      else withBase.groupBy(groupCols.map(col): _*).agg(bnds)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(statsDf.collect(): _*), statsDf.schema)
  }

  /** Broadcast inner join on `keys` with NULL-SAFE equality: a plain
    * USING-join drops rows whose group key is NULL, but the plain-window
    * path (groupBy/Window.partitionBy) treats NULL as a regular group —
    * the two routes must agree on the row set. The right side's key
    * columns are renamed away so the output keeps the left's.
    */
  private def nullSafeBroadcastJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    if (keys.isEmpty) left.crossJoin(broadcast(right))
    else {
      val renamed = right.select(right.columns.toSeq.map(c =>
        if (keys.contains(c)) col(c).as(s"__grk_$c") else col(c)): _*)
      val cond = keys.map(c => left(c) <=> renamed(s"__grk_$c")).reduce(_ && _)
      left.join(broadcast(renamed), cond, "inner")
        .drop(keys.map(c => s"__grk_$c"): _*)
    }
  }

  /** df + `__gr_pid`: the number of broadcast boundaries ≤ the row's own
    * key — a codegen-friendly chain of element_at comparisons (no
    * interpreted higher-order function in the hot path). Monotone in the
    * key, so equal keys always share a slice.
    */
  private def withSlice(df: DataFrame, base: Column, groupCols: Seq[String],
      numSlices: Int, stats: DataFrame): DataFrame = {
    val joined = nullSafeBroadcastJoin(df, stats, groupCols)
    val pid = (1 until numSlices)
      .map(i => when(base >= element_at(col("__gr_bnds"), i), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    joined.withColumn("__gr_pid", pid.cast("int")).drop("__gr_bnds")
  }

  /** Exclusive per-group prefix "sum" over ascending slices of the
    * collected per-(slice, group) aggregate rows (last field = the
    * value), computed on the driver. First slice per group gets `zero`.
    */
  private def sliceOffsets(cnts: Array[Row], groupCols: Seq[String],
      zero: Any, plus: (Any, Any) => Any): Seq[Row] =
    cnts.toSeq
      .groupBy(r => groupCols.map(c => r.getAs[Any](c)))
      .valuesIterator.flatMap { rows =>
        var acc = zero
        rows.sortBy(_.getAs[Int]("__gr_pid")).map { r =>
          val off = acc
          acc = plus(acc, r.get(r.length - 1))
          Row.fromSeq(r.toSeq.init :+ off)
        }
      }.toSeq

  /** Appends a global (or per-`groupCols`) 1-based `row_number` column
    * named `rnCol` (LONG), ordered by `orderCols`. Plans a partition-less
    * window ONLY when the measured input is small (see object doc).
    *
    * `sliceOn` must be numeric and monotone non-decreasing in the
    * `orderCols` ordering; it defaults to the first order column.
    */
  def rowNumber(df: DataFrame, rnCol: String, groupCols: Seq[String],
      orderCols: Seq[String], numSlices: Int = 32,
      sliceOn: Option[Column] = None, pinInput: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.conf.get(ThresholdKey, "4000000").toLong
    val base = sliceOn.getOrElse(col(orderCols.head)).cast("double")
    val input = pinIfWorthIt(df, pinInput)
    val maxCnt = measureCounts(input, groupCols)

    if (maxCnt <= threshold) {
      // measured-small: every group fits one task — plain window
      val w = (if (groupCols.isEmpty) Window.partitionBy()
               else Window.partitionBy(groupCols.map(col): _*))
        .orderBy(orderCols.map(col): _*)
      input.withColumn(rnCol, row_number().over(w).cast("long"))
    } else {
      // Pin the rows FIRST: the boundary pass, the count pass, and the
      // final plan must all observe the same data, or the collected
      // offsets silently disagree with the final numbering (sample/
      // limit/re-read sources are only per-execution deterministic).
      // localCheckpoint materializes once and truncates lineage, so the
      // three passes become cheap re-reads instead of recomputations.
      // Retention: the blocks cannot be unpersisted here because the
      // RETURNED plan still reads them, and this method cannot know
      // when the caller is done executing it — the snapshot is tracked
      // instead, and callers reclaim the storage with
      // releaseCheckpoints(spark) once their plans are consumed.
      // (pinIfDerived may already have pinned — never snapshot twice.)
      val snap = if (input eq df) Checkpoints.pin(df) else input
      val stats = measureBounds(snap, base, groupCols, numSlices)
      val slice = "__gr_pid" +: groupCols
      val sliced = withSlice(snap, base, groupCols, numSlices, stats)
      val cnts = sliced.groupBy(slice.map(col): _*)
        .agg(count(lit(1)).as("__gr_cnt")).collect()
      val offs = spark.createDataFrame(
        java.util.Arrays.asList(sliceOffsets(cnts, groupCols, 0L,
          (a, b) => a.asInstanceOf[Long] + b.asInstanceOf[Long]): _*),
        StructType(sliced.select(slice.map(col): _*).schema.fields :+
          StructField("__gr_off", LongType, nullable = false)))
      val local = sliced.withColumn("__gr_lrn",
        row_number().over(
          Window.partitionBy(slice.map(col): _*)
            .orderBy(orderCols.map(col): _*)).cast("long"))
      nullSafeBroadcastJoin(local, offs, slice)
        .withColumn(rnCol, col("__gr_off") + col("__gr_lrn"))
        .drop("__gr_pid", "__gr_lrn", "__gr_off")
    }
  }

  /** Scale-safe running (prefix) SUM over the (group, order) ordering —
    * same slice machinery as [[rowNumber]], but the offset ladder carries
    * per-slice value totals instead of row counts. `sumCol` gets
    * Σ valueCol over all rows ordered ≤ the current row (inclusive).
    * Exact for integral values (long addition is associative); for
    * doubles route the value through DECIMAL first (Det.decSum logic).
    * The one-column case of [[prefixSums]].
    */
  def prefixSum(df: DataFrame, sumCol: String, valueCol: Column,
      groupCols: Seq[String], orderCols: Seq[String], numSlices: Int = 32,
      sliceOn: Option[Column] = None, pinInput: Boolean = false): DataFrame =
    prefixSums(df, Seq(sumCol -> valueCol), groupCols, orderCols,
      numSlices, sliceOn, pinInput)

  /** Multi-column [[prefixSum]] (r18): N running sums over the SAME
    * (group, order) in ONE call. A chain of single-column prefixSum
    * calls pays the measuring pass once per link — and each link's
    * pass re-executes every previous link's plan, so a k-deep chain
    * executes the base aggregate O(k²)/2 times (measured r18:
    * jonckheere's 5-deep chain spent 1.35 s of its 1.45 s wall on
    * eager re-executions). Here the routing pass, the slice boundary
    * pass and the per-slice totals collect run once; the small path is
    * one window with N sum expressions; the sliced path carries an
    * N-column offset ladder. Output types match the chained form
    * column-for-column (same sum()/coalesce/cast discipline). Every
    * value is evaluated against the INPUT on both routes, so a value
    * never sees another sum's output name.
    */
  def prefixSums(df: DataFrame, sums: Seq[(String, Column)],
      groupCols: Seq[String], orderCols: Seq[String], numSlices: Int = 32,
      sliceOn: Option[Column] = None, pinInput: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.conf.get(ThresholdKey, "4000000").toLong
    val base = sliceOn.getOrElse(col(orderCols.head)).cast("double")
    val input = pinIfWorthIt(df, pinInput)
    val maxCnt = measureCounts(input, groupCols)
    val vals = sums.indices.map(i => s"__gr_v$i")
    def withValues(d: DataFrame): DataFrame = d.select(col("*") +:
      sums.zip(vals).map { case ((_, v), vn) => v.as(vn) }: _*)

    if (maxCnt <= threshold) {
      val w = (if (groupCols.isEmpty) Window.partitionBy()
               else Window.partitionBy(groupCols.map(col): _*))
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sums.zip(vals).foldLeft(withValues(input)) { case (acc, ((name, _), vn)) =>
        acc.withColumn(name, sum(col(vn)).over(w))
      }.drop(vals: _*)
    } else {
      val snap = if (input eq df) Checkpoints.pin(df) else input
      val stats = measureBounds(snap, base, groupCols, numSlices)
      val slice = "__gr_pid" +: groupCols
      val sliced = withValues(withSlice(snap, base, groupCols, numSlices, stats))
      val totalsDf = sliced.groupBy(slice.map(col): _*)
        .agg(sum(col(vals.head)).as("__gr_tot0"),
          vals.tail.zipWithIndex.map { case (vn, i) =>
            sum(col(vn)).as(s"__gr_tot${i + 1}")
          }: _*)
      val totals = totalsDf.collect()
      val plus: (Any, Any) => Any = {
        case (null, b) => b
        case (a, null) => a
        case (a: java.lang.Long, b: java.lang.Long) =>
          java.lang.Long.valueOf(a + b)
        case (a: java.lang.Double, b: java.lang.Double) =>
          java.lang.Double.valueOf(a + b)
        case (a: java.math.BigDecimal, b: java.math.BigDecimal) => a.add(b)
        case (a, _) => throw new IllegalArgumentException(
          s"unsupported prefix-sum type ${a.getClass}")
      }
      // exclusive per-group prefix over EVERY total column at once:
      // rows sorted by slice id within group, each of the N trailing
      // total fields replaced by its running offset
      val nKeys = slice.length
      val offRows = totals.toSeq
        .groupBy(r => groupCols.map(c => r.getAs[Any](c)))
        .valuesIterator.flatMap { rows =>
          val accs = Array.fill[Any](sums.length)(null)
          rows.sortBy(_.getAs[Int]("__gr_pid")).map { r =>
            val offs = accs.clone().toSeq
            (0 until sums.length).foreach { i =>
              accs(i) = plus(accs(i), r.get(nKeys + i))
            }
            Row.fromSeq(r.toSeq.take(nKeys) ++ offs)
          }
        }.toSeq
      val offSchema = StructType(
        sliced.select(slice.map(col): _*).schema.fields ++
          sums.indices.map(i => StructField(s"__gr_off$i",
            totalsDf.schema(s"__gr_tot$i").dataType, nullable = true)))
      val offs = spark.createDataFrame(
        java.util.Arrays.asList(offRows: _*), offSchema)
      val local = sums.indices.foldLeft(sliced) { (acc, i) =>
        acc.withColumn(s"__gr_run$i",
          sum(col(s"__gr_v$i")).over(
            Window.partitionBy(slice.map(col): _*)
              .orderBy(orderCols.map(col): _*)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      val joined = nullSafeBroadcastJoin(local, offs, slice)
      val withSums = sums.zipWithIndex.foldLeft(joined) {
        case (acc, ((name, _), i)) =>
          val sumType = totalsDf.schema(s"__gr_tot$i").dataType
          acc.withColumn(name,
            (coalesce(col(s"__gr_off$i"), lit(0).cast(sumType))
              + col(s"__gr_run$i")).cast(sumType))
      }
      withSums.drop("__gr_pid")
        .drop(sums.indices.flatMap(i =>
          Seq(s"__gr_v$i", s"__gr_run$i", s"__gr_off$i")): _*)
    }
  }

  /** Σ |v(row_{i+1}) − v(row_i)| over the GLOBAL total order defined by
    * `orderCols` — the consecutive-pair scan behind Chatterjee's ξ —
    * returned as a 1-row DataFrame with LONG column `outCol` (0 for
    * < 2 rows). `valueCol` must be integral (LONG-safe sums).
    *
    * The r12 implementation materialized a global row number and then
    * SHIFT-EQUI-JOINED the frame to itself on position — the whole
    * input shuffled twice and the partition-less numbering window
    * executed once per join branch (two single-task sorts of the full
    * input per run, measured r18). The consecutive-pair sum needs no
    * join at all: measured-small inputs take ONE partition-less lag
    * window (the rowNumber small-path plan, same routing threshold);
    * large inputs take the slice machinery — per-slice lag windows in
    * parallel plus a per-slice (first, last) ladder stitched on the
    * driver (numSlices rows), exactly the rowNumber offset discipline.
    * Ties in `orderCols` make the adjacent order arbitrary within the
    * tie group (same caveat as any window); callers pass a total order.
    */
  def adjacentAbsDiffSum(df: DataFrame, outCol: String, valueCol: Column,
      orderCols: Seq[String], numSlices: Int = 32,
      sliceOn: Option[Column] = None, pinInput: Boolean = true,
      knownCount: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    val threshold = spark.conf.get(ThresholdKey, "4000000").toLong
    val base = sliceOn.getOrElse(col(orderCols.head)).cast("double")
    val input = pinIfWorthIt(df, pinInput).withColumn("__gr_v", valueCol)
    // knownCount (r19): a caller that already holds the exact row count
    // (e.g. chatterjee's Σc over the pinned rank map) skips the eager
    // measuring pass — one less execution of the input plan per call.
    // The count routes only; a wrong value could mis-route but never
    // change either route's result (both compute the same sum).
    val maxCnt = knownCount.getOrElse(measureCounts(input, Nil))

    if (maxCnt <= threshold) {
      val w = Window.partitionBy().orderBy(orderCols.map(col): _*)
      input
        .withColumn("__gr_d", abs(col("__gr_v") - lag("__gr_v", 1).over(w)))
        .agg(coalesce(sum(col("__gr_d")), lit(0L)).cast("long").as(outCol))
    } else {
      val snap =
        if (input.queryExecution.analyzed.isInstanceOf[
          org.apache.spark.sql.execution.LogicalRDD]) input
        else Checkpoints.pin(input)
      val stats = measureBounds(snap, base, Nil, numSlices)
      val sliced = withSlice(snap, base, Nil, numSlices, stats)
      val w = Window.partitionBy("__gr_pid").orderBy(orderCols.map(col): _*)
      // one distributed pass: per-slice interior Σ|Δ| plus the slice's
      // first/last value in the order (min_by/max_by over the order
      // tuple) — numSlices tiny rows
      val ord = struct(orderCols.map(col): _*)
      val perSlice = sliced
        .withColumn("__gr_d", abs(col("__gr_v") - lag("__gr_v", 1).over(w)))
        .withColumn("__gr_o", ord)
        .groupBy(col("__gr_pid"))
        .agg(coalesce(sum(col("__gr_d")), lit(0L)).cast("long").as("part"),
          min_by(col("__gr_v"), col("__gr_o")).as("first_v"),
          max_by(col("__gr_v"), col("__gr_o")).as("last_v"))
        .collect()
      // stitch the slice boundaries on the driver (ties never straddle
      // slices and empty slices simply don't emit a row — pair the
      // non-empty slices in ascending pid order)
      val ordered = perSlice.sortBy(_.getAs[Int]("__gr_pid"))
      val interior = ordered.map(_.getAs[Long]("part")).sum
      val boundary = ordered.sliding(2).collect {
        case Array(a, b) =>
          math.abs(b.getAs[Long]("first_v") - a.getAs[Long]("last_v"))
      }.sum
      spark.range(1).select(lit(interior + boundary).cast("long").as(outCol))
    }
  }
}
