package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.plans.OneSplitScanStrategy
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{array, col, explode}

/** The one-split scan fast path (`graft.plans.OneSplitScanStrategy`):
  * over inputs Spark reads as one split, aggregates, windows and global
  * sorts run in the scan's own task as one Spark job; over multi-split
  * inputs, and under operators that multiply rows, the same queries
  * keep their exchanges and their answers.
  */
class OneSplitScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val keys =
    Seq("group_hash_agg", "rank_topk_per_group", "variant_semistructured")

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(p) { case e: ShuffleExchangeExec => e }

  private def coalesces(p: SparkPlan): Seq[CoalesceExec] =
    collect(p) { case c: CoalesceExec => c }

  /** Rows of one `collect()` and the number of Spark jobs it ran. */
  private def run(df: DataFrame): (Array[Row], Int) = {
    val group = s"one-split-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p => group == p.getProperty("spark.jobGroup.id")))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      val rows = try df.collect() finally spark.sparkContext.clearJobGroup()
      // the listener bus is asynchronous: wait for the jobs to land
      val deadline = System.nanoTime() + 10_000_000_000L
      while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      (rows, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def query(key: String): DataFrame = SparkEntry.queries(key)(spark, sf())

  test("one-split fixture: queries plan no shuffle and run as one job") {
    keys.foreach { k =>
      val df = query(k)
      val (_, jobs) = run(df)
      val p = df.queryExecution.executedPlan
      assert(shuffles(p).isEmpty, s"$k planned a shuffle:\n$p")
      assert(coalesces(p).nonEmpty, s"$k scan not planned as one partition:\n$p")
      assert(jobs === 1, s"$k ran $jobs jobs")
    }
  }

  test("multi-split input keeps its exchanges and returns identical rows") {
    keys.foreach { k =>
      val (fast, _) = run(query(k))
      val (rows, p) = multiSplit {
        val df = query(k)
        (run(df)._1, df.queryExecution.executedPlan)
      }
      assert(shuffles(p).nonEmpty, s"$k planned no exchange at scale:\n$p")
      assert(coalesces(p).isEmpty, s"$k multi-split scan was coalesced:\n$p")
      assert(rows.toSeq === fast.toSeq, s"$k answers differ")
    }
  }

  test("split rule agrees with the partitions the scan reads") {
    def partitions(df: DataFrame): Int = {
      val scan = collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s }.head
      val n = scan.inputRDD.getNumPartitions
      assert(OneSplitScanStrategy.oneSplit(scan) === (n == 1), s"$n partitions")
      n
    }
    def lineitem = Tables.lineitem(spark, sf()).select("l_orderkey")
    assert(partitions(lineitem) === 1)
    assert(multiSplit(partitions(lineitem)) > 1)
    // three files: each small file's open cost closes a partition at the
    // default split size, while one core's share of the listing holds all
    val dir = tmpDir("graft_one_split_files")
    spark.range(0, 3000).repartition(3).write.mode("overwrite").parquet(dir)
    def files = spark.read.parquet(dir)
    assert(partitions(files) === 3)
    assert(withConf("spark.sql.files.minPartitionNum", "1")(partitions(files)) === 1)
  }

  test("a scan feeding an explode, a self-join or a shuffled join keeps its exchanges") {
    def lineitem = Tables.lineitem(spark, sf())
    val exploded = lineitem
      .select(explode(array(col("l_partkey"), col("l_suppkey"))).as("k"))
      .groupBy("k").count().queryExecution.executedPlan
    assert(shuffles(exploded).nonEmpty, s"explode fed one task:\n$exploded")
    assert(coalesces(exploded).isEmpty, s"explode input coalesced:\n$exploded")
    def joined = lineitem
      .join(Tables.orders(spark, sf()), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count().queryExecution.executedPlan
    val broadcast = joined
    assert(coalesces(broadcast).nonEmpty,
      s"broadcast join's stream scan not one partition:\n$broadcast")
    val shuffled = withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(joined)
    assert(shuffles(shuffled).nonEmpty, s"shuffled join fed one task:\n$shuffled")
    assert(coalesces(shuffled).isEmpty, s"shuffled join input coalesced:\n$shuffled")
    val selfJoin = lineitem.select("l_orderkey", "l_partkey")
      .join(lineitem.select("l_orderkey", "l_suppkey"), "l_orderkey")
      .groupBy("l_partkey").count().queryExecution.executedPlan
    assert(shuffles(selfJoin).nonEmpty, s"self-join fed one task:\n$selfJoin")
    assert(coalesces(selfJoin).isEmpty, s"self-join input coalesced:\n$selfJoin")
  }

  test("installed once per session, whichever path installs it") {
    Tables.nation(spark, sf()); Tables.region(spark, sf())
    assert(spark.experimental.extraStrategies.count(_ == OneSplitScanStrategy) === 1)
  }

  test("a streaming file relation stays unwrapped") {
    val dir = tmpDir("graft_one_split_stream")
    spark.range(0, 50).selectExpr("id", "id % 7 AS g")
      .coalesce(1).write.mode("overwrite").json(dir)
    val batch = spark.read.schema("id LONG, g LONG").json(dir).groupBy("g").count()
    batch.collect()
    assert(coalesces(batch.queryExecution.executedPlan).nonEmpty,
      "the same files read in batch are one split")
    val q = spark.readStream.schema("id LONG, g LONG").json(dir)
      .writeStream.format("memory").queryName("graft_one_split_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(collect(plan) { case s: FileSourceScanExec => s }.nonEmpty)
      assert(coalesces(plan).isEmpty, s"streaming scan was coalesced:\n$plan")
      assert(spark.table("graft_one_split_stream").count() === 50)
    } finally q.stop()
  }
}
