package graft

import graft.plans.SizeRoute
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The size oracle: one row limit, an upper bound on a plan's rows read
  * from parquet footers with no Spark job, and routers that run their
  * measuring job only when the bound does not settle the route.
  */
class SizeRouteSpec extends SparkSpec {

  test("a parquet scan's bound is its exact row count, read with no job") {
    val part = Tables.part(spark, sf())
    val n = part.count()
    val (bound, jobs) = jobsIn(SizeRoute.rowBound(
      part.filter(col("p_size") > 10).select("p_partkey").orderBy("p_partkey")))
    assert(bound === Some(BigInt(n)))
    assert(jobs.isEmpty, s"the bound started jobs: $jobs")
    assert(Tables.rowCount(spark, sf(), "part") === n)
  }

  test("the bound follows the plan: unions add, joins multiply, semi joins keep the left") {
    import spark.implicits._
    val a = Seq(1L, 2L, 3L).toDF("k")
    val b = Seq(2L, 3L).toDF("k")
    def bound(df: DataFrame): Option[BigInt] = SizeRoute.rowBound(df)
    assert(bound(a) === Some(BigInt(3)))
    assert(bound(a.groupBy("k").count().orderBy("k").limit(2)) === Some(BigInt(3)))
    assert(bound(a.filter("k > 5").agg(count(lit(1)))) === Some(BigInt(3)))
    assert(bound(Seq.empty[Long].toDF("k").agg(count(lit(1)))) === Some(BigInt(1)))
    assert(bound(a.union(b)) === Some(BigInt(5)))
    assert(bound(a.join(b, Seq("k"), "left_semi")) === Some(BigInt(3)))
    assert(bound(a.join(b, Seq("k"), "left_anti")) === Some(BigInt(3)))
    // 3·2 matched pairs at most, plus both sides' unmatched rows
    assert(bound(a.join(b, Seq("k"), "full_outer")) === Some(BigInt(11)))
    assert(bound(a.select(explode(array(col("k"), col("k"))))) === None)
    assert(bound(a.localCheckpoint()) === None)
    assert(bound(a.union(a.localCheckpoint())) === None)
  }

  test("a router measures only when the bound is unknown or above the limit") {
    val part = Tables.part(spark, sf()).select("p_partkey")
    var measured = 0
    def route(df: DataFrame): Boolean =
      SizeRoute.small(df) { measured += 1; df.count() }
    assert(route(part))
    assert(measured === 0, "a bound inside the limit needs no measurement")
    withConf("graft.route.smallRows", "0")(assert(!route(part)))
    assert(measured === 1)
    assert(route(part.localCheckpoint()))
    assert(measured === 2, "an unknown bound is measured")
  }

  test("collectIfSmall caps its collect one row past the limit") {
    val pinned = spark.range(10).toDF("id").localCheckpoint()
    withConf("graft.route.smallRows", "10") {
      assert(SizeRoute.collectIfSmall(pinned).map(_.head.length) === Some(10))
    }
    withConf("graft.route.smallRows", "9") {
      assert(SizeRoute.collectIfSmall(pinned) === None)
    }
    withConf("graft.route.smallRows", "12") {
      assert(SizeRoute.collectIfSmall(pinned, pinned) === None,
        "the limit holds for the inputs together")
    }
  }

  // After one warm-up build (parquet schema inference and memoized
  // layouts run once per session), building a routed key whose input
  // has a footer bound starts no routing job: the three GlobalRank keys
  // start no job at all, and PageRank's jobs are its small route's own
  // collects, with no count before them.
  test("building routed keys starts no routing job where the footer bound applies") {
    val d = sf()
    val ranks = Seq("ntile_percentile", "paginated_source", "length_percentile_gate")
    val keys = ranks :+ "pagerank_event_transitions"
    keys.foreach(k => SparkEntry.queries(k)(spark, d))
    val jobs = keys.map(k => k -> jobsIn(SparkEntry.queries(k)(spark, d))._2).toMap
    ranks.foreach(k => assert(jobs(k).isEmpty, s"$k started jobs at build: ${jobs(k)}"))
    val pr = jobs("pagerank_event_transitions")
    assert(pr.nonEmpty && pr.forall(_.startsWith("collect at")),
      s"pagerank_event_transitions routed with a job: $pr")
  }
}
