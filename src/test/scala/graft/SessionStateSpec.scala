package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `SessionState` owns the lifetime of every memo: relations per session,
  * layouts and fitted models per application, all dropped at application
  * end.
  */
class SessionStateSpec extends SparkSpec {

  /** The result of `body` and the number of Spark jobs it started. A
    * marker job in the same job group runs last: the listener bus is
    * ordered, so once the marker's start arrives every earlier start has.
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"session-state-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(p => group == p.getProperty("spark.jobGroup.id"))
          .foreach { p =>
            if (p.getProperty("spark.job.description") == "marker") markerSeen.countDown()
            else jobs.incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body", interruptOnCancel = false)
      val out =
        try {
          val r = body
          sc.setJobDescription("marker")
          spark.range(1).collect()
          r
        } finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("sessions of one application get their own relations and share one layout write") {
    val d = sf()
    val other = spark.newSession()
    val mine = Tables(spark, d, "part")
    val theirs = Tables(other, d, "part")
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(!(mine eq theirs), "each session analyzes its own relation")
    assert(Tables(other, d, "part") eq theirs, "a session reuses its relation")
    val layout = new Layout("graft_session_state_spec")
    var writes = 0
    val p1 = layout(spark, d) { _ => writes += 1 }
    val p2 = layout(other, d) { _ => writes += 1 }
    assert(writes === 1, "the second session must reuse the application's layout")
    assert(p1 === p2)
    assert(p1.contains(s"/${spark.sparkContext.applicationId}/"))
  }

  test("the IVF and PQ fits of one dataset collect one shared fit sample") {
    // a copy of the embeddings under a new dataset dir: no earlier suite
    // has fitted or laid it out
    val d = tmpDir("graft_session_state_emb")
    spark.read.parquet(s"${sf()}/embeddings.parquet")
      .write.parquet(s"$d/embeddings.parquet")
    val (_, firstFit) = jobsIn(operators.SemiStructuredOps.frozenQuantizer(spark, d))
    assert(firstFit >= 1, "the first fit collects the sample")
    val ivf = operators.SemiStructuredOps.ivfLayout(spark, d)
    val (_, secondFit) = jobsIn(operators.SemiStructuredOps.frozenPqCodebook(spark, d))
    assert(secondFit === 0, "the PQ fit collected the fit sample again")
    val pq = operators.SemiStructuredOps.pqLayoutPathForSpec(spark, d)
    assert(spark.read.parquet(ivf).count() === spark.read.parquet(pq).count())
  }

  // Stops the suite's application, so it runs last here; the session it
  // leaves behind is built as every suite builds its own, so later
  // suites get a working default session.
  test("application end drops every entry, and the next application lays out under its own id") {
    val d = sf()
    val layout = new Layout("graft_session_state_spec_app")
    val first = spark.sparkContext
    val p1 = layout(spark, d) { _ => () }
    Tables(spark, d, "part")
    Tables.rowCount(spark, d, "part")
    assert(SessionState.entries(first) > 0)
    spark.stop()
    assert(SessionState.entries(first) === 0, "application end must drop every entry")

    val next = SparkSpec.session()
    assert(!next.sparkContext.isStopped)
    assert(SessionState.entries(next.sparkContext) === 0)
    val id = next.sparkContext.applicationId
    assert(id !== first.applicationId)
    var writes = 0
    val p2 = layout(next, d) { _ => writes += 1 }
    assert(writes === 1, "the next application writes its own layout")
    assert(p2.contains(s"/$id/"), s"layout path $p2 is not under application $id")
    assert(p2 !== p1)
    assert(Tables(next, d, "part").count() === Tables.rowCount(next, d, "part"))
  }
}
