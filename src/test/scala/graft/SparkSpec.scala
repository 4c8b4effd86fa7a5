package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite (lazy), built
  * with `GraftExtensions` so planner shape never depends on which suite
  * first touched `Tables`.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  def fixture(name: String): String = s"src/test/resources/spotify/$name"

  /** Runs `body` with session conf `key` set to `value`, then restores it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body` with file scans cut into 1 KB splits, so every fixture
    * table reads as several splits: the plan shape of a table at scale.
    */
  def multiSplit[T](body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", "1k")(body)

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A new directory under `java.io.tmpdir`, deleted after the suite. */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

  /** The result of `body` and, per Spark job it started in start order,
    * the short call site of the action behind it ("count at
    * Foo.scala:12"; jobs outside a SQL execution give their stage name).
    * A marker job in the same job group runs last: the listener bus is
    * ordered, so once the marker's start arrives every earlier start has.
    */
  def jobsIn[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val actions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          actions.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(p => group == p.getProperty("spark.jobGroup.id"))
          .foreach { p =>
            if (p.getProperty("spark.job.description") == "marker") markerSeen.countDown()
            else sites.add(Option(p.getProperty("spark.sql.execution.id"))
              .flatMap(id => Option(actions.get(id)))
              .getOrElse(j.stageInfos.headOption.fold("")(_.name)))
          }
    }
    sc.addSparkListener(listener)
    try {
      // the group alone, with no description: a SQL execution then
      // takes its action's call site as its description
      sc.setLocalProperty("spark.jobGroup.id", group)
      val out =
        try {
          val r = body
          sc.setJobDescription("marker")
          spark.range(1).collect()
          r
        } finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      (out, sites.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {

  /** Applications the suites ran under. Their layout directories
    * (`SessionState.appDir`: `/tmp/graft_<name>/<applicationId>`) are deleted
    * when the test JVM exits — not after each suite, because later
    * suites read layout paths the application memoized.
    */
  private val appIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  sys.addShutdownHook {
    val roots = Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
    appIds.forEach(id => roots.foreach(r =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r, id))))
  }

  /** The suites' session: the running one, or a new application built
    * the same way when none is running.
    */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    appIds.add(s.sparkContext.applicationId)
    s
  }
}
