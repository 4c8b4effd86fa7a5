package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite (lazy), built
  * with `GraftExtensions` so planner shape never depends on which suite
  * first touched `Tables`.
  */
trait SparkSpec extends AnyFunSuite {
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

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {

  /** The suites' session: the running one, or a new application built
    * the same way when none is running.
    */
  def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()
}
