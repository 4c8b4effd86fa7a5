package graft.plans

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftExistence
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** The size oracle: the one small/large decision. Operators built for
  * 100 TB keep a driver-side or one-task fast path for inputs that fit
  * it, and all of them take it through here. One session conf,
  * `graft.route.smallRows` (default 1,000,000), is the most rows a small
  * route may collect to the driver or run in one task. A router first
  * reads [[rowBound]], an upper bound on its input's rows from the
  * analyzed plan, with no Spark job; only when that is unknown or above
  * the limit does it run its own measuring job. Measured rows never
  * exceed the bound, so the bound skips jobs but never changes a route.
  * A limit of 0 sends every non-empty input to its large route.
  */
object SizeRoute {

  private def limit(s: SparkSession): Long = s.conf.get("graft.route.smallRows", "1000000").toLong

  /** Upper bound on `df`'s rows, or None. Parquet leaves give their
    * footer counts and local relations their length; operators that
    * cannot add rows keep their child's bound (an aggregate at least
    * one), left semi and anti joins their left side's; a union adds its
    * children's and any other join multiplies them (plus both sides, for
    * an outer join's unmatched rows). Above a generator, an `Expand`, a
    * sample with replacement, an RDD (a pin) or any other node the bound
    * is unknown.
    */
  def rowBound(df: DataFrame): Option[BigInt] = bound(df.sparkSession, df.queryExecution.analyzed)

  private def bound(s: SparkSession, plan: LogicalPlan): Option[BigInt] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
      Some(fs.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => BigInt(footerRows(s, f.fileStatus))).sum)
    case l: LocalRelation => Some(BigInt(l.data.length))
    case _: Project | _: Filter | _: Sort | _: Window | _: Distinct | _: Deduplicate |
        _: GlobalLimit | _: LocalLimit | _: SubqueryAlias | _: RepartitionOperation |
        _: ResolvedHint => bound(s, plan.children.head)
    case p: Sample if !p.withReplacement => bound(s, p.child)
    // a global aggregate of no rows is one row
    case a: Aggregate => bound(s, a.child).map(_ max 1)
    case u: Union => sum(u.children.map(bound(s, _)))
    case Join(l, _, LeftExistence(_), _, _) => bound(s, l)
    case j: Join => for (l <- bound(s, j.left); r <- bound(s, j.right)) yield l * r + l + r
    case _ => None
  }

  private def sum(bounds: Seq[Option[BigInt]]): Option[BigInt] =
    bounds.foldLeft(Option(BigInt(0)))((acc, b) => for (a <- acc; x <- b) yield a + x)

  /** Whether `df` fits the small route: by its bound, or else by
    * `measure`, the router's measuring job, run only then.
    */
  def small(df: DataFrame)(measure: => Long): Boolean = {
    val max = limit(df.sparkSession)
    rowBound(df).exists(_ <= max) || measure <= max
  }

  /** The rows of `dfs` when together they fit the limit, else None: the
    * router of a small route that collects its inputs. Within the bound
    * each is collected whole; otherwise the collects are the measurement,
    * each capped one row past what the limit has left, so no more than
    * limit + 1 rows ever reach the driver.
    */
  def collectIfSmall(dfs: DataFrame*): Option[Seq[Array[Row]]] = {
    var left = limit(dfs.head.sparkSession)
    if (sum(dfs.map(rowBound)).exists(_ <= left)) Some(dfs.map(_.collect()))
    else {
      val rows = dfs.map { df =>
        val r = if (left < 0) Array.empty[Row]
          else df.limit((left + 1).min(Int.MaxValue).toInt).collect()
        left -= r.length
        r
      }
      if (left >= 0) Some(rows) else None
    }
  }

  /** One parquet file's row count from its footer, memoized per
    * application by (path, length, modification time).
    */
  private def footerRows(s: SparkSession, f: FileStatus): Long =
    graft.SessionState.application(s)("SizeRoute.footerRows",
        (f.getPath.toString, f.getLen, f.getModificationTime)) {
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, s.sessionState.newHadoopConf()))
      try r.getRecordCount finally r.close()
    }
}
