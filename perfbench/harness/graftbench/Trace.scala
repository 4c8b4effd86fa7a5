package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Which repo module a Spark job belongs to, read from its call site. */
object Attribution {
  private val packages = Set("functions", "operators", "sources", "streaming", "plans")

  private def frames(callSite: String): Iterator[String] =
    callSite.split("\n").iterator.map { l =>
      val f = l.trim.stripPrefix("at ")
      val paren = f.indexOf('(')
      val head = if (paren < 0) f else f.substring(0, paren)
      head.substring(head.lastIndexOf('/') + 1) // drop a class-loader/module prefix
    }

  /** The module of the innermost `graft.*` frame; `exec` when the job was
    * started from outside the program (the harness's own action).
    */
  def module(callSite: String): String =
    frames(callSite).find(_.startsWith("graft.")) match {
      case None => "exec"
      case Some(f) =>
        val parts = f.split('.')
        if (parts.length > 2 && packages(parts(1))) parts(1)
        else if (parts(1).startsWith("Layout")) "layouts"
        else if (parts(1).startsWith("Tables")) "tables"
        else if (parts(1).startsWith("GraftExtensions")) "exec"
        else "operators"
    }

  /** Whether a call site names any frame of the program or the harness;
    * jobs that Spark starts from its own thread pools (broadcasts, adaptive
    * query stages) have none, and take the call site of their SQL
    * execution instead.
    */
  def hasUserFrame(callSite: String): Boolean =
    frames(callSite).exists(f => f.startsWith("graft.") || f.startsWith("graftbench."))

  /** Whether the job runs inside a write-once layout materialisation. */
  def inLayoutWrite(callSite: String): Boolean =
    frames(callSite).exists(_.startsWith("graft.Layout.$anonfun$apply"))
}

/** Minimal JSON object writer for span records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case null => "null"
      case other => str(other.toString)
    })
  }.mkString("{", ",", "}")
}

/** Records spans and counters from outside the program: Spark's listener
  * bus (jobs, stages, tasks, blocks), the query execution listener
  * (planning phases) and the streaming listener (micro-batches). Spans
  * are kept in memory as JSON lines and written out at exit.
  *
  * Jobs find their parent span through the local property [[SpanKey]],
  * which the harness sets on the client thread around each call into the
  * program; threads the program starts inherit it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  val records = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var currentQuery: Long = 0L
  /** "setup" during the warm pass, "window" during timed passes. */
  @volatile var phase: String = "setup"

  def nextId(): Long = ids.incrementAndGet()
  def emit(fields: (String, Any)*): Unit =
    records.add(Json.obj(fields :+ ("phase" -> phase): _*))

  private final class StageAcc {
    var tasks, failures = 0L
    var taskMs, queueMs, busyMs, gcMs = 0L
    var rowsRead, bytesRead, shuffleRead, shuffleWrite, spill, written = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val blocks = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  @volatile private var pinnedBytes = 0L
  @volatile var pinnedPeakBytes = 0L
  val pinnedRdds: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val own = e.stageInfos.headOption.map(_.details).getOrElse("")
      val site =
        if (Attribution.hasUserFrame(own)) own
        else props.flatMap(p => Option(p.getProperty(ExecutionKey)))
          .flatMap(id => Option(execSites.get(id.toLong))).getOrElse(own)
      val streaming = props.exists(_.getProperty(StreamKey) != null)
      val module =
        if (streaming && Attribution.module(site) == "exec") "streaming"
        else Attribution.module(site)
      val span = nextId()
      jobs.put(e.jobId, JobRec(span, parent, e.time, module,
        Attribution.inLayoutWrite(site), site.split("\n").take(4).mkString(" | ")))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, span))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execSites.put(x.executionId, x.details)
      case x: SparkListenerSQLExecutionEnd => execSites.remove(x.executionId)
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        emit("id" -> j.span, "parent" -> j.parent, "name" -> "spark.job",
          "start" -> j.start.toDouble, "end" -> e.time.toDouble,
          "module" -> j.module, "layout_write" -> j.layout, "site" -> j.site,
          "ok" -> (e.jobResult == JobSucceeded))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new StageAcc)
      val info = e.taskInfo
      val m = e.taskMetrics
      acc.synchronized {
        acc.tasks += 1
        if (info != null) {
          if (!info.successful) acc.failures += 1
          acc.busyMs += math.max(0L, info.finishTime - info.launchTime)
          acc.queueMs += info.launchTime // stage submission subtracted below
        }
        if (m != null) {
          acc.taskMs += m.executorRunTime
          acc.gcMs += m.jvmGCTime
          acc.rowsRead += m.inputMetrics.recordsRead
          acc.bytesRead += m.inputMetrics.bytesRead
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.written += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val acc = Option(stageAcc.remove((s.stageId, s.attemptNumber())))
        .getOrElse(new StageAcc)
      val submitted = s.submissionTime.getOrElse(0L)
      val done = s.completionTime.getOrElse(submitted)
      val paged = s.rddInfos.exists(_.scope.exists(_.name.contains(PagedScanName)))
      acc.synchronized {
        emit("id" -> nextId(), "parent" -> stageJob.getOrDefault(s.stageId, 0L),
          "name" -> "spark.stage", "start" -> submitted.toDouble,
          "end" -> done.toDouble, "attempt" -> s.attemptNumber(),
          "tasks" -> acc.tasks, "task_failures" -> acc.failures,
          "task_ms" -> acc.taskMs, "busy_ms" -> acc.busyMs, "gc_ms" -> acc.gcMs,
          "queue_ms" -> (acc.queueMs - submitted * acc.tasks),
          "rows_read" -> acc.rowsRead, "bytes_read" -> acc.bytesRead,
          "shuffle_read" -> acc.shuffleRead, "shuffle_write" -> acc.shuffleWrite,
          "spill" -> acc.spill, "bytes_written" -> acc.written,
          "paged_scan" -> paged)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId => blocks.synchronized {
          val i = e.blockUpdatedInfo
          val now = i.memSize + i.diskSize
          val before = Option(blocks.get(b)).map(_.longValue).getOrElse(0L)
          if (now > 0) { blocks.put(b, now); pinnedRdds.add(b.rddId) }
          else blocks.remove(b)
          pinnedBytes += now - before
          if (pinnedBytes > pinnedPeakBytes) pinnedPeakBytes = pinnedBytes
        }
        case _ =>
      }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution, ok: Boolean): Unit =
      emit("counter" -> "exec.planning", "ok" -> ok,
        "ms" -> qe.tracker.phases.values.map(_.durationMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def dur(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      emit("id" -> nextId(), "parent" -> currentQuery,
        "name" -> "streaming.batch", "start" -> start,
        "end" -> (start + dur("triggerExecution")),
        "trigger_ms" -> dur("triggerExecution"), "wal_ms" -> dur("walCommit"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  /** Pinned state is released before every traced pass, so block sizes
    * are counted afresh from an empty store.
    */
  def attach(): Unit = {
    blocks.synchronized { blocks.clear(); pinnedBytes = 0L }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** End of set-up: later records belong to the timed window, and pins
    * are counted afresh.
    */
  def startWindow(): Unit = blocks.synchronized {
    phase = "window"
    pinnedRdds.clear()
    pinnedPeakBytes = 0L
  }

  /** Detach after every queued event has been delivered. */
  def detach(): Unit = {
    org.apache.spark.GraftBenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  private final case class JobRec(span: Long, parent: Long, start: Long,
      module: String, layout: Boolean, site: String)
  /** Local property naming the harness span that Spark jobs belong to. */
  val SpanKey = "graftbench.span"
  /** Local property naming the SQL execution a job belongs to. */
  val ExecutionKey = "spark.sql.execution.id"
  /** Local property Spark sets on the threads of a streaming query. */
  val StreamKey = "sql.streaming.queryId"
  /** Operation-scope name of a scan over the program's paged JSON source. */
  val PagedScanName = "paged_json("
}
