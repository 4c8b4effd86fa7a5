package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType

/** Closed-loop workload driver for the repo's declared queries.
  *
  * One JVM runs one workload: start a session with the settings of
  * `graft.Bench`, run one untimed warm pass over the workload's keys in
  * their listed order (set-up), then run seeded passes for the timed
  * window. Each pass is a permutation of the keys drawn from the workload
  * seed and is served by `clients` threads from one shared queue; a
  * client sends its next query only after the previous one returned.
  * Every query is built through
  * `SparkEntry.queries(key)(spark, fixtureDir)`, fully collected, and its
  * rows checked against the expected answer.
  *
  * With tracing on, half the timed passes (in the order traced, untraced,
  * untraced, traced) run with listeners attached,
  * so the same run measures the tracing overhead.
  *
  * Arguments are `--name value` pairs; see [[Opts]]. Results go to the
  * `--out` directory as `result.json` (and `spans.jsonl` when traced).
  */
object Harness {
  final case class Opts(keys: Seq[String], clients: Int, seed: Long,
      seconds: Double, trace: Boolean, fixtures: String, expected: String,
      out: String, releaseEachQuery: Boolean, cores: Int, dump: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("keys").split(",").toSeq, m("clients").toInt, m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("fixtures"), m("expected"),
      m("out"), m("release") == "query", m("cores").toInt, m.get("dump"))
  }

  final case class Sample(key: String, client: Int, pass: Int, traced: Boolean,
      startNs: Long, buildNs: Long, endNs: Long, rows: Long, compiles: Long,
      ok: Boolean, error: String)

  /** A query's sample with its rows, not yet checked; `spanIds` are the
    * (query, build, action) span ids of a traced query.
    */
  final case class Answer(sample: Sample, schema: StructType, rows: Array[Row],
      spanIds: Option[(Long, Long, Long)])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Written first, so the launcher can remove the program's per-application
    // directories even when the run dies.
    Files.write(Paths.get(o.out, "app_id"),
      spark.sparkContext.applicationId.getBytes(StandardCharsets.UTF_8))
    val status =
      try run(spark, o, jvmStartMs)
      finally spark.stop()
    sys.exit(status)
  }

  private def run(spark: SparkSession, o: Opts, jvmStartMs: Long): Int = {
    val appId = spark.sparkContext.applicationId
    val queries = graft.SparkEntry.queries
    val expected = readExpected(o.expected)
    val missing = o.keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val rng = new java.util.Random(o.seed)
    def permutation(): Seq[String] = {
      val a = o.keys.toBuffer
      for (i <- a.indices.reverse.dropRight(1)) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val samples = new ConcurrentLinkedQueue[Sample]()
    val mismatches = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val digests = new java.util.concurrent.ConcurrentHashMap[String, String]()

    def release(blocking: Boolean): Unit = {
      graft.functions.GlobalRank.releaseCheckpoints(spark)
      if (blocking) {
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
    }

    /** Blocking release of pinned state, then heap in use after a full GC.
      * Spark's context cleaner frees broadcasts and shuffle state
      * asynchronously (it polls every 100 ms) once a GC has found them
      * unreachable, so collections repeat, spaced by a pause, until the
      * reading stops falling.
      */
    def liveHeapMb(): Double = {
      release(blocking = true)
      def used() = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var best = used()
      var tries = 1
      var falling = true
      while (falling && tries < 5) {
        Thread.sleep(150)
        val now = used()
        falling = now < best - 1.0
        best = math.min(best, now)
        tries += 1
      }
      best
    }

    /** Runs one query and keeps its rows. The rows are checked by
      * [[settle]] after the pass, so the pass's wall time holds no work of
      * the harness's own.
      */
    def runQuery(key: String, client: Int, pass: Int, traced: Boolean): Answer = {
      val sc = spark.sparkContext
      val t = if (traced) tracer else None
      val ids = t.map(tr => (tr.nextId(), tr.nextId(), tr.nextId()))
      ids.foreach { case (qid, _, _) => t.get.currentQuery = qid }
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = Array.empty[Row]
      var df: DataFrame = null
      val err =
        try {
          ids.foreach(i => sc.setLocalProperty(Tracer.SpanKey, i._2.toString))
          df = queries(key)(spark, o.fixtures)
          t1 = System.nanoTime()
          ids.foreach(i => sc.setLocalProperty(Tracer.SpanKey, i._3.toString))
          rows = df.collect()
          null
        } catch { case e: Throwable =>
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        } finally sc.setLocalProperty(Tracer.SpanKey, null)
      val t2 = System.nanoTime()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      if (t1 == t0) t1 = t2
      Answer(Sample(key, client, pass, traced, t0, t1, t2, rows.length, compiles,
        ok = err == null, err), if (df == null) null else df.schema, rows, ids)
    }

    /** Compares an answer with its expected result, then writes its spans
      * and (with --dump) its rows.
      */
    def settle(a: Answer): Sample = {
      val s = a.sample
      val key = s.key
      val ok = s.ok && {
        val (n, d) = Norm.digest(a.schema, a.rows)
        digests.putIfAbsent(key, s"""{"rows": $n, "sha256": "$d"}""")
        expected.get(key) match {
          case Some((en, ed)) if en == n && ed == d => true
          case Some((en, _)) =>
            mismatches.putIfAbsent(key, s"rows $n (expected $en), digest $d"); false
          case None => mismatches.putIfAbsent(key, "no expected answer"); false
        }
      }
      if (s.error != null) mismatches.putIfAbsent(key, s.error)
      o.dump.filter(_ => s.error == null).foreach { dir =>
        spark.createDataFrame(java.util.Arrays.asList(a.rows: _*), a.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")
      }
      a.spanIds.foreach { case (qid, buildId, actionId) =>
        val tr = tracer.get
        tr.emit("id" -> qid, "parent" -> 0L, "name" -> "query", "key" -> key,
          "start" -> epochMs(s.startNs), "end" -> epochMs(s.endNs), "ok" -> ok,
          "rows_out" -> s.rows)
        tr.emit("id" -> buildId, "parent" -> qid, "name" -> "operators.build",
          "start" -> epochMs(s.startNs), "end" -> epochMs(s.buildNs))
        tr.emit("id" -> actionId, "parent" -> qid, "name" -> "exec.action",
          "start" -> epochMs(s.buildNs), "end" -> epochMs(s.endNs))
      }
      s.copy(ok = ok)
    }

    /** One pass: `clients` threads drain the pass's queue. Returns the
      * pass's wall time, then the time spent checking its answers after it.
      */
    def runPass(keys: Seq[String], pass: Int, clients: Int, traced: Boolean): (Long, Long) = {
      val queue = new ConcurrentLinkedQueue[String](keys.asJava)
      val answers = new ConcurrentLinkedQueue[Answer]()
      val t0 = System.nanoTime()
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var k = queue.poll()
          while (k != null) {
            answers.add(runQuery(k, c, pass, traced))
            if (o.releaseEachQuery) release(blocking = false)
            k = queue.poll()
          }
        }, s"graftbench-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val t1 = System.nanoTime()
      answers.asScala.foreach(a => samples.add(settle(a)))
      (t1 - t0, System.nanoTime() - t1)
    }

    // one permutation per client, so every client serves each key about
    // once per pass and the barrier at the pass end idles less
    def passKeys(): Seq[String] = (1 to o.clients).flatMap(_ => permutation())

    // ---- set-up: session (already up) + one untimed warm pass ----------
    // The warm pass runs the keys in their listed order, not a seeded one:
    // the first query to reach a code path shapes the JIT's profiles, and
    // a seeded first order left some seeds' runs slower throughout.
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    tracer.foreach(_.attach())
    val (_, warmCheckNs) = runPass(o.keys, -1, 1, traced = tracer.isDefined)
    tracer.foreach { t => t.detach(); t.startWindow() }
    val warmHeap = liveHeapMb()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - warmCheckNs / 1e9
    val warmFailures = mismatches.asScala.toMap
    o.dump.foreach { dir =>
      // after the warm pass, so oracle SQL that reads a layout names its path
      val oracle = graft.SparkEntry.oracleSql
      Files.createDirectories(Paths.get(dir))
      Files.write(Paths.get(dir, "oracle_sql.json"), o.keys.filter(oracle.contains)
        .map(k => Json.str(k) + ": " + Json.str(oracle(k)))
        .mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
    }

    // ---- timed window: whole passes until the budget is spent ---------
    val heaps = mutable.ArrayBuffer[Double]()
    val passWall = mutable.ArrayBuffer[(Int, Boolean, Long, Long)]()
    val passJit = mutable.ArrayBuffer[Double]()
    val codegen = mutable.ArrayBuffer[(Int, Boolean, Long, Long)]()
    val jvm0 = jvmTimes()
    val budgetNs = (o.seconds * 1e9).toLong
    var windowNs = 0L
    var pass = 0
    while (windowNs < budgetNs) {
      // traced, untraced, untraced, traced, ...: passes get faster through
      // the window as the JIT warms up, and this order keeps that trend out
      // of the traced/untraced comparison
      val traced = tracer.isDefined && (pass % 4 == 0 || pass % 4 == 3)
      if (traced) tracer.get.attach()
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n0 = CodeGenerator.compileTime
      val keys = passKeys()
      val jit0 = jvmTimes()._3
      val (wall, checkNs) = runPass(keys, pass, o.clients, traced)
      passJit += jvmTimes()._3 - jit0
      codegen += ((pass, traced, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        CodeGenerator.compileTime - n0))
      if (traced) tracer.get.detach()
      windowNs += wall
      passWall += ((pass, traced, wall, checkNs))
      heaps += liveHeapMb()
      pass += 1
    }

    val jvm1 = jvmTimes()
    val out = Paths.get(o.out)
    Files.createDirectories(out)
    tracer.foreach { t =>
      Files.write(out.resolve("spans.jsonl"), t.records.asScala.toSeq.asJava,
        StandardCharsets.UTF_8)
    }
    val j = new StringBuilder("{")
    j ++= s""""app_id": ${Json.str(appId)}, "setup_s": $setupS, "session_s": $sessionS,"""
    j ++= s""" "cores": ${o.cores}, "session": {""" + SessionKeys.map(k =>
      Json.str(k) + ": " + Json.str(spark.conf.get(k))).mkString(", ") + "},"
    j ++= s""" "warm_heap_mb": $warmHeap, "heap_mb": [${heaps.mkString(", ")}],"""
    j ++= s""" "window_s": ${windowNs / 1e9},"""
    j ++= s""" "window_jvm": {"cpu_s": ${jvm1._1 - jvm0._1}, "gc_s": ${jvm1._2 - jvm0._2},"""
    j ++= s""" "jit_s": ${jvm1._3 - jvm0._3}},"""
    j ++= s""" "warm_check_s": ${warmCheckNs / 1e9},"""
    j ++= " \"passes\": [" + passWall.map { case (p, tr, w, ch) =>
      val (_, _, cc, cn) = codegen(p)
      Json.obj("pass" -> p, "traced" -> tr, "wall_s" -> w / 1e9, "check_s" -> ch / 1e9,
        "jit_s" -> passJit(p),
        "codegen_compiles" -> cc, "codegen_s" -> cn / 1e9)
    }.mkString(", ") + "],"
    tracer.foreach { t =>
      j ++= s""" "pinned_peak_mb": ${t.pinnedPeakBytes / 1048576.0},"""
      j ++= s""" "pinned_rdds": ${t.pinnedRdds.size},"""
    }
    j ++= " \"warm_failures\": {" + warmFailures.toSeq.sorted
      .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString(", ") + "},"
    j ++= " \"mismatches\": {" + mismatches.asScala.toSeq.sorted
      .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString(", ") + "},"
    j ++= " \"digests\": {" + digests.asScala.toSeq.sorted
      .map { case (k, v) => Json.str(k) + ": " + v }.mkString(", ") + "},"
    j ++= " \"samples\": [" + samples.asScala.map { s =>
      Json.obj("key" -> s.key, "client" -> s.client, "pass" -> s.pass,
        "traced" -> s.traced, "build_s" -> (s.buildNs - s.startNs) / 1e9,
        "latency_s" -> (s.endNs - s.startNs) / 1e9, "rows" -> s.rows, "compiles" -> s.compiles, "ok" -> s.ok,
        "error" -> s.error)
    }.mkString(",\n") + "]}"
    Files.write(out.resolve("result.json"), j.toString.getBytes(StandardCharsets.UTF_8))
    0
  }

  /** The session settings every result records. */
  private val SessionKeys = Seq("spark.master", "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.ui.enabled",
    "spark.sql.streaming.stateStore.maintenanceInterval")

  /** (process CPU, GC, JIT compile) seconds so far; the window's share of
    * each goes into the result, beside its wall time.
    */
  private def jvmTimes(): (Double, Double, Double) = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    (os.getProcessCpuTime / 1e9, gc / 1e3,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** A nanoTime reading as epoch milliseconds, the clock Spark's events use. */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** key -> (rows, sha256) from the benchmark's expected-answer file. */
  private def readExpected(path: String): Map[String, (Long, String)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else om.readTree(f).properties().asScala.map { e =>
      e.getKey -> ((e.getValue.get("rows").asLong, e.getValue.get("sha256").asText))
    }.toMap
  }
}
