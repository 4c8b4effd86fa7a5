package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Plan-regression tripwire (VERDICT r14 ask #5): emit, per declared
  * query, a stable hash of the CANONICALIZED physical plan so a silent
  * plan change (a broadcast flipping to sort-merge after a refactor, a
  * pushed filter disappearing, a new mid-plan exchange) is diffable
  * from committed artifacts instead of only visible as wall-clock.
  *
  * Canonicalization: the operator tree by CLASS name (stripped of the
  * `Exec` suffix and of codegen-stage ids), joins annotated with their
  * join type (the broadcast→SMJ flip changes the class name itself),
  * shuffle exchanges annotated with their partitioning SCHEME (hash /
  * range / single — but not the partition COUNT, which is config), file
  * scans annotated with their read-schema column names and pushed-filter
  * list (so a pruning or pushdown regression changes the fingerprint),
  * and scalar/IN subqueries folded in. Literals, expression ids, paths,
  * and statistics are all excluded — the fingerprint is the plan SHAPE
  * the optimizer chose, not the data it ran on. AQE wrapper nodes
  * fingerprint their initial plan (the sweep never executes, so no
  * runtime re-plan exists to read).
  *
  * The sweep runs under PlanAudit's exact session config (local[4],
  * shuffle=4, UTC, large-N paths pinned) so fingerprints are comparable
  * run-to-run and round-to-round. `runMain graft.PlanFingerprint
  * [sfDir] [outJson]`; `scripts/planfp_gate.sh` regenerates and FAILS
  * when any fingerprint differs from the committed artifact without a
  * `plan-change: <query>` changelog line in SURVEY.md.
  */
object PlanFingerprint {

  /** Stable structural string for one physical plan node tree. AQE
    * wrappers resolve to the INITIAL plan by default (the sweep never
    * executes); pass `executed = true` AFTER running the query to
    * fingerprint the FINAL adaptive plan instead — runtime re-plans
    * (broadcast→SMJ flip at execution, AQE coalesce/skew-split) are
    * visible only there (r16, VERDICT r15 ask #5). In executed mode the
    * AQE bookkeeping wrappers (query stages, shuffle reads, reused
    * exchanges) are traversed transparently-but-named, with their
    * runtime partition COUNTS excluded — counts are data/config, the
    * read KIND (coalesced vs skew-split vs plain) is plan shape.
    */
  def canonical(p: SparkPlan, executed: Boolean = false): String = p match {
    case a: AdaptiveSparkPlanExec =>
      canonical(if (executed) a.executedPlan else a.initialPlan, executed)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      s"${q.getClass.getSimpleName.stripSuffix("Exec")}(" +
        canonical(q.plan, executed) + ")"
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      "ReusedExchange(" + canonical(r.child, executed) + ")"
    case _ =>
      val name = p.getClass.getSimpleName.stripSuffix("Exec")
      val extra = p match {
        case j: BaseJoinExec => ":" + j.joinType.toString
        case e: ShuffleExchangeExec =>
          ":" + e.outputPartitioning.getClass.getSimpleName
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
          // KIND only (coalesced/skewed/local), never partition counts
          ":" + Seq(
            if (r.hasCoalescedPartition) Some("coalesced") else None,
            if (r.hasSkewedPartition) Some("skewed") else None)
            .flatten.mkString("+")
        case s: FileSourceScanExec =>
          val cols = s.output.map(_.name).mkString("|")
          // pushed-filter SHAPE only: drop literal values (`GreaterThan(
          // l_quantity,5.0)` -> `GreaterThan(l_quantity)`) so a constant
          // tweak doesn't re-fingerprint, but a lost pushdown does
          val pushed = s.metadata.getOrElse("PushedFilters", "[]")
            .replaceAll("""([A-Za-z0-9_]+)\((\s*[^,()\[\]]+)[^)]*\)""", "$1($2)")
          s":cols=$cols:pushed=$pushed"
        case _ => ""
      }
      val subs = p.subqueries.map(s => "$" + canonical(s, executed)).mkString
      name + extra + subs +
        p.children.map(canonical(_, executed)).mkString("(", ",", ")")
  }

  def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outJson = args.drop(1).headOption
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // every size router takes its large route, so fingerprints reflect
    // cluster-scale plans (same setting as PlanAudit — the two
    // artifacts must describe the same plans)
    spark.conf.set("graft.route.smallRows", "0")
    val rows = scala.collection.mutable.LinkedHashMap[String, (String, Int)]()
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val canon = canonical(plan)
        rows(name) = (md5(canon), canon.count(_ == '('))
      } catch {
        case e: Throwable =>
          rows(name) = ("BUILD_FAILED", 0)
          failed += 1
          System.err.println(s"[planfp] $name FAILED: ${e.getMessage.take(120)}")
      }
    }
    // EXECUTED-plan mode for the top-N queries by committed bench cost
    // (r16, VERDICT r15 ask #5): the initial-plan sweep is blind to a
    // runtime-only plan change — an AQE broadcast flip or skew split
    // exists only in the FINAL adaptive plan, which exists only after
    // execution. Run the heavy hitters (where a silent runtime flip
    // costs the most) and fingerprint executedPlan post-run; the gate
    // holds `fp_exec` to the same changed-needs-changelog rule.
    // Costs resolve from the committed BENCH artifacts when no local
    // bench_full.json exists (ADVICE r16 #2: a machine without the
    // untracked artifact must not silently strip executed coverage).
    val execTop = sys.env.getOrElse("PLANFP_EXEC_TOP", "20").toInt
    val benchArt = sys.env.getOrElse("PLANFP_BENCH", "AUTO")
    val costs =
      if (execTop > 0) BenchGate.loadCosts(benchArt, "sf0.1", execTop)
      else Map.empty[String, Double]
    // Coverage is MONOTONE (ADVICE r16 #2): the exec set is the top-N by
    // the CURRENT cost map UNION every key the committed artifact already
    // executed — per-round cost-map jitter (a load spike promoting
    // different keys) must widen coverage, never strip fp_exec from a
    // key that had it.
    val priorExecKeys: Set[String] = sys.env.get("PLANFP_COMMITTED")
      .map(new java.io.File(_)).filter(_.isFile).map { f =>
        try {
          val om = new com.fasterxml.jackson.databind.ObjectMapper()
          val fps = om.readTree(f).get("fingerprints")
          val b = Set.newBuilder[String]
          if (fps != null && fps.isObject)
            fps.fields().forEachRemaining(e =>
              if (e.getValue.has("fp_exec")) b += e.getKey)
          b.result()
        } catch { case _: Throwable => Set.empty[String] }
      }.getOrElse(Set.empty)
    // The BenchGate anchor keys ride along unconditionally (r18, VERDICT
    // r17 ask #2): an anchor rejection must be settleable from committed
    // plan evidence — r17's contested posexplode_tracknum had only the
    // initial-plan fp, so "load or plan change?" needed git archaeology.
    val topQs = (SparkEntry.queries.keys.toSeq
        .filter(costs.contains).sortBy(q => -costs(q)).take(execTop) ++
      priorExecKeys.filter(SparkEntry.queries.contains).toSeq.sorted ++
      BenchGate.anchors.keys.filter(SparkEntry.queries.contains).toSeq.sorted)
      .distinct
    if (execTop > 0 && topQs.isEmpty)
      System.err.println(s"[planfp] no bench artifact at $benchArt and no " +
        "committed BENCH_rNN.json - executed-plan mode skipped")

    def shed(s: SparkSession): Unit = {
      try graft.functions.GlobalRank.releaseCheckpoints(s)
      catch { case _: Throwable => }
      try s.catalog.clearCache() catch { case _: Throwable => }
    }
    def execSweep(s: SparkSession, dir: String, tag: String)
        : scala.collection.mutable.LinkedHashMap[String, (String, Int)] = {
      val out = scala.collection.mutable.LinkedHashMap[String, (String, Int)]()
      topQs.foreach { name =>
        shed(s)
        try {
          val df = SparkEntry.queries(name)(s, dir)
          df.count() // execute so the adaptive plan is FINAL
          val canon = canonical(df.queryExecution.executedPlan, executed = true)
          out(name) = (md5(canon), canon.count(_ == '('))
        } catch {
          case e: Throwable =>
            out(name) = ("EXEC_FAILED", 0)
            failed += 1
            System.err.println(
              s"[planfp] $name EXEC$tag FAILED: ${e.getMessage.take(120)}")
        }
      }
      out
    }
    val execRows = if (topQs.isEmpty) {
      scala.collection.mutable.LinkedHashMap.empty[String, (String, Int)]
    } else execSweep(spark, sfDir, "")

    // EXTRA scale factors for the executed sweep (r17, VERDICT r16 ask
    // #1): a broadcast→SMJ flip or a missed skew split that exists ONLY
    // at 10× data is exactly the regression class fp_exec was built
    // for, so the heavy hitters run at sf0.1 AND the synthetic sf1.0
    // decade and each label's final adaptive plan is fingerprinted
    // separately. Format: PLANFP_EXEC_EXTRA_SFS=label=dir,label=dir.
    // Extra sweeps run under their own session (more cores — sf1.0
    // under local[4] would take an hour; partition COUNTS are excluded
    // from the canonical form, so the fingerprints stay comparable).
    val extraSfs: Seq[(String, String)] =
      sys.env.getOrElse("PLANFP_EXEC_EXTRA_SFS", "").split(",").toSeq
        .map(_.trim).filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); (k, v)
        }
    val execExtra =
      scala.collection.mutable.LinkedHashMap[String,
        scala.collection.mutable.LinkedHashMap[String, (String, Int)]]()
    if (extraSfs.nonEmpty && topQs.nonEmpty) {
      spark.stop()
      val cpus = sys.env.getOrElse("PLANFP_EXEC_CPUS", "32")
      val s2 = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
        .getOrCreate()
      s2.sparkContext.setLogLevel("ERROR")
      s2.conf.set("graft.route.smallRows", "0")
      extraSfs.foreach { case (label, dir) =>
        if (!new java.io.File(dir).isDirectory) {
          System.err.println(s"[planfp] extra sf '$label' dir $dir missing " +
            "- skipped (generate it first; the gate treats missing " +
            "coverage as a failure)")
        } else {
          System.err.println(s"[planfp] executed sweep @$label ($dir)")
          execExtra(label) = execSweep(s2, dir, s"@$label")
        }
      }
      s2.stop()
    } else spark.stop()

    val body = {
      val fps = rows.map { case (name, (fp, nodes)) =>
        val exec = execRows.get(name).map { case (fpx, nx) =>
          s""", "fp_exec": "$fpx", "exec_nodes": $nx"""
        }.getOrElse("")
        val extra = execExtra.flatMap { case (label, m) =>
          m.get(name).map { case (fpx, nx) =>
            s""", "fp_exec@$label": "$fpx", "exec_nodes@$label": $nx"""
          }
        }.mkString
        s"""  "$name": {"fp": "$fp", "nodes": $nodes$exec$extra}"""
      }.mkString(",\n")
      val extraDesc =
        if (execExtra.isEmpty) ""
        else s"; fp_exec@<label>=same post-run final plan at " +
          execExtra.keys.mkString("/") + " (VERDICT r16 ask #1)"
      s"""{
         | "metric": "plan_fingerprint",
         | "n_queries": ${rows.size},
         | "n_executed": ${execRows.size},
         | "n_executed_extra": ${execExtra.map(_._2.size).sum},
         | "exec_extra_labels": [${execExtra.keys.map(l => s""""$l"""").mkString(", ")}],
         | "n_build_failed": $failed,
         | "canonicalization": "class names sans Exec/codegen-ids; joins+=joinType; shuffles+=partitioning scheme; scans+=read cols+pushed filters; subqueries folded; literals/ids/paths/counts excluded; fp=AQE initial plan, fp_exec=post-run AQE final plan for the top-$execTop by committed bench cost (query stages traversed, shuffle-read KIND kept, partition counts excluded)$extraDesc",
         | "fingerprints": {
         |$fps
         | }
         |}""".stripMargin
    }
    outJson.foreach { path =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body + "\n")
      println(s"[planfp] artifact -> $path")
    }
    println(s"[planfp] done: ${rows.size} queries, $failed build-failed")
    if (failed > 0) sys.exit(1)
  }
}
