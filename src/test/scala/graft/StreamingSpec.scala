package graft

import java.sql.Timestamp

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{TokenRequest, TokenState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** §2.J streaming rows without a SQL oracle: T1 (file source exactly-once),
  * T5 (watermark late-drop, the GCS-TTL analog), T6 (within-watermark
  * dedup), T7 (token-cache keyed state, app.py:61-78).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val evSchema = StructType.fromDDL(
    "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE")

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("T1: file JSON stream processes each staged file exactly once") {
    val dir = tmpDir("graft_t1"); val ckpt = tmpDir("graft_t1_ckpt")
    val sink = tmpDir("graft_t1_sink")
    def writeFile(n: Int, rows: Seq[String]): Unit = {
      val p = java.nio.file.Paths.get(dir, s"part$n.json")
      java.nio.file.Files.write(p, rows.mkString("\n").getBytes)
    }
    writeFile(1, Seq(
      """{"event_id":1,"ts":"2024-01-01 10:00:00","event_type":"click","value":1.0}""",
      """{"event_id":2,"ts":"2024-01-01 10:01:00","event_type":"view","value":2.0}"""))
    def runOnce(): Long = {
      val q = StreamingOps.fileJsonStream(spark, evSchema, dir)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(sink).count()
    }
    assert(runOnce() === 2)
    writeFile(2, Seq(
      """{"event_id":3,"ts":"2024-01-01 10:02:00","event_type":"click","value":3.0}"""))
    // second run with the same checkpoint: only the new file is read,
    // file 1 is NOT reprocessed (exactly-once via the checkpointed index)
    assert(runOnce() === 3)
  }

  test("T5: watermark drops events later than the TTL horizon") {
    val in = MemoryStream[(Long, Timestamp, String, Double)](spark)
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.tumblingCounts(events, "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("t5_out")
      .outputMode("append").start()
    // batch 1: events in [10:00,10:10) then one far ahead at 12:00 —
    // advances the watermark to 11:30, closing (and emitting) the early window
    in.addData((1L, ts(1), "click", 1.0), (2L, ts(5), "click", 1.0),
      (3L, ts(120), "view", 1.0))
    q.processAllAvailable()
    // batch 2: a late event at 10:06 — its window closed long ago ⇒ dropped
    in.addData((4L, ts(6), "click", 99.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT event_type, n FROM t5_out WHERE w_start = " +
      Timestamp.valueOf("2024-01-01 10:00:00").getTime / 1000)
      .as[(String, Long)].collect().toMap
    assert(rows("click") === 2) // late event 4 did NOT land
  }

  test("T10: event-time GroupStateTimeout evicts idle keys with a tombstone") {
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp)](spark)
    val q = StreamingOps.expiringCounts(in.toDS())
      .writeStream.format("memory").queryName("t10_out")
      .outputMode("append").start()
    // batch 1: keys 1 and 2 at 10:00
    in.addData((1L, ts(0)), (2L, ts(0)))
    q.processAllAvailable()
    // batch 2: key 1 again at 12:00 — watermark jumps past key 2's
    // 30-min deadline (10:30)...
    in.addData((1L, ts(120)))
    q.processAllAvailable()
    // batch 3: ...and the NEXT micro-batch fires the timeout for key 2
    in.addData((1L, ts(121)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT user_id, kind, n FROM t10_out")
      .as[(Long, String, Long)].collect()
    assert(rows.contains((2L, "expired", 1L)),
      s"idle key 2 not evicted: ${rows.mkString(", ")}")
    assert(!rows.exists(r => r._1 == 1L && r._2 == "expired"),
      "active key 1 must not expire")
    assert(rows.filter(r => r._1 == 1L && r._2 == "active").map(_._3).max === 3L)
  }

  test("T10b: a straggler at the watermark boundary is counted and evicted, never crashes the query") {
    import spark.implicits._
    // gap (2 s) smaller than the 10 s watermark delay — the config
    // where setTimeoutTimestamp deadlines sit closest to the watermark.
    // The operator's late filter admits only rows with ts > watermark
    // (the SAME watermark the timeout validity check uses), so an
    // admitted row always yields maxTs + gap > watermark; the clamp in
    // expiringCounts is defense for that invariant ever shifting. This
    // pins the boundary: a straggler at the earliest admissible
    // timestamp is COUNTED, then EVICTED when the watermark passes its
    // deadline — the query never throws.
    val in = MemoryStream[(Long, Timestamp)](spark)
    val q = StreamingOps.expiringCounts(in.toDS(), gapMs = 2000L)
      .writeStream.format("memory").queryName("t10b_out")
      .outputMode("append").start()
    val t0 = ts(0).getTime
    in.addData((1L, new Timestamp(t0)))
    q.processAllAvailable()
    in.addData((1L, new Timestamp(t0 + 60000))) // watermark → t0+50 s
    q.processAllAvailable()
    // straggler just past the watermark (the late filter is
    // exclusive: ts <= watermark is dropped); deadline = t0+53 s
    in.addData((7L, new Timestamp(t0 + 51000)))
    q.processAllAvailable()
    // advance the watermark past the deadline, then one more batch to
    // fire the timeout
    in.addData((1L, new Timestamp(t0 + 70000))) // watermark → t0+60 s
    q.processAllAvailable()
    in.addData((1L, new Timestamp(t0 + 71000)))
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, s"straggler killed the query: ${q.exception}")
    val rows = spark.sql("SELECT user_id, kind, n FROM t10b_out")
      .as[(Long, String, Long)].collect()
    assert(rows.contains((7L, "active", 1L)), s"straggler not counted: ${rows.mkString(", ")}")
    assert(rows.contains((7L, "expired", 1L)),
      s"straggler key not evicted after its deadline: ${rows.mkString(", ")}")
  }

  test("T6: dropDuplicatesWithinWatermark is exactly-once per event_id") {
    val in = MemoryStream[(Long, Timestamp, String, Double)](spark)
    val events = in.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingOps.dedupWithinWatermark(events, "1 hour")
      .writeStream.format("memory").queryName("t6_out")
      .outputMode("append").start()
    in.addData((1L, ts(0), "click", 1.0), (2L, ts(1), "view", 1.0))
    q.processAllAvailable()
    in.addData((2L, ts(2), "view", 1.0), (3L, ts(3), "click", 1.0)) // 2 is a dup
    q.processAllAvailable()
    q.stop()
    val ids = spark.sql("SELECT event_id FROM t6_out").as[Long].collect().sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("T6 replay: >=3 out-of-order micro-batches; equals batch; state dropped after watermark") {
    // The 100 TB bounded-state claim, MEASURED (VERDICT r14 ask #4):
    // replay the T6 dedup across 4 AvailableNow micro-batches
    // (maxFilesPerTrigger=1, one staged file per batch), with each
    // batch carrying out-of-order rows WITHIN the 1 h watermark delay,
    // and pin (a) the appended result equals the batch distinct, and
    // (b) StreamingQueryProgress.stateOperators shows rows REMOVED once
    // the watermark passes (numRowsRemoved > 0) with final state
    // strictly below peak — state does not grow with the stream.
    val dir = tmpDir("graft_t6r"); val ckpt = tmpDir("graft_t6r_ckpt")
    val sink = tmpDir("graft_t6r_sink")
    def row(id: Long, totHour: Int, min: Int) =
      s"""{"event_id":$id,"ts":"2024-01-${"%02d".format(1 + totHour / 24)} ${"%02d".format(totHour % 24)}:${"%02d".format(min)}:00"}"""
    // the file source orders same-mtime files arbitrarily — pin the
    // arrival order with strictly increasing mtimes so batch k really
    // is the k-th micro-batch
    def writeFile(n: Int, rows: Seq[String]): Unit = {
      val p = java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"b$n.json"),
        rows.mkString("\n").getBytes)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 10000L))
    }
    // 6 files, 6 h apart (rolling over midnight); in-file disorder (the
    // :50 row precedes the :00 row in event time by 50 min < the 1 h
    // delay); dup of the batch's own first id planted in each file
    for (k <- 0 to 5) {
      val h = 10 + 6 * k
      writeFile(k, Seq(row(2L * k + 1, h, 50), row(2L * k + 2, h, 0),
        row(2L * k + 1, h, 50)))
    }
    val stream = StreamingOps.fileJsonStream(spark,
        StructType.fromDDL("event_id LONG, ts TIMESTAMP"), dir,
        maxFilesPerTrigger = Some(1))
    val q = StreamingOps.dedupWithinWatermark(stream, "1 hour")
      .select("event_id")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 3, s"expected >=3 micro-batches, " +
      s"got ${progress.length}")
    // (a) result equality with batch dedup
    val ids = spark.read.parquet(sink).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids === (1L to 12L), s"stream dedup != batch distinct: $ids")
    // (b) bounded state: eviction observed; state PLATEAUS at the
    // watermark-window population instead of growing with the stream
    val stateRows = progress.map(_.stateOperators.head.numRowsTotal).toSeq
    val removed = progress.map(_.stateOperators.head.numRowsRemoved).sum
    val totalIn = progress.map(_.numInputRows).sum
    info(s"per-batch state rows: ${stateRows.mkString(", ")}; " +
      s"total removed: $removed of $totalIn input rows")
    assert(removed > 0, "watermark passage must evict dedup state")
    assert(stateRows.last < totalIn,
      s"final state ${stateRows.last} must sit below the " +
        s"$totalIn-row stream — bounded by the window, not the stream")
    assert(stateRows.last <= stateRows(stateRows.length - 2),
      s"state must not grow at the tail: $stateRows")
  }

  test("T8 replay: >=3 out-of-order micro-batches; equals batch join; state dropped") {
    // same law for the stream-stream interval join: 4 coordinated
    // micro-batches per side, per-batch user keys (so every match is
    // in-horizon by construction), disorder within the 2 h watermark;
    // the appended join must equal the batch join over the SAME staged
    // rows, and join state must shrink once the watermark clears a
    // batch's 6 h interval envelope.
    val dirC = tmpDir("graft_t8r_c"); val dirP = tmpDir("graft_t8r_p")
    val ckpt = tmpDir("graft_t8r_ckpt"); val sink = tmpDir("graft_t8r_sink")
    def jrow(id: Long, user: Long, totHour: Int, min: Int) =
      s"""{"id":$id,"user":$user,"ts":"2024-01-${"%02d".format(1 + totHour / 24)} ${"%02d".format(totHour % 24)}:${"%02d".format(min)}:00"}"""
    def writeFile(dir: String, n: Int, rows: Seq[String]): Unit = {
      val p = java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"b$n.json"),
        rows.mkString("\n").getBytes)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 10000L))
    }
    // batch k at hour 6k: clicks at :00 and an out-of-order sibling 90
    // min earlier (< the 2 h watermark); purchases at :30 — every
    // (user, batch) pair joins within the 6 h interval; users are
    // batch-unique so no cross-batch match
    for (k <- 0 to 5) {
      val h = 6 * k
      val late = if (h >= 2) Seq(jrow(100L * k + 2, 100L + k, h - 2, 30))
                 else Seq.empty
      writeFile(dirC, k, Seq(jrow(100L * k + 1, 100L + k, h, 0)) ++ late)
      writeFile(dirP, k, Seq(jrow(100L * k + 9, 100L + k, h, 30)))
    }
    val ddl = "id LONG, user LONG, ts TIMESTAMP"
    def side(dir: String, pre: String) =
      StreamingOps.fileJsonStream(spark, StructType.fromDDL(ddl), dir,
          maxFilesPerTrigger = Some(1))
        .select(col("id").as(s"${pre}_id"), col("ts").as(s"${pre}_ts"),
          col("user").as(s"${pre}_user"))
        .withWatermark(s"${pre}_ts", "2 hours")
    val joinCond = expr(
      """click_user = purch_user AND
        |click_ts BETWEEN purch_ts - INTERVAL 6 HOUR AND purch_ts"""
        .stripMargin)
    val q = side(dirC, "click").join(side(dirP, "purch"), joinCond)
      .select("click_id", "purch_id")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length >= 3, s"expected >=3 micro-batches, " +
      s"got ${progress.length}")
    // (a) equality with the batch join over the same staged files
    val streamed = spark.read.parquet(sink)
      .select("click_id", "purch_id").as[(Long, Long)].collect().sorted
    def batchSide(dir: String, pre: String) =
      spark.read.schema(StructType.fromDDL(ddl)).json(dir)
        .select(col("id").as(s"${pre}_id"), col("ts").as(s"${pre}_ts"),
          col("user").as(s"${pre}_user"))
    val batch = batchSide(dirC, "click")
      .join(batchSide(dirP, "purch"), joinCond)
      .select("click_id", "purch_id").as[(Long, Long)].collect().sorted
    assert(streamed.toSeq === batch.toSeq,
      "stream-stream join must equal the batch join")
    // (b) bounded state across batches: eviction observed; state
    // plateaus at the interval-envelope population, below the stream
    val stateRows = progress.map(_.stateOperators.head.numRowsTotal).toSeq
    val removed = progress.map(_.stateOperators.head.numRowsRemoved).sum
    val totalIn = progress.map(_.numInputRows).sum
    info(s"per-batch join state rows: ${stateRows.mkString(", ")}; " +
      s"total removed: $removed of $totalIn input rows")
    assert(removed > 0, "watermark passage must evict join state")
    assert(stateRows.last < totalIn,
      s"final state ${stateRows.last} must sit below the " +
        s"$totalIn-row stream — bounded by the window, not the stream")
    assert(stateRows.last <= stateRows(stateRows.length - 2),
      s"state must not grow at the tail: $stateRows")
  }

  test("T6/T8 bench floor is config, not plan: one state store per shuffle partition") {
    // The stream demos pin shuffle.partitions=4 — that number IS the
    // state-store-instance count of every stateful operator, so the
    // per-query streaming floor (store open/commit cost × partitions)
    // is a session knob. At 100× scale the SAME plan sizes its state
    // machinery by raising the conf; pin that the reported
    // numShufflePartitions tracks it exactly.
    def statePartitions(n: Int): Long = {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try {
        val in = MemoryStream[(Long, Timestamp, String, Double)](spark)
        val q = StreamingOps.dedupWithinWatermark(
            in.toDF().toDF("event_id", "ts", "event_type", "value"), "1 hour")
          .writeStream.format("memory").queryName(s"t6_conf_$n")
          .outputMode("append").start()
        in.addData((1L, ts(0), "click", 1.0), (2L, ts(1), "view", 1.0))
        q.processAllAvailable()
        val parts = q.lastProgress.stateOperators.head.numShufflePartitions
        q.stop()
        parts
      } finally spark.conf.set(key, prev)
    }
    assert(statePartitions(2) === 2L)
    assert(statePartitions(5) === 5L)
  }

  test("T7: token cache state — reuse until expiry-60s, then mint") {
    // pure state-transition check (the app.py:63-78 rule)
    val (grants, st) = StreamingOps.serveTokens(Iterator(
      TokenRequest("c", 0, 3600),     // miss → mint seq 0, expires 3600
      TokenRequest("c", 100, 3600),   // 100 < 3540 → cached seq 0
      TokenRequest("c", 3539, 3600),  // boundary: still cached
      TokenRequest("c", 3540, 3600)), // refresh window hit → mint seq 1
      None)
    assert(grants.map(g => (g.tokenSeq, g.minted)) ===
      List((0L, true), (0L, false), (0L, false), (1L, true)))
    assert(st.contains(TokenState(1, 3540 + 3600)))

    // same rule through the streaming engine (flatMapGroupsWithState)
    val in = MemoryStream[TokenRequest](spark)
    val q = StreamingOps.tokenCacheStream(in.toDS())
      .writeStream.format("memory").queryName("t7_out")
      .outputMode("append").start()
    in.addData(TokenRequest("a", 0, 3600), TokenRequest("b", 0, 60))
    q.processAllAvailable()
    in.addData(TokenRequest("a", 10, 3600), TokenRequest("b", 10, 60))
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT client, ts, tokenSeq, minted FROM t7_out")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(out === Set(
      ("a", 0L, 0L, true), ("b", 0L, 0L, true),
      ("a", 10L, 0L, false), // within 3600-60
      ("b", 10L, 1L, true))) // 10 >= 60-60 ⇒ refresh
  }

  test("T7b: transformWithState (RocksDB store) emits the same grants as fMGWS") {
    // Spark 4's arbitrary-state API requires the RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[TokenRequest](spark)
      val q = StreamingOps.tokenCacheStreamTws(in.toDS())
        .writeStream.format("memory").queryName("t7b_out")
        .outputMode("append").start()
      in.addData(TokenRequest("a", 0, 3600), TokenRequest("b", 0, 60))
      q.processAllAvailable()
      // state must SURVIVE the batch boundary: a@10 cached, b@10 refreshed
      in.addData(TokenRequest("a", 10, 3600), TokenRequest("b", 10, 60))
      q.processAllAvailable()
      q.stop()
      val out = spark.sql("SELECT client, ts, tokenSeq, minted FROM t7b_out")
        .as[(String, Long, Long, Boolean)].collect().toSet
      assert(out === Set( // identical to the flatMapGroupsWithState run (T7)
        ("a", 0L, 0L, true), ("b", 0L, 0L, true),
        ("a", 10L, 0L, false),
        ("b", 10L, 1L, true)))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("T8: stream-stream interval join matches in-horizon clicks, drops late ones") {
    val vIn = MemoryStream[(Long, Timestamp, Long)](spark)
    val cIn = MemoryStream[(Long, Timestamp, Long)](spark)
    val views = vIn.toDF().toDF("user_id", "v_ts", "view_id")
    val clicks = cIn.toDF().toDF("c_user", "c_ts", "click_id")
    val q = StreamingOps.intervalJoin(views, clicks)
      .select("user_id", "view_id", "click_id")
      .writeStream.format("memory").queryName("t8_out")
      .outputMode("append").start()
    // in-horizon click (10:03 for a 10:00 view) joins; the 10:30 click
    // is outside the 5-minute horizon of view 20
    vIn.addData((7L, ts(0), 10L), (7L, ts(5), 20L))
    cIn.addData((7L, ts(3), 100L), (7L, ts(30), 200L))
    q.processAllAvailable()
    // advance BOTH watermarks far ahead, then deliver a click that was
    // in-horizon by event time — the state for its view is gone ⇒ dropped
    vIn.addData((98L, ts(600), 90L))
    cIn.addData((99L, ts(600), 900L))
    q.processAllAvailable()
    cIn.addData((7L, ts(4), 300L)) // late: watermark sits at ts(570)
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT user_id, view_id, click_id FROM t8_out")
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((7L, 10L, 100L)))
  }

  test("T9s: stream-static enrich joins statelessly (zero state stores)") {
    val dir = tmpDir("graft_t9s"); val ckpt = tmpDir("graft_t9s_ckpt")
    val sink = tmpDir("graft_t9s_sink")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part1.json"),
      Seq(
        """{"event_id":1,"user_id":10,"event_type":"click"}""",
        """{"event_id":2,"user_id":99999,"event_type":"view"}""").mkString("\n").getBytes)
    import spark.implicits._
    val dim = Seq((10L, "SEG_A")).toDF("c_custkey", "c_mktsegment")
    val q = StreamingOps.fileJsonStream(spark,
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, user_id LONG, event_type STRING"), dir)
      .join(org.apache.spark.sql.functions.broadcast(dim),
        org.apache.spark.sql.functions.col("user_id") === col("c_custkey"))
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // stateless: no state store operators ever ran (the property that
    // makes this join free at scale — vs the stream-stream join's two
    // RocksDB stores)
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.isEmpty,
      "stream-static join must not plan a stateful operator")
    val rows = spark.read.parquet(sink).collect()
    assert(rows.length === 1, "inner join keeps only dim-matched events")
    assert(rows(0).getAs[String]("c_mktsegment") === "SEG_A")
  }

  test("T9: foreachBatch idempotent upsert — latest value per key wins") {
    val table = tmpDir("graft_t9_table")
    val in = MemoryStream[(Long, Long, Double)](spark)
    val events = in.toDF().toDF("event_id", "seq", "value")
    // merge-by-rewrite upsert: union incoming with current, keep the
    // highest seq per key — the foreachBatch escape hatch for sinks
    // without native MERGE; batchId makes redeliveries idempotent
    val q = events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val current =
          try spark.read.parquet(table)
          catch { case _: Throwable => batch.sparkSession.emptyDataFrame
            .select(lit(0L).as("event_id"), lit(0L).as("seq"), lit(0.0).as("value"))
            .limit(0) }
        val merged = current.unionByName(batch.toDF())
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("event_id").orderBy(col("seq").desc)))
          .filter(col("rn") === 1).drop("rn")
        val staged = tmpDir("graft_t9_stage")
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(table)
      }
      .option("checkpointLocation", tmpDir("graft_t9_ckpt"))
      .start()
    in.addData((1L, 1L, 10.0), (2L, 1L, 20.0))
    q.processAllAvailable()
    in.addData((2L, 2L, 25.0), (3L, 1L, 30.0)) // update key 2, insert key 3
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(table)
      .select("event_id", "seq", "value")
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 1L, 10.0), (2L, 2L, 25.0), (3L, 1L, 30.0)))
  }

  test("T2 unified API: stream result equals the batch oracle expression") {
    val batch = Tables.events(spark, sf())
    val streamed = {
      val in = MemoryStream[(Long, Timestamp, String, Double)](spark)
      val q = StreamingOps.tumblingCounts(
        in.toDF().toDF("event_id", "ts", "event_type", "value"), "10 minutes", "0 seconds")
        .writeStream.format("memory").queryName("t2_out")
        .outputMode("complete").start()
      in.addData(batch.select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .as[(Long, Timestamp, String, Double)].collect().toSeq)
      q.processAllAvailable()
      q.stop()
      spark.sql("SELECT w_start, event_type, n FROM t2_out")
    }
    val expected = batch
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"))
    assert(streamed.exceptAll(expected).isEmpty && expected.exceptAll(streamed).isEmpty)
  }

  test("T17: delta sink is batchId-keyed Overwrite subdirs — idempotent " +
      "under batch replay, delta keys unique (ADVICE r16 #3)") {
    val res = SparkEntry.queries("stream_cdc_index_maintain")(spark, sf())
    // three-way equivalence: every vs_* audit row must read full parity
    res.collect().filter(_.getString(0).startsWith("vs_")).foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(2) == r.getLong(3),
        s"audit row not bit-equal: $r")
    }
    val deltaDir = new java.io.File(
      graft.operators.StreamMaintainOps.deltaCache.lastPath)
    // one subdirectory per micro-batch (3 key-disjoint staged files),
    // batchId-keyed so a Structured Streaming batch REPLAY (same
    // batchId) overwrites its own output instead of appending a dup
    val subs = deltaDir.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch_id=")).sorted
    assert(subs.toSeq == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    // no flat part files at the top level — an Append-mode leftover
    // would be exactly the orphan-row hazard the subdir layout kills
    assert(!deltaDir.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")))
    // merge-on-read invariant: every delta key appears exactly once
    val delta = spark.read.parquet(deltaDir.getPath)
    assert(delta.count() == delta.select("doc_id").distinct().count())
    // simulate the replay: re-write batch 1's directory with Overwrite
    // (what a re-executed foreachBatch does) and assert the key census
    // is unchanged
    val before = delta.count()
    // (stage batch 1's rows elsewhere first — Spark refuses a direct
    // self-overwrite of a path it is reading)
    val staged = tmpDir("graft_t17_replay")
    spark.read.parquet(s"${deltaDir.getPath}/batch_id=1")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
    spark.read.parquet(staged)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${deltaDir.getPath}/batch_id=1")
    val after = spark.read.parquet(deltaDir.getPath)
    assert(after.count() == before)
    assert(after.count() == after.select("doc_id").distinct().count())
  }

  test("a stream key deletes its staging and checkpoint directories once drained") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def spent(): Set[String] = Option(tmp.list()).getOrElse(Array.empty[String])
      .filter(_.matches("graft_t\\d+_(stage|ckpt).*")).toSet
    val before = spent()
    val df = SparkEntry.queries("stream_static_enrich")(spark, sf())
    assert(spent() -- before === Set.empty[String])
    // the sink stays: the returned DataFrame still reads it
    assert(df.count() === df.select("event_id").distinct().count())
  }
}
