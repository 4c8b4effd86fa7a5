package graft.operators

import java.io.File
import java.nio.file.Files

import graft.{Det, OpGroup, Tables}
import graft.streaming.StreamingOps
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** End-to-end pipeline + side-effecting sink/stream operators declared as
  * runnable queries (SURVEY.md §2.A S3-S5, §2.J T1/T6/T7, §3.1).
  *
  * Each side-effecting query performs its write into a fresh temp
  * directory and returns the *read-back* result, so the DuckDB oracle
  * can assert the round trip (write → layout → re-read) was lossless —
  * the property `bq load --replace` and the GCS staging layer promise.
  */
object PipelineOps extends OpGroup {
  import Det._

  /** §3.1 flagship: the full `GET /artist/<name>/store` trace re-expressed
    * as one Spark plan — resolve (search+limit), album scan, dedup,
    * enrichment joins, track explosion, type-routing, and the run summary
    * (app.py:133-220). One selective pipeline, zero driver-side loops:
    * the resolved artist id travels as a broadcast join, never a collect.
    */
  def artistPipeline(s: SparkSession, d: String): DataFrame = {
    // step 1-2: resolve artist by name (P3: search, limit 1)
    val artist = Tables.customer(s, d)
      .filter(lower(col("c_name")).contains("42"))
      .orderBy("c_custkey").limit(1)
      .select(col("c_custkey"))
    // step 3: album scan — this artist's orders (broadcast the single id)
    val albums = Tables.orders(s, d)
      .join(broadcast(artist), col("o_custkey") === col("c_custkey"))
    // step 4: dedup album ids before enrichment (D1, app.py:164)
    val albumIds = albums.select("o_orderkey").distinct()
    // step 5-6: track gather + enrich (E1/J2)
    val tracks = Tables.lineitem(s, d)
      .join(broadcast(albumIds), col("l_orderkey") === col("o_orderkey"))
    // step 7: type-routing (P4) + run summary (G1, app.py:213-220)
    tracks
      .withColumn("route",
        when(col("l_returnflag") === "R", "returns").otherwise("keeps"))
      .groupBy("route")
      .agg(countDistinct(col("l_orderkey")).as("albums_stored"),
        count(lit(1)).as("tracks_stored"),
        dsum(col("l_quantity")).as("total_quantity"))
      .orderBy("route")
  }

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Runs `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the caller's value after. A stateful stream materializes
    * ONE state-store instance (directory, snapshot/maintenance files,
    * provider) per shuffle partition at first start — for a bounded
    * AvailableNow demo stream, 32 instances are pure fixed overhead.
    * At cluster scale the same knob is sized to the stream's real key
    * cardinality, not to the batch session default.
    */
  /** Stateful-stream sizing rule: shuffle.partitions at the FIRST run
    * of a stateful query fixes its state-store-instance count (it is
    * baked into the checkpoint), and every micro-batch pays store
    * open/commit once per instance — so the demos pin a small count to
    * keep the fixture floor honest, and a 100× deployment raises the
    * SAME knob (stores scale with partitions; the plan is unchanged).
    * StreamingSpec pins numShufflePartitions == the session conf.
    */
  private def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Runs `body` with the post-data no-data micro-batch disabled,
    * restoring the caller's value after (r19). A bounded AvailableNow
    * demo stream pays one extra trigger after the last data batch
    * whose only job is watermark-driven state EVICTION — for the keys
    * below the sink rows are already final when it fires (inner join
    * emits eagerly; dedup emits per data batch; the late-drop windows
    * closed by the final watermark were already emitted by the last
    * DATA batch, whose watermark the carrier-file design advanced),
    * so skipping it drops a whole trigger's fixed cost without moving
    * a row. Correctness is value-exact-oracle-checked per key, at
    * every SF. At production scale a CONTINUOUS stream keeps the
    * default: eviction timeliness matters when the query never ends.
    */
  private def withoutNoDataBatches[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None => s.conf.unset(key)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "artist_pipeline_e2e" -> artistPipeline,

    // S3 — per-entity document staging (app.py:201-211: one object per
    // entity id): Hive layout keyed by entity id, re-read losslessly.
    "stage_json_roundtrip" -> ((s, d) => {
      val out = freshDir("graft_s3_stage")
      Tables.nation(s, d).write.mode(SaveMode.Overwrite)
        .partitionBy("n_nationkey").json(out)
      // explicit read schema: the schema is KNOWN at staging time, and
      // inference would re-read every staged file once just to derive
      // it (the partition column n_nationkey types from the dir names)
      s.read.schema("n_name STRING, n_regionkey BIGINT, n_nationkey INT")
        .json(out)
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),

    // S4 — type-routed partitioned sink (app.py:207): route=... dirs,
    // verified by reading the partitioned layout back.
    "sink_partition_by_type" -> ((s, d) => {
      val out = freshDir("graft_s4_sink")
      Tables.events(s, d)
        .withColumn("route",
          when(col("event_type") === "click", "clicks").otherwise("other"))
        .write.mode(SaveMode.Overwrite).partitionBy("route").parquet(out)
      s.read.parquet(out)
        .groupBy("route").agg(count(lit(1)).as("n"))
        .orderBy("route")
    }),

    // S5 — full-refresh overwrite (bq load --replace, README.md:188):
    // second write fully replaces the first; the read-back proves it.
    "sink_overwrite_replace" -> ((s, d) => {
      val out = freshDir("graft_s5_sink")
      Tables.nation(s, d).write.mode(SaveMode.Overwrite).parquet(out)
      Tables.region(s, d).write.mode(SaveMode.Overwrite).parquet(out)
      s.read.parquet(out).orderBy("r_regionkey")
    }),

    // T1 — file-source stream: stage events as JSON, consume with a
    // checkpointed AvailableNow stream into a parquet sink, return the
    // sink. Exactly-once over the staged files ⇒ equals the batch scan.
    "stream_file_source" -> ((s, d) => {
      val stage = freshDir("graft_t1_stage")
      val sink = freshDir("graft_t1_sink")
      val ckpt = freshDir("graft_t1_ckpt")
      val schema =
        StructType.fromDDL("event_id LONG, ts_us LONG, event_type STRING, value DOUBLE")
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).json(stage)
      val q = StreamingOps.fileJsonStream(s, schema, stage)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      // staging and checkpoint are spent once the stream has drained; the
      // sink stays, as the returned DataFrame reads it lazily
      try q.awaitTermination()
      finally Seq(stage, ckpt).foreach(p => FileUtils.deleteDirectory(new File(p)))
      // the stream's schema is known: inferring it would run a job
      s.read.schema(schema).parquet(sink)
        .select("event_id", "ts_us", "event_type", "value")
        .orderBy("event_id")
    }),

    // T6 — streaming dedup: feed each event TWICE through the stream;
    // dropDuplicatesWithinWatermark emits each event_id exactly once.
    // A deterministic 1/5 slice keeps the staging volume cheap at bench
    // scale — dedup semantics need duplicates, not the whole table.
    "stream_dedup" -> ((s, d) => {
      val stage = freshDir("graft_t6_stage")
      val sink = freshDir("graft_t6_sink")
      val ckpt = freshDir("graft_t6_ckpt")
      val ev = Tables.events(s, d)
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
      ev.unionByName(ev) // planted duplicates
        .write.mode(SaveMode.Overwrite).json(stage)
      val stream = StreamingOps.fileJsonStream(s,
          StructType.fromDDL("event_id LONG, ts_us LONG, event_type STRING"),
          stage)
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
      withShufflePartitions(s, 1) { withoutNoDataBatches(s) {
        val q = StreamingOps.dedupWithinWatermark(stream, "7 days")
          .select("event_id", "event_type")
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.read.parquet(sink).orderBy("event_id")
    }),

    // T10 — foreachBatch merge-on-read upsert: the production sink
    // pattern (Delta/Iceberg MERGE's streaming driver). Staged CDC
    // files replay as an ORDERED micro-batch sequence
    // (maxFilesPerTrigger=1 over event_id-hashed files); each batch
    // pre-shrinks to its per-key latest (map-side combinable) and
    // APPENDS a delta file — the merge-on-read layout — and the read
    // side resolves keep-latest over the total (ts_us, event_id)
    // recency order. The resolved table is independent of HOW the
    // stream was batched (keep-latest is associative), which is what
    // makes a full value-exact oracle possible; the checkpoint makes
    // each staged file exactly-once.
    "stream_foreachbatch_upsert" -> ((s, d) => {
      val stage = freshDir("graft_t10_stage")
      val target = freshDir("graft_t10_target")
      val ckpt = freshDir("graft_t10_ckpt")
      val ev = Tables.events(s, d)
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      ev.repartition(4, col("event_id"))
        .write.mode(SaveMode.Overwrite).json(stage)
      val schema = StructType.fromDDL(
        "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, " +
          "cents LONG")
      val stream = StreamingOps.fileJsonStream(s, schema, stage,
        maxFilesPerTrigger = Some(1))
      withShufflePartitions(s, 1) { withoutNoDataBatches(s) {
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
              .orderBy(col("ts_us").desc, col("event_id").desc)
            batch.withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
              .write.mode(SaveMode.Append).parquet(target)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      s.read.parquet(target)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("user_id", "event_id", "ts_us", "event_type", "cents")
        .orderBy("user_id")
    }),

    // T5 — watermark late-drop (the GCS staging-TTL analog): pass 1
    // streams all events through a watermarked tumbling aggregation;
    // pass 2 re-delivers the OLDEST event — its window closed long ago
    // (watermark from the checkpoint sits at max(ts) - 30 min), so the
    // re-delivery is discarded and the final sink equals the clean batch
    // aggregation over closed windows. r10: that equality IS the SQL
    // oracle — batch windowed agg over the slice, restricted to windows
    // with end <= final watermark (max event-ms - 30 min) — so T5 gets
    // a full value-exact check (the T8 bounded-input precedent);
    // StreamingSpec still pins the late-drop semantics on MemoryStream.
    "watermark_late_drop" -> ((s, d) => {
      val stage = freshDir("graft_t5_stage")
      val sink = freshDir("graft_t5_sink")
      val ckpt = freshDir("graft_t5_ckpt")
      // a deterministic 1/20 slice keeps the streaming pass cheap at
      // bench scale — late-drop semantics only need SOME events spanning
      // the time range, not all of them
      val ev = Tables.events(s, d)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      // staged batch 1: the clean slice, as ONE file (this is the
      // batch-boundary rig, not the scale path); staged batch 2: a late
      // re-delivery of the earliest event, written after batch 1 so the
      // oldest-first file queue orders it second
      ev.coalesce(1).write.mode(SaveMode.Overwrite).json(stage)
      val before = Option(new java.io.File(stage).listFiles()).getOrElse(Array())
        .filter(_.getName.endsWith(".json")).map(_.getName).toSet
      ev.orderBy("ts_us").limit(1)
        .write.mode(SaveMode.Append).json(stage)
      // the re-delivery file must be STRICTLY newer than every clean
      // file: FileStreamSource orders the queue by modification time,
      // and both writes land within the same ms — a tie (or inversion)
      // puts the late row in the FIRST batch, where the watermark is
      // still 0 and nothing is dropped (exactly what the r10 oracle
      // caught: the first window counted the re-delivery)
      val all = Option(new java.io.File(stage).listFiles()).getOrElse(Array())
        .filter(_.getName.endsWith(".json"))
      val newest = all.filter(f => before(f.getName)).map(_.lastModified).max
      all.filterNot(f => before(f.getName))
        .foreach(f => f.setLastModified(newest + 10000))
      // watermark-carrier micro-batch: Spark filters LATE EVENTS with
      // the PREVIOUS batch's watermark while EVICTING with the current
      // one (the SPARK-24634 split), so a re-delivery arriving in the
      // very next batch after the clean slice is filtered against
      // watermark 0 and silently COUNTED (the r10 oracle caught this).
      // An empty file between the two gives the advanced watermark one
      // batch to become "previous", making the drop actually happen.
      val carrier = new java.io.File(stage, "part-99999-wm-carrier.json")
      carrier.createNewFile()
      carrier.setLastModified(newest + 5000)
      // ONE AvailableNow cycle, one file per micro-batch: the watermark
      // advances to max(ts) - 30 min after batch 1, so batch 2's
      // re-delivery lands behind it and is dropped — same semantics as a
      // checkpoint-restart redelivery at half the streaming overhead
      val stream = StreamingOps.fileJsonStream(s,
          StructType.fromDDL("event_id LONG, ts_us LONG, event_type STRING, value DOUBLE"),
          stage, maxFilesPerTrigger = Some(1))
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
      withShufflePartitions(s, 1) { withoutNoDataBatches(s) {
        val q = StreamingOps.tumblingCounts(stream, "10 minutes", "30 minutes")
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.read.parquet(sink).orderBy("w_start", "event_type")
    }),

    // T8 — stream-stream inner join: clicks ⋈ purchases on user within a
    // 6-hour event-time bound, both sides watermarked (state for a key
    // is dropped once the watermark passes its join window — bounded
    // state, the property that makes the join run forever at scale).
    // Input is bounded and the watermark delay exceeds the staged
    // disorder, so NOTHING is dropped and the append-mode result equals
    // the batch join — which is exactly the DuckDB oracle.
    "stream_stream_join" -> ((s, d) => {
      val stageC = freshDir("graft_t8_clicks")
      val stageP = freshDir("graft_t8_purch")
      val sink = freshDir("graft_t8_sink")
      val ckpt = freshDir("graft_t8_ckpt")
      val ev = Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"))
      ev.filter(col("event_id") % 10 === 0)
        .write.mode(SaveMode.Overwrite).json(stageC)
      ev.filter(col("event_id") % 10 === 1)
        .write.mode(SaveMode.Overwrite).json(stageP)
      val ddl = "event_id LONG, ts_us LONG, user_id LONG"
      def side(dir: String, pre: String) =
        StreamingOps.fileJsonStream(s, StructType.fromDDL(ddl), dir)
          .select(col("event_id").as(s"${pre}_id"),
            expr("timestamp_micros(ts_us)").as(s"${pre}_ts"),
            col("user_id").as(s"${pre}_user"))
          .withWatermark(s"${pre}_ts", "2 hours")
      withShufflePartitions(s, 1) { withoutNoDataBatches(s) {
        val q = side(stageC, "click").join(side(stageP, "purch"),
            expr("""click_user = purch_user AND
                   |click_ts BETWEEN purch_ts - INTERVAL 6 HOUR
                   |AND purch_ts""".stripMargin))
          .select(col("click_id"), col("purch_id"), col("click_user"),
            unix_micros(col("click_ts")).as("click_us"),
            unix_micros(col("purch_ts")).as("purch_us"))
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } }
      s.read.parquet(sink).orderBy("click_id", "purch_id")
    }),

    // T9 — stream-static enrichment: the reference's per-entity
    // enrichment join (app.py:169 merges fetched detail onto each
    // staged album) in its streaming form — a live event feed joined to
    // a STATIC dimension. Stateless: the static side is planned as a
    // broadcast against every micro-batch, no state store, no
    // watermark needed for correctness — THE cheapest streaming join,
    // and the right plan at 100 TB (dim broadcast once per executor,
    // stream never shuffles).
    "stream_static_enrich" -> ((s, d) => {
      val stage = freshDir("graft_t9_stage")
      val sink = freshDir("graft_t9_sink")
      val ckpt = freshDir("graft_t9_ckpt")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode(SaveMode.Overwrite).json(stage)
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val q = StreamingOps.fileJsonStream(s,
          StructType.fromDDL("event_id LONG, user_id LONG, event_type STRING"),
          stage)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "event_type", "c_mktsegment")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.read.parquet(sink)
        .select("event_id", "user_id", "event_type", "c_mktsegment")
        .orderBy("event_id")
    }),

    // T7 — token-cache keyed state in its batch form (same serveTokens
    // state function the stream runs; StreamingSpec covers the streaming
    // path). The recursive per-client state IS SQL-expressible: a
    // linear recursive CTE walks the ts-ordered requests carrying
    // (seq, expiresAt) — see the oracle. Ties at equal ts yield the
    // same GRANT multiset whichever request mints (all carry the same
    // expiresIn), so the result is total-order comparable; `minted`
    // joins the sort keys to pin the within-tie row order.
    "stateful_token_cache" -> ((s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select((col("user_id") % 5).cast("string").as("client"),
          unix_timestamp(col("ts")).as("ts"), lit(600L).as("expiresIn"))
        .as[StreamingOps.TokenRequest]
        .groupByKey(_.client)
        .flatMapGroups { (client: String, it: Iterator[StreamingOps.TokenRequest]) =>
          StreamingOps.serveTokens(it, None)._1
        }
        .toDF()
        .orderBy("client", "ts", "tokenSeq", "minted")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // the serveTokens recurrence as a LINEAR RECURSIVE CTE: walk each
    // client's ts-ordered requests carrying (seq, expiresAt); mint when
    // ts >= expiresAt - 60, else serve cached. epoch_us // 1e6 floors
    // to seconds exactly like Spark's unix_timestamp (DuckDB's epoch()
    // ROUNDS — off by one second on .5+ fractions).
    "stateful_token_cache" ->
      """WITH RECURSIVE reqs AS (
        |  SELECT client, ts,
        |         row_number() OVER (PARTITION BY client ORDER BY ts) AS rn
        |  FROM (SELECT CAST(user_id % 5 AS VARCHAR) AS client,
        |               epoch_us(ts) // 1000000 AS ts FROM events)),
        |walk AS (
        |  SELECT client, rn, ts, CAST(0 AS BIGINT) AS seq,
        |         ts + 600 AS exp, true AS minted
        |  FROM reqs WHERE rn = 1
        |  UNION ALL
        |  SELECT r.client, r.rn, r.ts,
        |         CASE WHEN r.ts < w.exp - 60 THEN w.seq ELSE w.seq + 1 END,
        |         CASE WHEN r.ts < w.exp - 60 THEN w.exp ELSE r.ts + 600 END,
        |         r.ts >= w.exp - 60
        |  FROM walk w JOIN reqs r ON r.client = w.client AND r.rn = w.rn + 1)
        |SELECT client, ts, seq AS tokenSeq, minted FROM walk
        |ORDER BY client, ts, tokenSeq, minted""".stripMargin,
    "artist_pipeline_e2e" ->
      s"""WITH artist AS (
         |  SELECT c_custkey FROM customer
         |  WHERE contains(lower(c_name), '42')
         |  ORDER BY c_custkey LIMIT 1),
         |albums AS (
         |  SELECT DISTINCT o_orderkey FROM orders
         |  WHERE o_custkey = (SELECT c_custkey FROM artist)),
         |tracks AS (
         |  SELECT l.*, CASE WHEN l_returnflag = 'R' THEN 'returns'
         |                   ELSE 'keeps' END AS route
         |  FROM lineitem l JOIN albums ON l_orderkey = o_orderkey)
         |SELECT route, count(DISTINCT l_orderkey) AS albums_stored,
         |       count(*) AS tracks_stored,
         |       ${dsumSql("l_quantity")} AS total_quantity
         |FROM tracks GROUP BY route ORDER BY route""".stripMargin,
    "stage_json_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "sink_partition_by_type" ->
      """SELECT CASE WHEN event_type = 'click' THEN 'clicks' ELSE 'other' END AS route,
        |       count(*) AS n
        |FROM events GROUP BY route ORDER BY route""".stripMargin,
    "sink_overwrite_replace" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "stream_file_source" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    "stream_dedup" ->
      """SELECT event_id, event_type FROM events
        |WHERE event_id % 5 = 0 ORDER BY event_id""".stripMargin,
    // T10: the merge-on-read resolve is batching-independent, so the
    // oracle is the plain batch keep-latest over the staged slice
    "stream_foreachbatch_upsert" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 10 = 0),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_id, ts_us, event_type, cents
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // T5 structural oracle (r10, VERDICT r9 ask #4): the append-mode
    // sink equals the BATCH windowed agg over the 1/20 slice restricted
    // to windows CLOSED by the final watermark. Mechanics mirrored
    // exactly: Spark's watermark is max event-time in TRUNCATED ms
    // minus the 30-min delay (EventTimeStats collects us DIV 1000), a
    // window is emitted when window.end <= watermark, and the late
    // re-delivery is dropped (its window closed long before), so it
    // never perturbs a count. sum_value is decimal-routed on both
    // sides (tumblingCounts uses dsum), so the compare is value-exact.
    "watermark_late_drop" ->
      s"""WITH ev AS (
         |  SELECT ts, epoch_us(ts) AS us, event_type, value
         |  FROM events WHERE event_id % 20 = 0),
         |wm AS (SELECT max(us) // 1000 - 1800000 AS wm_ms FROM ev),
         |agg AS (
         |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS w_start,
         |         event_type, CAST(count(*) AS BIGINT) AS n,
         |         ${dsumSql("value")} AS sum_value
         |  FROM ev GROUP BY w_start, event_type)
         |SELECT w_start, event_type, n, sum_value
         |FROM agg CROSS JOIN wm
         |WHERE (w_start + 600) * 1000 <= wm_ms
         |ORDER BY w_start, event_type""".stripMargin,
    // batch join = the stream-stream join's append-mode result on
    // bounded input (watermark delay > staged disorder ⇒ zero drops)
    "stream_stream_join" ->
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events),
        |c AS (SELECT event_id AS click_id, ts_us AS click_us, user_id
        |      FROM ev WHERE event_id % 10 = 0),
        |p AS (SELECT event_id AS purch_id, ts_us AS purch_us, user_id
        |      FROM ev WHERE event_id % 10 = 1)
        |SELECT click_id, purch_id, c.user_id AS click_user,
        |       click_us, purch_us
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND click_us BETWEEN purch_us - 21600000000 AND purch_us
        |ORDER BY click_id, purch_id""".stripMargin,
    // the stream-static join is stateless, so on bounded input its
    // append-mode result IS the batch equi-join
    "stream_static_enrich" ->
      """SELECT event_id, user_id, event_type, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
  )
}
