package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY.md §2.J): the reference's
  * HTTP-triggered micro-batch ingestion into a TTL'd staging queue
  * (app.py:229-239, terraform/main.tf:50-57) re-expressed as file-source
  * streams, watermarked window aggregations, within-watermark dedup, and
  * keyed state with expiry (the token cache, app.py:61-78).
  *
  * All transforms are unified-API: the same expressions run in batch
  * (StreamBatchOps oracles T2-T4) and on streams (StreamingSpec drives
  * them through MemoryStream / file sources with Trigger.AvailableNow).
  *
  * Scale notes: watermarks bound state (the T5 analog of the 7-day GCS
  * lifecycle); dropDuplicatesWithinWatermark keys state by event_id and
  * evicts on watermark advance — exactly-once per id without unbounded
  * memory; flatMapGroupsWithState keeps one small state object per key
  * with a processing-time timeout.
  */
object StreamingOps {

  /** T1 — watch a folder of staged JSON files under a declared schema;
    * each file processed exactly once (checkpointed file index).
    * `maxFilesPerTrigger` bounds files per micro-batch — with the default
    * oldest-first file ordering it turns a staged file sequence into an
    * ordered batch sequence (watermarks advance BETWEEN batches, which is
    * what late-drop semantics need).
    */
  def fileJsonStream(spark: SparkSession, schema: StructType, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(dir)
  }

  /** T2/T5 — tumbling-window counts with a watermark that drops late
    * rows past `ttl` (the staging-TTL analog). Works on any frame with
    * (ts TIMESTAMP, event_type STRING, value DOUBLE).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes",
      ttl: String = "7 days"): DataFrame =
    events
      .withWatermark("ts", ttl)
      .groupBy(window(col("ts"), window_), col("event_type"))
      // dsum (decimal-routed) so the per-window double is independent
      // of micro-batch/partial-agg order — what lets T5 carry a full
      // value-exact oracle instead of a rows-only check
      .agg(count(lit(1)).as("n"), graft.Det.dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** T8 — stream-stream interval join with a watermark on BOTH sides:
    * each click joins every view by the same user in the preceding
    * `horizon`. The event-time bound lets Spark evict both join states
    * as the (global min) watermark advances — without it a stream-stream
    * join buffers forever. Batch twin: `interval_join_attribution`.
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
      horizon: String = "5 minutes", ttl: String = "30 minutes"): DataFrame =
    views.withWatermark("v_ts", ttl)
      .join(clicks.withWatermark("c_ts", ttl),
        expr(s"""user_id = c_user AND
                |c_ts >= v_ts AND c_ts <= v_ts + INTERVAL $horizon""".stripMargin))

  /** T6 — exactly-once per `event_id` within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, ttl: String = "7 days"): DataFrame =
    events.withWatermark("ts", ttl)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- T7: token cache as keyed state (app.py:61-78) -------------------

  /** One token request: client asks at `ts` (epoch s) with a token
    * lifetime of `expiresIn` seconds.
    */
  case class TokenRequest(client: String, ts: Long, expiresIn: Long)

  /** Outcome: the token serving the request, and whether it was minted
    * now (cache miss / expiry-60s refresh) or served from cache.
    */
  case class TokenGrant(client: String, ts: Long, tokenSeq: Long, minted: Boolean)

  /** Cached per-client state: last minted token seq + its expiry. */
  case class TokenState(tokenSeq: Long, expiresAt: Long)

  /** The reference's cache rule (app.py:63-78): reuse while
    * `now < expires_at - 60`, else mint a token expiring at
    * `now + expires_in`. Requests inside one batch are processed in
    * `ts` order for determinism.
    */
  def serveTokens(requests: Iterator[TokenRequest],
      state: Option[TokenState]): (List[TokenGrant], Option[TokenState]) = {
    var st = state
    var nextSeq = st.map(_.tokenSeq + 1).getOrElse(0L)
    val out = requests.toList.sortBy(r => (r.ts, r.expiresIn)).map { r =>
      st match {
        case Some(TokenState(seq, exp)) if r.ts < exp - 60 =>
          TokenGrant(r.client, r.ts, seq, minted = false)
        case _ =>
          val g = TokenGrant(r.client, r.ts, nextSeq, minted = true)
          st = Some(TokenState(nextSeq, r.ts + r.expiresIn))
          nextSeq += 1
          g
      }
    }
    (out, st)
  }

  case class KeyCount(n: Long, lastTs: Long)
  case class ExpiryEvent(user_id: Long, kind: String, n: Long)

  /** Keyed running count with EVENT-TIME state timeout — the staging
    * TTL / token-expiry rule expressed as state-store EVICTION: a key
    * idle past `gapMs` of event time is removed when the watermark
    * passes its deadline, emitting a final ("expired", n) tombstone.
    * This is what bounds state size on a forever-running keyed stream:
    * without a timeout, every key ever seen stays in the store.
    */
  def expiringCounts(events: Dataset[(Long, java.sql.Timestamp)],
      gapMs: Long = 30 * 60 * 1000L): Dataset[ExpiryEvent] = {
    import events.sparkSession.implicits._
    events.toDF("user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KeyCount, ExpiryEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: Long, it: Iterator[(Long, java.sql.Timestamp)],
         gs: GroupState[KeyCount]) =>
          if (gs.hasTimedOut) {
            val n = gs.get.n
            gs.remove() // eviction: the key's state leaves the store
            Iterator(ExpiryEvent(k, "expired", n))
          } else {
            val rows = it.toList
            val maxTs = rows.map(_._2.getTime).max
            val n = (if (gs.exists) gs.get.n else 0L) + rows.size
            gs.update(KeyCount(n, maxTs))
            // deadline: last + gap, clamped STRICTLY past the current
            // watermark — a straggler more than gapMs late would
            // otherwise compute a deadline <= watermark, which Spark
            // rejects with IllegalArgumentException and fails the whole
            // query; clamping expires such a key at the next microbatch
            // instead (the semantics the timeout is for)
            gs.setTimeoutTimestamp(
              math.max(gs.getCurrentWatermarkMs() + 1, maxTs + gapMs))
            Iterator(ExpiryEvent(k, "active", n))
          }
      }
  }

  /** T7 — keyed state with timeout over a request stream. */
  def tokenCacheStream(reqs: Dataset[TokenRequest]): Dataset[TokenGrant] = {
    import reqs.sparkSession.implicits._
    reqs.groupByKey(_.client)
      .flatMapGroupsWithState[TokenState, TokenGrant](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[TokenRequest], gs: GroupState[TokenState]) =>
          val (grants, newState) =
            serveTokens(it, if (gs.exists) Some(gs.get) else None)
          newState.foreach(gs.update)
          grants.iterator
      }
  }

  /** The same token cache on Spark 4's `transformWithState` — the
    * arbitrary-state API that supersedes flatMapGroupsWithState: typed
    * state handles (value/list/map) in the RocksDB store, per-state TTL,
    * timers, and state-schema evolution. One `ValueState[TokenState]`
    * per client carries exactly the fields `serveTokens` needs, so both
    * APIs must emit identical grants (StreamingSpec asserts it).
    */
  class TokenCacheProcessor
      extends StatefulProcessor[String, TokenRequest, TokenGrant] {
    @transient private var state: ValueState[TokenState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TokenState]("tokenState",
        org.apache.spark.sql.Encoders.product[TokenState], TTLConfig.NONE)
    override def handleInputRows(client: String, rows: Iterator[TokenRequest],
        timers: TimerValues): Iterator[TokenGrant] = {
      val (grants, newState) =
        serveTokens(rows, if (state.exists()) Some(state.get()) else None)
      newState.foreach(state.update)
      grants.iterator
    }
  }

  /** T7b — transformWithState needs the RocksDB state store provider;
    * callers set `spark.sql.streaming.stateStore.providerClass` to
    * `...RocksDBStateStoreProvider` on the session (StreamingSpec does).
    */
  def tokenCacheStreamTws(reqs: Dataset[TokenRequest]): Dataset[TokenGrant] = {
    import reqs.sparkSession.implicits._
    reqs.groupByKey(_.client)
      .transformWithState(new TokenCacheProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
