package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once persisted-layout cache — the shared shape behind every
  * "offline model / serving layout" operator (IVF cell layout, PQ codes,
  * LSH signatures, MinHash signatures): a derived artifact is
  * materialized as plain parquet ONCE per (application, dataset) and
  * every later invocation — and the DuckDB oracle — reads the SAME
  * files. Three properties matter:
  *
  *   - write-once: the application-scope memo of [[SessionState]]
  *     guarantees one materialization per (dataset, input fingerprint)
  *     however many queries and sessions touch it, so
  *     layout writing is an offline indexing step, never part of the
  *     per-query plan (at 100 TB the layout is written by the ingest
  *     job, full stop);
  *   - versioning: callers pass [[Layout.fingerprint]] of the layout's
  *     INPUT table; the fingerprint is part of both the cache key and
  *     the on-disk path, so a regenerated fixture (different row count
  *     or schema) can never be served a stale layout — it materializes
  *     a fresh path instead (LayoutSpec pins this);
  *   - oracle addressing: [[lastPath]] records the most recently
  *     touched layout so oracle SQL — which has no dataset parameter —
  *     can embed the concrete path. Verify runs every query before
  *     dumping oracle SQL, so the path is always materialized by then
  *     (which is why every OpGroup with a layout oracle declares
  *     `oracleSql` as a `def`).
  */
final class Layout(prefix: String) {
  @volatile private var last: String = s"/tmp/$prefix/UNMATERIALIZED"

  /** Path of the layout for dataset `d` at input fingerprint `fp`,
    * materializing it via `write` (called with the target path) on
    * first touch in the application. The path memo is application scope
    * in [[SessionState]]: every session of one application shares the
    * written files, and the next application writes its own.
    */
  def apply(s: SparkSession, d: String, fp: String = "")(
      write: String => Unit): String = {
    val path = SessionState.application(s)(s"Layout:$prefix", (d, fp)) {
      val suffix = if (fp.isEmpty) "" else s"-$fp"
      val p = s"${SessionState.appDir(s, prefix)}/${math.abs(d.hashCode)}$suffix"
      write(p)
      p
    }
    last = path
    path
  }

  /** Layout most recently touched by a declared query in this process —
    * what the dataset-less oracle SQL reads.
    */
  def lastPath: String = last
}

object Layout {

  /** Content fingerprint of a layout's input table: row count + a hash
    * of the schema. Path-safe, cheap to compute (a count(*) over
    * parquet prunes every column — the scan reads row-group metadata,
    * not data pages), and it changes whenever a fixture is regenerated
    * at a different size or shape — which is exactly when serving a
    * cached layout would be silently wrong. Deliberately NOT a full
    * content hash: same-size same-schema regeneration is
    * indistinguishable, but the write-once contract is per application
    * and fixtures are immutable within one; the fingerprint guards the
    * cross-run / regenerated-fixture edge loudly instead of
    * accidentally.
    *
    * Memoized in [[SessionState]]'s application scope by (semantic plan
    * hash, schema), because every layout ACCESS calls it and each count
    * is a Spark job: one count per (application, input table). A
    * different input within one application (LayoutSpec's regenerated
    * local relations) hashes to a different semantic plan and still
    * recomputes.
    */
  def fingerprint(df: DataFrame): String =
    SessionState.application(df.sparkSession)("Layout.fingerprint",
        (df.queryExecution.analyzed.semanticHash(), df.schema.catalogString)) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sh = md.digest(df.schema.catalogString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      s"n${df.count()}x$sh"
    }
}
