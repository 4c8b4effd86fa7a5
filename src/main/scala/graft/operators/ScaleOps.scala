package graft.operators

import graft.{Det, OpGroup, Tables}
import graft.functions.{MinHashSignature, Salt}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-pattern operators: the explicit plan shapes a 1000-executor
  * cluster needs when automatic mechanisms aren't enough.
  */
object ScaleOps extends OpGroup {
  import Det._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Salted skew join: lineitem ⋈ supplier on l_suppkey with an 8-way
    // salt. The oracle runs the PLAIN join — asserting salting is a pure
    // physical rewrite with identical results.
    "skew_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      Salt.saltedJoin(li, sup, "suppkey", 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey")
    }),

    // Z-order (Morton) layout stats — multi-dimensional clustering for
    // data skipping: interleaving the low 16 bits of two join/filter
    // keys gives a 1-D sort key under which file/row-group min-max
    // stats stay TIGHT on BOTH dimensions (sorting on one key alone
    // leaves the other's span at full width, so its filters prune
    // nothing). The z-value is pure codegen bit arithmetic; the query
    // reports per-z-bucket spans of both keys — the locality property a
    // lakehouse OPTIMIZE ZORDER write relies on. At 100 TB: write the
    // table repartitionByRange(zvalue)+sortWithinPartitions(zvalue) and
    // both keys' predicates prune files via footer stats.
    "zorder_layout_stats" -> ((s, d) => {
      val z = (0 until 16).map { i =>
        shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(lit(1L)), 2 * i)
          .bitwiseOR(
            shiftleft(shiftright(col("l_suppkey"), i).bitwiseAND(lit(1L)),
              2 * i + 1))
      }.reduce(_ bitwiseOR _)
      val zed = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"))
        .withColumn("z", z)
      // 64 RELATIVE buckets (exact integer division against the
      // broadcast max) so the bucket count is scale-invariant
      zed.crossJoin(broadcast(zed.agg(max(col("z")).as("zmax"))))
        .withColumn("z_bucket", expr("(z * 64) DIV (zmax + 1)"))
        .groupBy("z_bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").as("pk_lo"), max("l_partkey").as("pk_hi"),
          min("l_suppkey").as("sk_lo"), max("l_suppkey").as("sk_hi"))
        .orderBy("z_bucket")
    }),

    // Typed Aggregator (UDAF) surface: per-document MinHash signatures
    // through `udaf(Aggregator)` — partial buffers merge element-wise
    // (commutative monoid), so the shuffle carries 8 longs per doc.
    // The Aggregator's output is persisted as the signature LAYOUT;
    // the declared query derives band pairing + slot agreement from it,
    // which DuckDB re-derives from the same parquet — so the typed-
    // Aggregator surface is hash-verified end-to-end, not just shaped.
    "minhash_udaf_signature" -> ((s, d) => {
      val stored = s.read.parquet(minhash8Layout(s, d))
      graft.functions.TextSim.signatureBandPairs(stored, numBands = 4, rowsPerBand = 2)
        .withColumn("est_jaccard", round(col("n_match").cast("double") / 8.0, 6))
        .withColumn("is_dup", col("n_match") >= 4)
        .orderBy("doc_a", "doc_b")
    }),
  )

  /** UDAF-signature layout, persisted once per (application, dataset): the
    * `udaf(MinHashSignature(8))` pipeline's (doc_id, sig) output. FNV
    * hash values are engine-specific, but persisting them makes them
    * input data for the engine-independent banding downstream.
    */
  private val minhash8LayoutCache = new graft.Layout("graft_minhash8")

  private def minhash8Layout(s: SparkSession, d: String): String =
    minhash8LayoutCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      val minhash8 = udaf(new MinHashSignature(8))
      // Shingles come from explode(sequence) + try_element_at — fully
      // codegen'd — instead of a transform() lambda: higher-order
      // functions are CodegenFallback (interpreted per doc) and also
      // materialize the whole shingle array per row before the explode.
      // try_element_at (not element_at): ANSI mode throws on
      // out-of-bounds, and docs under 3 words index past the end;
      // concat_ws skips the resulting NULLs, so short docs still yield
      // their all-words shingle exactly as slice() did.
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), col("words"),
          explode(sequence(lit(0),
            greatest(size(col("words")) - 3, lit(0)))).as("i"))
        .select(col("doc_id"), concat_ws(" ",
          try_element_at(col("words"), col("i") + 1),
          try_element_at(col("words"), col("i") + 2),
          try_element_at(col("words"), col("i") + 3)).as("shingle"))
        .groupBy("doc_id")
        .agg(minhash8(col("shingle")).as("sig"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    }

  // `def`: the UDAF-signature oracle embeds the session's persisted
  // layout path (Verify runs every query before dumping oracle SQL)
  def oracleSql: Map[String, String] = Map(
    "minhash_udaf_signature" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              minhash8LayoutCache.lastPath, numHashes = 8, numBands = 4,
              rowsPerBand = 2)}
         |SELECT doc_a, doc_b, n_match,
         |       round(CAST(n_match AS DOUBLE) / 8.0, 6) AS est_jaccard,
         |       n_match >= 4 AS is_dup
         |FROM m ORDER BY doc_a, doc_b""".stripMargin,
    "zorder_layout_stats" -> {
      val z = (0 until 16).map { i =>
        s"((((l_partkey >> $i) & 1) << ${2 * i}) | (((l_suppkey >> $i) & 1) << ${2 * i + 1}))"
      }.mkString(" | ")
      s"""WITH zed AS (
         |  SELECT l_partkey, l_suppkey, ($z) AS z FROM lineitem)
         |SELECT (z * 64) // (SELECT max(z) + 1 FROM zed) AS z_bucket,
         |       count(*) AS n_rows,
         |       min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
         |       min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi
         |FROM zed GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
    },
    "skew_salted_join" ->
      s"""SELECT s_nationkey, count(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
  )
}
