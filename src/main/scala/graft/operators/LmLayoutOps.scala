package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus bigram LM as a MAINTAINED SERVING LAYOUT (round 18,
  * VERDICT r17 ask #6) — the CDC-incremental sibling of
  * [[IncrementalBm25Ops]] for the language-model state five declared
  * queries previously rebuilt per invocation (M1 `bigram_lm_perplexity`,
  * M1b `cross_entropy_by_source`, M1c `doremi_excess_loss_reweight`,
  * M26 `rho_loss_selection`, M39 `ccnet_ppl_bucket_filter`). At 100 TB
  * the add-one bigram model is INDEX STATE written by the ingest job —
  * a CCNet-style perplexity filter never re-counts the corpus per
  * query — so the model tables persist as parquet and maintain under
  * the same deterministic CDC batch rule the sibling layouts replay
  * (doc_id % 10 = 3 → UPDATE dropping the first 5 words, = 7 → DELETE,
  * = 1 → INSERT a copy at doc_id + 1e9):
  *
  *   - the four model tables: `p` = bigram counts (w1, w2, c2),
  *     `p.c1` = bigram-prefix counts (w1, c1), `p.uni` = unigram
  *     occurrence counts (w, cu), `p.stats` = the broadcast scalars
  *     (v = |vocab|, nn = total tokens);
  *   - counts maintain ADDITIVELY: the batch's retired docs (updates'
  *     old text + deletes — the CDC before-image, batch-sized) and
  *     fresh docs (updates' new text + inserts) are the ONLY text ever
  *     re-tokenized; their count deltas fold into the persisted tables
  *     with a vocab-bounded full-outer merge (counts hitting 0 drop);
  *   - (v, nn) re-derive from the folded unigram table — vocab-sized,
  *     never corpus-sized.
  *
  * Correctness contract (checked, not trusted): `incremental_lm_maintain`
  * compares the maintained model against a from-scratch rebuild of the
  * post-merge corpus — c2/c1/uni key-by-key with count equality, the
  * (v, nn) scalars exactly — AND the thing a consumer actually reads is
  * compared end-to-end: the perplexity top-10 of the post-merge corpus
  * (M1's formula, identical expression text) scored from the MAINTAINED
  * model must match the REBUILD's rank-for-rank, doc-for-doc,
  * score-bit-for-score-bit. The DuckDB oracle reads the maintained
  * parquet and rebuilds the post-merge model itself from the documents
  * table — an independent engine's ground truth.
  *
  * 100 TB shape: batch deltas are batch-sized aggregates; the folds
  * touch model tables (vocab²-bounded, NOT corpus-bounded); the rebuild
  * exists only as audit ground truth. Consumers join the corpus bigram
  * stream against the persisted tables exactly as they joined the
  * freshly-built ones — one corpus scan, no model re-count.
  *
  * Reference basis: the reference stages documents to BigQuery for
  * corpus statistics (/root/reference/app.py:129-152); a maintained
  * model table is how that statistic survives the next crawl without a
  * full recompute.
  */
object LmLayoutOps extends OpGroup {

  private val InsertShift = 1000000000L

  /** (doc_id, w1, w2) bigram occurrences of a (doc_id, text) corpus —
    * the ONE tokenization the base build, the batch re-encode, and
    * every consumer run (split-on-space, the corpus-wide convention).
    */
  private[operators] def bigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(a) - 1),
          |  i -> named_struct('w1', element_at(a, i), 'w2', element_at(a, i + 1)))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))

  /** Write the four model tables from a (doc_id, text) corpus. The
    * (v, nn) scalars derive from the PERSISTED unigram table so stats
    * and uni can never drift.
    */
  private def writeLm(s: SparkSession, p: String, docs: DataFrame): Unit = {
    val bi = bigrams(docs)
    bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .write.mode(SaveMode.Overwrite).parquet(p)
    bi.groupBy("w1").agg(count(lit(1)).as("c1"))
      .write.mode(SaveMode.Overwrite).parquet(s"$p.c1")
    tokens(docs).groupBy("w").agg(count(lit(1)).as("cu"))
      .write.mode(SaveMode.Overwrite).parquet(s"$p.uni")
    statsFromUni(s, p)
  }

  private def statsFromUni(s: SparkSession, p: String): Unit =
    s.read.parquet(s"$p.uni")
      .agg(count(lit(1)).as("v"), sum("cu").as("nn"))
      .write.mode(SaveMode.Overwrite).parquet(s"$p.stats")

  /** Pre-CDC serving model — the offline build every consumer reads
    * (at 100 TB this is the ingest job's output).
    */
  private[operators] val baseCache = new graft.Layout("graft_lm_base")

  private[graft] def baseLm(s: SparkSession, d: String): String =
    baseCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      writeLm(s, p, Tables.documents(s, d).select(col("doc_id"), col("text")))
    }

  /** Incrementally-maintained model: batch-only re-tokenization +
    * additive count folds.
    */
  private[operators] val incCache = new graft.Layout("graft_lm_inc")

  private[graft] def incLm(s: SparkSession, d: String): String =
    incCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      val baseP = baseLm(s, d)
      val m = col("doc_id") % 10
      // the CDC before-image: updates' OLD text + deletes — batch-sized
      val retired = Tables.documents(s, d).filter(m.isin(3, 7))
        .select(col("doc_id"), col("text"))
      val fresh = IncrementalMaintainOps.freshBatchDocs(s, d)
      // additive fold of a persisted count table with a signed
      // batch-delta (counts reaching 0 drop — a vanished bigram must
      // not survive as a 0-count row the smoothing would misread)
      def fold(base: DataFrame, delta: DataFrame, keys: Seq[String],
          cnt: String): DataFrame =
        base.join(delta, keys, "full_outer")
          .select(keys.map(col) :+
            (coalesce(col(cnt), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as(cnt): _*)
          .filter(col(cnt) > 0)
      def delta(neg: DataFrame, pos: DataFrame, keys: Seq[String]): DataFrame =
        neg.groupBy(keys.map(col): _*).agg((-count(lit(1))).as("dn"))
          .unionByName(
            pos.groupBy(keys.map(col): _*).agg(count(lit(1)).as("dn")))
          .groupBy(keys.map(col): _*).agg(sum("dn").as("dn"))
      val biR = bigrams(retired)
      val biF = bigrams(fresh)
      fold(s.read.parquet(baseP), delta(biR, biF, Seq("w1", "w2")),
        Seq("w1", "w2"), "c2")
        .write.mode(SaveMode.Overwrite).parquet(p)
      fold(s.read.parquet(s"$baseP.c1"),
        delta(biR.select("w1"), biF.select("w1"), Seq("w1")),
        Seq("w1"), "c1")
        .write.mode(SaveMode.Overwrite).parquet(s"$p.c1")
      fold(s.read.parquet(s"$baseP.uni"),
        delta(tokens(retired), tokens(fresh), Seq("w")),
        Seq("w"), "cu")
        .write.mode(SaveMode.Overwrite).parquet(s"$p.uni")
      statsFromUni(s, p)
    }

  /** From-scratch rebuild on the post-merge corpus — audit ground
    * truth, never served.
    */
  private[operators] val rebuildCache = new graft.Layout("graft_lm_rebuild")

  private[graft] def rebuildLm(s: SparkSession, d: String): String =
    rebuildCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      writeLm(s, p, IncrementalMaintainOps.postMergeDocs(s, d))
    }

  /** Perplexity top-10 of `docs` scored from a persisted model — the
    * consumer-visible read both layouts must answer identically (M1's
    * expression text verbatim).
    */
  private def pplTopFromModel(model: DataFrame, c1: DataFrame,
      stats: DataFrame, big: DataFrame): DataFrame = {
    big
      .join(model, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(stats.select("v")))
      .withColumn("nll", expr(LangModelOps.nllSql))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("nll_sum"))
      .withColumn("avg_nll_fp", expr("nll_sum DIV n_bigrams"))
      .orderBy(col("avg_nll_fp").desc, col("doc_id")).limit(10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("avg_nll_fp").desc, col("doc_id"))))
      .select("rank", "doc_id", "avg_nll_fp")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C26 — the maintenance audit (the incremental_bm25_maintain row
    // shape): maintained model vs frozen-tokenization rebuild. Laws
    // visible in the output: c2/c1/uni parity rows read three equal
    // counts; corpus_stats reads (inc nn, reb nn, nn if (v, nn) both
    // equal); ppl_topk_parity reads 10/10/10 — the consumer-visible
    // equality that makes the maintenance worth trusting.
    "incremental_lm_maintain" -> ((s, d) => {
      val incP = incLm(s, d)
      val rebP = rebuildLm(s, d)
      def parity(label: String, inc: DataFrame, reb: DataFrame,
          keys: Seq[String], cnt: String): DataFrame = {
        val rebR = reb.withColumnRenamed(cnt, s"${cnt}_r")
        inc.agg(count(lit(1)).as("n_rows"))
          .crossJoin(broadcast(reb.agg(count(lit(1)).as("n_in_rebuild"))))
          .crossJoin(broadcast(inc.join(rebR, keys)
            .filter(col(cnt) === col(s"${cnt}_r"))
            .agg(count(lit(1)).as("n_all_equal"))))
          .select(lit(label).as("op_class"), col("n_rows"),
            col("n_in_rebuild"), col("n_all_equal"))
      }
      // each distinct read.parquet call pays a listing+schema job at
      // plan time — read every model table ONCE and share the frames
      // (the ppl probes below re-read model/c1/stats before r18: 14
      // plan-time jobs → 8)
      val (incM, rebM) = (s.read.parquet(incP), s.read.parquet(rebP))
      val (incC1, rebC1) =
        (s.read.parquet(s"$incP.c1"), s.read.parquet(s"$rebP.c1"))
      val (incSt, rebSt) =
        (s.read.parquet(s"$incP.stats"), s.read.parquet(s"$rebP.stats"))
      val c2p = parity("c2_parity", incM, rebM, Seq("w1", "w2"), "c2")
      val c1p = parity("c1_parity", incC1, rebC1, Seq("w1"), "c1")
      val unip = parity("uni_parity", s.read.parquet(s"$incP.uni"),
        s.read.parquet(s"$rebP.uni"), Seq("w"), "cu")
      val stp = incSt
        .crossJoin(broadcast(rebSt
          .select(col("v").as("v_r"), col("nn").as("nn_r"))))
        .select(lit("corpus_stats").as("op_class"),
          col("nn").as("n_rows"), col("nn_r").as("n_in_rebuild"),
          when(col("v") === col("v_r") && col("nn") === col("nn_r"),
            col("nn")).otherwise(lit(0L)).as("n_all_equal"))
      val pm = IncrementalMaintainOps.postMergeDocs(s, d)
      // ONE tokenization for both consumer probes (r18): the inc and
      // rebuild scorers each re-ran the post-merge bigram explode (two
      // duplicate ~1.2 s-CPU stages), and the explode's inferred
      // size() filter pushed the split back into the 1-split scan —
      // spread + pin computes the stream once over the cores
      val pmBig = graft.functions.Checkpoints.pin(
        graft.functions.Spread(pm, col("doc_id")).transform(bigrams))
      val topI = pplTopFromModel(incM, incC1, incSt, pmBig)
      val topR = pplTopFromModel(rebM, rebC1, rebSt, pmBig)
        .select(col("rank"), col("doc_id").as("doc_r"),
          col("avg_nll_fp").as("nll_r"))
      val tkp = topI.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(topR.agg(count(lit(1)).as("n_in_rebuild"))))
        .crossJoin(broadcast(topI.join(topR, "rank")
          .filter(col("doc_id") === col("doc_r") &&
            col("avg_nll_fp") === col("nll_r"))
          .agg(count(lit(1)).as("n_all_equal"))))
        .select(lit("ppl_topk_parity").as("op_class"), col("n_rows"),
          col("n_in_rebuild"), col("n_all_equal"))
      c2p.unionByName(c1p).unionByName(unip).unionByName(stp)
        .unionByName(tkp)
        .orderBy("op_class")
    }),
  )

  /** The oracle reads the MAINTAINED model from the persisted parquet
    * (lastPath contract) and rebuilds the post-merge model itself from
    * the documents table — an independent engine's ground truth.
    */
  def oracleSql: Map[String, String] = Map(
    "incremental_lm_maintain" ->
      s"""WITH ic2 AS (
         |  SELECT w1, w2, CAST(c2 AS BIGINT) AS c2
         |  FROM read_parquet('${incCache.lastPath}/*.parquet')),
         |ic1 AS (
         |  SELECT w1, CAST(c1 AS BIGINT) AS c1
         |  FROM read_parquet('${incCache.lastPath}.c1/*.parquet')),
         |iuni AS (
         |  SELECT w, CAST(cu AS BIGINT) AS cu
         |  FROM read_parquet('${incCache.lastPath}.uni/*.parquet')),
         |ist AS (
         |  SELECT CAST(v AS BIGINT) AS v, CAST(nn AS BIGINT) AS nn
         |  FROM read_parquet('${incCache.lastPath}.stats/*.parquet')),
         |pm AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id % 10 NOT IN (3, 7)
         |  UNION ALL
         |  SELECT doc_id,
         |         array_to_string(string_split(text, ' ')[6:], ' ')
         |  FROM documents WHERE doc_id % 10 = 3
         |  UNION ALL
         |  SELECT doc_id + $InsertShift, text
         |  FROM documents WHERE doc_id % 10 = 1),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM pm),
         |wrds AS (SELECT doc_id, unnest(a) AS w FROM toks),
         |runi AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
         |         FROM wrds GROUP BY 1),
         |rst AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |               CAST(sum(cu) AS BIGINT) AS nn FROM runi),
         |bi AS (SELECT doc_id, a[CAST(i AS INT)] AS w1,
         |              a[CAST(i AS INT) + 1] AS w2
         |       FROM toks, UNNEST(range(1, len(a))) AS t(i)),
         |rc2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
         |        FROM bi GROUP BY 1, 2),
         |rc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
         |        FROM bi GROUP BY 1),
         |c2p AS (
         |  SELECT 'c2_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ic2) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM rc2)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ic2 i
         |          JOIN rc2 r ON i.w1 = r.w1 AND i.w2 = r.w2
         |            AND i.c2 = r.c2) AS n_all_equal),
         |c1p AS (
         |  SELECT 'c1_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ic1) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM rc1)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ic1 i
         |          JOIN rc1 r ON i.w1 = r.w1 AND i.c1 = r.c1)
         |           AS n_all_equal),
         |unip AS (
         |  SELECT 'uni_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM iuni) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM runi)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM iuni i
         |          JOIN runi r ON i.w = r.w AND i.cu = r.cu)
         |           AS n_all_equal),
         |stp AS (
         |  SELECT 'corpus_stats' AS op_class,
         |         i.nn AS n_rows, r.nn AS n_in_rebuild,
         |         CASE WHEN i.v = r.v AND i.nn = r.nn
         |         THEN i.nn ELSE 0 END AS n_all_equal
         |  FROM ist i CROSS JOIN rst r),
         |sci AS (
         |  SELECT b.doc_id, ${LangModelOps.nllSql} AS nll
         |  FROM bi b JOIN ic2 USING (w1, w2) JOIN ic1 USING (w1)
         |  CROSS JOIN (SELECT v FROM ist) vv),
         |aggi AS (SELECT doc_id, count(*) AS n_bigrams,
         |                CAST(sum(nll) AS BIGINT) AS nll_sum
         |         FROM sci GROUP BY doc_id),
         |topi AS (SELECT doc_id,
         |                CAST(nll_sum // n_bigrams AS BIGINT) AS avg_nll_fp
         |         FROM aggi ORDER BY avg_nll_fp DESC, doc_id LIMIT 10),
         |scr AS (
         |  SELECT b.doc_id, ${LangModelOps.nllSql} AS nll
         |  FROM bi b JOIN rc2 USING (w1, w2) JOIN rc1 USING (w1)
         |  CROSS JOIN (SELECT v FROM rst) vv),
         |aggr AS (SELECT doc_id, count(*) AS n_bigrams,
         |                CAST(sum(nll) AS BIGINT) AS nll_sum
         |         FROM scr GROUP BY doc_id),
         |topr AS (SELECT doc_id,
         |                CAST(nll_sum // n_bigrams AS BIGINT) AS avg_nll_fp
         |         FROM aggr ORDER BY avg_nll_fp DESC, doc_id LIMIT 10),
         |ti AS (SELECT *, row_number() OVER (ORDER BY avg_nll_fp DESC,
         |         doc_id) AS rank FROM topi),
         |tr AS (SELECT *, row_number() OVER (ORDER BY avg_nll_fp DESC,
         |         doc_id) AS rank FROM topr),
         |tkp AS (
         |  SELECT 'ppl_topk_parity' AS op_class,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ti) AS n_rows,
         |         (SELECT CAST(count(*) AS BIGINT) FROM tr)
         |           AS n_in_rebuild,
         |         (SELECT CAST(count(*) AS BIGINT) FROM ti
         |          JOIN tr ON ti.rank = tr.rank
         |            AND ti.doc_id = tr.doc_id
         |            AND ti.avg_nll_fp = tr.avg_nll_fp) AS n_all_equal)
         |SELECT * FROM c2p
         |UNION ALL SELECT * FROM c1p
         |UNION ALL SELECT * FROM unip
         |UNION ALL SELECT * FROM stp
         |UNION ALL SELECT * FROM tkp
         |ORDER BY op_class""".stripMargin,
  )
}
