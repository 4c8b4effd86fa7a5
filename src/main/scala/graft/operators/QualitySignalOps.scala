package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-quality repetition signals and matrix-free dimensionality
  * reduction (round-11 widening): the Gopher-style top-bigram mass
  * gate (Rae et al. 2021 §A1.1 — "fraction of characters in the most
  * common n-gram"; intra-document repetition is the single strongest
  * cheap predictor of boilerplate/spam in web corpora) and a
  * Johnson–Lindenstrauss ±1 random projection of the embedding corpus
  * (Achlioptas 2001 — the database-friendly JL; the pre-pass that lets
  * every downstream geometric operator run at k ≪ d).
  *
  * Determinism & scale design:
  *   - top_bigram_mass: bigrams explode AFTER the per-doc tokenize
  *     (token-linear, the shingle-family bound); the (doc, bigram)
  *     count and (doc) rollup are both map-side-combinable hash
  *     aggregates keyed by high-cardinality doc ids — no windows, no
  *     skewed keys (the hottest bigram is still per-doc state). Shares
  *     are exact integer ppm; per-source rollup is |sources|-bounded.
  *     Envelope: share_fp ≤ 1e6, Σ share_fp over a source fits int64
  *     to ~9.2e12 docs.
  *   - random_projection_jl: the sign matrix is DERIVED from md5
  *     (sgn(i,j) = top bit of md5("i_j")), so both engines regenerate
  *     it independently — no stored model, no join; the projection is
  *     a codegen'd map-side fold (graft.functions.JlProject, PqEncode
  *     house pattern) and ALL post-fold state is k-bounded moments.
  *     Fixed-point leaves truncate toward zero (embedding_dim_stats
  *     convention); projections are exact int64 sums (|p_j| ≤ d·1e6 ≈
  *     4e9 at d=4096); squares lift to DECIMAL(38,0) BEFORE the
  *     multiply. Output type rule (r12): NO decimal128 at the SELECT
  *     boundary — r11 proved by controlled experiment that the driver's
  *     arrow-level hash reds decimal128 outputs even when both engines
  *     emit value-identical DECIMAL(38,0) (type alignment did NOT green
  *     the cells; presence of the type itself is the trigger). Wide
  *     moments therefore stay DECIMAL(38,0)/HUGEINT internally and are
  *     emitted as canonical digit STRINGS on both engines.
  */
object QualitySignalOps extends OpGroup {

  /** share_fp threshold above which a doc counts as repetition-flagged
    * (Gopher uses 0.20 for top-2-gram character fraction; we apply the
    * same cut to the token-bigram fraction).
    */
  val FlagFp = 200000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher rep-2: per doc, the most frequent bigram's share of all
    // bigram slots, rolled up per source (mean share + docs over the
    // 20% flag line). High mean = templated/spammy source.
    "top_bigram_mass" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
        .filter(col("n") >= 2)
      val bg = docs.select(col("doc_id"), col("source"),
        explode(expr(
          """transform(sequence(1, n - 1),
            |  i -> concat_ws(' ', slice(ws, i, 2)))""".stripMargin))
          .as("bg"))
      val per = bg.groupBy("doc_id", "source", "bg")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "source")
        .agg(max("c").as("c_top"), sum("c").as("n_bi"))
        .withColumn("share_fp", expr("c_top * 1000000 DIV n_bi"))
      per.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("share_fp") > FlagFp, 1L).otherwise(0L))
            .as("n_flagged"),
          sum("share_fp").as("sum_share"))
        .withColumn("mean_share_fp", expr("sum_share DIV n_docs"))
        .select("source", "n_docs", "n_flagged", "mean_share_fp")
        .orderBy("source")
    }),

    // JL ±1 projection to k=8: per projected coordinate, the exact
    // fixed-point first and second moments of the whole corpus — the
    // sanity read (is the projected space non-degenerate, are
    // coordinates balanced) run before swapping d-dim ops to k-dim.
    "random_projection_jl" -> ((s, d) => {
      Tables.embeddings(s, d)
        .select(posexplode(graft.functions.JlProject.of(col("embedding")))
          .as(Seq("j", "pj")))
        .groupBy("j")
        .agg(count(lit(1)).as("n"),
          sum(col("pj").cast("decimal(38,0)")).cast("string").as("sum_fp"),
          sum(col("pj").cast("decimal(38,0)") * col("pj")).cast("string")
            .as("sumsq_fp"))
        .orderBy("j")
    }),

    // Flesch–Kincaid grade level per source (r12, fifth session;
    // Kincaid et al. 1975): 0.39·(words/sentences) +
    // 11.8·(syllables/word) − 15.59 — the readability gate real
    // pre-train curation stacks run beside the repetition signals
    // (C4/Gopher-class pipelines filter on exactly this family of
    // surface statistics). Counting conventions (documented, crude by
    // design): sentences = terminal-punctuation matches floored at 1;
    // syllables = vowel-group runs [aeiouy]+ of the lowercased text
    // floored at one per word. Scale: three regexp counts per doc —
    // pure map-side, token-linear; the per-doc grade is ONE shared-
    // text FLOOR'd IEEE leaf over the three exact counts; the source
    // rollup is a combinable integer aggregate with ONE signed
    // toward-zero mean division.
    "flesch_kincaid_by_source" -> ((s, d) => {
      Tables.documents(s, d).select(col("source"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("w"),
          expr("""CAST(greatest(1, size(regexp_extract_all(text,
                 | '[.!?]', 0))) AS BIGINT)"""
            .stripMargin.replace("\n", " ")).as("sents"),
          expr("""greatest(CAST(size(split(text, ' ')) AS BIGINT),
                 | CAST(size(regexp_extract_all(lower(text),
                 | '[aeiouy]+', 0)) AS BIGINT))"""
            .stripMargin.replace("\n", " ")).as("syl"))
        .withColumn("fk_fp", expr(fkLeafSql))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
          sum("sents").as("n_sents"), sum("syl").as("n_syllables"),
          sum("fk_fp").as("sum_fk"))
        .select(col("source"), col("n_docs"), col("n_words"),
          col("n_sents"), col("n_syllables"),
          expr("""CASE WHEN sum_fk >= 0 THEN sum_fk DIV n_docs
                 | ELSE -((-sum_fk) DIV n_docs) END"""
            .stripMargin.replace("\n", " ")).as("fk_mean_fp"))
        .orderBy("source")
    }),

    // Q14 (r14) — stopword-density gate (the Gopher/C4 rule family):
    // natural text carries a steady mass of function words; a document
    // whose stopword ratio collapses is keyword spam, a log dump, or
    // MT gibberish. Fixed 20-word English function-word list (pinned
    // literal on both engines — the curation config, not learned);
    // keep ⇔ ratio ≥ 2% (pinned 1e6-fixed threshold 20000). Exact
    // integer counts + one truncating 1e6 division. Scale: fully
    // map-side per document; no shuffle at all before the report
    // ordering.
    "stopword_density_gate" -> ((s, d) => {
      val sw = "'the','a','an','and','or','of','to','in','is','it'," +
        "'for','on','as','at','by','be','this','that','with','from'"
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          expr("CAST(size(ws) AS BIGINT)").as("n_tokens"),
          expr(s"CAST(size(filter(ws, w -> w IN ($sw))) AS BIGINT)")
            .as("n_stop"))
        .withColumn("stop_ratio_fp",
          expr("n_stop * 1000000 DIV n_tokens"))
        .withColumn("keep", col("stop_ratio_fp") >= 20000)
        .orderBy("doc_id")
    }),

    // Q15 (r17) — the Gopher rule SCORECARD (Rae et al. 2021 §A1.1):
    // the five cheap surface rules the paper applies before any model
    // scoring, evaluated per document and rolled up per source as pass
    // counts — the read a curator does before turning the filter on
    // (which rule decimates which source). Pinned thresholds, exact
    // integer fixed-point ratios:
    //   r_wordcount: 50 <= tokens <= 100000
    //   r_wordlen:   3 <= mean word length <= 10 chars
    //   r_stopwords: >= 2 DISTINCT core stopwords present
    //   r_topshare:  most frequent token <= 20% of slots
    //   r_alpha:     >= 80% of tokens contain a letter
    // Scale: four of five signals are per-doc array folds (pure
    // map-side); the top-token share is the top_bigram_mass shape — a
    // (doc, token) hash count then a doc-keyed max, both combinable,
    // no windows; the rollup is |sources|-bounded.
    "gopher_quality_rules" -> ((s, d) => {
      val sw = "'the','a','an','and','or','of','to','in','is','it'"
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
      val base = docs.select(col("doc_id"), col("source"),
        expr("CAST(size(ws) AS BIGINT)").as("n_tokens"),
        expr("CAST(aggregate(ws, 0L, (acc, w) -> acc + length(w)) AS BIGINT)")
          .as("sum_len"),
        expr(s"CAST(size(array_distinct(filter(ws, w -> w IN ($sw)))) " +
          "AS BIGINT)").as("n_stop_distinct"),
        expr("CAST(size(filter(ws, w -> w rlike '[a-zA-Z]')) AS BIGINT)")
          .as("n_alpha"))
      val top = docs.select(col("doc_id"), explode(col("ws")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("c_top"))
      base.join(top, "doc_id")
        .withColumn("r_wordcount",
          col("n_tokens") >= 50L && col("n_tokens") <= 100000L)
        .withColumn("mean_len_fp", expr("sum_len * 1000000 DIV n_tokens"))
        .withColumn("r_wordlen",
          col("mean_len_fp") >= 3000000L && col("mean_len_fp") <= 10000000L)
        .withColumn("r_stopwords", col("n_stop_distinct") >= 2L)
        .withColumn("r_topshare",
          expr("c_top * 1000000 DIV n_tokens") <= 200000L)
        .withColumn("r_alpha",
          expr("n_alpha * 1000000 DIV n_tokens") >= 800000L)
        .withColumn("pass_all", col("r_wordcount") && col("r_wordlen") &&
          col("r_stopwords") && col("r_topshare") && col("r_alpha"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r_wordcount").cast("long")).as("n_pass_wordcount"),
          sum(col("r_wordlen").cast("long")).as("n_pass_wordlen"),
          sum(col("r_stopwords").cast("long")).as("n_pass_stopwords"),
          sum(col("r_topshare").cast("long")).as("n_pass_topshare"),
          sum(col("r_alpha").cast("long")).as("n_pass_alpha"),
          sum(col("pass_all").cast("long")).as("n_pass_all"))
        .orderBy("source")
    }),
  )

  /** The per-doc Flesch–Kincaid grade as ONE FLOOR'd IEEE leaf over
    * the exact (w, sents, syl) counts — identical text both engines.
    * The counts are CAST AS DOUBLE before the constants touch them:
    * a bare `0.39 * w` parses as a DECIMAL literal times an integer
    * on BOTH engines, and their decimal precision/scale rules differ
    * (measured: one fp unit off at sf0.01) — doubles are the shared
    * IEEE arithmetic, decimals are not.
    */
  private val fkLeafSql =
    """CAST(FLOOR((0.39 * CAST(w AS DOUBLE) / sents
      | + 11.8 * CAST(syl AS DOUBLE) / w - 15.59)
      | * 1000000.0) AS BIGINT)""".stripMargin.replace("\n", " ")

  val oracleSql: Map[String, String] = Map(
    "top_bigram_mass" ->
      """WITH docs AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, source,
        |         ws[CAST(t.i AS INTEGER)] || ' '
        |           || ws[CAST(t.i + 1 AS INTEGER)] AS bg
        |  FROM docs CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= len(ws) - 1),
        |cnt AS (SELECT doc_id, source, bg, CAST(count(*) AS BIGINT) AS c
        |        FROM bg GROUP BY 1, 2, 3),
        |per AS (SELECT doc_id, source, max(c) AS c_top,
        |               CAST(sum(c) AS BIGINT) AS n_bi
        |        FROM cnt GROUP BY 1, 2),
        |sh AS (SELECT source, c_top * 1000000 // n_bi AS share_fp FROM per)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN share_fp > 200000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_flagged,
        |       CAST(sum(share_fp) // count(*) AS BIGINT) AS mean_share_fp
        |FROM sh GROUP BY source ORDER BY source""".stripMargin,

    "random_projection_jl" ->
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
         |         CAST(trunc(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |           * 1000000) AS BIGINT) AS fx
         |  FROM embeddings, UNNEST(range(1, 4097)) t(i)
         |  WHERE i <= len(embedding)),
         |signs AS (${graft.functions.JlProject.signsCteDuck}),
         |proj AS (
         |  SELECT e.vec_id, s.j, sum(s.sgn * e.fx) AS pj
         |  FROM ex e JOIN signs s ON s.i = e.pos
         |  GROUP BY 1, 2)
         |SELECT j, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CAST(pj AS HUGEINT)) AS VARCHAR) AS sum_fp,
         |       CAST(sum(CAST(pj AS HUGEINT) * pj) AS VARCHAR) AS sumsq_fp
         |FROM proj GROUP BY j ORDER BY j""".stripMargin,

    // same counting conventions; identical FK leaf text
    "flesch_kincaid_by_source" ->
      s"""WITH c AS (
         |  SELECT source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |         CAST(greatest(1, len(regexp_extract_all(text,
         |           '[.!?]'))) AS BIGINT) AS sents,
         |         greatest(CAST(len(string_split(text, ' ')) AS BIGINT),
         |           CAST(len(regexp_extract_all(lower(text),
         |             '[aeiouy]+')) AS BIGINT)) AS syl
         |  FROM documents),
         |leaf AS (SELECT source, w, sents, syl, $fkLeafSql AS fk_fp
         |         FROM c),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(w) AS BIGINT) AS n_words,
         |         CAST(sum(sents) AS BIGINT) AS n_sents,
         |         CAST(sum(syl) AS BIGINT) AS n_syllables,
         |         CAST(sum(fk_fp) AS BIGINT) AS sum_fk
         |  FROM leaf GROUP BY source)
         |SELECT source, n_docs, n_words, n_sents, n_syllables,
         |       CAST(CASE WHEN sum_fk >= 0 THEN sum_fk // n_docs
         |            ELSE -((-sum_fk) // n_docs) END AS BIGINT)
         |         AS fk_mean_fp
         |FROM agg ORDER BY source""".stripMargin,

    "stopword_density_gate" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(ws, w -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it',
        |       'for','on','as','at','by','be','this','that','with',
        |       'from'], w))) AS BIGINT) AS n_stop
        |  FROM d)
        |SELECT doc_id, source, n_tokens, n_stop,
        |       n_stop * 1000000 // n_tokens AS stop_ratio_fp,
        |       n_stop * 1000000 // n_tokens >= 20000 AS keep
        |FROM c ORDER BY doc_id""".stripMargin,

    // same pinned thresholds; list folds mirror the Spark HOFs
    "gopher_quality_rules" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, source,
        |    CAST(len(ws) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT)
        |      AS sum_len,
        |    CAST(len(list_distinct(list_filter(ws, w -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it'], w))))
        |      AS BIGINT) AS n_stop_distinct,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
        |      AS BIGINT) AS n_alpha
        |  FROM d),
        |top AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS c_top FROM (
        |    SELECT doc_id, w, count(*) AS c
        |    FROM (SELECT doc_id, unnest(ws) AS w FROM d)
        |    GROUP BY doc_id, w) GROUP BY doc_id),
        |rules AS (
        |  SELECT b.source,
        |    b.n_tokens BETWEEN 50 AND 100000 AS r_wordcount,
        |    b.sum_len * 1000000 // b.n_tokens
        |      BETWEEN 3000000 AND 10000000 AS r_wordlen,
        |    b.n_stop_distinct >= 2 AS r_stopwords,
        |    t.c_top * 1000000 // b.n_tokens <= 200000 AS r_topshare,
        |    b.n_alpha * 1000000 // b.n_tokens >= 800000 AS r_alpha
        |  FROM base b JOIN top t USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r_wordcount THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_wordcount,
        |  CAST(sum(CASE WHEN r_wordlen THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_wordlen,
        |  CAST(sum(CASE WHEN r_stopwords THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_stopwords,
        |  CAST(sum(CASE WHEN r_topshare THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_topshare,
        |  CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_alpha,
        |  CAST(sum(CASE WHEN r_wordcount AND r_wordlen AND r_stopwords
        |    AND r_topshare AND r_alpha THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pass_all
        |FROM rules GROUP BY source ORDER BY source""".stripMargin,
  )
}
