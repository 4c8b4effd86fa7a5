package graft.operators

import graft.{Det, OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators (round-2 surface widening): the
  * select-what-to-train-on half of the 100 TB pipeline, alongside the
  * dedup/similarity half in LlmOps/TrainingDataOps.
  *
  * Scale design:
  *   - Sampling is CONTENT-DERIVED (md5 of the key), never rand(): the
  *     same row set is kept on any cluster layout, any retry, any
  *     engine — which is also what makes it DuckDB-oracle-able. A rate
  *     is a hex-prefix threshold (first md5 nibble < '4' ⇒ 4/16 = 25%).
  *   - Min-wise per-group sampling ranks by md5 inside each stratum via
  *     GlobalRank's grouped two-phase rank — strata are often few and
  *     huge (here: 20 sources), exactly the low-cardinality-partition
  *     window trap the two-phase scheme exists for.
  *   - Text cleaning/redaction is a pure projection (one codegen'd map
  *     stage, no shuffle).
  *   - The bucketed join writes both fact tables bucketed+sorted on the
  *     join key, then joins them WITHOUT any exchange — the co-located
  *     join that turns the biggest shuffle in a daily pipeline into a
  *     local merge (PlanSpec asserts the exchange count).
  */
object CurationOps extends OpGroup {
  import Det._

  /** Portable content hash: md5 of the decimal string key — identical
    * bytes on Spark and DuckDB, unlike xxhash64/hash().
    */
  private def h(c: String) = md5(col(c).cast("string"))

  /** Bucketed-table database for a dataset dir (String.hashCode is
    * spec-fixed, so the name is stable across JVMs).
    */
  private[graft] def bucketDb(d: String): String =
    s"graft_buckets_${math.abs(d.hashCode)}"

  /** Bucketing is a WRITE-TIME investment amortized over every later
    * join — so the tables are written once per (application, dataset),
    * like the IVF quantizer, not on every query invocation. The catalog
    * that holds them is the application's, so the memo is application
    * scope in [[graft.SessionState]].
    */
  private def ensureBucketed(s: SparkSession, d: String): String =
    graft.SessionState.application(s)("CurationOps.bucketed", d) {
      val db = bucketDb(d)
      // application-unique location: the in-memory catalog forgets managed
      // tables across JVMs, but their files would survive and collide
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION " +
        s"'${graft.SessionState.appDir(s, "graft_warehouse")}/$db'")
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.orders_b")
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      db
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // One-pass column profiler — the data-profiling stage of intake: one
    // aggregate computes rows/nulls/distincts/min/max for every column,
    // then a map-side explode stacks the per-column structs to long form.
    // ONE scan regardless of column count (never a scan per column).
    "profile_columns" -> ((s, d) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"),
          min(col(c)).cast("string").as(s"${c}_min"),
          max(col(c)).cast("string").as(s"${c}_max"))
      }
      val entries = cols.map { c =>
        struct(lit(c).as("col_name"), col(s"${c}_nulls").as("n_nulls"),
          col(s"${c}_distinct").as("n_distinct"),
          col(s"${c}_min").as("min_val"), col(s"${c}_max").as("max_val"))
      }
      Tables.documents(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n_rows"), explode(array(entries: _*)).as("p"))
        .select(col("p.col_name").as("col_name"), col("n_rows"),
          col("p.n_nulls").as("n_nulls"), col("p.n_distinct").as("n_distinct"),
          col("p.min_val").as("min_val"), col("p.max_val").as("max_val"))
        .orderBy("col_name")
    }),

    // Content-derived surrogate keys: md5 over (source, natural id) —
    // stable on any engine/layout/retry, collision-safe at corpus scale,
    // with a hex prefix usable as a shard/bucket key.
    "surrogate_key_mint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(concat_ws("|", col("source"), col("doc_id").cast("string")))
            .as("skey"))
        .withColumn("skey_prefix", substring(col("skey"), 1, 4))
        .orderBy("doc_id")),

    // Deterministic stratified sample: 50% of 'en' documents, 25% of the
    // rest — the lang-rebalancing step of a corpus mix. Content-derived,
    // so reproducible across engines/retries/layouts.
    "hash_sample_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("nib", substring(h("doc_id"), 1, 1))
        .filter(col("nib") < when(col("lang") === "en", "8").otherwise("4"))
        .select("doc_id", "lang", "source", "nib")
        .orderBy("doc_id")),

    // Min-wise sampling: the k=3 docs with smallest md5 per source — a
    // uniform-without-replacement sample per stratum, rank computed by
    // the grouped two-phase rank (no low-cardinality window partitions).
    "minwise_sample_per_group" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), h("doc_id").as("hkey"))
      graft.functions.GlobalRank
        .rowNumber(docs, "rn", Seq("source"), Seq("hkey", "doc_id"),
          // hex strings don't cast to double — slice on the numeric value
          // of the first 13 nibbles (52 bits: exact in double, monotone
          // in the full-string order)
          sliceOn = Some(conv(substring(col("hkey"), 1, 13), 16, 10).cast("long")))
        .filter(col("rn") <= 3)
        .select("source", "rn", "doc_id", "hkey")
        .orderBy("source", "rn")
    }),

    // Cleaning + redaction projection: lowercase, strip non-alnum,
    // collapse whitespace; numbers masked in the raw text.
    "text_clean_redact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", ""), " +", " ")).as("clean_text"),
          regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
          length(col("text")).as("n_raw"))
        .orderBy("doc_id")),

    // Token-budget shard packing — THE pretraining shard-writer op: docs
    // in a canonical order are cut into contiguous shards of ≤4096
    // tokens by their exclusive running token count. The prefix sum is
    // GlobalRank's two-phase scheme (slice-local running sums + a
    // broadcast total-offset ladder) — the scale-safe form of the
    // single-task `sum() OVER (ORDER BY ...)` window.
    "token_budget_packing" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.functions.GlobalRank
        .prefixSum(docs, "cum", col("n_tokens"), Nil, Seq("doc_id"))
        .withColumn("shard_id", expr("(cum - n_tokens) div 4096"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("shard_id")
    }),

    // Benchmark decontamination: flag train documents sharing ≥2
    // distinct 3-gram shingles with any eval-set document — the overlap
    // check run before every serious pretraining job. Per-doc shingle
    // dedup is `array_distinct` BEFORE the explode — map-side, same
    // (doc, shingle) set as a distinct(), zero shuffle — so a repeated
    // phrase can't inflate the count and the train corpus never
    // exchanges. The cross-set comparison is an equi-join on the
    // shingle (inverted index), never eval×train pairs, with the EVAL
    // side explicitly broadcast: the eval set is a fixed benchmark
    // suite (here 1/97 of docs), so at 100 TB the train side — the side
    // that IS the 100 TB — streams map-side through the hash join
    // instead of shuffling every train shingle on a skewed key
    // (PlanSpec pins the shuffle-free streamed side). Only matched
    // (eval_doc, train_doc) survivors enter the count shuffle.
    "decontamination_ngram_overlap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
      def shingles(df: DataFrame) = df
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(0, greatest(n - 3, 0)),
            |  i -> concat_ws(' ', slice(ws, i + 1, 3)))""".stripMargin))).as("sh"))
      val evalSet = shingles(docs.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id").as("eval_doc"), col("sh"))
      val train = shingles(docs.filter(col("doc_id") % 97 =!= 0))
        .select(col("doc_id").as("train_doc"), col("sh"))
      train.join(broadcast(evalSet), "sh")
        .groupBy("eval_doc", "train_doc")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("eval_doc", "train_doc")
    }),

    // DSIR-shaped importance resampling (Xie et al. 2023): score each
    // candidate doc by how target-domain-like its hashed-unigram profile
    // is, keep the top of the pool. Features = md5-bucketed word
    // unigrams (256 buckets — the portable content hash, never a JVM
    // hash); per-bucket log-ratio λ_b = ln of exact-integer
    // add-one-smoothed count ratios, so both engines feed ln() identical
    // doubles (the bm25 precedent), then truncate to 1e-6 fixed-point.
    // Doc weight = Σ_b c_{doc,b}·λ_b — pure int64 arithmetic (λ ≤ ~20e6,
    // c ≤ doc length; the 100 TB variant lifts the count products and
    // the weight sum to DECIMAL(38,0), same expressions). Scale: the
    // λ table is ≤256 rows (broadcast); scoring is one (doc, bucket)
    // map-side-combinable shuffle + one broadcast join; top-50 is
    // TakeOrdered, never a global window.
    "dsir_importance_resample" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .withColumn("b",
          conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long"))
      val isTarget = col("source").isin("src0", "src1")
      // ONE tokenize+md5 pass (r18 optimization): the old shape ran the
      // corpus explode three times (target buckets, rest buckets, and
      // per-doc scoring); the (is_target, doc, bucket) pre-aggregate is
      // pinned and both the λ table and the scoring branch fold from it
      // (identical counts: a doc's source fixes is_target, so the finer
      // grouping partitions the same word events)
      val g = words
        .groupBy(isTarget.as("is_t"), col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val lam = g.groupBy("b").agg(
        sum(when(col("is_t"), col("c")).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), col("c")).otherwise(0L)).as("cr"))
      // totals re-derived from the ≤256-row bucket table — no second
      // pass over the corpus, and the single-row cross join touches
      // only this tiny build, never the per-doc scoring plan
      val tots = lam.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      val lamFp = lam.crossJoin(broadcast(tots))
        .withColumn("lam_fp",
          (log(((col("ct") + 1) * (col("tr") + 256)).cast("double") /
               ((col("cr") + 1) * (col("tt") + 256)).cast("double"))
            * 1e6).cast("long"))
        .select("b", "lam_fp")
      g.filter(!col("is_t"))
        .join(broadcast(lamFp), "b")
        .groupBy("doc_id", "source")
        .agg(sum(col("c") * col("lam_fp")).as("weight_fp"))
        .orderBy(col("weight_fp").desc, col("doc_id")).limit(50)
    }),

    // Length-percentile gate: per-language p95 length threshold and the
    // count of docs a truncate-the-tail quality filter would drop. The
    // percentile is RANK-DEFINED (value at row ceil(0.95·n) of the
    // (n_chars, doc_id) order) — pure integer math, no engine quantile
    // convention in the loop. Ranking runs through GlobalRank's
    // measured two-phase scheme: languages are few and huge — exactly
    // the low-cardinality-partition window trap the slice machinery
    // exists for; at cluster scale each language ranks across ~32
    // slices instead of one task. The per-lang thresholds (≤|langs|
    // rows) broadcast back over the corpus for the over-threshold count.
    "length_percentile_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val ranked = graft.functions.GlobalRank
        .rowNumber(docs, "rn", Seq("lang"), Seq("n_chars", "doc_id"))
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val p95 = ranked.join(broadcast(counts), "lang")
        .filter(col("rn") === expr("(n_docs * 95 + 99) DIV 100"))
        .select(col("lang"), col("n_chars").as("p95_chars"))
      docs.join(broadcast(p95), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          max("p95_chars").as("p95_chars"),
          sum(when(col("n_chars") > col("p95_chars"), 1L).otherwise(0L))
            .as("n_dropped"))
        .select(col("lang"), col("n_docs"), col("p95_chars"),
          col("n_dropped"), (col("n_docs") - col("n_dropped")).as("n_kept"))
        .orderBy("lang")
    }),

    // Deterministic train/val/test split (~80/10/10 by the first md5
    // byte): fixed-length lowercase hex compares lexicographically AS
    // its numeric value, so plain string thresholds give identical
    // splits on both engines with no hex-to-int conversion. Split
    // membership is content-derived — stable across runs, engines and
    // repartitions, the property a dataset card has to promise.
    "train_val_test_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("b2", substring(h("doc_id"), 1, 2))
        .withColumn("split",
          when(col("b2") < "cd", "train")      // 0x00-0xcc: 205/256
            .when(col("b2") < "e6", "val")     // 0xcd-0xe5:  25/256
            .otherwise("test"))                // 0xe6-0xff:  26/256
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "split")),

    // Sliding-window document chunking — the RAG/pretraining chunker:
    // 50-token windows at stride 40 (10-token overlap), built map-side
    // per row with transform+slice (no shuffle, no state), exploded with
    // ordinals. Chunk token counts come from arithmetic (least(50,
    // n - idx·40)) so re-tokenization quirks can't drift the compare.
    "doc_chunk_overlap" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
        .withColumn("chunks", expr(
          """transform(
            |  sequence(0, greatest(CAST(ceil((n - 50) / 40.0) AS INT), 0)),
            |  i -> concat_ws(' ', slice(ws, i * 40 + 1, 50)))""".stripMargin))
        .select(col("doc_id"), col("n"),
          posexplode(col("chunks")).as(Seq("chunk_idx", "chunk")))
        .withColumn("chunk_tokens",
          least(lit(50), col("n") - col("chunk_idx") * 40))
        .select("doc_id", "chunk_idx", "chunk", "chunk_tokens")
        .orderBy("doc_id", "chunk_idx")),

    // int8 embedding quantization: unit-scale each vector by its
    // fixed-point norm, floor to [-127, 127] ints — the storage-
    // compression step before ANN serving. The norm is the same exact
    // fixed-point value on both engines, so every floor agrees. The q8
    // vector is emitted as a canonical CSV string: the driver's comparator
    // sorts column VALUES, and a raw array column is unsortable there
    // (round-2 ERR). concat_ws gives '' on an empty array, matching the
    // coalesce-guarded DuckDB side (array_to_string([]) is NULL there).
    "embedding_quantize_int8" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("norm", graft.functions.VectorFunctions.norm("embedding"))
        .select(col("vec_id"), size(col("embedding")).as("emb_dim"),
          expr("""concat_ws(",", transform(embedding,
                 |  x -> CAST(CAST(floor(CAST(x AS DOUBLE) / norm * 127) AS INT) AS STRING)))"""
            .stripMargin).as("q8"),
          round(col("norm"), 6).as("norm"))
        .orderBy("vec_id")
    }),

    // Co-located join: orders ⋈ lineitem both bucketed+sorted on the
    // join key into 8 buckets — the join itself plans ZERO exchanges
    // (only the final small aggregate shuffles). At 100 TB this is the
    // difference between re-shuffling two fact tables nightly and a
    // local merge per bucket.
    "bucketed_colocated_join" -> ((s, d) => {
      val db = ensureBucketed(s, d)
      s.table(s"$db.orders_b")
        .join(s.table(s"$db.lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Boilerplate detection: 3-gram phrases recurring across ≥3 DISTINCT
    // documents of one source — the per-domain template/header audit run
    // before near-dup thresholds are tuned (recurring boilerplate
    // inflates every similarity measure). Per-doc phrase dedup is
    // array_distinct BEFORE the explode (map-side, the decontamination
    // argument), so the shuffle carries (source, phrase) counts — never
    // raw doc×phrase multiplicity — and the per-source doc totals join
    // back broadcast (source cardinality ≪ corpus). At 100 TB the
    // absolute ≥3 recurrence keeps output sub-linear in corpus size:
    // random text collides vanishingly, real boilerplate repeats per
    // domain by construction.
    "template_phrase_detect" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
      val sh = docs.select(col("source"),
        explode(array_distinct(expr(
          """transform(sequence(0, greatest(n - 3, 0)),
            |  i -> concat_ws(' ', slice(ws, i + 1, 3)))""".stripMargin)))
          .as("phrase"))
      val perSrc = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      sh.groupBy("source", "phrase").agg(count(lit(1)).as("n_doc"))
        .filter(col("n_doc") >= 3)
        .join(broadcast(perSrc), "source")
        .select(col("source"), col("phrase"), col("n_doc"), col("n_docs"),
          expr("n_doc * 1000000 DIV n_docs").as("share_fp"))
        .orderBy("source", "phrase")
    }),

    // Cross-source contamination matrix: for every source pair, the
    // number of shared 3-token shingles and the max-containment score
    // n_shared/min(|A|,|B|) — the corpus-lineage audit that catches one
    // crawl re-hosting another (the source×source face of
    // decontamination_ngram_overlap's doc×doc check). Shingles dedup
    // per-doc map-side (array_distinct BEFORE the explode); then ONE
    // shingle-keyed aggregate collects each shingle's source set
    // (collect_set dedups, so the old corpus-wide (source, shingle)
    // DISTINCT exchange is gone — the r10 bench regression, 3.57 s →
    // this rewrite). BOTH consumers read that single aggregate: the
    // per-source distinct-shingle totals re-explode the ≤|sources|
    // sets (distinct-shingle rows, a tiny second shuffle), and the
    // oriented pairs explode map-side — the hot boilerplate shingle
    // never becomes a join key, ≤ C(|sources|,2) rows per shingle.
    // Containment is a 1e-6 integer division.
    "cross_source_contamination" -> ((s, d) => {
      // scan-spread below the shingle transform (r18): single-split
      // fixture scan made the shingle+distinct+explode map a 0.8 s
      // 1-task stage; at corpus scale Spread is the identity
      val docs = graft.functions.Spread(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"), col("text")),
          col("doc_id"))
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
        .filter(col("n") >= 3)
      val perDoc = docs.select(col("source"),
        explode(array_distinct(expr(
          """transform(sequence(1, n - 2),
            |  i -> concat_ws(' ', slice(ws, i, 3)))""".stripMargin))).as("sh"))
      // one corpus-sized exchange, keyed by shingle; the per-shingle
      // state is a ≤|sources| set (enum-bounded). The identical
      // subplan feeds both branches, so Spark reuses the exchange.
      val sets = perDoc.groupBy("sh")
        .agg(array_sort(collect_set(col("source"))).as("ss"))
      // per-source distinct-shingle totals from the SAME aggregate:
      // |{sh : source ∈ ss(sh)}| — one row per distinct shingle in,
      // |sources| rows out
      val tot = sets.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n_sh"))
      val pairs = sets
        .select(explode(expr(
          """flatten(transform(ss, (x, i) ->
            |  transform(slice(ss, i + 2, size(ss)),
            |    y -> struct(x AS s1, y AS s2))))""".stripMargin)).as("p"))
        .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .groupBy("s1", "s2")
        .agg(count(lit(1)).as("n_shared"))
      pairs
        .join(broadcast(tot.select(col("source").as("s1"), col("n_sh").as("t1"))), "s1")
        .join(broadcast(tot.select(col("source").as("s2"), col("n_sh").as("t2"))), "s2")
        .select(col("s1"), col("s2"), col("n_shared"), col("t1"), col("t2"),
          expr("n_shared * 1000000 DIV least(t1, t2)").as("containment_fp"))
        .orderBy("s1", "s2")
    }),

    // The consumer-grade COMPOSITE (r10, VERDICT r9 ask #7): the
    // app.py:133-220 five-stage composition, LLM-pipeline edition —
    // quality gate → exact dedup → decontamination → mixture weights
    // chained over `documents` as ONE declared query, proving the
    // operators compose without materialization cliffs. Per-source
    // funnel report: raw → past-gate → past-dedup → clean counts, then
    // the τ=0.7 temperature weight over the SURVIVING corpus.
    //
    // Stage rules reuse the standalone operators verbatim:
    //   1. gate: keep docs with n_chars <= per-lang rank-defined p95
    //      (length_percentile_gate's threshold, GlobalRank two-phase);
    //   2. dedup: sha256(text) keep-first by doc_id among survivors
    //      (exact_dedup_hash's rule);
    //   3. decontamination: drop survivors sharing >= 2 distinct
    //      3-shingles with any doc of the FIXED eval suite (the raw
    //      corpus' doc_id % 97 == 0 slice — benchmark membership does
    //      not depend on upstream filters), and drop the eval slice
    //      itself (it is the benchmark, not training data);
    //   4. weights: w_fp = FLOOR(exp(0.7 ln mass)·1e6) per source over
    //      the clean corpus, share_fp normalized DECIMAL(38,0)-wide
    //      (mixture_temperature_weights' exact fixed-point recipe).
    // Scale: every stage is the standalone operator's plan — broadcast
    // thresholds/eval-index, map-side shingle dedup, one corpus-bytes
    // shuffle (the dedup hash exchange) — and the funnel aggregates
    // carry source-cardinality rows only.
    "curation_pipeline_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), col("text"))
      // 1 — per-lang p95 gate
      val base = docs.select("doc_id", "lang", "n_chars")
      val ranked = graft.functions.GlobalRank
        .rowNumber(base, "rn", Seq("lang"), Seq("n_chars", "doc_id"))
      val nLang = base.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val p95 = ranked.join(broadcast(nLang), "lang")
        .filter(col("rn") === expr("(n_lang * 95 + 99) DIV 100"))
        .select(col("lang"), col("n_chars").as("p95_chars"))
      val gated = docs.join(broadcast(p95), "lang")
        .filter(col("n_chars") <= col("p95_chars"))
        .select(docs.columns.map(col): _*)
      // 2 — exact keep-first dedup among gate survivors (r19: a
      // size-gated pin of this three-consumer subtree measured FLAT in
      // matched A/B — the funnel branches run as overlapping futures,
      // so the duplicate executions were already hidden wall time —
      // and was reverted to keep the pre-round plan)
      val deduped = gated
        .withColumn("rn2", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(sha2(col("text"), 256)).orderBy("doc_id")))
        .filter(col("rn2") === 1).drop("rn2")
      // 3 — decontamination vs the fixed eval suite
      val shingleExpr = expr(
        """transform(sequence(0, greatest(n - 3, 0)),
          |  i -> concat_ws(' ', slice(ws, i + 1, 3)))""".stripMargin)
      def shingles(df: DataFrame) = df
        .withColumn("ws", split(col("text"), " "))
        .withColumn("n", size(col("ws")))
        .select(col("doc_id"), explode(array_distinct(shingleExpr)).as("sh"))
      val evalSh = shingles(docs.filter(col("doc_id") % 97 === 0))
        .select(col("doc_id").as("eval_doc"), col("sh"))
      val contaminated = shingles(deduped.filter(col("doc_id") % 97 =!= 0))
        .join(broadcast(evalSh), "sh")
        .groupBy("doc_id", "eval_doc").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select("doc_id").distinct()
      val clean = deduped.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // 4 — funnel + temperature weights (source-cardinality joins)
      val raw = docs.groupBy("source").agg(count(lit(1)).as("n_raw"))
      val g1 = gated.groupBy("source").agg(count(lit(1)).as("n_gate"))
      val g2 = deduped.groupBy("source").agg(count(lit(1)).as("n_dedup"))
      val g3 = clean.groupBy("source")
        .agg(count(lit(1)).as("n_clean"), sum("n_chars").as("mass"))
        .withColumn("w_fp",
          expr("""CAST(FLOOR(exp(0.7 * ln(CAST(mass AS DOUBLE))) * 1000000)
                 AS BIGINT)"""))
      val tot = g3.agg(sum("w_fp").as("tot_w"))
      raw.join(g1, "source").join(g2, "source").join(g3, "source")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_raw"), col("n_gate"), col("n_dedup"),
          col("n_clean"), col("mass"), col("w_fp"),
          expr("""CAST(CAST(w_fp AS DECIMAL(38,0)) * 1000000
                 DIV tot_w AS BIGINT)""").as("share_fp"))
        .orderBy("source")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // stage-for-stage CTE mirror of the composite: same rank-defined
    // p95, same sha256 keep-first, same fixed eval suite and >= 2
    // shared-shingle rule, same FLOOR/ln/exp fixed-point weights
    "curation_pipeline_e2e" ->
      """WITH docs AS (
        |  SELECT doc_id, source, lang, n_chars, text FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars, doc_id) AS rn
        |  FROM docs),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
        |      FROM docs GROUP BY lang),
        |p AS (
        |  SELECT r.lang, CAST(r.n_chars AS BIGINT) AS p95_chars
        |  FROM r JOIN c USING (lang)
        |  WHERE r.rn = (c.n_lang * 95 + 99) // 100),
        |gated AS (
        |  SELECT d.* FROM docs d JOIN p USING (lang)
        |  WHERE d.n_chars <= p.p95_chars),
        |deduped AS (
        |  SELECT doc_id, source, lang, n_chars, text FROM (
        |    SELECT g.*, row_number() OVER (PARTITION BY sha256(text)
        |             ORDER BY doc_id) AS rn2
        |    FROM gated g) WHERE rn2 = 1),
        |esh AS (
        |  SELECT DISTINCT doc_id AS eval_doc,
        |         array_to_string(ws[CAST(t.i AS INTEGER) : CAST(t.i AS INTEGER) + 2], ' ') AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               CAST(len(string_split(text, ' ')) AS INTEGER) AS n
        |        FROM docs WHERE doc_id % 97 = 0)
        |  CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= greatest(n - 2, 1)),
        |tsh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(ws[CAST(t.i AS INTEGER) : CAST(t.i AS INTEGER) + 2], ' ') AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws,
        |               CAST(len(string_split(text, ' ')) AS INTEGER) AS n
        |        FROM deduped WHERE doc_id % 97 <> 0)
        |  CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= greatest(n - 2, 1)),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT t.doc_id, e.eval_doc
        |    FROM tsh t JOIN esh e USING (sh)
        |    GROUP BY t.doc_id, e.eval_doc
        |    HAVING count(*) >= 2)),
        |clean AS (
        |  SELECT * FROM deduped
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
        |        FROM docs GROUP BY source),
        |s1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gate
        |       FROM gated GROUP BY source),
        |s2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_dedup
        |       FROM deduped GROUP BY source),
        |s3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clean,
        |              CAST(sum(n_chars) AS BIGINT) AS mass,
        |              CAST(FLOOR(exp(0.7 * ln(CAST(sum(n_chars) AS DOUBLE)))
        |                * 1000000) AS BIGINT) AS w_fp
        |       FROM clean GROUP BY source),
        |tot AS (SELECT sum(w_fp) AS tot_w FROM s3)
        |SELECT source, n_raw, n_gate, n_dedup, n_clean, mass, w_fp,
        |       CAST(CAST(w_fp AS HUGEINT) * 1000000 // tot_w AS BIGINT)
        |         AS share_fp
        |FROM raw JOIN s1 USING (source) JOIN s2 USING (source)
        |JOIN s3 USING (source) CROSS JOIN tot
        |ORDER BY source""".stripMargin,
    "hash_sample_stratified" ->
      """SELECT doc_id, lang, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |      < (CASE WHEN lang = 'en' THEN '8' ELSE '4' END)
        |ORDER BY doc_id""".stripMargin,
    "minwise_sample_per_group" ->
      """SELECT source, rn, doc_id, hkey FROM (
        |  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "text_clean_redact" ->
      """SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean_text,
        |       regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        |       CAST(length(text) AS INTEGER) AS n_raw
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_budget_packing" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT CAST((cum - n_tokens) // 4096 AS BIGINT) AS shard_id,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "profile_columns" -> {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "surrogate_key_mint" ->
      """SELECT doc_id,
        |       md5(source || '|' || CAST(doc_id AS VARCHAR)) AS skey,
        |       substr(md5(source || '|' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         AS skey_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "decontamination_ngram_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         array_to_string(ws[CAST(t.i AS INTEGER) : CAST(t.i AS INTEGER) + 2], ' ') AS sh
        |  FROM d CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= greatest(n - 2, 1)),
        |ev AS (SELECT doc_id AS eval_doc, sh FROM sh WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_doc, sh FROM sh WHERE doc_id % 97 <> 0)
        |SELECT ev.eval_doc, tr.train_doc, count(*) AS n_shared
        |FROM tr JOIN ev USING (sh)
        |GROUP BY ev.eval_doc, tr.train_doc
        |HAVING count(*) >= 2
        |ORDER BY eval_doc, train_doc""".stripMargin,
    // identical md5 bucketing, identical exact-integer smoothed ratio
    // fed to ln(), identical toward-zero 1e-6 truncation (trunc here,
    // CAST AS LONG in Spark — same toward-zero semantics)
    "dsir_importance_resample" ->
      """WITH wb AS (
        |  SELECT doc_id, source,
        |         CAST(concat('0x', substr(md5(w), 1, 2)) AS BIGINT) AS b,
        |         source IN ('src0', 'src1') AS is_t
        |  FROM (SELECT doc_id, source,
        |          unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 1),
        |ctt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM wb WHERE is_t GROUP BY b),
        |crr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM wb WHERE NOT is_t GROUP BY b),
        |lam AS (
        |  SELECT coalesce(ctt.b, crr.b) AS b,
        |         coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
        |  FROM ctt FULL JOIN crr ON ctt.b = crr.b),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
        |               CAST(sum(cr) AS BIGINT) AS tr FROM lam),
        |lamf AS (
        |  SELECT b,
        |         CAST(trunc(ln(CAST((ct + 1) * (tr + 256) AS DOUBLE)
        |                     / CAST((cr + 1) * (tt + 256) AS DOUBLE))
        |                    * 1000000) AS BIGINT) AS lam_fp
        |  FROM lam CROSS JOIN tot),
        |dc AS (
        |  SELECT doc_id, source, b, CAST(count(*) AS BIGINT) AS c
        |  FROM wb WHERE NOT is_t GROUP BY doc_id, source, b)
        |SELECT d.doc_id, d.source,
        |       CAST(sum(d.c * l.lam_fp) AS BIGINT) AS weight_fp
        |FROM dc d JOIN lamf l USING (b)
        |GROUP BY d.doc_id, d.source
        |ORDER BY weight_fp DESC, doc_id LIMIT 50""".stripMargin,
    // same rank-defined percentile: value at row ceil(0.95·n) of the
    // (n_chars, doc_id) order per language
    "length_percentile_gate" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |r AS (
        |  SELECT lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n_chars, doc_id) AS rn
        |  FROM d),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY lang),
        |p AS (
        |  SELECT r.lang, CAST(r.n_chars AS BIGINT) AS p95_chars
        |  FROM r JOIN c USING (lang)
        |  WHERE r.rn = (c.n_docs * 95 + 99) // 100)
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(max(p.p95_chars) AS BIGINT) AS p95_chars,
        |       CAST(sum(CASE WHEN d.n_chars > p.p95_chars
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |       CAST(count(*) - sum(CASE WHEN d.n_chars > p.p95_chars
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM d JOIN p USING (lang)
        |GROUP BY d.lang ORDER BY lang""".stripMargin,
    "train_val_test_split" ->
      """WITH s AS (
        |  SELECT lang, doc_id,
        |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents)
        |SELECT lang, split, count(*) AS n,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "doc_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, ws, n, CAST(t.i AS INTEGER) AS chunk_idx
        |  FROM d CROSS JOIN range(0, 512) t(i)
        |  WHERE t.i <= greatest(CAST(ceil((n - 50) / 40.0) AS INTEGER), 0))
        |SELECT doc_id, chunk_idx,
        |       array_to_string(ws[chunk_idx * 40 + 1 : chunk_idx * 40 + 50], ' ') AS chunk,
        |       CAST(least(50, n - chunk_idx * 40) AS INTEGER) AS chunk_tokens
        |FROM idx ORDER BY doc_id, chunk_idx""".stripMargin,
    "embedding_quantize_int8" -> {
      import graft.functions.VectorFunctions.dotFpDuck
      s"""WITH norms AS (
         |  SELECT e.vec_id,
         |         sqrt(CAST(${dotFpDuck("embedding", "embedding")} AS DOUBLE) / 1e15) AS norm
         |  FROM embeddings e CROSS JOIN range(1, 2049) t(i)
         |  WHERE t.i <= len(e.embedding)
         |  GROUP BY e.vec_id)
         |SELECT e.vec_id, CAST(len(e.embedding) AS INTEGER) AS emb_dim,
         |       coalesce(array_to_string(list_transform(e.embedding,
         |         x -> CAST(floor(CAST(x AS DOUBLE) / n.norm * 127) AS INTEGER)), ','), '') AS q8,
         |       round(n.norm, 6) AS norm
         |FROM embeddings e JOIN norms n USING (vec_id)
         |ORDER BY e.vec_id""".stripMargin
    },
    "bucketed_colocated_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         |       ${dsumSql("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // same slice-windowed 3-gram chain as decontamination's shingles
    "template_phrase_detect" ->
      """WITH d AS (
        |  SELECT source, doc_id, string_split(text, ' ') AS ws,
        |         CAST(len(string_split(text, ' ')) AS INTEGER) AS n
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, doc_id,
        |         array_to_string(ws[CAST(t.i AS INTEGER) : CAST(t.i AS INTEGER) + 2], ' ')
        |           AS phrase
        |  FROM d CROSS JOIN range(1, 8193) t(i)
        |  WHERE t.i <= greatest(n - 2, 1)),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY source)
        |SELECT sh.source, sh.phrase,
        |       CAST(count(*) AS BIGINT) AS n_doc, ps.n_docs,
        |       CAST(count(*) * 1000000 // ps.n_docs AS BIGINT) AS share_fp
        |FROM sh JOIN ps USING (source)
        |GROUP BY sh.source, sh.phrase, ps.n_docs
        |HAVING count(*) >= 3
        |ORDER BY source, phrase""".stripMargin,

    // identical distinct (source, shingle) windows, pair counts, and
    // min-denominator containment
    "cross_source_contamination" ->
      """WITH toks AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT source,
        |         array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
        |           AS sh
        |  FROM toks CROSS JOIN range(1, 8193) r(i)
        |  WHERE i + 2 <= len(t)),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh
        |        FROM sh GROUP BY source),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY a.source, b.source)
        |SELECT s1, s2, n_shared, t1.n_sh AS t1, t2.n_sh AS t2,
        |       CAST(n_shared * 1000000 // least(t1.n_sh, t2.n_sh) AS BIGINT)
        |         AS containment_fp
        |FROM pairs
        |JOIN tot t1 ON t1.source = pairs.s1
        |JOIN tot t2 ON t2.source = pairs.s2
        |ORDER BY s1, s2""".stripMargin,
  )
}
