package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators over `documents` / `embeddings`
  * (SURVEY.md §2.K — the BASELINE.json north-star extension beyond the
  * reference's own surface).
  *
  * Scale design (the part that matters at 100 TB):
  *   - L2 exact dedup: hash-shuffle on sha256, one pass, no driver state.
  *   - L3 MinHash: signatures are a per-row map-side computation (no
  *     shuffle), persisted once as the signature layout; candidate
  *     pairing is a band-bucket equi-join — the LSH trick that turns
  *     O(n²) near-dup search into a same-key join — re-derived and
  *     hash-verified by the DuckDB oracle from the persisted layout.
  *   - jaccard core: n-gram set overlap via an inverted-index join,
  *     blocked by `source` so no block outgrows one executor.
  *   - L4 cosine top-k: brute-force baseline over a broadcast query set;
  *     per-vector norms precomputed before the join (never per pair).
  *     Dot products fold through DECIMAL so results are bit-stable under
  *     any partitioning (Det.dotDecExpr).
  *   - L5 tf-idf: two hash aggregates + a broadcast of the df side.
  *   - L6 multimodal struct: nested field access, never explosion.
  */
object LlmOps extends OpGroup {

  /** Document-frequency cap for the jaccard inverted index: tokens seen
    * in more than this many documents are dropped before the self-join
    * (they contribute df² candidate rows and ~zero Jaccard signal).
    */
  private[graft] val JaccardDfCap = 50

  /** MinHash signature layout, persisted once per (application, dataset):
    * 16 seeded xxhash64 minima over word 3-gram shingles per document.
    * The hash VALUES are Spark-specific, but persisting them as parquet
    * makes them plain input data — the banding, candidate pairing, and
    * slot-agreement estimate downstream are engine-independent, so the
    * DuckDB oracle re-derives them from the same files (the
    * lsh_hyperplane / ann_pq_adc recipe).
    */
  private[operators] val minhashLayoutCache = new graft.Layout("graft_minhash")

  /** One MinHash band layout, named once: every divisor/threshold/SQL
    * parameter below derives from these (a band-layout change is a
    * one-line edit, not four coordinated literals).
    */
  private[graft] val MinHashes = 16
  private[graft] val MinHashBands = 4
  private[graft] val MinHashRowsPerBand = MinHashes / MinHashBands
  private[operators] val MinHashDupSlots = MinHashes / 2 // est_jaccard ≥ 0.5

  private[graft] def minhashLayout(s: SparkSession, d: String): String =
    minhashLayoutCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .withColumn("shingles", graft.functions.TextSim.shingles("words", 3))
        .withColumn("sig",
          graft.functions.TextSim.minhashSignature("shingles", MinHashes))
        .select("doc_id", "sig")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    }

  /** Canonicalized content key for incremental dedup: sha256 of the
    * first 30 tokens — the truncated-fingerprint normalization real
    * dedup indexes use (title/lead dedup; full-text sha misses
    * near-identical re-crawls that share their head). On the fixture
    * this is what makes historical collisions exist at all: documents
    * share 30-token prefixes across the batch boundary but never the
    * full text.
    */
  private def prefixKey =
    sha2(concat_ws(" ", slice(split(col("text"), " "), 1, 30)), 256)

  /** Historical content-hash index for incremental dedup: the key
    * set of the "already ingested" corpus slice (doc_id % 5 < 4),
    * persisted once as plain parquet — at 100 TB this index is
    * maintained by the ingest job (append-only, hash + canonical id,
    * ~1% the corpus bytes), and each day's batch anti-joins it instead
    * of re-deduping the whole corpus.
    */
  private val dedupIndexCache = new graft.Layout("graft_dedup_idx")

  private def dedupIndex(s: SparkSession, d: String): String =
    dedupIndexCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      Tables.documents(s, d)
        .filter(col("doc_id") % 5 < 4)
        .groupBy(prefixKey.as("h"))
        .agg(min("doc_id").as("canonical_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    }

  /** Today's batch keyed + bloom pre-filter verdict, spec-visible so
    * CorpusDedupSpec can pin selectivity and the no-false-negative law.
    * The bitset is sized from FOOTER stats (Tables.rowCount — the S6d
    * manifest path): items ≈ the 4/5 historical slice, 10 bits/item ⇒
    * ~1% fpp; at 100 TB the same two metadata numbers come from the
    * catalog, never a scan.
    */
  private[graft] def bloomPrefilteredBatch(s: SparkSession, d: String): DataFrame = {
    val items = math.max(64L, Tables.rowCount(s, d, "documents") * 4 / 5)
    val bits = items * 10
    // might_contain demands a CONSTANT or scalar-subquery bitset (the
    // InjectRuntimeFilter shape) — a scalar subquery keeps the build
    // fully distributed and the probe codegen'd
    val bloomIdx = Tables.parquet(s, dedupIndex(s, d))
      .agg(graft.functions.BloomDedup.agg(col("h"), items, bits).as("bf"))
    Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), prefixKey.as("h"))
      .withColumn("maybe_seen",
        graft.functions.BloomDedup.mightContain(bloomIdx.scalar(), col("h")))
  }

  /** RAKE phrase-boundary stopwords: the union of the four lang-ID
    * scoring lists (TrainingDataOps' fixed vocabulary) — deterministic
    * literals shared verbatim with the DuckDB oracle.
    */
  private[operators] val RakeStops: Seq[String] = Seq(
    "the", "a", "of", "and", "in", "der", "die", "das", "und", "ist",
    "el", "los", "de", "y", "es", "le", "la", "et", "les", "est")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C4b — bloom-pre-filtered incremental dedup: IDENTICAL verdicts to
    // incremental_dedup_index (they share an oracle) but the index join
    // probes ONLY rows the broadcast bloom bitset cannot rule out. At
    // 100 TB the bitset is a few MB against a TB-scale index shuffle:
    // fresh-crawl keys (the common case) skip the join entirely, false
    // positives just take the exact path and come back NULL — the
    // pre-filter is invisible to correctness by the no-false-negative
    // property, which CorpusDedupSpec pins along with selectivity.
    "bloom_prefilter_dedup" -> ((s, d) => {
      val idx = Tables.parquet(s, dedupIndex(s, d))
      val pre = bloomPrefilteredBatch(s, d)
      val probed = pre.filter(col("maybe_seen"))
        .join(idx, Seq("h"), "left_outer")
        .select(col("doc_id"), col("h"), col("canonical_id"))
      val missed = pre.filter(!col("maybe_seen"))
        .select(col("doc_id"), col("h"),
          lit(null).cast("long").as("canonical_id"))
      val unioned = probed.unionByName(missed)
      val bmin = unioned.groupBy("h").agg(min("doc_id").as("batch_min"))
      unioned.join(bmin, Seq("h"))
        .withColumn("accepted",
          col("canonical_id").isNull && col("doc_id") === col("batch_min"))
        .select(col("doc_id"), col("h"), col("accepted"),
          when(col("accepted"), lit(null).cast("long"))
            .otherwise(coalesce(col("canonical_id"), col("batch_min")))
            .as("canonical_id"))
        .orderBy("doc_id")
    }),
    // C23 (r15, VERDICT r14 ask #7) — the bloom-vs-index CROSSOVER
    // quantified: C4b's claim ("a few-MB bitset replaces a TB-scale
    // index shuffle for fresh-crawl keys") as a planner row per
    // fresh-key ratio, derived from METADATA COUNTS alone (two
    // count(*)s — parquet footer reads — plus C4b's own sizing
    // constants: items = max(64, n_docs·4/5), 10 bits/item ⇒ k = 7 =
    // round(10·ln2) hashes). Per ratio r ∈ {1, 25, 50, 90}%:
    //   n_fresh   = r% of the batch (keys not in the index),
    //   fpp_ppm   = floor((1 − e^(−k·n_index/m))^k · 1e6) — the one
    //               IEEE leaf (exp + a 7-fold multiplication chain,
    //               no pow), FLOOR'd at ppm so both engines agree,
    //   n_probe   = seen keys + false-positive fresh keys — the rows
    //               that still pay the exact join,
    //   bytes_saved      = (n_batch − n_probe) · 16 B/row (h +
    //                      canonical_id, the join-key exchange width),
    //   bitset_ship_bytes = bitset · 1000 executors (the broadcast
    //                      cost the bitset must amortize),
    //   use_bloom = ship < saved — the crossover verdict. At fixture
    // scale it is honestly FALSE (a 1 MB broadcast beats nothing at
    // 200-row batches); the 100 TB reading: n_batch·16 B grows with
    // the corpus while bitset_ship_bytes is fixed, so the verdict
    // flips exactly where the formula says. DuckDB replays every
    // integer and the one FLOOR'd leaf from the same two counts.
    "bloom_dedup_crossover_plan" -> ((s, d) => {
      val nIdx = Tables.parquet(s, dedupIndex(s, d))
        .agg(count(lit(1)).as("n_index"))
      val nDocs = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") % 5 === 4, 1L).otherwise(0L))
            .as("n_batch"))
      nIdx.crossJoin(broadcast(nDocs))
        .crossJoin(broadcast(s.range(0, 1).select(explode(array(
          lit(1L), lit(25L), lit(50L), lit(90L))).as("fresh_pct"))))
        .withColumn("m_bits",
          expr("greatest(64L, n_docs * 4 DIV 5) * 10"))
        .withColumn("bitset_bytes", expr("(m_bits + 7) DIV 8"))
        .withColumn("y", expr(
          "1.0 - exp(-(7.0 * CAST(n_index AS DOUBLE)) / CAST(m_bits AS DOUBLE))"))
        .withColumn("fpp_ppm", expr(
          "CAST(FLOOR(y * y * y * y * y * y * y * 1000000.0) AS BIGINT)"))
        .withColumn("n_fresh", expr("n_batch * fresh_pct DIV 100"))
        .withColumn("n_probe", expr(
          "(n_batch - n_fresh) + n_fresh * fpp_ppm DIV 1000000"))
        .withColumn("bytes_saved", expr("(n_batch - n_probe) * 16"))
        .withColumn("bitset_ship_bytes", expr("bitset_bytes * 1000"))
        .select(col("fresh_pct"), col("n_index"), col("n_batch"),
          col("m_bits"), col("bitset_bytes"), col("fpp_ppm"),
          col("n_fresh"), col("n_probe"), col("bytes_saved"),
          col("bitset_ship_bytes"),
          (col("bitset_ship_bytes") < col("bytes_saved")).as("use_bloom"))
        .orderBy("fresh_pct")
    }),

    // Incremental dedup: today's batch (doc_id % 5 = 4) against the
    // persisted historical index — accepted ⇔ content hash unseen; a
    // seen hash reports the historical canonical id it collides with.
    // ONE hash-keyed join of batch-sized vs index-sized relations;
    // nothing rescans the historical corpus. Within-batch repeats
    // resolve by the same keep-first rule as exact_dedup_hash, and
    // EVERY rejected row names its survivor: the historical canonical
    // when the hash is indexed, else the batch's first occurrence
    // (the same batch_min the keep-first rule derives).
    // Accepted rows are their own canonical ⇒ NULL. r10: within-batch
    // keep-first is a map-side-combinable min(doc_id) pre-aggregate
    // joined back on the hash (the exact_dedup_hash skew argument —
    // AQE splits a hot-hash JOIN, never a window).
    "incremental_dedup_index" -> ((s, d) => {
      val idx = Tables.parquet(s, dedupIndex(s, d))
      val batch = Tables.documents(s, d)
        .filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"), prefixKey.as("h"))
      val bmin = batch.groupBy("h").agg(min("doc_id").as("batch_min"))
      batch
        .join(bmin, Seq("h"))
        .withColumn("first_of_hash", col("doc_id") === col("batch_min"))
        .join(idx, Seq("h"), "left_outer")
        .withColumn("accepted",
          col("canonical_id").isNull && col("first_of_hash"))
        .select(col("doc_id"), col("h"), col("accepted"),
          when(col("accepted"), lit(null).cast("long"))
            .otherwise(coalesce(col("canonical_id"), col("batch_min")))
            .as("canonical_id"))
        .orderBy("doc_id")
    }),

    // L1 — per-document text statistics.
    "text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), col("lang"),
          length(col("text")).as("n_chars_calc"),
          col("n_chars").as("n_chars_stored"),
          size(col("words")).as("n_tokens"),
          size(array_distinct(col("words"))).as("n_unique_tokens"))
        .orderBy("doc_id")),

    // L2 — exact content dedup via sha256 + deterministic keep-first.
    // r10 skew-proof shape: canonical = min(doc_id) per hash as a
    // map-side-combinable pre-aggregate joined back on the hash — a
    // web-scale boilerplate document (1e8 identical copies, one hash)
    // collapses per mapper and the join-back is AQE-skew-splittable,
    // where the old keep-first window pinned every copy into ONE task.
    "exact_dedup_hash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      val first = docs.groupBy("h").agg(min("doc_id").as("first_doc"))
      docs.join(first, Seq("h"))
        .select(col("doc_id"), col("h"),
          (col("doc_id") === col("first_doc")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // L3 — MinHash near-dedup over the persisted signature layout:
    // banding (4 bands × 4 slots) → candidate pairs agreeing on ≥1 band
    // (an equi-join, never a cross join) → est_jaccard = agreeing-slot
    // fraction. Signatures are persisted parquet, so the whole pipeline
    // downstream of the hash is hash-verified against DuckDB.
    "minhash_near_dedup" -> ((s, d) => {
      val stored = s.read.parquet(minhashLayout(s, d))
      graft.functions.TextSim.signatureBandPairs(stored,
          numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)
        .withColumn("est_jaccard",
          round(col("n_match").cast("double") / MinHashes, 6))
        .withColumn("is_dup", col("n_match") >= MinHashDupSlots)
        .orderBy("doc_a", "doc_b")
    }),

    // Chapman capture–recapture estimate of the near-dup population
    // (r12, third session): split the 4 minhash bands into two
    // independent 2-band detectors; each "captures" the confirmed dup
    // pairs its bands surface, and the bias-corrected Chapman
    // estimator N̂ = (n_A+1)(n_B+1)/(m+1) − 1 (Chapman 1951, the
    // Lincoln–Petersen fix) extrapolates the TOTAL dup-pair
    // population — including pairs NEITHER detector caught — from the
    // overlap. coverage = union/N̂ is the recall estimate a dedup
    // deployment quotes without ever enumerating ground truth (which
    // is exactly what's impossible at 100 TB). Law (spec-pinned):
    // N̂ ≥ |A∪B| always, since (nA+1)(nB+1) − (m+1)(nA+nB−m+1) = xy
    // with x = nA−m, y = nB−m. Scale: band machinery is
    // signatureBandPairs' own (ID-only shuffles, bucket cap);
    // confirmation joins signatures back only for candidates.
    "chapman_dedup_estimate" -> ((s, d) => {
      val stored = s.read.parquet(minhashLayout(s, d))
      val bands = stored.select(col("doc_id"),
        posexplode(array((0 until MinHashBands).map(k =>
          slice(col("sig"), k * MinHashRowsPerBand + 1, MinHashRowsPerBand)): _*))
          .as(Seq("bk", "bv")))
      val small = bands.groupBy("bk", "bv").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= 1000).select("bk", "bv")
      val kept = bands.join(small, Seq("bk", "bv"))
      val cand = kept.select(col("bk"), col("bv"), col("doc_id").as("doc_a"))
        .join(kept.select(col("bk"), col("bv"), col("doc_id").as("doc_b")),
          Seq("bk", "bv"))
        .filter(col("doc_a") < col("doc_b"))
        .select((col("bk") < 2).as("grp"), col("doc_a"), col("doc_b"))
        .distinct()
      val sa = stored.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val sb = stored.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val dup = cand.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_match", expr(
          "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"))
        .filter(col("n_match") >= MinHashDupSlots)
        .select("grp", "doc_a", "doc_b")
      val a = dup.filter(col("grp")).select("doc_a", "doc_b").distinct()
      val b = dup.filter(!col("grp")).select("doc_a", "doc_b").distinct()
      val m = a.join(b, Seq("doc_a", "doc_b"), "left_semi")
      val u = a.union(b).distinct()
      a.agg(count(lit(1)).as("n_a"))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_b"))))
        .crossJoin(broadcast(m.agg(count(lit(1)).as("n_both"))))
        .crossJoin(broadcast(u.agg(count(lit(1)).as("n_union"))))
        .withColumn("chapman_est",
          expr("(n_a + 1) * (n_b + 1) DIV (n_both + 1) - 1"))
        .withColumn("coverage_fp", expr(
          """CASE WHEN chapman_est > 0
            | THEN n_union * 1000000 DIV chapman_est
            |ELSE CAST(NULL AS BIGINT) END""".stripMargin.replace("\n", " ")))
    }),

    // Cross-LINGUAL near-dup audit: the minhash near-dup pairs (same
    // persisted signatures, same capped band join) annotated with each
    // side's declared language and flagged where the languages differ —
    // the curation sweep that surfaces mis-tagged languages and
    // boilerplate shared across locale sites (a same-content pair
    // declaring two languages is one or the other). Confirmed dups only
    // (n_match ≥ MinHashDupSlots ⇔ est_jaccard ≥ 0.5), so the lang
    // equi-joins touch the candidate set, not the corpus²; documents
    // joins in on doc_id (co-partitioned hash join — at scale the
    // candidate side is the small one and AQE broadcasts it).
    "crosslingual_near_dup" -> ((s, d) => {
      val stored = s.read.parquet(minhashLayout(s, d))
      val pairs = graft.functions.TextSim.signatureBandPairs(stored,
          numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)
        .filter(col("n_match") >= MinHashDupSlots)
      val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a")),
          "doc_a")
        .join(langs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"), col("lang_a"), col("lang_b"),
          (col("lang_a") =!= col("lang_b")).as("is_cross_lingual"),
          col("n_match"))
        .orderBy("doc_a", "doc_b")
    }),

    // Dedup-rate AUDIT by source: the per-source duplication scoreboard a
    // curation run reports before deciding mixture weights (a source
    // that is 40% near-dup of itself earns less budget). Same persisted
    // signatures + capped band join; a doc counts as duplicated if it
    // appears on EITHER side of a confirmed pair. Rate is an exact 1e-6
    // fixed-point integer division. Scale: the dup-doc set is bounded by
    // the capped candidate pairs; the per-source agg is one map-side
    // combinable shuffle of (source) keys; the dup set joins documents
    // on doc_id (broadcast — it is the small side by construction).
    "dedup_rate_by_source" -> ((s, d) => {
      val stored = s.read.parquet(minhashLayout(s, d))
      val pairs = graft.functions.TextSim.signatureBandPairs(stored,
          numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)
        .filter(col("n_match") >= MinHashDupSlots)
      val dupDocs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
        .withColumn("is_dup", lit(1))
      Tables.documents(s, d).select("doc_id", "source")
        .join(broadcast(dupDocs), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0))).as("n_dup_docs"))
        .withColumn("dup_rate_fp", expr("n_dup_docs * 1000000 DIV n_docs"))
        .orderBy("source")
    }),

    // jaccard core (SURVEY L3's oracle-able half): unigram-set Jaccard
    // over source-blocked doc pairs via inverted-index join. Standard LSH
    // hygiene: tokens seen in more than DF_CAP documents are dropped
    // BEFORE the self-join — a stop-word-frequency token contributes df²
    // candidate rows while carrying no Jaccard signal, so the cap is what
    // keeps the inverted-index fan-out linear at 100 TB. Set sizes (na/nb)
    // count the kept tokens only, mirrored exactly in the oracle.
    "ngram_jaccard_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"),
          array_distinct(split(col("text"), " ")).as("ws"))
      graft.functions.TextSim
        .jaccardPairs(docs, "doc_id", "source", "ws", JaccardDfCap)
        .withColumn("jaccard",
          round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 6))
        .filter(col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // Near-dup transitivity audit (r12, fifth session): over the SAME
    // df-capped Jaccard candidate edges as ngram_jaccard_pairs (the
    // ≥0.3 threshold applied as the EXACT integer predicate
    // 10·inter ≥ 3·(|A|+|B|−inter)), count open vs closed wedges —
    // the global clustering coefficient of the near-dup graph. The
    // read a dedup pipeline needs before trusting connected-component
    // clusters: high transitivity means "a~b, b~c ⇒ a~c" mostly
    // holds and CC components are coherent duplicate groups; low
    // transitivity means CC is chaining unrelated docs through hub
    // boilerplate. Scale: edges are the df-capped blocked candidate
    // set (never all-pairs); wedges join edge-to-edge on the shared
    // middle vertex (degree-bounded by the df cap); closure is one
    // equi-join back against the edge set; wedge totals fold from
    // per-vertex degree counts.
    "neardup_transitivity_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"),
          array_distinct(split(col("text"), " ")).as("ws"))
      // r19: pin the df-capped candidate edge set once — deg reads it
      // twice (u/w union), the wedge join three times and ne once, so
      // the expensive inverted-index jaccardPairs subtree otherwise
      // executes six times per run (3303-line physical plan,
      // plans/r19/neardup_transitivity_audit_before.txt)
      val edges = graft.functions.Checkpoints.pin(graft.functions.TextSim
        .jaccardPairs(docs, "doc_id", "source", "ws", JaccardDfCap)
        .filter(expr("10 * inter >= 3 * (na + nb - inter)"))
        .select(col("doc_a").as("u"), col("doc_b").as("w")))
      val deg = edges.select(col("u").as("vx"))
        .union(edges.select(col("w").as("vx")))
        .groupBy("vx").agg(count(lit(1)).as("dg"))
      val wedges = deg.agg(sum(expr("dg * (dg - 1) DIV 2")).as("n_wedges"),
        count(lit(1)).as("n_vertices"))
      val e1 = edges.select(col("u").as("x"), col("w").as("y"))
      val e2 = edges.select(col("u").as("y"), col("w").as("z"))
      val tri = e1.join(e2, "y")
        .join(edges.select(col("u").as("x"), col("w").as("z")),
          Seq("x", "z"))
        .agg(count(lit(1)).as("n_triangles"))
      val ne = edges.agg(count(lit(1)).as("n_edges"))
      ne.crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
        .select(col("n_edges"), col("n_vertices"), col("n_wedges"),
          col("n_triangles"),
          expr("""CASE WHEN n_wedges > 0
                 | THEN 3 * n_triangles * 1000000 DIV n_wedges
                 | ELSE CAST(NULL AS BIGINT) END"""
            .stripMargin.replace("\n", " ")).as("transitivity_fp"),
          expr("n_wedges - 3 * n_triangles").as("open_wedges"))
    }),

    // containment twin of ngram_jaccard_pairs: |A∩B| / min(|A|,|B|) —
    // the asymmetric-size near-dup measure (a short doc fully embedded
    // in a long one scores ~1.0 where Jaccard dilutes toward 0; the
    // quote-inclusion / page-wrapper case Jaccard systematically
    // misses). Same df-capped inverted-index candidates, same blocked
    // join — only the final scoring leaf differs, so the 100 TB story
    // is ngram_jaccard_pairs' verbatim.
    "containment_near_dup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"),
          array_distinct(split(col("text"), " ")).as("ws"))
      graft.functions.TextSim
        .jaccardPairs(docs, "doc_id", "source", "ws", JaccardDfCap)
        .withColumn("containment",
          round(col("inter").cast("double") / least(col("na"), col("nb")), 6))
        .filter(col("containment") >= 0.5)
        .select("doc_a", "doc_b", "inter", "containment")
        .orderBy("doc_a", "doc_b")
    }),

    // L4 — brute-force cosine top-k: 10 query vectors × all neighbors,
    // top-5 each. The 100 TB path swaps the cross join for the
    // label-blocked IVF variant (ann_ivf_topk) — same scoring core.
    // Scoring runs on the codegen'd FixedPointDot expression (exact long
    // arithmetic ⇒ still bit-identical to the DuckDB oracle).
    "cosine_similarity_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorFunctions.norm("embedding").as("norm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("norm").as("q_norm"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", graft.functions.VectorFunctions.dot("q_emb", "embedding"))
        .withColumn("cos", col("dot") / (col("q_norm") * col("norm")))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"),
          round(col("cos"), 6).as("cosine"))
        .orderBy("q_id", "rank")
    }),

    // L5 — tf-idf keywords: top-3 terms per doc; idf from exact integer
    // counts so both engines evaluate ln() on identical doubles.
    // RAKE keyphrase extraction (r12, third session; Rose et al.
    // 2010): candidate phrases are maximal stopword-free token runs;
    // each word scores deg(w)/freq(w) (deg = Σ lengths of phrases
    // containing it — co-occurrence reach; freq = its occurrence
    // count), and a phrase scores the sum of its words — the
    // multi-word keyphrase extractor tfidf_keywords' unigram view
    // can't produce. Scale: phrase segmentation is a DOC-SHARDED
    // running stopword count (day-sharded-window class, never a
    // global window); deg/freq fold map-side into a vocab-bounded
    // table joined back broadcast; per-word scores truncate as exact
    // deg·1e6 DIV freq BEFORE the phrase sum, so identical phrase
    // text ⇒ identical score on any partitioning and engine; top-15
    // resolves by TakeOrdered on (score, phrase).
    "rake_keyphrases" -> ((s, d) => {
      val stops = RakeStops.map(w => s"'$w'").mkString(", ")
      val w1 = Window.partitionBy("doc_id").orderBy("pos")
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .toDF("doc_id", "pos", "w")
        .withColumn("is_stop", expr(s"w IN ($stops)"))
        .withColumn("pid",
          sum(when(col("is_stop"), 1L).otherwise(0L)).over(w1))
        .filter(!col("is_stop"))
      val phrases = toks.groupBy("doc_id", "pid")
        .agg(count(lit(1)).as("n_words"),
          expr("""array_join(transform(
            |  sort_array(collect_list(struct(pos, w))), e -> e.w), ' ')"""
            .stripMargin.replace("\n", " ")).as("phrase"))
      val member = toks.select("doc_id", "pid", "w")
        .join(phrases, Seq("doc_id", "pid"))
      val wstats = member.groupBy("w")
        .agg(sum("n_words").as("deg"), count(lit(1)).as("freq"))
        .withColumn("wscore_fp", expr("deg * 1000000 DIV freq"))
      member.join(broadcast(wstats.select("w", "wscore_fp")), "w")
        .groupBy("doc_id", "pid", "phrase", "n_words")
        .agg(sum("wscore_fp").as("score_fp"))
        .groupBy("phrase", "n_words", "score_fp")
        .agg(count(lit(1)).as("n_occurrences"))
        .select("phrase", "n_words", "n_occurrences", "score_fp")
        .orderBy(col("score_fp").desc, col("phrase")).limit(15)
    }),

    "tfidf_keywords" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = words.select("doc_id", "w").distinct()
        .groupBy("w").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(df), "w").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      val w8 = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("w"))
      scored.withColumn("rank", row_number().over(w8))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"), col("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // L6 — multimodal struct column: text metadata + embedding + kv map
    // carried in one nested column, accessed without explosion (nested
    // schema pruning keeps the scan narrow).
    "multimodal_struct_col" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      docs.join(emb, col("doc_id") === col("vec_id"), "inner")
        .withColumn("payload", struct(
          struct(col("lang"), col("n_chars")).as("text_meta"),
          col("embedding"),
          map(lit("source"), col("source")).as("meta")))
        .select(col("doc_id"),
          col("payload.text_meta.lang").as("lang"),
          col("payload.text_meta.n_chars").as("n_chars"),
          size(col("payload.embedding")).as("emb_dim"),
          element_at(col("payload.meta"), "source").as("source"))
        .orderBy("doc_id")
    }),
  )

  /** Shared DuckDB CTE: fixed-point cosine over embedding pairs — the
    * oracle twin of graft.functions.FixedPointDot (see its scaladoc for
    * the exactness argument).
    */
  private[operators] def cosinePairsDuck(pairCond: String): String = {
    import graft.functions.VectorFunctions.dotFpDuck
    // range(1, 2049) is only an envelope — the `t.i <= len(...)` filter
    // derives the true bound per row, so a fixture regeneration with a
    // different dimension (≤ 2048) cannot silently truncate the sum.
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |norms AS (
       |  SELECT e.vec_id,
       |         sqrt(CAST(${dotFpDuck("embedding", "embedding")} AS DOUBLE) / 1e15) AS norm
       |  FROM e CROSS JOIN range(1, 2049) t(i)
       |  WHERE t.i <= len(e.embedding)
       |  GROUP BY e.vec_id),
       |dots AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS pair_label,
       |         ${dotFpDuck("a.embedding", "b.embedding")} AS dot
       |  FROM e a JOIN e b ON $pairCond
       |  CROSS JOIN range(1, 2049) t(i)
       |  WHERE t.i <= least(len(a.embedding), len(b.embedding))
       |  GROUP BY id_a, id_b, pair_label),
       |scored AS (
       |  SELECT id_a, id_b, pair_label,
       |         (CAST(dot AS DOUBLE) / 1e15) / (na.norm * nb.norm) AS cos
       |  FROM dots JOIN norms na ON id_a = na.vec_id
       |            JOIN norms nb ON id_b = nb.vec_id)""".stripMargin
  }

  /** Shared DuckDB CTE chain ending in `pairs(doc_a, doc_b, na, nb,
    * inter)` — the inverted-index Jaccard candidate join, mirrored from
    * [[graft.functions.TextSim.jaccardPairs]]. Reused by the pair query
    * and the connected-components clustering oracle.
    */
  private[operators] def jaccardCtesDuck: String =
    s"""docs AS (
       |  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS ws
       |  FROM documents WHERE doc_id % 10 = 0),
       |tok AS (SELECT doc_id, source, unnest(ws) AS w FROM docs),
       |rare AS (
       |  SELECT w FROM (SELECT w, count(*) AS df FROM tok GROUP BY w)
       |  WHERE df <= $JaccardDfCap),
       |kept AS (SELECT t.doc_id, t.source, t.w FROM tok t JOIN rare USING (w)),
       |sized AS (
       |  SELECT doc_id, source, count(*) AS n FROM kept GROUP BY doc_id, source),
       |inv AS (
       |  SELECT k.doc_id, k.source, s.n, k.w
       |  FROM kept k JOIN sized s USING (doc_id, source)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.n AS na, b.n AS nb, count(*) AS inter
       |  FROM inv a JOIN inv b
       |    ON a.w = b.w AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY doc_a, doc_b, na, nb)""".stripMargin

  private val incrementalDedupOracle =
    """WITH keyed AS (
      |  SELECT doc_id,
      |         sha256(array_to_string((string_split(text, ' '))[1:30], ' ')) AS h
      |  FROM documents),
      |idx AS (
      |  SELECT h, min(doc_id) AS canonical_id
      |  FROM keyed WHERE doc_id % 5 < 4 GROUP BY 1),
      |batch AS (
      |  SELECT doc_id, h,
      |         (row_number() OVER (PARTITION BY h
      |            ORDER BY doc_id)) = 1 AS first_of_hash,
      |         min(doc_id) OVER (PARTITION BY h) AS batch_min
      |  FROM keyed WHERE doc_id % 5 = 4)
      |SELECT b.doc_id, b.h,
      |       (i.canonical_id IS NULL AND b.first_of_hash) AS accepted,
      |       CASE WHEN i.canonical_id IS NULL AND b.first_of_hash THEN NULL
      |            ELSE coalesce(i.canonical_id, b.batch_min) END AS canonical_id
      |FROM batch b LEFT JOIN idx i ON b.h = i.h
      |ORDER BY b.doc_id""".stripMargin

  // `def`: the minhash oracle embeds the session's persisted layout path
  // (Verify runs every query before dumping oracle SQL)
  def oracleSql: Map[String, String] = Map(
    // the bloom pre-filter is correctness-invisible (no false
    // negatives; false positives resolve through the exact join), so
    // C4b shares C4's oracle verbatim
    "bloom_prefilter_dedup" -> incrementalDedupOracle,
    // the index is itself deterministic (sha + min id over the
    // historical slice), so the oracle recomputes index AND batch join
    // from the base table — nothing structural to trust
    "incremental_dedup_index" -> incrementalDedupOracle,
    // the crossover plan is pure integer algebra + one FLOOR'd IEEE
    // leaf over two metadata counts; DuckDB recounts the index from
    // the persisted parquet and replays every formula
    "bloom_dedup_crossover_plan" ->
      s"""WITH ni AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_index
         |  FROM read_parquet('${dedupIndexCache.lastPath}/*.parquet')),
         |nd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_batch
         |  FROM documents),
         |grid AS (SELECT CAST(unnest([1, 25, 50, 90]) AS BIGINT)
         |           AS fresh_pct),
         |base AS (
         |  SELECT g.fresh_pct, ni.n_index, nd.n_batch,
         |         greatest(64, (nd.n_docs * 4) // 5) * 10 AS m_bits
         |  FROM ni CROSS JOIN nd CROSS JOIN grid g),
         |f AS (
         |  SELECT *, (m_bits + 7) // 8 AS bitset_bytes,
         |         1.0 - exp(-(7.0 * CAST(n_index AS DOUBLE))
         |           / CAST(m_bits AS DOUBLE)) AS y,
         |         (n_batch * fresh_pct) // 100 AS n_fresh
         |  FROM base),
         |p AS (
         |  SELECT fresh_pct, n_index, n_batch, m_bits, bitset_bytes,
         |         CAST(FLOOR(y * y * y * y * y * y * y * 1000000.0)
         |           AS BIGINT) AS fpp_ppm,
         |         n_fresh
         |  FROM f),
         |q AS (
         |  SELECT *, (n_batch - n_fresh)
         |           + (n_fresh * fpp_ppm) // 1000000 AS n_probe
         |  FROM p)
         |SELECT fresh_pct, n_index, n_batch, m_bits, bitset_bytes,
         |       fpp_ppm, n_fresh, n_probe,
         |       (n_batch - n_probe) * 16 AS bytes_saved,
         |       bitset_bytes * 1000 AS bitset_ship_bytes,
         |       bitset_bytes * 1000 < (n_batch - n_probe) * 16
         |         AS use_bloom
         |FROM q ORDER BY fresh_pct""".stripMargin,
    "minhash_near_dedup" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              minhashLayoutCache.lastPath, numHashes = MinHashes,
              numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)}
         |SELECT doc_a, doc_b, n_match,
         |       round(CAST(n_match AS DOUBLE) / $MinHashes.0, 6) AS est_jaccard,
         |       n_match >= $MinHashDupSlots AS is_dup
         |FROM m ORDER BY doc_a, doc_b""".stripMargin,
    "chapman_dedup_estimate" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, sig
         |  FROM read_parquet('${minhashLayoutCache.lastPath}/*.parquet')),
         |bands AS (
         |  SELECT doc_id, t.k AS bk,
         |         sig[CAST($MinHashRowsPerBand * t.k + 1 AS INTEGER)
         |             : CAST($MinHashRowsPerBand * t.k + $MinHashRowsPerBand
         |                 AS INTEGER)] AS bv
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, $MinHashBands)) AS k)
         |    t),
         |small AS (
         |  SELECT bk, bv FROM (SELECT bk, bv, count(*) AS bn
         |                      FROM bands GROUP BY bk, bv)
         |  WHERE bn <= 1000),
         |kept AS (SELECT b.* FROM bands b JOIN small USING (bk, bv)),
         |cand AS (
         |  SELECT DISTINCT a.bk < 2 AS grp, a.doc_id AS doc_a,
         |         b.doc_id AS doc_b
         |  FROM kept a JOIN kept b
         |    ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |dup AS (
         |  SELECT c.grp, c.doc_a, c.doc_b
         |  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a
         |              JOIN sigs sb ON sb.doc_id = c.doc_b
         |  CROSS JOIN range(1, ${MinHashes + 1}) t(i)
         |  GROUP BY 1, 2, 3
         |  HAVING sum(CASE WHEN sa.sig[CAST(t.i AS INTEGER)]
         |                       = sb.sig[CAST(t.i AS INTEGER)]
         |             THEN 1 ELSE 0 END) >= $MinHashDupSlots),
         |aset AS (SELECT DISTINCT doc_a, doc_b FROM dup WHERE grp),
         |bset AS (SELECT DISTINCT doc_a, doc_b FROM dup WHERE NOT grp),
         |co AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM aset) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM bset) AS n_b,
         |         (SELECT CAST(count(*) AS BIGINT) FROM aset
         |          WHERE EXISTS (SELECT 1 FROM bset
         |                        WHERE bset.doc_a = aset.doc_a
         |                          AND bset.doc_b = aset.doc_b)) AS n_both,
         |         (SELECT CAST(count(*) AS BIGINT) FROM
         |            (SELECT doc_a, doc_b FROM aset
         |             UNION SELECT doc_a, doc_b FROM bset)) AS n_union)
         |SELECT n_a, n_b, n_both, n_union,
         |       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT)
         |         AS chapman_est,
         |       CASE WHEN (n_a + 1) * (n_b + 1) // (n_both + 1) - 1 > 0
         |         THEN CAST(n_union * 1000000
         |           // ((n_a + 1) * (n_b + 1) // (n_both + 1) - 1) AS BIGINT)
         |       ELSE NULL END AS coverage_fp
         |FROM co""".stripMargin,

    "crosslingual_near_dup" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              minhashLayoutCache.lastPath, numHashes = MinHashes,
              numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)},
         |langs AS (SELECT doc_id, lang FROM documents)
         |SELECT m.doc_a, m.doc_b, la.lang AS lang_a, lb.lang AS lang_b,
         |       la.lang <> lb.lang AS is_cross_lingual, m.n_match
         |FROM m JOIN langs la ON la.doc_id = m.doc_a
         |       JOIN langs lb ON lb.doc_id = m.doc_b
         |WHERE m.n_match >= $MinHashDupSlots
         |ORDER BY m.doc_a, m.doc_b""".stripMargin,
    "dedup_rate_by_source" ->
      s"""WITH ${graft.functions.TextSim.signatureBandPairsDuck(
              minhashLayoutCache.lastPath, numHashes = MinHashes,
              numBands = MinHashBands, rowsPerBand = MinHashRowsPerBand)},
         |dup AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM m WHERE n_match >= $MinHashDupSlots
         |    UNION ALL
         |    SELECT doc_b AS doc_id FROM m WHERE n_match >= $MinHashDupSlots))
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(dup.doc_id) AS BIGINT) AS n_dup_docs,
         |       CAST(count(dup.doc_id) * 1000000 // count(*) AS BIGINT)
         |         AS dup_rate_fp
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, lang,
        |       CAST(length(text) AS INTEGER) AS n_chars_calc,
        |       n_chars AS n_chars_stored,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_unique_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "exact_dedup_hash" ->
      """SELECT doc_id, sha256(text) AS h,
        |       (row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1)
        |         AS is_canonical
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH $jaccardCtesDuck
         |SELECT doc_a, doc_b, inter,
         |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
         |FROM pairs
         |WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same candidate edges (exact integer threshold) / wedge joins
    "neardup_transitivity_audit" ->
      s"""WITH $jaccardCtesDuck,
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS w FROM pairs
         |  WHERE 10 * inter >= 3 * (na + nb - inter)),
         |deg AS (
         |  SELECT vx, CAST(count(*) AS BIGINT) AS dg
         |  FROM (SELECT u AS vx FROM edges
         |        UNION ALL SELECT w AS vx FROM edges) t
         |  GROUP BY 1),
         |wg AS (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT)
         |           AS n_wedges,
         |         CAST(count(*) AS BIGINT) AS n_vertices
         |       FROM deg),
         |tri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM edges e1
         |  JOIN edges e2 ON e2.u = e1.w
         |  JOIN edges e3 ON e3.u = e1.u AND e3.w = e2.w),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
         |SELECT ne.n_edges, wg.n_vertices, wg.n_wedges, tri.n_triangles,
         |       CASE WHEN wg.n_wedges > 0
         |         THEN CAST(3 * tri.n_triangles * 1000000 // wg.n_wedges
         |           AS BIGINT)
         |         ELSE NULL END AS transitivity_fp,
         |       wg.n_wedges - 3 * tri.n_triangles AS open_wedges
         |FROM ne CROSS JOIN wg CROSS JOIN tri""".stripMargin,
    "containment_near_dup" ->
      s"""WITH $jaccardCtesDuck
         |SELECT doc_a, doc_b, inter,
         |       round(CAST(inter AS DOUBLE) / least(na, nb), 6) AS containment
         |FROM pairs
         |WHERE round(CAST(inter AS DOUBLE) / least(na, nb), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "cosine_similarity_topk" ->
      s"""${cosinePairsDuck("b.vec_id < 10 AND a.vec_id <> b.vec_id")},
         |ranked AS (
         |  SELECT id_b, id_a, cos,
         |         row_number() OVER (PARTITION BY id_b
         |           ORDER BY cos DESC, id_a) AS rank
         |  FROM scored)
         |SELECT id_b AS q_id, rank, id_a AS neighbor_id, round(cos, 6) AS cosine
         |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "rake_keyphrases" -> {
      val stops = RakeStops.map(w => s"'$w'").mkString(", ")
      s"""WITH toks0 AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, a[CAST(i AS INT)] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS a
         |        FROM documents) t,
         |       UNNEST(range(1, len(a) + 1)) AS r(i)),
         |flagged AS (
         |  SELECT doc_id, pos, w,
         |         CASE WHEN w IN ($stops) THEN 1 ELSE 0 END AS is_stop
         |  FROM toks0),
         |pidt AS (
         |  SELECT doc_id, pos, w, is_stop,
         |         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
         |           AS pid
         |  FROM flagged),
         |ph AS (SELECT doc_id, pid, pos, w FROM pidt WHERE is_stop = 0),
         |phr AS (
         |  SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS n_words,
         |         string_agg(w, ' ' ORDER BY pos) AS phrase
         |  FROM ph GROUP BY 1, 2),
         |member AS (
         |  SELECT ph.doc_id, ph.pid, ph.w, phr.n_words, phr.phrase
         |  FROM ph JOIN phr USING (doc_id, pid)),
         |ws AS (SELECT w, CAST(sum(n_words) AS BIGINT) AS deg,
         |              CAST(count(*) AS BIGINT) AS freq
         |       FROM member GROUP BY 1),
         |wsc AS (SELECT w, CAST(deg * 1000000 // freq AS BIGINT)
         |          AS wscore_fp FROM ws),
         |psc AS (
         |  SELECT m.doc_id, m.pid, m.phrase, m.n_words,
         |         CAST(sum(wsc.wscore_fp) AS BIGINT) AS score_fp
         |  FROM member m JOIN wsc USING (w)
         |  GROUP BY 1, 2, 3, 4)
         |SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS n_occurrences,
         |       score_fp
         |FROM psc GROUP BY phrase, n_words, score_fp
         |ORDER BY score_fp DESC, phrase LIMIT 15""".stripMargin
    },

    "tfidf_keywords" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM
        |         (SELECT DISTINCT doc_id, w FROM words) GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w,
        |         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (w) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, w, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, w) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, w AS term, tfidf
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "multimodal_struct_col" ->
      """SELECT doc_id, lang, n_chars,
        |       CAST(len(embedding) AS INTEGER) AS emb_dim, source
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
  )
}
