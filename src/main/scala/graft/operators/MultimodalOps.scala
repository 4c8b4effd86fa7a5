package graft.operators

import graft.{OpGroup, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row carrying an opaque media payload + typed metadata — the multimodal
  * column pattern: media as `binary`, schema'd sidecar fields.
  */
case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String, source: String)

/** Deterministic features extracted from a payload by the decode stub. */
case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
    first_byte: Int, head_sum: Long)

/** One sampled "frame": a fixed-width byte window at a stride offset —
  * the video/audio frame-sampling shape (1 payload → N frame rows).
  */
case class MediaFrame(doc_id: Long, frame_idx: Int, frame_off: Int,
    frame_sum: Long)

/** Multimodal-column operators: image/audio/video handled as opaque
  * `binary` columns with typed metadata, decoded/feature-extracted by a
  * partition-local stub (north-star mandate; no media codecs ship in this
  * environment, so the decode body is a clearly-marked deterministic fake
  * while the Spark-side plumbing — schema, encoders, partitioning, batch
  * shape — is real and oracle-tested).
  *
  * Scale notes: `mapPartitions` is the right boundary for codec work —
  * one codec init per partition, streaming iterator (no per-partition
  * materialization), binary payloads never shuffled except by explicit
  * key. At 100 TB the payload column stays in parquet until the decode
  * stage projects it, and column pruning keeps metadata-only queries from
  * ever reading the bytes.
  */
object MultimodalOps extends OpGroup {

  /** STUB decode: stands in for image/audio decode + feature extraction
    * (e.g. JPEG→RGB stats, PCM→spectral moments). Deterministic on the
    * payload bytes so the oracle can replicate it arithmetically.
    */
  private def decodeStub(r: MediaRow): MediaFeatures = {
    val headSum = r.payload.take(8).foldLeft(0L)((a, b) => a + (b & 0xFF))
    MediaFeatures(r.doc_id, r.mime, r.payload.length,
      r.payload.headOption.map(_ & 0xFF).getOrElse(0), headSum)
  }

  /** STUB frame sampler: stands in for video frame extraction / audio
    * windowing (1 payload → N evenly-strided frames). Deterministic
    * byte-window checksums so the oracle replicates it arithmetically;
    * the real shape — flatMap inside mapPartitions, bounded frames per
    * row, codec init per partition — is exactly the production one.
    */
  private def sampleFrames(r: MediaRow, nFrames: Int = 4,
      frameLen: Int = 8): Iterator[MediaFrame] = {
    val stride = r.payload.length / nFrames
    Iterator.tabulate(nFrames) { i =>
      val off = i * stride
      val sum = r.payload.slice(off, off + frameLen)
        .foldLeft(0L)((a, b) => a + (b & 0xFF))
      MediaFrame(r.doc_id, i, off, sum)
    }
  }

  /** One media file per sampled document, staged once per (application,
    * dataset) — the on-disk form a media corpus actually arrives in
    * (one object per image/clip). Driver-side staging is write-once
    * fixture generation (the SourceOps.stagePages pattern), not query
    * hot path.
    */
  private val mediaDirCache = new graft.Layout("graft_media")

  private def mediaDir(s: SparkSession, d: String): String =
    mediaDirCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0)
        .select("doc_id", "text").collect()
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(p, f"doc-${r.getLong(0)}%06d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
    }

  /** Perceptual-hash layout: one 64-bit signature per media object,
    * persisted once per (application, dataset) — the media-dedup index a
    * production lake maintains next to the objects. The SIGNATURE
    * function is the decode stub's analog: a real pipeline computes
    * pHash/aHash over decoded downsampled pixels; no codecs ship here,
    * so the locality-sensitive signature is SimHash over the content's
    * byte 4-grams (deterministic on the payload, same banding/Hamming
    * serving shape). The Spark-side plumbing — binary ingest, persisted
    * signature layout, banded candidate join — is the real part.
    */
  private[operators] val phashCache = new graft.Layout("graft_phash")

  /** The signature function itself, factored so the CDC maintenance
    * path ([[IncrementalPhashOps]]) re-signs its batch through the
    * EXACT same pipeline the base build used: content byte 4-grams →
    * xxhash64 SimHash fold. Input: (doc_id, txt). Deterministic on the
    * content string, so base-build-from-files and batch-recompute-from-
    * table agree bit-for-bit (file bytes ARE the doc's UTF-8 text —
    * the binaryfile_ingest oracle identity).
    */
  private[operators] def phashFromText(media: DataFrame): DataFrame = {
    val grams = media.select(col("doc_id"), explode(expr(
      """transform(sequence(1, greatest(length(txt) - 3, 1)),
        |  i -> substring(txt, i, 4))""".stripMargin)).as("__g"))
    graft.functions.TextSim.simhashFromTokens(grams, "doc_id", "__g")
      .select(col("doc_id"), col("simhash").as("phash"))
  }

  private[graft] def phashLayout(s: SparkSession, d: String): String =
    phashCache(s, d, graft.Layout.fingerprint(Tables.documents(s, d))) { p =>
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(mediaDir(s, d))
        .select(
          regexp_extract(col("path"), "doc-(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          expr("decode(content, 'UTF-8')").as("txt"))
      phashFromText(media)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Media near-dup dedup over the persisted phash layout (r12): the
    // simhash banded-join serving shape applied to binary objects —
    // per file, its signature and whether ANY other object sits within
    // Hamming ≤ 16 (the re-encoded/cropped-duplicate sweep a media
    // lake runs before training). Candidates come from 16-bit band
    // equality (equi-join, bucket-capped); the oracle re-derives bands,
    // Hamming and flags from the SAME persisted signatures, and the
    // signature derivation itself is pinned by a Scala replay in
    // MultimodalSpec (xxhash64 is engine-specific — the layout-oracle
    // graduation pattern of simhash_dedup/minhash_near_dedup).
    "media_phash_near_dup" -> ((s, d) => {
      val sims = s.read.parquet(phashLayout(s, d))
        .select(col("doc_id"), col("phash").as("simhash"))
      val pairs = graft.functions.TextSim
        .simhashPairs(sims, "doc_id", maxHamming = 16)
      val flagged = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
        .distinct().withColumn("hit", lit(true))
      sims.join(flagged, Seq("doc_id"), "left")
        .select(col("doc_id"), col("simhash").as("phash"),
          coalesce(col("hit"), lit(false)).as("is_near_dup"))
        .orderBy("doc_id")
    }),

    // The media INGEST path: Spark's binaryFile source reads one file
    // per object — (path, modificationTime, length, content) — with one
    // input partition per file, so codec work downstream parallelizes
    // per object and metadata-only queries (length, path) never load
    // `content` (the source prunes the column). pathGlobFilter /
    // recursiveFileLookup are the production knobs for media lakes.
    // modificationTime is excluded from the output (wall-clock).
    "binaryfile_ingest" -> ((s, d) =>
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(mediaDir(s, d))
        .select(
          regexp_extract(col("path"), "doc-(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("sha"))
        .orderBy("doc_id")),

    // WebDataset-style shard packing plan for the media lake: files in
    // doc_id order fill ~2 KiB shards by the closed-form prefix rule
    // shard = ⌊cum_exclusive/S⌋ (deterministic at any partitioning —
    // the sequential "start a new shard when full" rule is
    // order-RECURSIVE and is deliberately traded for the prefix form,
    // which a 1000-executor planner can compute in one pass; shards
    // may overshoot S by at most one file). Prefix bytes via the
    // two-phase numbering; output is shard-bounded.
    "media_shard_packing" -> ((s, d) => {
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(mediaDir(s, d))
        .select(
          regexp_extract(col("path"), "doc-(\\d+)\\.bin$", 1)
            .cast("long").as("doc_id"),
          col("length").as("n_bytes"))
      val cum = graft.functions.GlobalRank
        .prefixSum(files, "cum_incl", col("n_bytes"), Nil, Seq("doc_id"))
      cum.withColumn("shard_id",
          expr("(cum_incl - n_bytes) DIV 2048"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_files"), sum("n_bytes").as("shard_bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("shard_id")
    }),

    // Nested-struct surgery WITHOUT explode/rebuild: update one field
    // inside a payload struct and drop another, via Column.withField /
    // dropFields — the BigQuery nested-RECORD UPDATE shape the 4-level
    // Spotify schemas need (patch albums.images[0].url without
    // unnesting 4 levels). Catalyst folds the chain into a single
    // struct projection (one codegen'd map stage, no shuffle, untouched
    // sibling fields pruned/copied by reference).
    "nested_field_update" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), struct(
          col("lang"), col("source"), col("n_chars"),
          lit("pending").as("review")).as("meta"))
        .withColumn("meta", col("meta")
          .withField("review",
            when(col("meta.n_chars") >= 100, "long_form").otherwise("short"))
          .withField("lang_up", upper(col("meta.lang")))
          .dropFields("lang"))
        .select(col("doc_id"), col("meta.source").as("source"),
          col("meta.lang_up").as("lang_up"), col("meta.n_chars").as("n_chars"),
          col("meta.review").as("review"))
        .orderBy("doc_id")),

    // Frame sampling over binary payloads: 1 row → N frame rows.
    "multimodal_frame_sample" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("video/fake").as("mime"), col("source"))
        .as[MediaRow]
        .mapPartitions(_.flatMap(r => sampleFrames(r)))
        .toDF()
        .orderBy("doc_id", "frame_idx")
    }),

    // Binary payload + metadata → partition-local decode → typed features.
    "multimodal_binary_features" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          lit("text/plain").as("mime"), col("source"))
        .as[MediaRow]
        .mapPartitions(_.map(decodeStub))  // one codec init per partition
        .toDF()
        .orderBy("doc_id")
    }),
  )

  // def (not val): the phash oracle embeds the layout's materialized
  // path, which exists only after the query ran — Verify dumps oracle
  // SQL last, so a def resolves `lastPath` correctly (the
  // TrainingDataOps / SemiStructuredOps layout-oracle convention)
  def oracleSql: Map[String, String] = Map(
    // bands / Hamming / flags re-derived from the SAME persisted
    // signatures (simhash_dedup's layout-oracle pattern — the
    // derivation itself is pinned Scala-side in MultimodalSpec)
    "media_phash_near_dup" ->
      s"""WITH sh AS (
         |  SELECT doc_id, phash
         |  FROM read_parquet('${phashCache.lastPath}/*.parquet')),
         |bands AS (
         |  SELECT doc_id, phash, t.k AS bk,
         |         (phash >> CAST(16 * t.k AS INTEGER)) & 65535 AS bv
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS k) t),
         |small AS (
         |  SELECT bk, bv FROM (SELECT bk, bv, count(*) AS bn
         |                      FROM bands GROUP BY bk, bv)
         |  WHERE bn <= 1000),
         |kept AS (SELECT b.* FROM bands b JOIN small USING (bk, bv)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                  a.phash AS ph_a, b.phash AS ph_b
         |  FROM kept a JOIN kept b
         |    ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |h AS (
         |  SELECT doc_a, doc_b,
         |         CAST(sum((xor(ph_a, ph_b) >> CAST(t.i AS INTEGER)) & 1)
         |           AS INTEGER) AS hamming
         |  FROM cand CROSS JOIN range(0, 64) t(i)
         |  GROUP BY doc_a, doc_b),
         |flag AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT doc_a AS doc_id FROM h WHERE hamming <= 16
         |    UNION ALL
         |    SELECT doc_b FROM h WHERE hamming <= 16))
         |SELECT s.doc_id, s.phash, (f.doc_id IS NOT NULL) AS is_near_dup
         |FROM sh s LEFT JOIN flag f ON f.doc_id = s.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    // the struct surgery is a pure projection, so the oracle states the
    // field-level result directly
    "nested_field_update" ->
      """SELECT doc_id, source, upper(lang) AS lang_up, n_chars,
        |       CASE WHEN n_chars >= 100 THEN 'long_form' ELSE 'short' END AS review
        |FROM documents ORDER BY doc_id""".stripMargin,
    // file bytes are exactly the doc's UTF-8 text (ASCII fixture), so
    // size + sha re-derive from the table without touching the files
    "binaryfile_ingest" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS sha
        |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,
    // shard plan re-derived from the same sampled docs (content bytes
    // = UTF-8 text bytes, the ingest oracle's identity)
    "media_shard_packing" ->
      """WITH files AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents WHERE doc_id % 25 = 0),
        |cum AS (
        |  SELECT doc_id, n_bytes,
        |         CAST(sum(n_bytes) OVER (ORDER BY doc_id) AS BIGINT)
        |           AS cum_incl
        |  FROM files)
        |SELECT (cum_incl - n_bytes) // 2048 AS shard_id,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cum GROUP BY 1 ORDER BY shard_id""".stripMargin,
    // Frames: 4 windows of 8 bytes at stride len/4; ASCII text makes the
    // byte checksum equal the char-code sum.
    "multimodal_frame_sample" ->
      """WITH frames AS (
        |  SELECT doc_id, CAST(f.i AS INTEGER) AS frame_idx,
        |         CAST(f.i * (length(text) // 4) AS INTEGER) AS frame_off, text
        |  FROM documents CROSS JOIN range(0, 4) f(i)),
        |bytes AS (
        |  SELECT doc_id, frame_idx, frame_off,
        |         ascii(substr(text, frame_off + CAST(c.j AS INTEGER) + 1, 1)) AS b
        |  FROM frames CROSS JOIN range(0, 8) c(j))
        |SELECT doc_id, frame_idx, frame_off, CAST(sum(b) AS BIGINT) AS frame_sum
        |FROM bytes GROUP BY doc_id, frame_idx, frame_off
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // Fixture text is ASCII, so byte-level features equal char-level ones.
    // Every ascii(substr(...)) term is coalesce-guarded: Spark's take(8)
    // sums only the available bytes of a short payload, so a NULL from an
    // out-of-range substr must count as 0, not null the whole sum.
    "multimodal_binary_features" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |       CAST(coalesce(ascii(substr(text, 1, 1)), 0) AS INTEGER) AS first_byte,
        |       CAST(coalesce(ascii(substr(text, 1, 1)), 0) + coalesce(ascii(substr(text, 2, 1)), 0)
        |          + coalesce(ascii(substr(text, 3, 1)), 0) + coalesce(ascii(substr(text, 4, 1)), 0)
        |          + coalesce(ascii(substr(text, 5, 1)), 0) + coalesce(ascii(substr(text, 6, 1)), 0)
        |          + coalesce(ascii(substr(text, 7, 1)), 0) + coalesce(ascii(substr(text, 8, 1)), 0)
        |         AS BIGINT) AS head_sum
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
