package graft

import graft.schemas.Spotify
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based laws (SURVEY.md §5.3): structural invariants the
  * operators must satisfy on arbitrary inputs, not just fixtures.
  */
object LawsSpec extends Properties("GraftLaws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val idsGen: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.chooseNum(0L, 200L))

  // D1: dedup is idempotent and matches set semantics
  property("distinct is idempotent and equals set cardinality") =
    forAll(idsGen) { ids =>
      import spark.implicits._
      val df = ids.toDF("id")
      val once = df.distinct()
      once.count() == ids.toSet.size && once.distinct().count() == once.count()
    }

  // E5: fixed-size chunking partitions the id set; every chunk ≤ k and
  // exploding the chunks reconstitutes the distinct ids exactly
  property("chunk then explode reconstitutes the id list") =
    forAll(idsGen, Gen.chooseNum(1, 7)) { (ids, k) =>
      import spark.implicits._
      val w = Window.orderBy("id")
      val chunked = ids.toDF("id").distinct()
        .withColumn("batch", ((row_number().over(w) - 1) / k).cast("long"))
        .groupBy("batch").agg(collect_list(col("id")).as("ids"))
      val sizesOk = chunked.select(size(col("ids")).as("n"))
        .as[Int].collect().forall(_ <= k)
      val back = chunked.select(explode(col("ids")).as("id"))
        .as[Long].collect().toSet
      sizesOk && back == ids.toSet
    }

  // S6: the page manifest is a lossless serialization — read(write(x)) = x
  property("paged manifest write/read roundtrip is the identity") =
    forAll(Gen.listOf(for {
      f <- Gen.identifier.map(_.take(12) + ".ndjson")
      lo <- Gen.chooseNum(-1000L, 1000L)
      span <- Gen.chooseNum(0L, 1000L)
      n <- Gen.option(Gen.chooseNum(1L, 50L))
    } yield graft.sources.PageMeta(f, lo, lo + span, n))) { entries =>
      val dir = java.nio.file.Files.createTempDirectory("graft_law_mf").toFile
      try {
        graft.sources.PagedJsonSource.writeManifest(dir, entries)
        graft.sources.PagedJsonSource.readManifest(dir).contains(entries)
      } finally {
        new java.io.File(dir, "_manifest.ndjson").delete(); dir.delete()
      }
    }

  // O3: union keeps bag semantics (extend(), no dedup)
  property("unionByName adds multiplicities") =
    forAll(idsGen, idsGen) { (a, b) =>
      import spark.implicits._
      a.toDF("id").unionByName(b.toDF("id")).count() == (a.size + b.size).toLong
    }

  // W1: windowed top-k per group equals per-group sort-take
  property("rank-topk equals groupwise sort-take") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0L, 100L))),
      Gen.chooseNum(1, 4)) { (rows, k) =>
      import spark.implicits._
      val df = rows.toDF("g", "v")
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("g"))
      val got = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy("g").agg(sort_array(collect_list(col("v")), asc = false).as("vs"))
        .as[(Int, Seq[Long])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted(Ordering[Long].reverse).take(k)
      }
      got.keySet == want.keySet && want.forall { case (g, vs) => got(g) == vs }
    }

  // GlobalRank: the two-phase rank equals the single-task window on
  // arbitrary inputs — duplicates included (value-at-rank is what must
  // agree under ties), grouped and ungrouped, across slice counts.
  property("two-phase rank equals window row_number (value at rank)") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(-50L, 50L))),
      Gen.chooseNum(1, 5)) { (rows, slices) =>
      import spark.implicits._
      // threshold 0 ⇒ always the sliced path: the slice machinery is the
      // law under test (the fast path IS the reference single-task window)
      spark.conf.set("graft.globalrank.smallThreshold", "0")
      val df = rows.toDF("g", "v")
      val got = graft.functions.GlobalRank
        .rowNumber(df, "rn", Seq("g"), Seq("v"), numSlices = slices)
        .select("g", "rn", "v").as[(Int, Long, Long)].collect()
        .map { case (g, rn, v) => (g, rn) -> v }.toMap
      val want = rows.groupBy(_._1).flatMap { case (g, vs) =>
        vs.map(_._2).sorted.zipWithIndex.map { case (v, i) => (g, i + 1L) -> v }
      }
      got == want
    }

  // GlobalRank: quantile slicing is value-derived, so heavily SKEWED
  // keys (lognormal-ish clumps + ties) must still rank identically to
  // the reference window.
  property("two-phase rank is exact under heavy key skew") =
    forAll(Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.const(7L),             // one hot value (ties)
      3 -> Gen.chooseNum(0L, 3L),     // dense clump
      1 -> Gen.chooseNum(1000L, 1000000L))), // far outliers
      Gen.chooseNum(2, 6)) { (vs, slices) =>
      import spark.implicits._
      spark.conf.set("graft.globalrank.smallThreshold", "0")
      val df = vs.toDF("v")
      val got = graft.functions.GlobalRank
        .rowNumber(df, "rn", Nil, Seq("v"), numSlices = slices)
        .select("rn", "v").as[(Long, Long)].collect().toMap
      val want = vs.sorted.zipWithIndex
        .map { case (v, i) => (i + 1L) -> v }.toMap
      got == want
    }

  // GlobalRank: the two-phase prefix sum equals the single-task
  // running-sum window on arbitrary unique-keyed inputs.
  property("two-phase prefix sum equals window running sum") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-100L, 100L)), Gen.chooseNum(1, 5)) {
      (vs, slices) =>
      import spark.implicits._
      spark.conf.set("graft.globalrank.smallThreshold", "0")
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("k", "v")
      val got = graft.functions.GlobalRank
        .prefixSum(df, "cum", col("v"), Nil, Seq("k"), numSlices = slices)
        .select("k", "cum").as[(Long, Long)].collect().toMap
      val want = rows.sortBy(_._1).scanLeft((-1L, 0L)) {
        case ((_, acc), (k, v)) => (k, acc + v)
      }.drop(1).toMap
      got == want
    }

  // GlobalRank: the sliced consecutive-pair scan (per-slice lag windows
  // + driver boundary stitch) equals the sequential Σ|Δ| over the sorted
  // values, on arbitrary inputs with duplicate order keys broken by a
  // unique tiebreaker — both routes (r18: chatterjee's shifted self-join
  // replaced by this helper).
  property("sliced adjacent |delta| sum equals sequential scan") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 9L),
      Gen.chooseNum(-100L, 100L))), Gen.chooseNum(2, 6),
      Gen.oneOf(true, false)) { (rows, slices, forceSliced) =>
      import spark.implicits._
      if (forceSliced)
        spark.conf.set("graft.globalrank.smallThreshold", "0")
      else spark.conf.unset("graft.globalrank.smallThreshold")
      try {
        val keyed = rows.zipWithIndex.map { case ((o, v), i) =>
          (o, i.toLong, v) }
        val df = keyed.toDF("o", "k", "v")
        val got = graft.functions.GlobalRank
          .adjacentAbsDiffSum(df, "s", col("v"), Seq("o", "k"),
            numSlices = slices)
          .as[Long].collect().head
        // r19: a caller-supplied exact count routes identically to the
        // measured one (skips only the eager measuring pass)
        val gotKnown = graft.functions.GlobalRank
          .adjacentAbsDiffSum(df, "s", col("v"), Seq("o", "k"),
            numSlices = slices, pinInput = false,
            knownCount = Some(rows.length.toLong))
          .as[Long].collect().head
        val sorted = keyed.sortBy(r => (r._1, r._2)).map(_._3)
        val want = sorted.zip(sorted.drop(1))
          .map { case (a, b) => math.abs(b - a) }.sum
        got == want && gotKnown == want
      } finally spark.conf.unset("graft.globalrank.smallThreshold")
    }

  // GlobalRank r18: the multi-column prefixSums equals the chained
  // single-column prefixSums, on both routes (one measuring pass +
  // N-column offset ladder vs k measuring passes)
  property("multi-column prefix sums equal the chained form") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-50L, 50L),
      Gen.chooseNum(-50L, 50L))), Gen.chooseNum(2, 5),
      Gen.oneOf(true, false)) { (rows, slices, forceSliced) =>
      import spark.implicits._
      if (forceSliced)
        spark.conf.set("graft.globalrank.smallThreshold", "0")
      else spark.conf.unset("graft.globalrank.smallThreshold")
      try {
        val keyed = rows.zipWithIndex.map { case ((a, b), i) =>
          (i.toLong, a, b) }
        val df = keyed.toDF("k", "a", "b")
        val got = graft.functions.GlobalRank
          .prefixSums(df, Seq(("ca", col("a")), ("cb", col("b"))),
            Nil, Seq("k"), numSlices = slices)
          .select("k", "ca", "cb").as[(Long, Long, Long)]
          .collect().map(r => r._1 -> (r._2, r._3)).toMap
        val chained = {
          val c1 = graft.functions.GlobalRank
            .prefixSums(df, Seq(("ca", col("a"))), Nil, Seq("k"),
              numSlices = slices)
          graft.functions.GlobalRank
            .prefixSums(c1, Seq(("cb", col("b"))), Nil, Seq("k"),
              numSlices = slices)
            .select("k", "ca", "cb").as[(Long, Long, Long)]
            .collect().map(r => r._1 -> (r._2, r._3)).toMap
        }
        got == chained
      } finally spark.conf.unset("graft.globalrank.smallThreshold")
    }

  // GlobalRank: every value binds to the INPUT on both routes. The
  // first sum is named after its own input column `a`; the second value
  // names `a` too and must read the input column, not the running sum.
  property("prefix sum values read the input, never an earlier output") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L)), Gen.chooseNum(2, 5),
      Gen.oneOf(true, false)) { (vs, slices, forceSliced) =>
      import spark.implicits._
      if (forceSliced)
        spark.conf.set("graft.globalrank.smallThreshold", "0")
      else spark.conf.unset("graft.globalrank.smallThreshold")
      try {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("k", "a")
        val got = graft.functions.GlobalRank
          .prefixSums(df, Seq(("a", col("a")), ("b", col("a"))),
            Nil, Seq("k"), numSlices = slices)
          .select("k", "a", "b").as[(Long, Long, Long)].collect()
        val want = vs.scanLeft(0L)(_ + _).drop(1)
        got.sortBy(_._1).toSeq == want.zipWithIndex.map { case (c, i) =>
          (i.toLong, c, c) }
      } finally spark.conf.unset("graft.globalrank.smallThreshold")
    }

  // S2/S3/F4: from_json ∘ to_json is identity under the declared artist
  // schema, for arbitrary field subsets (missing → NULL preserved)
  private val artistJsonGen: Gen[String] = for {
    id <- Gen.identifier.map(_.take(8))
    name <- Gen.option(Gen.alphaNumStr.map(_.take(12)))
    pop <- Gen.option(Gen.chooseNum(0L, 100L))
    genres <- Gen.option(Gen.listOf(Gen.oneOf("rock", "jazz", "pop")))
    followers <- Gen.option(Gen.chooseNum(0L, 1000000L))
  } yield {
    val fields = Seq(Some(s""""id":"$id""""),
      name.map(n => s""""name":"$n""""),
      pop.map(p => s""""popularity":$p"""),
      genres.map(g => s""""genres":[${g.map(x => s""""$x"""").mkString(",")}]"""),
      followers.map(f => s""""followers":{"total":$f}""")).flatten
    fields.mkString("{", ",", "}")
  }

  // C2: the windowed interval-union (running-max-end island merge) used
  // by dup_span_detect equals the textbook sequential interval merge on
  // arbitrary position sets — spans cover every input interval, stay
  // strictly disjoint, and are maximal.
  property("windowed island merge equals sequential interval union") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 60)), Gen.chooseNum(2, 9)) {
      (posList, k) =>
        import spark.implicits._
        val pos = posList.distinct.sorted
        // reference: sequential merge of [p, p+k) intervals
        val expected = pos.tail.foldLeft(
          List((pos.head, pos.head + k))) { case (acc, p) =>
          val (s0, e0) = acc.head
          if (p <= e0) (s0, math.max(e0, p + k)) :: acc.tail
          else (p, p + k) :: acc
        }.reverse
        // the operator's two-window formulation
        val prevEnd = Window.orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val run = Window.orderBy("pos")
        val got = pos.toDF("pos")
          .withColumn("newspan",
            when(col("pos") > coalesce(max(col("pos") + k).over(prevEnd),
              lit(-1)), 1).otherwise(0))
          .withColumn("span_id", sum(col("newspan")).over(run))
          .groupBy("span_id")
          .agg(min("pos").as("s"), (max(col("pos")) + k).as("e"))
          .select("s", "e").as[(Int, Int)].collect().toList.sorted
        got == expected
    }

  property("from_json . to_json is identity on the artists schema") =
    forAll(Gen.nonEmptyListOf(artistJsonGen)) { docs =>
      import spark.implicits._
      val parsed = spark.read.schema(Spotify.artists).json(docs.toDS())
      val rt = parsed
        .select(from_json(to_json(struct(parsed.columns.map(col): _*)),
          Spotify.artists).as("s"))
        .select("s.*")
      rt.exceptAll(parsed).isEmpty && parsed.exceptAll(rt).isEmpty
    }
}
