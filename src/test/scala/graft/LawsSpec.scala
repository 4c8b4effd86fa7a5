package graft

import graft.functions.{Fixed6, Fixed6Sum}
import graft.schemas.Spotify
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
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

  /** Runs `body` with every size router at its large route when `large`
    * (the size oracle's limit at 0), restoring the previous limit after.
    */
  private def routed[T](large: Boolean)(body: => T): T =
    if (!large) body
    else {
      val key = "graft.route.smallRows"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "0")
      try body
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

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
      // limit 0 ⇒ always the sliced path: the slice machinery is the
      // law under test (the fast path IS the reference single-task window)
      val df = rows.toDF("g", "v")
      val got = routed(large = true) {
        graft.functions.GlobalRank
          .rowNumber(df, "rn", Seq("g"), Seq("v"), numSlices = slices)
          .select("g", "rn", "v").as[(Int, Long, Long)].collect()
          .map { case (g, rn, v) => (g, rn) -> v }.toMap
      }
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
      val df = vs.toDF("v")
      val got = routed(large = true) {
        graft.functions.GlobalRank
          .rowNumber(df, "rn", Nil, Seq("v"), numSlices = slices)
          .select("rn", "v").as[(Long, Long)].collect().toMap
      }
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
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val df = rows.toDF("k", "v")
      val got = routed(large = true) {
        graft.functions.GlobalRank
          .prefixSum(df, "cum", col("v"), Nil, Seq("k"), numSlices = slices)
          .select("k", "cum").as[(Long, Long)].collect().toMap
      }
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
      routed(large = forceSliced) {
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
      }
    }

  // GlobalRank r18: the multi-column prefixSums equals the chained
  // single-column prefixSums, on both routes (one measuring pass +
  // N-column offset ladder vs k measuring passes)
  property("multi-column prefix sums equal the chained form") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-50L, 50L),
      Gen.chooseNum(-50L, 50L))), Gen.chooseNum(2, 5),
      Gen.oneOf(true, false)) { (rows, slices, forceSliced) =>
      import spark.implicits._
      routed(large = forceSliced) {
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
      }
    }

  // GlobalRank: every value binds to the INPUT on both routes. The
  // first sum is named after its own input column `a`; the second value
  // names `a` too and must read the input column, not the running sum.
  property("prefix sum values read the input, never an earlier output") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-50L, 50L)), Gen.chooseNum(2, 5),
      Gen.oneOf(true, false)) { (vs, slices, forceSliced) =>
      import spark.implicits._
      routed(large = forceSliced) {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("k", "a")
        val got = graft.functions.GlobalRank
          .prefixSums(df, Seq(("a", col("a")), ("b", col("a"))),
            Nil, Seq("k"), numSlices = slices)
          .select("k", "a", "b").as[(Long, Long, Long)].collect()
        val want = vs.scanLeft(0L)(_ + _).drop(1)
        got.sortBy(_._1).toSeq == want.zipWithIndex.map { case (c, i) =>
          (i.toLong, c, c) }
      }
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

  // Exact sums: the fixed-point kernel behind Det.dsum/davg/decSum is
  // Spark's CAST(d AS DECIMAL(18,6)) bit for bit, NULLs and ANSI errors
  // included, interpreted and codegen'd.
  private val anyDouble: Gen[Double] = Gen.oneOf(
    Gen.choose(-1e13, 1e13),
    for { m <- Gen.choose(-1.0, 1.0); e <- Gen.choose(-12, 13) } yield m * math.pow(10, e),
    Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))

  private val priceLike: Gen[Double] = Gen.oneOf(
    Gen.choose(-10000000L, 10000000L).map(_ / 100.0),
    for { c <- Gen.choose(90000L, 10500000L); q <- Gen.choose(1, 50) } yield c / 100.0 * q,
    for { c <- Gen.choose(90000L, 10500000L); dp <- Gen.choose(0, 10) }
      yield c / 100.0 * (1.0 - dp / 100.0))

  /** Doubles within 4 ulps of (k + 0.5)·10⁻⁶, for |k| up to 10¹⁷. */
  private val nearHalf: Gen[Seq[Double]] = for {
    e <- Gen.choose(0, 17)
    m <- Gen.choose(-1.0, 1.0)
  } yield {
    val t = (math.floor(m * math.pow(10, e)) + 0.5) * 1e-6
    val ups = Iterator.iterate(t)(Math.nextUp).slice(1, 5).toSeq
    val downs = Iterator.iterate(t)(Math.nextDown).slice(1, 5).toSeq
    downs.reverse ++ (t +: ups)
  }

  // a negative half-point where d·10⁶ ≥ 2⁵² rounds to an integer, so the
  // fraction is the product's error alone (−0.5 here) until normalized
  private val negativeTie = -7437798982.8075905

  private val specials: Seq[Double] = Seq(0.0, -0.0, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue,
    -Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 1e11, -1e11,
    999999999999.9999, -999999999999.9999, 1e12, -1e12, 1e15, -1e17, 4.5e15) ++
    Iterator.iterate(negativeTie)(Math.nextUp).take(5) ++
    Iterator.iterate(negativeTie)(Math.nextDown).slice(1, 5)

  private def outcome(f: => Option[Long]): Either[String, Option[Long]] =
    try Right(f) catch { case e: SparkThrowable => Left(e.getCondition) }

  /** Every double's kernel outcome equals the cast's, interpreted and
    * codegen'd, under both eval modes.
    */
  private def kernelIsCast(ds: Seq[Double]): Boolean =
    Seq(EvalMode.ANSI, EvalMode.LEGACY).forall { mode =>
      val in = BoundReference(0, DoubleType, nullable = false)
      val kernel = Fixed6(in, mode)
      val cast = Cast(in, Fixed6.CastType, None, mode)
      def generated(e: Expression) = GenerateUnsafeProjection.generate(Seq(e))
      val (genKernel, genCast) = (generated(kernel), generated(cast))
      ds.forall { d =>
        val row = InternalRow(d)
        val want = outcome(Option(cast.eval(row)).map(_.asInstanceOf[
          org.apache.spark.sql.types.Decimal].toUnscaledLong))
        val wantGen = outcome(Some(genCast(row)).filterNot(_.isNullAt(0))
          .map(_.getDecimal(0, 18, 6).toUnscaledLong))
        val got = outcome(Option(kernel.eval(row)).map(_.asInstanceOf[Long]))
        val gotGen = outcome(Some(genKernel(row)).filterNot(_.isNullAt(0)).map(_.getLong(0)))
        val ok = want == wantGen && got == want && gotGen == want
        if (!ok) println(s"fixed6 != cast for $d ($mode): $got / $gotGen vs $want")
        ok
      }
    }

  property("fixed6 kernel equals CAST to DECIMAL(18,6) on random doubles") =
    forAll(Gen.listOfN(300, anyDouble))(kernelIsCast)

  property("fixed6 kernel equals CAST within 4 ulps of every half-point") =
    forAll(Gen.listOfN(20, nearHalf))(ts => kernelIsCast(ts.flatten))

  property("fixed6 kernel equals CAST on zeros, NaN, infinities and overflow") =
    org.scalacheck.Prop(kernelIsCast(specials))

  property("fixed6 kernel decides every price-like double without the cast") =
    forAll(Gen.listOfN(300, priceLike)) { ds =>
      kernelIsCast(ds) && ds.forall(Fixed6.unscaled(_) != Fixed6.Undecided)
    }

  // Det's exact sums equal the built-in spelling they replace, at 1 and 7
  // shuffle partitions and over 1 KB file splits, grouped, global and
  // empty, for a DOUBLE input (the kernel) and a LONG one (Spark's sum).
  property("dsum/davg/decSum equal sum(CAST AS DECIMAL(18,6)) at any partitioning") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3),
      Gen.option(Gen.oneOf(priceLike, Gen.choose(-1e11, 1e11),
        nearHalf.map(_.head))), Gen.choose(-1000000L, 1000000L)))) { rows =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_law_exact").toString
      try {
        rows.toDF("g", "x", "n").repartition(3).write.mode("overwrite").parquet(dir)
        def dec(c: String) = sum(col(c).cast(Fixed6.CastType))
        def pairs = Seq(
          Det.dsum(col("x")) -> round(dec("x").cast("double"), 6),
          Det.davg(col("x")) -> round(dec("x").cast("double") / count(col("x")), 6),
          Det.decSum(col("x")) -> dec("x"),
          Det.decSum(col("n")) -> dec("n"),
          Det.dsum(col("n")) -> round(dec("n").cast("double"), 6))
        def agg(t: org.apache.spark.sql.DataFrame): Seq[Row] = {
          val cols = pairs.flatMap { case (a, b) => Seq(a, b) }
          t.agg(cols.head, cols.tail: _*).collect().toSeq
        }
        def results: Seq[Seq[Row]] = {
          val t = spark.read.parquet(dir)
          val grouped = t.groupBy("g").agg(count(lit(1)).as("rows"),
            pairs.flatMap { case (a, b) => Seq(a, b) }: _*).orderBy("g")
          Seq(grouped.collect().toSeq.map(r => Row(r.toSeq.drop(2): _*)),
            agg(t), agg(t.filter(col("g") > 3)))
        }
        def withConfs[T](kv: (String, String)*)(body: => T): T = {
          val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
          kv.foreach { case (k, v) => spark.conf.set(k, v) }
          try body
          finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
        }
        val legs = Seq(
          withConfs("spark.sql.shuffle.partitions" -> "1")(results),
          withConfs("spark.sql.shuffle.partitions" -> "7")(results),
          withConfs("spark.sql.files.maxPartitionBytes" -> "1k")(results))
        // unaliased, each keeps the built-in form's column name and type
        val t = spark.read.parquet(dir)
        val sameSchema = t.select(pairs.map(_._1): _*).schema ==
          t.select(pairs.map(_._2): _*).schema
        val sameAsOld = legs.flatten.flatten.forall { r =>
          r.toSeq.grouped(2).forall { case Seq(a, b) => a == b }
        }
        val empty = legs.forall(_(2).head.toSeq.forall(_ == null))
        sameSchema && sameAsOld && empty && legs.distinct.size == 1
      } finally {
        val f = new java.io.File(dir)
        Option(f.listFiles()).foreach(_.foreach(_.delete())); f.delete()
      }
    }

  // the two-long buffer sums exactly through updates (NULLs skipped) and
  // a merge, and keeps 0 <= lo < 2^32, so neither word grows with the
  // row count
  property("fixed6_sum buffer sums exactly and carries its low word") =
    forAll(Gen.listOf(Gen.option(Gen.choose(-999999999999999999L, 999999999999999999L))),
      Gen.choose(0, 20)) { (us, cut) =>
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences}
      val u = AttributeReference("u", org.apache.spark.sql.types.LongType)()
      val agg = Fixed6Sum(u, EvalMode.ANSI)
      val buf = agg.aggBufferAttributes
      val update = BindReferences.bindReferences(agg.updateExpressions, buf :+ u)
      val merge = BindReferences.bindReferences(agg.mergeExpressions,
        buf ++ agg.inputAggBufferAttributes)
      val eval = BindReferences.bindReference(agg.evaluateExpression, buf)
      val init = agg.initialValues.map(_.eval())
      def fold(part: Seq[Option[Long]]) = part.scanLeft(init) { (b, v) =>
        update.map(_.eval(InternalRow.fromSeq(b :+ v.orNull)))
      }
      val (a, b) = us.splitAt(math.min(cut, us.size))
      val states = fold(a) ++ fold(b)
      val merged = merge.map(_.eval(InternalRow.fromSeq(fold(a).last ++ fold(b).last)))
      val lowOk = (states :+ merged).forall { st =>
        val lo = st(1).asInstanceOf[Long]; lo >= 0 && lo < (1L << 32)
      }
      val got = Option(eval.eval(InternalRow.fromSeq(merged)))
        .map(_.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal)
      val want = Option.when(us.exists(_.isDefined))(new java.math.BigDecimal(
        us.flatten.map(java.math.BigInteger.valueOf)
          .foldLeft(java.math.BigInteger.ZERO)(_ add _), 6))
      lowOk && got.map(_.stripTrailingZeros) == want.map(_.stripTrailingZeros)
    }
}
