package graft

import graft.dsl._
import graft.functions.{BandHashes, SigMatchCount}
import graft.io.TieredLayout
import graft.ops.{Components, Dedup}
import graft.run.Validator
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property tests (SURVEY §5): cast idempotence, required/present invariants,
  * union order-stability, pack filtering, byte-length counting.
  * Properties run over batched generated inputs (one Spark job per property,
  * not per sample).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("cast idempotence: re-validating coerced output adds no violations (C2)") {
    val spec = SchemaSpec("p", Seq(
      Field.integer("a").gt(-1000000),
      Field.float("b"),
      Field.boolean("c"),
      Field.string("d").lenMax(100)),
      keyColumns = Seq("id"))
    val samples = Gen.listOfN(200, for {
      a <- Gen.oneOf(Gen.chooseNum(-99999, 99999).map(_.toString), Gen.alphaStr, Gen.const(null: String))
      b <- Gen.oneOf(Gen.chooseNum(-1e6, 1e6).map(_.toString), Gen.alphaStr)
      c <- Gen.oneOf("true", "false", "1", "0", "yes", "")
      d <- Gen.alphaStr.map(_.take(80))
    } yield (a, b, c, d)).sample.get
    val df = samples.zipWithIndex.map { case ((a, b, c, d), i) => (i, a, b, c, d) }
      .toDF("id", "a", "b", "c", "d")
    val first = Validator.validate(spec, df)
    val second = Validator.validate(spec, first.coerced)
    assert(second.violations.count() === 0,
      "coerced output must re-validate cleanly (typed values, no cast errors)")
  }

  test("required xor present: exactly one of value/required-violation per row") {
    val spec = SchemaSpec("p", Seq(Field.string("v").req), keyColumns = Seq("id"))
    val samples = Gen.listOfN(300, Gen.oneOf(
      Gen.const(null: String), Gen.const(""), Gen.alphaNumStr.map(s => s.take(10)))).sample.get
    val df = samples.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
    val r = Validator.validate(spec, df)
    val joined = r.annotated.select($"id", $"v", size($"violations").as("nv"))
      .as[(Int, String, Int)].collect()
    joined.foreach { case (id, v, nv) =>
      val blank = v == null || v.isEmpty
      assert((nv == 1) == blank && (nv == 0) == !blank, s"row $id v=$v nv=$nv")
    }
  }

  test("union eager order-stability: integer-castable strings always take branch b0") {
    val u = FUnion(Seq(FInteger, FFloat))
    val spec = SchemaSpec("p", Seq(Field.of("v", u)), keyColumns = Seq("id"))
    val ints = Gen.listOfN(100, Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)).sample.get
    val df = ints.zipWithIndex.map { case (v, i) => (i, v.toString) }.toDF("id", "v")
    val r = Validator.validate(spec, df)
    val branches = r.annotated.select(u.branchName($"v")).as[String].collect()
    assert(branches.forall(_ == "integer"))
  }

  test("only/except pack filtering (M1): disabled packs emit nothing; both given => error") {
    val fields = Seq(
      Field.integer("x").gt(100).when(ctx => ctx("x") > 50)
        .blockClauses(BlockClause.failWhen(ctx => ctx("x") < 10, "small")))
    val df = Seq((1, 5L)).toDF("id", "x") // violates gt, when, and block
    val all = Validator.validate(SchemaSpec("p", fields, keyColumns = Seq("id")), df)
    assert(all.violations.count() === 3)
    val noValidators = Validator.validate(
      SchemaSpec("p", fields, keyColumns = Seq("id"), except = Some(Seq(RulePacks.EctoValidations))), df)
    assert(noValidators.violations.select("constraint_id").as[String].collect().toSet ===
      Set("x.when", "x.block.1"))
    val onlyBlock = Validator.validate(
      SchemaSpec("p", fields, keyColumns = Seq("id"), only = Some(Seq(RulePacks.Block))), df)
    assert(onlyBlock.violations.select("constraint_id").as[String].collect().toSet ===
      Set("x.block.1"))
    intercept[IllegalArgumentException] {
      SchemaSpec("p", fields, keyColumns = Seq("id"),
        only = Some(Seq("block")), except = Some(Seq("when")))
    }
    intercept[IllegalArgumentException] {
      SchemaSpec("p", fields, keyColumns = Seq("id"), only = Some(Seq("bogus_pack")))
    }
  }

  test("V14 length counting units: bytes vs characters diverge on multibyte text") {
    val spec = SchemaSpec("p", Seq(
      Field.string("s").lenMax(4),
      Field.binary("b").from("s2").lenMax(4)),
      keyColumns = Seq("id"))
    // "héllo" = 5 chars, 6 UTF-8 bytes
    val df = Seq((1, "héllo", "héllo")).toDF("id", "s", "s2")
    val r = Validator.validate(spec, df)
    val got = r.violations.as[(Int, String, String)].collect().toSet
    assert(got === Set(
      (1, "s.max", "should be at most 4 character(s)"),
      (1, "b.max", "should be at most 4 byte(s)")))
  }

  test("violation array order is pipeline order within a row") {
    val spec = SchemaSpec("p", Seq(
      Field.integer("x").req.gt(100)
        .blockClauses(BlockClause.failWhen(ctx => ctx("x") < 10, "small"))
        .when(ctx => ctx("x") > 50)),
      keyColumns = Seq("id"))
    val df = Seq((1, 5L)).toDF("id", "x")
    val arr = Validator.validate(spec, df).annotated
      .select($"violations.constraint_id").as[Seq[String]].collect().head
    // scalar triggers (cast/required -> when -> validators) are grouped ahead
    // of block arrays for the zero-allocation valid-row fast path; rule
    // EVALUATION still follows reference pack order (values thread through
    // block -> derive -> when -> validators -> map), and violation rows are
    // set-compared, so in-array order is presentation only
    assert(arr.toSet === Set("x.block.1", "x.when", "x.greater_than"))
    assert(arr.indexOf("x.when") < arr.indexOf("x.greater_than"))
  }

  test("V14 graphemes: custom codegen Expression counts clusters, not codepoints") {
    import graft.functions.GraphemeLength
    // "e" + combining acute = 2 codepoints, 1 grapheme; emoji flag = 2 codepoints
    val df = Seq((1, "e\u0301abc"), (2, "plain")).toDF("id", "s")
    val rows = df.select($"id", length($"s"), GraphemeLength($"s")).as[(Int, Int, Int)].collect().toSet
    assert(rows === Set((1, 5, 4), (2, 5, 5)))
    // wired into LengthV via .graphemes: 4 graphemes passes lenMax(4), 5 codepoints would not
    val spec = SchemaSpec("p", Seq(Field.string("s").lenMax(4).graphemes), keyColumns = Seq("id"))
    val r = Validator.validate(spec, df)
    assert(r.violations.as[(Int, String, String)].collect().toSet ===
      Set((2, "s.max", "should be at most 4 character(s)")))
    // stays inside whole-stage codegen (has doGenCode, not CodegenFallback)
    val dir = java.nio.file.Files.createTempDirectory("g").toString
    df.write.parquet(dir + "/t")
    val plan = spark.read.parquet(dir + "/t").select(GraphemeLength($"s"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Project") && l.contains("*(")), plan)
  }

  test("user-authored RulePack: violations flow through the normal pipeline, order preserved") {
    // the extension-authoring seam (reference lib/extension.ex:238-272): a pack
    // emitting triggers + a template field, registered alongside the built-ins
    object BannedPack extends RulePack {
      val name = "banned"
      override def templateFields: Seq[FieldSpec] =
        Seq(Field.string("audit_src").withDefault("banned-pack"))
      override def templateAttributes: Map[String, Any] = Map("pack_version" -> 1)
      def apply(spec: SchemaSpec, f: FieldSpec, st: RulePack.FieldState,
          ctx: Ctx, prefix: Column): RulePack.Result =
        f.ftype match {
          case _: FString if f.name != "audit_src" => RulePack.Result(triggers = Seq(
            graft.dsl.Trigger(st.inChanges && st.value.contains("zz"),
              concat(prefix, lit(s"${f.name}.banned")), lit("contains banned token"))))
          case _ => RulePack.Result.empty
        }
    }
    val fields = Seq(Field.string("s").lenMax(3))
    val df = Seq((1, "zzzz"), (2, "ok")).toDF("id", "s") // row 1 fails lenMax AND banned
    val spec = SchemaSpec("p", fields, keyColumns = Seq("id"),
      packs = RulePack.defaults :+ BannedPack)
    val r = Validator.validate(spec, df)
    assert(r.violations.as[(Int, String, String)].collect().toSet === Set(
      (1, "s.max", "should be at most 3 character(s)"),
      (1, "s.banned", "contains banned token")))
    // pipeline order: packs run in registration order => validator trigger first
    val arr = r.annotated.filter($"id" === 1)
      .select($"violations.constraint_id").as[Seq[String]].collect().head
    assert(arr.indexOf("s.max") < arr.indexOf("s.banned"))
    val flipped = SchemaSpec("p", fields, keyColumns = Seq("id"),
      packs = BannedPack +: RulePack.defaults)
    val arr2 = Validator.validate(flipped, df).annotated.filter($"id" === 1)
      .select($"violations.constraint_id").as[Seq[String]].collect().head
    assert(arr2.indexOf("s.banned") < arr2.indexOf("s.max"))
    // template field + attribute contributed by the pack
    assert(spec.allFields.map(_.name) === Seq("s", "audit_src"))
    assert(r.coerced.select("audit_src").distinct().as[String].collect().toSeq === Seq("banned-pack"))
    assert(spec.allAttributes("pack_version") === 1)
    // only/except honor REGISTERED packs, not just built-ins
    val onlyBanned = Validator.validate(spec.copy(only = Some(Seq("banned"))), df)
    assert(onlyBanned.violations.select("constraint_id").as[String].collect().toSet ===
      Set("s.banned"))
    intercept[IllegalArgumentException] { // unregistered name still rejected
      SchemaSpec("p", fields, keyColumns = Seq("id"), only = Some(Seq("banned")))
    }
    // inline embeds inherit the parent's REGISTERED packs, not just the
    // built-in filters: the custom pack fires on embed fields, and a parent
    // only-filter naming it doesn't crash the embed's own validation
    val embSchema = SchemaSpec("child", Seq(Field.string("note")))
    val parent = SchemaSpec("p2", fields, keyColumns = Seq("id"),
      embeds = Seq(EmbedSpec("child", embSchema, inline = true)),
      packs = RulePack.defaults :+ BannedPack,
      only = Some(Seq("banned", RulePacks.EctoValidations)))
    val df2 = Seq((1, "ok", "zz inside")).toDF("id", "s", "note")
      .withColumn("child", struct($"note")).drop("note")
    val r2 = Validator.validate(parent, df2)
    assert(r2.violations.select("constraint_id").as[String].collect().toSet ===
      Set("child.note.banned"))
    // an inline embed that EXPLICITLY lists the five built-ins by hand has
    // opted out of the parent's custom packs (identity sentinel, not value
    // equality: the hand-built Seq is == RulePack.defaults but not eq)
    val optOut = SchemaSpec("child", Seq(Field.string("note")),
      packs = Seq(BlockPack, PreTransformsPack, WhenPack, EctoValidationsPack, PostTransformsPack))
    val parent2 = SchemaSpec("p3", fields, keyColumns = Seq("id"),
      embeds = Seq(EmbedSpec("child", optOut, inline = true)),
      packs = RulePack.defaults :+ BannedPack)
    val r3 = Validator.validate(parent2, df2)
    assert(!r3.violations.select("constraint_id").as[String].collect().toSet
      .contains("child.note.banned"))
  }

  test("M4 template fields merge in; M5 reflections; P7 attributes") {
    val template = Seq(Field.string("audit_tag").withDefault("none"))
    val spec = SchemaSpec("p",
      fields = Seq(Field.integer("x").req.blockClauses(
        BlockClause.failWhen(ctx => ctx("x") < 0, "neg"))),
      keyColumns = Seq("id"),
      templateFields = template,
      attributes = Map("primary_key" -> false, "schema_prefix" -> "graft"))
    // reflections (reference __schema__/1)
    assert(spec.requiredFields === Seq("x"))
    assert(spec.blocks.keySet === Set("x"))
    assert(spec.extensions === RulePacks.All)
    assert(spec.attributes("schema_prefix") === "graft")
    // template field participates in the pipeline (default applied)
    val df = Seq((1, 5L)).toDF("id", "x")
    val r = Validator.validate(spec, df)
    assert(r.coerced.columns.toSeq === Seq("id", "x", "audit_tag"))
    assert(r.coerced.select("audit_tag").as[String].collect().head === "none")
  }

  test("M3 pack-declared field options: eager default/required/validator; values route to the pack") {
    // the extension option DSL seam (reference lib/flint/extension/dsl.ex:1-57
    // declaration, lib/schema.ex:85-128 field-declaration-time enforcement)
    object DivPack extends RulePack {
      val name = "div"
      override val options = Seq(
        OptionSpec("divisible_by", validator = Some { case n: Int => n > 0; case _ => false }),
        OptionSpec("strictness", default = Some("warn"), required = true,
          validator = Some { case s: String => s == "warn" || s == "fail"; case _ => false }))
      def apply(spec: SchemaSpec, f: FieldSpec, st: RulePack.FieldState,
          ctx: Ctx, prefix: Column): RulePack.Result =
        spec.fieldOption(f, "divisible_by") match {
          case Some(n: Int) => RulePack.Result(triggers = Seq(Trigger(
            st.inChanges && st.value.isNotNull && pmod(st.value, lit(n)) =!= 0,
            concat(prefix, lit(s"${f.name}.divisible_by")), lit(s"must be divisible by $n"))))
          case _ => RulePack.Result.empty
        }
    }
    val packs = RulePack.defaults :+ DivPack
    val spec = SchemaSpec("p", Seq(Field.integer("n").opt("divisible_by", 3)),
      keyColumns = Seq("id"), packs = packs)
    // resolution: given value, and the required option filled from its default
    assert(spec.fieldOption(spec.field("n"), "divisible_by") === Some(3))
    assert(spec.fieldOption(spec.field("n"), "strictness") === Some("warn"))
    assert(spec.fieldOptions(spec.field("n")) ===
      Map("divisible_by" -> 3, "strictness" -> "warn"))
    val df = Seq((1, 9), (2, 10)).toDF("id", "n")
    val viols = Validator.validate(spec, df).violations
      .as[(Int, String, String)].collect().toSet
    assert(viols === Set((2, "n.divisible_by", "must be divisible by 3")))
    // a field WITHOUT the option: the pack contributes nothing
    val spec2 = SchemaSpec("p", Seq(Field.integer("n")), keyColumns = Seq("id"), packs = packs)
    assert(spec2.fieldOption(spec2.field("n"), "divisible_by") === None)
    assert(Validator.validate(spec2, df).violations.count() === 0)
    // unknown option name => schema-build error listing the declared ones
    val eUnknown = intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n").opt("divisibleby", 3)),
        keyColumns = Seq("id"), packs = packs)
    }
    assert(eUnknown.getMessage.contains("divisibleby") &&
      eUnknown.getMessage.contains("divisible_by"))
    // failing validator => build error with the reference's raise text
    val eBad = intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n").opt("divisible_by", 0)),
        keyColumns = Seq("id"), packs = packs)
    }
    assert(eBad.getMessage.contains("Value 0 for option divisible_by on field n failed validation"))
    // wrong TYPE fails the validator too (type adherence by convention)
    intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n").opt("divisible_by", "three")),
        keyColumns = Seq("id"), packs = packs)
    }
    // bad DEFAULTED value: giving an invalid override of the defaulted option
    intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n").opt("strictness", "explode")),
        keyColumns = Seq("id"), packs = packs)
    }
    // required option with NO default => missing is a build-time error
    object ReqPack extends RulePack {
      val name = "reqp"
      override val options = Seq(OptionSpec("unit", required = true))
      def apply(spec: SchemaSpec, f: FieldSpec, st: RulePack.FieldState,
          ctx: Ctx, prefix: Column): RulePack.Result = RulePack.Result.empty
    }
    val eReq = intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n")), keyColumns = Seq("id"),
        packs = RulePack.defaults :+ ReqPack)
    }
    assert(eReq.getMessage.contains("Required option unit on field n not found"))
    // filtering the pack out via except makes its options unknown again
    intercept[IllegalArgumentException] {
      SchemaSpec("p", Seq(Field.integer("n").opt("divisible_by", 3)),
        keyColumns = Seq("id"), packs = packs, except = Some(Seq("div")))
    }
  }

  test("sampling invariants: nested thresholds, eager parameter validation") {
    import graft.ops.Sharding
    val df = spark.range(2000).select($"id", lit("s").as("g"))
    // threshold sampling is NESTED: the f1-sample is a subset of the
    // f2-sample whenever f1 <= f2 (same key, same salt) — growing a sampling
    // budget only ADDS documents, it never swaps any
    def ids(f: Double) = Sharding.stratifiedSample(df, "id", "g", Map.empty, f, "n")
      .select("id").as[Long].collect().toSet
    val (s25, s50, s75) = (ids(0.25), ids(0.5), ids(0.75))
    assert(s25.subsetOf(s50) && s50.subsetOf(s75))
    assert(s25.nonEmpty && s75.size < 2000)
    // out-of-range parameters fail at CALL time, not mid-job
    intercept[IllegalArgumentException] {
      Sharding.stratifiedSample(df, "id", "g", Map("s" -> 1.5))
    }
    intercept[IllegalArgumentException] {
      Sharding.stratifiedSample(df, "id", "g", Map.empty, defaultFraction = -0.1)
    }
    intercept[IllegalArgumentException] {
      Sharding.sampleByWeights(df, "id", "g", Map("s" -> -2.0))
    }
    // expected-rate sanity for fractional weights: E[rows] = n * w
    val n = Sharding.sampleByWeights(df, "id", "g", Map.empty, defaultWeight = 1.5, salt = "n")
      .count()
    assert(n > 2000 * 1.35 && n < 2000 * 1.65, s"rows $n for weight 1.5")
  }

  test("delta losers: the driver union-find and the distributed rounds agree on random flagged pair graphs") {
    // each id pairs under random old/new flags, so an id can be new in one
    // row and old in another (a resubmitted id), and self pairs appear. One
    // disjoint union of 40 random graphs per id type: graph g's ids share
    // one prefix, so the union's components are the graphs' components
    val graphs = Gen.listOfN(40, for {
      k <- Gen.choose(2, 7)
      m <- Gen.choose(1, 10)
      edges <- Gen.listOfN(m, for {
        i <- Gen.choose(0, k - 1); j <- Gen.choose(0, k - 1)
        aNew <- Gen.oneOf(true, false); bNew <- Gen.oneOf(true, false)
      } yield (i, j, aNew, bNew))
    } yield edges).sample.get
    // UTF-8 byte order (Spark's min) and Java's UTF-16 order disagree on
    // U+10000 and U+1F600 against U+E000 and U+FFFD
    val names = Seq("a", "z", "\uE000", "\uFFFD", "\uD800\uDC00", "\uD83D\uDE00", "b")
    // survivors of every id a graph may hold (ids beyond a graph's k are in
    // no pair), from a frame whose id column comes second: the driver losers leave through
    // one filter, the distributed ones through the anti-join, and both give
    // the anti-join's rows and columns
    def docs[T](id: (Int, Int) => T)(implicit enc: org.apache.spark.sql.Encoder[(String, T)]) =
      (for (g <- graphs.indices; i <- names.indices) yield (s"t${id(g, i)}", id(g, i))).toDF("text", "doc_id")
    def survivors(d: org.apache.spark.sql.DataFrame, pairs: org.apache.spark.sql.DataFrame,
        smallGraphEdges: Long) = {
      val s = Dedup.deltaSurvivors(d, "doc_id", pairs, smallGraphEdges)
      assert(s.columns.toSeq === Seq("doc_id", "text"))
      s.collect().map(r => (r.get(0), r.getString(1))).toSeq.sortBy(_._2)
    }
    def check[T](id: (Int, Int) => T)(implicit
        enc: org.apache.spark.sql.Encoder[(T, T, Boolean, Boolean)],
        docEnc: org.apache.spark.sql.Encoder[(String, T)]): Seq[Any] = {
      val rows = graphs.zipWithIndex.flatMap { case (edges, g) =>
        edges.map { case (i, j, aNew, bNew) => (id(g, i), id(g, j), aNew, bNew) }
      }
      val pairs = rows.toDF("id_a", "id_b", "a_is_new", "b_is_new")
      val driver = Dedup.deltaLosers(pairs) match {
        case Left((ids, _)) => ids.sortBy(_.toString)
        case Right(_) => fail("a small pair set must resolve on the driver")
      }
      val distributed = Dedup.deltaLosers(pairs, smallGraphEdges = 0L) match {
        case Right(df) => df.collect().map(_.get(0)).toSeq.sortBy(_.toString)
        case Left(_) => fail("smallGraphEdges = 0 must take the distributed path")
      }
      assert(driver.nonEmpty)
      assert(driver === distributed)
      val d = docs(id)
      val expected = d.collect().map(r => (r.get(1), r.getString(0))).toSeq
        .filterNot(r => driver.contains(r._1)).sortBy(_._2)
      assert(survivors(d, pairs, Components.SmallGraphEdges) === expected)
      assert(survivors(d, pairs, 0L) === expected)
      driver
    }
    val longLosers = check((g, i) => g * 100L + i)
    check((g, i) => f"$g%02d-${names(i)}")

    // Int docs against Long pair columns (a pair type widened by a Long
    // index) take the local-relation join, with the same survivors
    val longPairs = graphs.zipWithIndex.flatMap { case (edges, g) =>
      edges.map { case (i, j, aNew, bNew) => (g * 100L + i, g * 100L + j, aNew, bNew) }
    }.toDF("id_a", "id_b", "a_is_new", "b_is_new")
    val intDocs = docs((g, i) => g * 100 + i)
    assert(survivors(intDocs, longPairs, Components.SmallGraphEdges).map(_._2) ===
      survivors(docs((g, i) => g * 100L + i), longPairs, Components.SmallGraphEdges).map(_._2))
    assert(survivors(intDocs, longPairs, Components.SmallGraphEdges).size ===
      graphs.size * names.size - longLosers.size)
    // a loser set above the 400-id `InSet` switch threshold (a star of 500
    // new ids on one old id), for Long docs (the hash `InSet`) and Int docs
    val star = (1 to 500).map(i => (0L, i.toLong, false, true))
      .toDF("id_a", "id_b", "a_is_new", "b_is_new")
    val starDocs = (1 to 600).map(i => (s"t$i", i.toLong)).toDF("text", "doc_id")
    for (d <- Seq(starDocs, starDocs.withColumn("doc_id", col("doc_id").cast("int"))))
      assert(survivors(d, star, Components.SmallGraphEdges).map(_._1.toString) ===
        (501 to 600).sortBy(i => s"t$i").map(_.toString))
  }

  test("content fingerprint: the one-job per-partition fold prints what the decimal(38,0) aggregate printed") {
    import graft.ops.TrainingPipeline
    // the fingerprint keys every committed pipeline stage: a different
    // string would recompute them all. Random rows spread over 7 partitions,
    // with repeats, so the hash sum leaves the 64-bit range and the
    // partition folds combine
    val rows = Gen.listOfN(2000, for {
      i <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      t <- Gen.alphaNumStr.map(_.take(12))
    } yield (i, t)).sample.get
    val df = (rows ++ rows.take(300)).toDF("id", "text").repartition(7)
    def aggregateFp(d: org.apache.spark.sql.DataFrame): String = {
      val h = xxhash64(col("id"), col("text"))
      val r = d.agg(count(lit(1)), bit_xor(h),
        sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect().head
      val sumMod = Option(r.getDecimal(2))
        .map(_.toBigInteger.mod(java.math.BigInteger.valueOf(Long.MaxValue)).toString)
        .getOrElse("0")
      s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:$sumMod"
    }
    assert(TrainingPipeline.contentFp(df, Seq("id", "text")) === aggregateFp(df))
    val empty = df.limit(0)
    assert(TrainingPipeline.contentFp(empty, Seq("id", "text")) === aggregateFp(empty))
  }

  test("BandHashes: every band equals xxhash64(concat_ws(slice)) on random signatures, nulls and extremes included") {
    val values = Gen.frequency(
      6 -> Gen.choose(Long.MinValue, Long.MaxValue),
      2 -> Gen.choose(-1000L, 1000L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L))
    val sigs = Gen.listOfN(300, Gen.frequency(
      12 -> Gen.choose(0, 70).flatMap(n => Gen.listOfN(n, Gen.frequency(
        9 -> values.map(v => Option(java.lang.Long.valueOf(v))),
        1 -> Gen.const(Option.empty[java.lang.Long])))).map(l => Some(l.map(_.orNull))),
      1 -> Gen.const(None))).sample.get
    val df = sigs.zipWithIndex.map { case (sig, i) => (i.toLong, sig.map(_.toSeq).orNull) }
      .toDF("id", "sig")
    for ((bands, rows) <- Seq((16, 4), (8, 4), (3, 5), (1, 64))) {
      val columnShape = array((0 until bands).map(bi =>
        xxhash64(concat_ws(",", slice($"sig", bi * rows + 1, rows)))): _*)
      val diff = df.select($"id", BandHashes($"sig", bands, rows).as("native"),
          columnShape.as("column"))
        .filter(!($"native" <=> $"column")).count()
      assert(diff === 0L, s"$diff rows differ at $bands bands x $rows rows")
    }
  }

  test("SigMatchCount equals the unrolled element_at sum, null elements and null arrays included") {
    val n = 16
    val elem = Gen.frequency(8 -> Gen.choose(0L, 3L).map(Option(_)), 1 -> Gen.const(Option.empty[Long]))
    val arr = Gen.frequency(8 -> Gen.listOfN(n, elem).map(l => Some(l)), 1 -> Gen.const(None))
    val pairs = Gen.listOfN(400, Gen.zip(arr, arr)).sample.get
    def col(a: Option[List[Option[Long]]]) = a.map(_.map(_.map(java.lang.Long.valueOf).orNull)).orNull
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, col(a), col(b)) }
      .toDF("id", "a", "b")
    val unrolled = (1 to n).map(i =>
      when(element_at($"a", i) === element_at($"b", i), 1L).otherwise(0L)).reduce(_ + _)
    val rows = df.select(SigMatchCount($"a", $"b", n).as("native"), unrolled.as("column"))
      .as[(Long, Long)].collect()
    assert(rows.forall { case (x, y) => x == y },
      rows.filter { case (x, y) => x != y }.take(5).mkString(", "))
    assert(rows.map(_._1).toSet.size > 3) // the generator reached several counts
  }

  test("tiered layout: random build/append/fold/compact sequences read the one-tier reference rows") {
    val numBuckets = 5
    // rows of one id are identical, so a compaction's dropDuplicates("id")
    // keeps a determined row
    def row(id: Long) = (id, id * 7 % 11, (id % numBuckets).toInt)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT, b INT")
    def frame(ids: Seq[Long], parts: Int) = ids.map(row).toDF("id", "v", "b").repartition(parts)
    val ids = Gen.listOf(Gen.choose(0L, 40L))
    // "again" redelivers an earlier append (its name and rows; the first id
    // picks which)
    val op = Gen.frequency(
      1 -> ids.map(i => ("build", i)), 5 -> ids.map(i => ("append", i)),
      2 -> ids.map(i => ("again", i)),
      1 -> Gen.const(("fold", Nil)), 1 -> ids.map(i => ("compact", i)))
    val buckets = Gen.someOf(0 until numBuckets + 1).map(_.toSet)
    val sequences = Gen.listOfN(6, Gen.zip(Gen.oneOf(true, false), Gen.listOfN(8, Gen.zip(op, buckets))))
      .sample.get
    var checks = 0
    sequences.foreach { case (parentBase, ops) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-tier").toString + "/layout"
      val layout = TieredLayout(dir, "b", "id")
      var ref = Seq.empty[(Long, Long, Int)]
      // every append in order, and the names of the runs the tier holds: a
      // fold or a rewrite empties it, and a full tier folds before a write
      var appends = Vector.empty[(String, Seq[Long])]
      var tier = Set.empty[String]
      def append(name: String, opIds: Seq[Long]): Unit = {
        val (n, _) = layout.appendRun(frame(opIds, 3), name, numBuckets, schema)
        assert(n === opIds.size, s"rows of run $name")
        if (!tier(name)) {
          if (tier.size >= numBuckets) tier = Set.empty
          tier += name
          ref = ref ++ opIds.map(row)
        }
      }
      // a base as an earlier release wrote it (Spark's partitioned write
      // straight into the directory), and one run, written in place under
      // the name an earlier release gave a run
      if (parentBase) {
        ref = (0L to 24L).map(row)
        frame(0L to 20L, 2).write.partitionBy("b").parquet(dir)
        frame(21L to 24L, 2).write.parquet(s"$dir/${TieredLayout.RunsDir}/run-1700000000000-0a1b2c3d")
        tier = Set("run-1700000000000-0a1b2c3d")
      }
      def read(only: Option[Set[Int]]) = {
        layout.recover(spark)
        layout.read(spark, schema, only).as[(Long, Long, Int)].collect().toSeq.sorted
      }
      ops.foreach { case ((kind, opIds), only) =>
        kind match {
          case "build" =>
            layout.rewrite(frame(opIds, 2), numBuckets); ref = opIds.map(row); tier = Set.empty
          case "append" =>
            appends :+= (s"run${appends.size}" -> opIds); append(appends.last._1, opIds)
          case "again" =>
            opIds.headOption.filter(_ => appends.nonEmpty).map(i => appends((i % appends.size).toInt))
              .foreach { case (name, again) => append(name, again) }
          case "fold" => layout.fold(spark, schema, numBuckets); tier = Set.empty
          case _ =>
            tier = Set.empty
            val keep = opIds.toSet
            layout.rewrite(layout.read(spark, schema, None)
              .join(opIds.distinct.toDF("id"), Seq("id"), "left_semi").dropDuplicates("id"),
              numBuckets)
            ref = ref.filter(r => keep(r._1)).distinct
        }
        assert(read(Some(only)) === ref.filter(r => only(r._3)).sorted, s"after $kind, buckets $only")
        assert(read(None) === ref.sorted, s"after $kind")
        checks += 1
      }
    }
    assert(checks === 48)
  }

  test("tiered layout: a fold killed at any step rereads every band row once") {
    import org.apache.hadoop.fs.Path
    val idx = java.nio.file.Files.createTempDirectory("graft-tier-kill").toString
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, (1 to 20).map(t => s"k${i}_$t").mkString(" "))).toDF("doc_id", "text")
    Dedup.minhashIndexBuild(docs(1L to 10L), "doc_id", "text", idx, p)
    val bands = TieredLayout(s"$idx/bands", "band_bucket", "band_hash")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, band_idx INT, band_hash BIGINT, band_bucket INT")
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldDir = new Path(s"$idx/bands/_fold")
    def bandRows() = { bands.recover(spark); bands.read(spark, schema, None)
      .select($"id", $"band_idx").as[(Long, Int)].collect().toSeq.sorted }
    var last = 10L
    // two more runs, then a fold of the tier written (and committed unless `commit` is
    // false) whose second half a kill interrupted after `moved` of its
    // files went into the base, and after the runs' removal if `runsGone`
    def killedFold(commit: Boolean, moved: Int, runsGone: Boolean): Unit = {
      Seq(last + 1 to last + 4, last + 5 to last + 8).foreach(d =>
        Dedup.minhashIndexAppend(docs(d.map(_.toLong)), "doc_id", "text", idx, s"d${d.head}"))
      last += 8
      assert(bands.runs(spark).size >= 2)
      assert(bands.writeFold(spark, schema, p.numBuckets))
      if (!commit) fs.delete(new Path(foldDir, TieredLayout.CommitMarker), false)
      val files = fs.listStatus(foldDir).filter(_.isDirectory)
        .flatMap(d => fs.listStatus(d.getPath)).filter(_.getPath.getName.startsWith("part-"))
      assert(files.nonEmpty)
      files.take(moved).foreach { f =>
        val bucket = new Path(s"$idx/bands", f.getPath.getParent.getName)
        fs.mkdirs(bucket)
        assert(fs.rename(f.getPath, new Path(bucket, f.getPath.getName)))
      }
      if (runsGone) bands.runs(spark).foreach(r => fs.delete(r._1, true))
    }
    def expected = (1L to last).flatMap(i => (0 until p.bands).map(b => (i, b))).sorted
    // killed before the commit marker: the fold is dropped, its runs kept
    killedFold(commit = false, moved = 0, runsGone = false)
    assert(bandRows() === expected)
    assert(!fs.exists(foldDir) && bands.runs(spark).size === 2)
    // killed after it: the fold completes, whatever share of it had moved
    Seq((0, false), (1, false), (Int.MaxValue, false), (Int.MaxValue, true)).foreach {
      case (moved, runsGone) =>
        killedFold(commit = true, moved, runsGone)
        assert(bandRows() === expected, s"moved $moved, runs gone $runsGone")
        assert(!fs.exists(foldDir) && bands.runs(spark).isEmpty)
    }
    // the index still dedups: a copy of an appended doc finds its source
    val pairs = Dedup.deltaNearDupsIndexedAudited(
      docs(Seq(12L)).select(($"doc_id" + 100).as("doc_id"), $"text"), "doc_id", "text", idx,
      threshold = 0.8).pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((12L, 112L)))
  }
}
