package graft

import graft.dsl._
import graft.run.Validator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Golden-parity tests re-encoding the reference's executable examples
  * (its only test corpus — README + notebook cells; SURVEY §5).
  */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private def viols(r: graft.run.ValidationResult): Set[(String, String, String)] =
    r.violations.collect().map(row =>
      (row.getAs[Any](0).toString, row.getString(1), row.getString(2))).toSet

  // ---- README.md:219-260 Person parameterized validators -------------------
  val person = SchemaSpec(
    "person",
    fields = Seq(
      Field.string("first_name").req.lenMin(5).lenMax(10),
      Field.string("last_name").req.lenMin(5).lenMax(10),
      Field.array("favorite_colors", FString()).subsetOf("red", "blue", "green"),
      Field.integer("age").req.gt(0).lt((ctx: Ctx) => ctx.b("max_age"))),
    keyColumns = Seq("id"))

  test("person: README parameterized example yields exact Ecto-shaped violations") {
    val df = Seq((1, "Bob", "Smith", Seq("red", "blue", "pink"), 101L))
      .toDF("id", "first_name", "last_name", "favorite_colors", "age")
    val r = Validator.validate(person, df, Map("max_age" -> 100))
    assert(viols(r) === Set(
      ("1", "first_name.min", "should be at least 5 character(s)"),
      ("1", "favorite_colors.subset", "has an invalid entry"),
      ("1", "age.less_than", "must be less than 100")))
    val c = r.coerced.collect().head
    assert(c.getAs[String]("first_name") === "Bob")
    assert(c.getAs[Long]("age") === 101L)
  }

  test("person: valid row has no violations and valid=true") {
    val df = Seq((2, "Alice", "Jones", Seq("red"), 30L))
      .toDF("id", "first_name", "last_name", "favorite_colors", "age")
    val r = Validator.validate(person, df, Map("max_age" -> 100))
    assert(r.violations.count() === 0)
    assert(r.validRows.count() === 1)
  }

  test("required: missing/null/empty-string all yield can't be blank") {
    val df = Seq((1, null.asInstanceOf[String]), (2, ""), (3, "ok"))
      .toDF("id", "name")
    val spec = SchemaSpec("s", Seq(Field.string("name").req), keyColumns = Seq("id"))
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(
      ("1", "name.required", "can't be blank"),
      ("2", "name.required", "can't be blank")))
  }

  test("cast: uncastable value emits ONLY is invalid (required skips errored fields)") {
    // Ecto's validate_required has an is_nil(errors[field]) guard — a field
    // whose cast failed never ALSO reports "can't be blank"
    // (reference: lib/changeset.ex:45 -> Ecto.Changeset.validate_required)
    val df = Seq((1, "abc"), (2, "42"), (3, "4.5")).toDF("id", "n")
    val spec = SchemaSpec("s", Seq(Field.integer("n").req.gt(10)), keyColumns = Seq("id"))
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(
      ("1", "n.cast", "is invalid"),
      ("3", "n.cast", "is invalid")))
  }

  test("changes-gating: validators only fire for present+cast-ok fields (§1.3)") {
    val df = Seq((1, null.asInstanceOf[String])).toDF("id", "n")
    val spec = SchemaSpec("s", Seq(Field.integer("n").gt(10)), keyColumns = Seq("id"))
    // n absent => no gt violation, not required => no violations at all
    assert(Validator.validate(spec, df).violations.count() === 0)
  }

  test("default value short-circuits required check (C6)") {
    val df = Seq((1, null.asInstanceOf[String]), (2, "fr")).toDF("id", "lang")
    val spec = SchemaSpec("s",
      Seq(Field.string("lang").req.withDefault("unknown")), keyColumns = Seq("id"))
    val r = Validator.validate(spec, df)
    assert(r.violations.count() === 0)
    assert(r.coerced.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "unknown"), (2, "fr")))
  }

  // ---- README.md:161-195 Character block validations ------------------------
  val character = SchemaSpec(
    "character",
    fields = Seq(
      Field.string("type").req.blockClauses(
        BlockClause.failWhen(
          ctx => !ctx("type").isin("elf", "human"),
          "Expected elf or human")),
      Field.integer("age").req.blockClauses(
        BlockClause.failWhen(ctx => ctx("age") < 0, "Nobody can have a negative age"),
        BlockClause.failWhen(
          ctx => ctx("type") === "elf" && ctx("age") > ctx.b("max_elf_age"),
          "Attention! The elf has become a bug! Should be dead already!"),
        BlockClause.failWhen(
          ctx => ctx("type") === "human" && ctx("age") > ctx.b("max_human_age"),
          "Expected human to be younger"))),
    keyColumns = Seq("id"),
    bindings = Map("max_elf_age" -> 400, "max_human_age" -> 120))

  test("character: block clauses fire with clause indices (X2)") {
    val df = Seq(
      (1, "elf", 10L),     // ok
      (2, "orc", 10L),     // type clause 1
      (3, "elf", 500L),    // age clause 2
      (4, "human", 121L),  // age clause 3
      (5, "human", -1L))   // age clause 1
      .toDF("id", "type", "age")
    val r = Validator.validate(character, df)
    assert(viols(r) === Set(
      ("2", "type.block.1", "Expected elf or human"),
      ("3", "age.block.2", "Attention! The elf has become a bug! Should be dead already!"),
      ("4", "age.block.3", "Expected human to be younger"),
      ("5", "age.block.1", "Nobody can have a negative age")))
  }

  test("block: multiple failing clauses accumulate (feature_guide.livemd:438)") {
    val spec = SchemaSpec("s", Seq(
      Field.integer("x").blockClauses(
        BlockClause.failWhen(ctx => ctx("x") < 10, "too small"),
        BlockClause.failWhen(ctx => ctx("x") % 2 === 1, "odd"))),
      keyColumns = Seq("id"))
    val df = Seq((1, 3L), (2, 12L), (3, 13L)).toDF("id", "x")
    assert(viols(Validator.validate(spec, df)) === Set(
      ("1", "x.block.1", "too small"),
      ("1", "x.block.2", "odd"),
      ("3", "x.block.2", "odd")))
  }

  test("block X3 quirk: passing truthy clause resets earlier block errors") {
    // clause1 fails, clause2 condition truthy but expr passes (null msg) => reset
    val spec = SchemaSpec("s", Seq(
      Field.integer("x").blockClauses(
        BlockClause.failWhen(ctx => ctx("x") < 10, "too small"),
        BlockClause.check(ctx => ctx("x") > 0, _ => lit(null)),
        BlockClause.failWhen(ctx => ctx("x") % 2 === 1, "odd"))),
      keyColumns = Seq("id"))
    val df = Seq((1, 3L)).toDF("id", "x") // clause1 fires, clause2 resets, clause3 fires
    assert(viols(Validator.validate(spec, df)) === Set(("1", "x.block.3", "odd")))
  }

  test("block: null condition emits generic clause error") {
    val spec = SchemaSpec("s", Seq(
      Field.integer("x").blockClauses(
        BlockClause.failWhen(ctx => lit(null).cast("boolean"), "unreachable"))),
      keyColumns = Seq("id"))
    val df = Seq((1, 3L)).toDF("id", "x")
    assert(viols(Validator.validate(spec, df)) === Set(
      ("1", "x.block.1", "Error evaluating expression in Clause #1 of `do:` block")))
  }

  // ---- when (X1) -------------------------------------------------------------
  test("when: falsy or null predicate fails with exact reference reason") {
    val spec = SchemaSpec("s", Seq(
      Field.integer("score").req.when(ctx => ctx("score") > ctx("rating")),
      Field.integer("rating").req),
      keyColumns = Seq("id"))
    val df = Seq((1, 50L, 80L), (2, 90L, 80L)).toDF("id", "score", "rating")
    assert(viols(Validator.validate(spec, df)) === Set(
      ("1", "score.when", "Failed `:when` validation")))
  }

  // ---- derive / map (P1/P2) ---------------------------------------------------
  test("derive overwrites; validators see derived value; map runs after") {
    val spec = SchemaSpec("s", Seq(
      Field.string("name").req
        .derived(ctx => lower(ctx("name")))
        .lenMin(3)
        .mapped(ctx => concat(ctx("name"), lit("!")))),
      keyColumns = Seq("id"))
    val df = Seq((1, "ABCD"), (2, "AB")).toDF("id", "name")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(("2", "name.min", "should be at least 3 character(s)")))
    assert(r.coerced.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "abcd!"), (2, "ab!")))
  }

  test("derive gating: code-as-written skips absent fields; deriveAlways derives (§1.3)") {
    val fields = Seq(
      Field.integer("rating").req,
      Field.integer("score").derived(ctx => ctx("rating") * 2))
    val df = Seq((1, 10L)).toDF("id", "rating") // score absent from input
    val gated = Validator.validate(SchemaSpec("s", fields, keyColumns = Seq("id")), df)
    assert(gated.coerced.select("score").as[Option[Long]].collect().head === None)
    val always = Validator.validate(
      SchemaSpec("s", fields, keyColumns = Seq("id"), deriveAlways = true), df)
    assert(always.coerced.select("score").as[Option[Long]].collect().head === Some(20L))
  }

  // ---- enum / union / custom types --------------------------------------------
  test("enum: cast accepts key or dumped value -> key; dump emits value (C10)") {
    val genre = FEnum(Seq("biography" -> 0, "science_fiction" -> 1))
    val spec = SchemaSpec("s", Seq(Field.of("genre", genre).req), keyColumns = Seq("id"))
    val df = Seq((1, "biography"), (2, "1"), (3, "poetry")).toDF("id", "genre")
    val r = Validator.validate(spec, df)
    // cast failure only — required skips fields already carrying an error
    assert(viols(r) === Set(
      ("3", "genre.cast", "is invalid")))
    assert(r.coerced.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "biography"), (2, "science_fiction"), (3, null)))
    val dumped = Validator.dump(spec, r.coerced)
    assert(dumped.orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "0"), (2, "1"), (3, null)))
  }

  test("union eager: first branch in declared order wins; none -> cast error (C8)") {
    val u = FUnion(Seq(FInteger, FFloat))
    val spec = SchemaSpec("s", Seq(Field.of("v", u)), keyColumns = Seq("id"))
    val df = Seq((1, "42"), (2, "3.5"), (3, "abc")).toDF("id", "v")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(("3", "v.cast", "is invalid")))
    val rows = r.annotated.select($"id", u.branchName($"v").as("b")).orderBy("id")
      .as[(Int, String)].collect().toSeq
    assert(rows === Seq((1, "integer"), (2, "float"), (3, null)))
  }

  test("union lazy: input's native type wins over declaration order (C7)") {
    val u = FUnion(Seq(FInteger, FFloat), lazyInfer = true)
    val spec = SchemaSpec("s", Seq(Field.of("v", u)), keyColumns = Seq("id"))
    val df = Seq((1, 2.0)).toDF("id", "v") // double input; eager would pick integer
    val r = Validator.validate(spec, df)
    assert(r.annotated.select(u.branchName($"v")).as[String].collect().head === "float")
  }

  test("custom type: cast/dump override round-trip (C11, README ContentType)") {
    val contentType = FCustom(
      "content_type", FString(),
      castOverride = Some((c, _) =>
        when(c === "application/json", lit("json")).otherwise(lit(null).cast("string"))),
      dumpOverride = Some(c => concat(lit("application/"), c)))
    val spec = SchemaSpec("s", Seq(Field.of("ct", contentType)), keyColumns = Seq("id"))
    val df = Seq((1, "application/json"), (2, "bogus")).toDF("id", "ct")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(("2", "ct.cast", "is invalid")))
    assert(Validator.dump(spec, r.coerced).orderBy("id").as[(Int, String)].collect().toSeq ===
      Seq((1, "application/json"), (2, null)))
  }

  // ---- strict string cast (Ecto parity) ---------------------------------------
  test("strict :string rejects non-string input; lenient accepts") {
    val dfNum = Seq((1, 42L)).toDF("id", "s")
    val strict = SchemaSpec("s", Seq(Field.string("s")), keyColumns = Seq("id"))
    assert(viols(Validator.validate(strict, dfNum)) === Set(("1", "s.cast", "is invalid")))
    val lenient = SchemaSpec("s", Seq(Field.stringLenient("s")), keyColumns = Seq("id"))
    assert(Validator.validate(lenient, dfNum).violations.count() === 0)
  }

  // ---- number/format/inclusion/exclusion reasons -------------------------------
  test("validator reason strings match Ecto defaults") {
    val spec = SchemaSpec("s", Seq(
      Field.integer("a").ge(10),
      Field.integer("b").le(10),
      Field.integer("c").eqTo(10),
      Field.integer("d").neTo(10),
      Field.string("e").format("^[a-z]+$"),
      Field.string("f").in("x", "y"),
      Field.string("g").notIn("bad")),
      keyColumns = Seq("id"))
    val df = Seq((1, 5L, 15L, 5L, 10L, "UPPER", "z", "bad")).toDF(
      "id", "a", "b", "c", "d", "e", "f", "g")
    assert(viols(Validator.validate(spec, df)) === Set(
      ("1", "a.greater_than_or_equal_to", "must be greater than or equal to 10"),
      ("1", "b.less_than_or_equal_to", "must be less than or equal to 10"),
      ("1", "c.equal_to", "must be equal to 10"),
      ("1", "d.not_equal_to", "must be not equal to 10"),
      ("1", "e.format", "has invalid format"),
      ("1", "f.inclusion", "is invalid"),
      ("1", "g.exclusion", "is reserved")))
  }

  // ---- JSON dump (P4) -----------------------------------------------------------
  test("dumpJson: name/omitempty/ignore with explicit null handling") {
    val spec = SchemaSpec("s", Seq(
      Field.string("id2").json(name = "ISBN"),
      Field.string("title"),
      Field.string("author").json(omitempty = true),
      Field.string("notes").json(skip = true)),
      keyColumns = Seq("id"))
    val df = Seq((1, "x1", "T", null.asInstanceOf[String], "n")).toDF(
      "id", "id2", "title", "author", "notes")
    val r = Validator.validate(spec, df)
    val js = Validator.dumpJson(spec, r.coerced).select("json").as[String].collect().head
    assert(js === """{"ISBN":"x1","title":"T"}""")
  }

  test("dump/dumpJson recurse into embeds (README Book nested author, json.ex:120-169)") {
    val book = graft.fixtures.GoldenFixtures.book
    val df = Seq((1, "Harry Potter", "fantasy")).toDF("case_id", "title", "genre")
      .withColumn("author", struct(lit("J.K.").as("first_name"),
        lit("Rowling").as("last_name"), lit(null).cast("string").as("bio")))
      .withColumn("coauthors", array(struct(lit("Co").as("first_name"),
        lit("A").as("last_name"), lit("b").as("bio"))))
    val r = Validator.validate(book, df)
    val js = Validator.dumpJson(book, r.coerced).select("json").as[String].collect().head
    assert(js ===
      """{"title":"Harry Potter","genre":"2","author":{"first_name":"J.K.","last_name":"Rowling","bio":null},"coauthors":[{"first_name":"Co","last_name":"A","bio":"b"}]}""")
    // struct-shaped dump carries the embeds too (round-1 silently dropped them)
    val d = Validator.dump(book, r.coerced)
    assert(d.columns.toSeq === Seq("case_id", "title", "genre", "author", "coauthors"))
    val a = d.select("author.last_name").as[String].collect().head
    assert(a === "Rowling")
  }

  test("inline embeds inherit parent extension filters; module embeds do not (schema.ex:369-387)") {
    val child = SchemaSpec("c", Seq(Field.integer("n").gt(10)))
    def parent(inline: Boolean) = SchemaSpec("p",
      fields = Seq(Field.integer("m").gt(10)),
      embeds = Seq(EmbedSpec("e", child, inline = inline)),
      keyColumns = Seq("id"),
      except = Some(Seq(RulePacks.EctoValidations)))
    val df = Seq((1, 5L)).toDF("id", "m")
      .withColumn("e", struct(lit(5L).as("n")))
    // parent disables ecto_validations; the inline embed inherits that
    assert(Validator.validate(parent(inline = true), df).violations.count() === 0)
    // a module embed keeps its own (default: all packs on) => n.gt fires
    val v = Validator.validate(parent(inline = false), df).violations
      .select("constraint_id").as[String].collect().toSeq
    assert(v === Seq("e.n.greater_than"))
  }

  test(":map type: element-wise value cast, any failing entry fails the whole map (union.ex:175)") {
    val spec = SchemaSpec("s", Seq(Field.map("attrs", FInteger)), keyColumns = Seq("id"))
    val df = Seq(
      (1, Map("a" -> "1", "b" -> "2")),
      (2, Map("a" -> "1", "b" -> "x"))).toDF("id", "attrs")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(("2", "attrs.cast", "is invalid")))
    val good = r.coerced.filter(col("id") === 1)
      .select(element_at(col("attrs"), "a")).as[Long].collect().head
    assert(good === 1L)
    // two keys casting to the SAME output key => cast violation, not a
    // mapKeyDedupPolicy=EXCEPTION crash
    val dupSpec = SchemaSpec("s", Seq(Field.map("attrs", FString(), key = FInteger)),
      keyColumns = Seq("id"))
    val dupDf = Seq((1, Map("1" -> "x", "01" -> "y"))).toDF("id", "attrs")
    assert(viols(Validator.validate(dupSpec, dupDf)) ===
      Set(("1", "attrs.cast", "is invalid")))
  }

  test(":time / :time_usec: canonical cast, invalid wall-clock rejected (union.ex:169-170)") {
    val spec = SchemaSpec("s", Seq(Field.time("t"), Field.timeUsec("tu")), keyColumns = Seq("id"))
    val df = Seq(
      (1, "13:45:02", "13:45:02.123456"),
      (2, "25:00:00", "oops")).toDF("id", "t", "tu")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(
      ("2", "t.cast", "is invalid"),
      ("2", "tu.cast", "is invalid")))
    assert(r.coerced.filter(col("id") === 1).select("t", "tu")
      .as[(String, String)].collect().head === (("13:45:02", "13:45:02.123456")))
  }

  test("parameterized custom type with defaults + field-site override (lib/type.ex:42-166 init/1)") {
    // README Category example: extends Enum with default values, overridable
    val Category = FTypeTemplate("category", Map("values" -> Seq("folder", "file")),
      p => FEnum(p("values").asInstanceOf[Seq[String]].map(v => v -> v)))
    val spec = SchemaSpec("s", Seq(
      Field.of("kind", Category()),
      Field.of("kind2", Category("values" -> Seq("a", "b")))), keyColumns = Seq("id"))
    val df = Seq((1, "folder", "a"), (2, "a", "folder")).toDF("id", "kind", "kind2")
    val r = Validator.validate(spec, df)
    assert(viols(r) === Set(
      ("2", "kind.cast", "is invalid"),
      ("2", "kind2.cast", "is invalid")))
    // README NewUID example: extends a base type, dump overridden to length
    val NewUID = FTypeTemplate("new_uid", Map("len_dump" -> true), p =>
      FCustom("new_uid", FString(),
        dumpOverride = if (p("len_dump") == true) Some((c: org.apache.spark.sql.Column) =>
          length(c).cast("string")) else None))
    val uidSpec = SchemaSpec("u", Seq(Field.of("uid", NewUID())), keyColumns = Seq("id"))
    val d = Validator.dump(uidSpec,
      Validator.validate(uidSpec, Seq((1, "abcd-123")).toDF("id", "uid")).coerced)
    assert(d.select("uid").as[String].collect().head === "8")
  }

  test("length unit follows the cast column's Spark type through dump-customized custom types") {
    // a dump override is a serialization concern: it must not flip an
    // array-typed field's length validators to length(string) (which would
    // be an AnalysisException at validate time)
    val Tags = FCustom("tags", FArray(FInteger),
      dumpOverride = Some((c: org.apache.spark.sql.Column) => to_json(c)))
    val spec = SchemaSpec("s",
      Seq(Field.of("tags", Tags).lenMax(2)), keyColumns = Seq("id"))
    val df = Seq((1, Seq(1L, 2L, 3L)), (2, Seq(9L))).toDF("id", "tags")
    assert(viols(Validator.validate(spec, df)) === Set(
      ("1", "tags.max", "should have at most 2 item(s)")))
  }

  test("orThrow raises on invalid with sample (E3 new!)") {
    val spec = SchemaSpec("s", Seq(Field.integer("n").req.gt(10)), keyColumns = Seq("id"))
    val bad = Seq((1, 5L)).toDF("id", "n")
    intercept[IllegalArgumentException] { Validator.validate(spec, bad).orThrow() }
    val ok = Seq((1, 50L)).toDF("id", "n")
    assert(Validator.validate(spec, ok).orThrow().count() === 1)
  }

  test("orThrow message parity: struct with error lists merged over values (README.md:185)") {
    // %Character{type: ["Expected elf or human, got: orc"], age: 10} shape:
    // errored fields become ["msg", ...]; clean fields show their cast value
    val character = graft.fixtures.GoldenFixtures.character
    val df = Seq((1, "orc", "10")).toDF("case_id", "type", "age")
    val ex = intercept[IllegalArgumentException] {
      Validator.validate(character, df,
        bindings = Map("max_elf_age" -> 400, "max_human_age" -> 120)).orThrow()
    }
    assert(ex.getMessage === """%character{type: ["Expected elf or human"], age: 10}""")
    // interpolated operands appear in the merged messages (%{number} baked in)
    val p = SchemaSpec("p", Seq(Field.integer("age").gt(100)), keyColumns = Seq("id"))
    val ex2 = intercept[IllegalArgumentException] {
      Validator.validate(p, Seq((1, 42L)).toDF("id", "age")).orThrow()
    }
    assert(ex2.getMessage === """%p{age: ["must be greater than 100"]}""")
  }

  test("FInteger string cast: fast-path regex matches try_cast bit-for-bit on the edge corpus") {
    // the pre-screen must never disagree with try_cast (oracle parity)
    val edges = Seq(" 42 ", "42", "+7", "-0008", "42.0", "",
      "9223372036854775807", "-9223372036854775808", "92233720368547758070",
      "x1", "\t13\n", "1_0", "0x1A", "١٢٣", "+", "-", "99999999999999999999999",
      // Java regex $ matches before a FINAL line terminator; \\z anchoring
      // keeps these off the throwing plain-cast branch
      "123\u2028", "123\u2029", "123\u0085")
    val df = edges.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val got = df.select($"id", FInteger.castExpr($"s", org.apache.spark.sql.types.StringType).as("fast"),
      expr("try_cast(s AS bigint)").as("exact")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"row ${r.getInt(0)}: fast/exact null mismatch")
      if (!r.isNullAt(1)) assert(r.getLong(1) === r.getLong(2), s"row ${r.getInt(0)}")
    }
    // float screen: rejection must agree with try_cast on every edge shape
    val fEdges = Seq(" 3.5 ", "3.", ".5", "1e3", "1E-2", "+.5e+2", "Infinity",
      "-Infinity", "infinity", "Inf", "NaN", "nan", "0x1p3", "1d", "1.5D",
      "abc", "w7", "1,5", "5e", "e5", ".", "+.", "1e400", "", " -inf ")
    val fdf = fEdges.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val fgot = fdf.select($"id",
      FFloat.castExpr($"s", org.apache.spark.sql.types.StringType).as("fast"),
      expr("try_cast(s AS double)").as("exact")).collect()
    fgot.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"float row ${r.getInt(0)}: null mismatch")
      if (!r.isNullAt(1))
        assert(r.getDouble(1) === r.getDouble(2) ||
          (r.getDouble(1).isNaN && r.getDouble(2).isNaN), s"float row ${r.getInt(0)}")
    }
    // date/timestamp screen: rejection agrees with try_cast incl. special words
    val dEdges = Seq("2024-05-06", " 2024-5-6 ", "2024-05-06T07:08:09", "now",
      "today", "TOMORROW", "epoch", "Yesterday", "banana", "energy-drink",
      "not-a-date", "+10000-01-01", "05/06/2024", "", "T10:00:00",
      // T is uppercase-position-0 only; special words are typed-literal-only
      // (not cast-accepted) since Spark 3.2; time-only forms ARE timestamps
      "t10:00", " T10:00", "10:00", "none", "yes", "error", "true", "-0001-01-01")
    val ddf = dEdges.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val dgot = ddf.select($"id",
      FDate.castExpr($"s", org.apache.spark.sql.types.StringType).as("fast"),
      expr("try_cast(s AS date)").as("exact"),
      FUtcDatetime.castExpr($"s", org.apache.spark.sql.types.StringType).as("fast_ts"),
      expr("try_cast(s AS timestamp)").as("exact_ts")).collect()
    dgot.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"date row ${r.getInt(0)} (${dEdges(r.getInt(0))})")
      if (!r.isNullAt(1)) assert(r.get(1) === r.get(2), s"date row ${r.getInt(0)}")
      assert(r.isNullAt(3) === r.isNullAt(4), s"ts row ${r.getInt(0)} (${dEdges(r.getInt(0))})")
      if (!r.isNullAt(3)) assert(r.get(3) === r.get(4), s"ts row ${r.getInt(0)}")
    }
  }

  test(":time/:time_usec accept 1-6 digit fractions and truncate beyond (Ecto Time.cast)") {
    val df = Seq(
      (1, "13:45:02"),          // no fraction
      (2, "13:45:02.1"),        // 1 digit -> .100000
      (3, "13:45:02.123"),      // 3 digits -> .123000
      (4, "13:45:02.123456"),   // exactly 6
      (5, "13:45:02.1234567"),  // 7 digits -> truncated to 6 (Elixir Time parse)
      (6, "25:00:00.5")         // invalid wall clock -> violation
    ).toDF("id", "t")
    val spec = SchemaSpec("e",
      Seq(FieldSpec("t", FTime), FieldSpec("tu", FTimeUsec, inputColumn = Some("t"))),
      keyColumns = Seq("id"))
    val r = Validator.validate(spec, df)
    val rows = r.coerced.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("t")).toSeq === Seq(
      "13:45:02", "13:45:02", "13:45:02", "13:45:02", "13:45:02", null))
    assert(rows.map(_.getAs[String]("tu")).toSeq === Seq(
      "13:45:02.000000", "13:45:02.100000", "13:45:02.123000",
      "13:45:02.123456", "13:45:02.123456", null))
    assert(viols(r) === Set(
      ("6", "t.cast", "is invalid"), ("6", "tu.cast", "is invalid")))
  }

  test("union composite-branch dump: array branch dumps as a dumped array, not a stringified struct") {
    // reference routes composite branches through their own dumper (union.ex:93-107)
    val u = FUnion(Seq(FArray(FInteger), FString()))
    val spec = SchemaSpec("u", Seq(Field.of("v", u)), keyColumns = Seq("id"))
    val df = Seq(
      (1, Seq("1", "2", "3")),
      (2, Seq("4", "x"))) // element cast fails => array branch null => no branch
      .toDF("id", "v")
    val r = Validator.validate(spec, df)
    val dumped = r.annotated.select($"id", u.dumpExpr($"v").as("d")).orderBy("id").collect()
    assert(dumped(0).getAs[String]("d") === "[1,2,3]")
    assert(dumped(1).isNullAt(1)) // no branch casts a mixed array
    // enum dump nested in a union dumps its mapped value, string branch stays raw
    val u2 = FUnion(Seq(FEnum(Seq("en" -> 0, "es" -> 1)), FArray(FFloat)))
    val spec2 = SchemaSpec("u2", Seq(Field.of("v", u2)), keyColumns = Seq("id"))
    val df2 = Seq((1, "es")).toDF("id", "v")
    val d2 = Validator.validate(spec2, df2).annotated
      .select(u2.dumpExpr($"v")).collect().head.getString(0)
    assert(d2 === "1")
    // an FCustom wrapping a composite (no dump override) still dumps as JSON
    val u3 = FUnion(Seq(FCustom("tags", FArray(FInteger)), FString()))
    val d3 = Validator.validate(
      SchemaSpec("u3", Seq(Field.of("v", u3)), keyColumns = Seq("id")),
      Seq((1, Seq("7", "8"))).toDF("id", "v")).annotated
      .select(u3.dumpExpr($"v")).collect().head.getString(0)
    assert(d3 === "[7,8]")
  }

  test("dumpJson union field: JSON value type follows the taken branch (number/array/string)") {
    val u = FUnion(Seq(FInteger, FArray(FInteger), FString()))
    val spec = SchemaSpec("j", Seq(Field.of("v", u)), keyColumns = Seq("id"))
    def js(df: org.apache.spark.sql.DataFrame): String =
      Validator.dumpJson(spec, Validator.validate(spec, df).coerced)
        .select("json").as[String].collect().head
    assert(js(Seq((1, "42")).toDF("id", "v")) === """{"v":42}""")      // integer branch: unquoted
    assert(js(Seq((1, "ab")).toDF("id", "v")) === """{"v":"ab"}""")    // string branch: quoted
    val arrDf = Seq((1, Seq("1", "2"))).toDF("id", "v")
    assert(js(arrDf) === """{"v":[1,2]}""")                            // array branch: JSON array
  }

  test("summary: per-partition and grouped pass/fail counts (N3)") {
    val spec = SchemaSpec("s", Seq(Field.integer("n").req.gt(10)), keyColumns = Seq("id"))
    val df = spark.range(100).select($"id", ($"id" % 20).as("n"))
    val r = Validator.validate(spec, df)
    val total = r.partitionSummary.agg(
      sum("rows"), sum("valid_rows"), sum("violations")).as[(Long, Long, Long)].collect().head
    // n in 0..19 per id%20; n>10 valid => 9 of 20 valid (11..19); n=0..10 invalid
    assert(total === ((100L, 45L, 55L)))
    val grouped = r.summaryBy("valid").orderBy("valid").collect()
    assert(grouped.length === 2)
  }

  // ---- Structured Streaming ------------------------------------------------
  // The compiled validation pipeline is stateless Column transforms, so the
  // SAME SchemaSpec runs unchanged over a stream: violations flow out per
  // micro-batch; windowed summaries aggregate with watermarks. (The
  // reference is batch-only; this is the Spark-native lift.)

  case class Ev(event_id: Long, event_type: String, value: Double)

  test("streaming validation: violations flow through a memory sink per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val spec = SchemaSpec("events", Seq(
      Field.string("event_type").in("view", "click", "purchase"),
      Field.float("value").ge(0.0)),
      keyColumns = Seq("event_id"))

    val violations = Validator.validate(spec, input.toDF()).violations
    val q = violations.writeStream
      .format("memory").queryName("viol_sink").outputMode("append").start()
    try {
      input.addData(
        Ev(1, "view", 10.0),
        Ev(2, "hack", 5.0),    // inclusion violation
        Ev(3, "click", -2.0))  // ge violation
      q.processAllAvailable()
      input.addData(Ev(4, "purchase", 1.0), Ev(5, "hack", -1.0)) // two violations
      q.processAllAvailable()
      val got = spark.table("viol_sink")
        .select("event_id", "constraint_id").as[(Long, String)].collect().toSet
      assert(got === Set(
        (2L, "event_type.inclusion"),
        (3L, "value.greater_than_or_equal_to"),
        (5L, "event_type.inclusion"),
        (5L, "value.greater_than_or_equal_to")))
    } finally q.stop()
  }

  test("streaming windowed summary with watermark (violations per window)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val spec = SchemaSpec("s", Seq(
      Field.string("v").in("ok")), keyColumns = Seq("ts"))
    val annotated = Validator.validate(spec, input.toDF().toDF("ts", "v")).annotated
    val summary = annotated
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "10 seconds"))
      .agg(count(lit(1)).as("rows"), sum(when(!$"valid", 1L).otherwise(0L)).as("invalid"))
    val q = summary.writeStream
      .format("memory").queryName("win_sink").outputMode("complete").start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      input.addData((ts(5), "ok"), (ts(7), "bad"), (ts(15), "ok"))
      q.processAllAvailable()
      val rows = spark.table("win_sink").select("rows", "invalid")
        .as[(Long, Long)].collect().toSet
      assert(rows === Set((2L, 1L), (1L, 0L)))
    } finally q.stop()
  }
}
