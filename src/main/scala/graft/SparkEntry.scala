package graft

import graft.dsl._
import graft.ops.{Components, Decontaminate, Dedup, Multimodal, Sharding, Similarity, TextOps}
import graft.run.Validator
import graft.suite.Checks
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ §2.7 table-scope ops and the training-data operators),
  * each with equivalent ANSI SQL for the DuckDB oracle where expressible.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[graft.ops.Adaptive.spread]] — used on the compute-heavy queries'
    * inputs so expression-bound scans use every slot even when the input's
    * file layout yields fewer splits than the cluster has cores (a no-op at
    * production scale; see Adaptive). Trivial projection queries skip it:
    * their wall time is the job overhead floor, and an extra exchange only
    * adds to it. */
  private def sp(df: DataFrame): DataFrame = graft.ops.Adaptive.spread(df)

  /** Full document-text vocabulary of the synthetic corpus (checked at sf0.1). */
  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  // ---------------------------------------------------------------------------
  // Schemas (compiled once; every rule is a Catalyst Column — SURVEY §2)
  // ---------------------------------------------------------------------------

  /** documents with lang knocked out for 'de' rows — deterministic "dirt" so
    * required/default paths produce non-empty, oracle-checkable results. */
  private def docsDirty(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn("lang", expr("nullif(lang, 'de')"))

  private val flagshipSchema = SchemaSpec(
    "documents",
    fields = Seq(
      Field.string("lang").req.in("en", "es", "fr", "zh"),
      Field.string("source").format("^src[0-9]$"),
      Field.integer("n_chars").ge(100).le(500),
      Field.string("text").lenMin(150).lenMax(420).blockClauses(
        BlockClause.failWhen(ctx => ctx("n_chars") < 160, "document too short"))),
    keyColumns = Seq("doc_id"))

  /** Flagship: full validation suite on sf0.001 documents. */
  def entry(spark: SparkSession): DataFrame =
    Validator.validate(flagshipSchema, docsDirty(spark, "/root/testdata/sf0.001")).violations

  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- C1 cast -------------------------------------------------------------
    "q_cast_invalid" -> ((s, dir) => {
      val spec = SchemaSpec("events", Seq(Field.integer("props")), keyColumns = Seq("event_id"))
      Validator.validate(spec, t(s, dir, "events")).violations
    }),

    // ---- C3 required ----------------------------------------------------------
    "q_required" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(Field.string("lang").req), keyColumns = Seq("doc_id"))
      Validator.validate(spec, docsDirty(s, dir)).violations
    }),

    // ---- C6 default ------------------------------------------------------------
    "q_default" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("lang").req.withDefault("unknown")), keyColumns = Seq("doc_id"))
      Validator.validate(spec, docsDirty(s, dir)).coerced.select("doc_id", "lang")
    }),

    // ---- V1-V6 number validators ------------------------------------------------
    "q_number_bounds" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.integer("n_chars").gt(150).lt(450)), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- V7 format ----------------------------------------------------------------
    "q_format" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("source").format("^src[0-9]$")), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- V9/V10 inclusion/exclusion -------------------------------------------------
    "q_inclusion" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("lang").in("en", "es", "fr", "de")), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),
    "q_exclusion" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("source").notIn("src0", "src13")), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- V11-V13 length ----------------------------------------------------------------
    "q_length" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("text").lenMin(200).lenMax(400)), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- V8 subset_of -------------------------------------------------------------------
    "q_subset" -> ((s, dir) => {
      val allowed = vocab.filterNot(w => w == "vector" || w == "stream")
      val spec = SchemaSpec("documents",
        Seq(Field.array("words", FString()).subsetOf(allowed: _*)), keyColumns = Seq("doc_id"))
      val df = sp(t(s, dir, "documents")).withColumn("words", split(col("text"), " "))
      Validator.validate(spec, df).violations
    }),

    // ---- C4 nested embeds: struct + array<struct> with required subfields -------------------
    "q_embeds" -> ((s, dir) => {
      val authorSchema = SchemaSpec("author", Seq(
        Field.string("first_name").req,
        Field.string("last_name").req,
        Field.string("bio")))
      val spec = SchemaSpec("doc",
        fields = Seq(Field.string("lang")),
        embeds = Seq(
          EmbedSpec("author", authorSchema, required = true),
          EmbedSpec("coauthors", authorSchema, many = true)),
        keyColumns = Seq("doc_id"))
      val df = t(s, dir, "documents")
        .withColumn("author", struct(
          expr("nullif(source,'src3')").as("first_name"),
          col("lang").as("last_name"),
          col("text").as("bio")))
        .withColumn("coauthors", array(
          struct(lit("a").as("first_name"), col("lang").as("last_name"), lit(null).cast("string").as("bio")),
          struct(when(col("doc_id") % 4 === 0, lit(null).cast("string")).otherwise(lit("b")).as("first_name"),
            lit("x").as("last_name"), lit(null).cast("string").as("bio"))))
      Validator.validate(spec, df).violations
    }),

    // ---- V15 parameterized operand over a sibling field ------------------------------------
    "q_param_operand" -> ((s, dir) => {
      val spec = SchemaSpec("events", Seq(
        Field.integer("user_id"),
        Field.float("value").gt((ctx: Ctx) => ctx("user_id"))),
        keyColumns = Seq("event_id"))
      Validator.validate(spec, t(s, dir, "events")).violations
    }),

    // ---- X1 when ------------------------------------------------------------------------------
    "q_when" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.string("text"),
        Field.integer("n_chars").when(ctx =>
          ctx("n_chars") % 7 =!= 0 || length(ctx("text")) > 200)),
        keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- X2 block -------------------------------------------------------------------------------
    "q_block" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.integer("n_chars"),
        Field.string("lang").blockClauses(
          BlockClause.failWhen(ctx => ctx("lang") === "zh", "unsupported language"),
          BlockClause.failWhen(ctx => ctx("n_chars") < 160, "document too short"))),
        keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- P1 derive ------------------------------------------------------------------------------
    "q_derive" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.string("text"),
        Field.integer("token_count").derived(ctx =>
          size(split(ctx("text"), " ")).cast("long"))),
        keyColumns = Seq("doc_id"), deriveAlways = true)
      Validator.validate(spec, t(s, dir, "documents")).coerced
        .select("doc_id", "token_count")
    }),

    // ---- P2 map ----------------------------------------------------------------------------------
    "q_map" -> ((s, dir) => {
      val spec = SchemaSpec("documents",
        Seq(Field.string("lang").mapped(ctx => upper(ctx("lang")))), keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).coerced.select("doc_id", "lang")
    }),

    // ---- P3/P4 dump projection (rename / ignore / enum embed_as dump) -----------------------------
    "q_dump" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.enum("lang", "en" -> 0, "es" -> 1, "de" -> 2, "fr" -> 3, "zh" -> 4)
          .json(name = "lang_code"),
        Field.string("source").json(name = "origin"),
        Field.string("text").json(skip = true)),
        keyColumns = Seq("doc_id"))
      val r = Validator.validate(spec, t(s, dir, "documents"))
      Validator.dump(spec, r.coerced)
    }),

    // ---- P4 exact JSON dump with omitempty --------------------------------------------------------
    "q_dump_json" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.string("source").json(name = "origin"),
        Field.string("lang").json(omitempty = true),
        Field.integer("n_chars")),
        keyColumns = Seq("doc_id"))
      val r = Validator.validate(spec, docsDirty(s, dir))
      Validator.dumpJson(spec, r.coerced)
    }),

    // ---- P4 JSON dump recursion through embeds (rename/omitempty INSIDE nested structs; embeds_many maps) ----
    "q_dump_embeds" -> ((s, dir) => {
      val authorSchema = SchemaSpec("author", Seq(
        Field.string("first_name").req.json(name = "firstName"),
        Field.string("last_name").json(name = "lastName"),
        Field.string("bio").json(omitempty = true)))
      val spec = SchemaSpec("doc",
        fields = Seq(Field.string("lang"), Field.string("text").json(skip = true)),
        embeds = Seq(
          EmbedSpec("author", authorSchema, jsonName = Some("writer")),
          EmbedSpec("coauthors", authorSchema, many = true)),
        keyColumns = Seq("doc_id"))
      val df = sp(t(s, dir, "documents"))
        .withColumn("author", struct(
          col("source").as("first_name"),
          col("lang").as("last_name"),
          expr("nullif(source, 'src3')").as("bio")))
        .withColumn("coauthors", array(
          struct(lit("a").as("first_name"), col("lang").as("last_name"),
            lit(null).cast("string").as("bio"))))
      val r = Validator.validate(spec, df)
      Validator.dumpJson(spec, r.coerced)
    }),

    // ---- C10 enum key-or-value cast ----------------------------------------------------------------
    "q_enum_roundtrip" -> ((s, dir) => {
      val spec = SchemaSpec("g", Seq(
        Field.enum("genre", "en" -> 0, "es" -> 1)), keyColumns = Seq("doc_id"))
      val df = t(s, dir, "documents").withColumn("genre",
        when(col("doc_id") % 3 === 0, lit("en"))
          .when(col("doc_id") % 3 === 1, lit("1"))
          .otherwise(lit("xx")))
      Validator.validate(spec, df).coerced.select("doc_id", "genre")
    }),

    // ---- :map type (element-wise cast; any failing entry fails the map) --------------------------------
    "q_map_type" -> ((s, dir) => {
      val spec = SchemaSpec("d", Seq(Field.map("attrs", FInteger)), keyColumns = Seq("doc_id"))
      val df = t(s, dir, "documents").withColumn("attrs",
        map(lit("n"), col("n_chars").cast("string"),
          lit("m"), when(col("doc_id") % 10 === 0, lit("x"))
            .otherwise((col("doc_id") % 7).cast("string"))))
      Validator.validate(spec, df).coerced.select(col("doc_id"),
        try_element_at(col("attrs"), lit("n")).as("n_val"),
        try_element_at(col("attrs"), lit("m")).as("m_val"))
    }),

    // ---- :time type (canonical HH:mm:ss; invalid wall-clock => cast violation) -------------------------
    "q_time" -> ((s, dir) => {
      val spec = SchemaSpec("e", Seq(Field.time("t")), keyColumns = Seq("event_id"))
      val df = sp(t(s, dir, "events")).withColumn("t",
        when(col("event_id") % 13 === 0, lit("25:61:00"))
          .otherwise(concat(
            lpad((col("event_id") % 30).cast("string"), 2, "0"), lit(":15:"),
            lpad((col("event_id") % 60).cast("string"), 2, "0"))))
      Validator.validate(spec, df).coerced.select("event_id", "t")
    }),

    // ---- C7/C8 union ---------------------------------------------------------------------------------
    "q_union" -> ((s, dir) => {
      val u = FUnion(Seq(FInteger, FFloat))
      val spec = SchemaSpec("u", Seq(Field.of("v", u)), keyColumns = Seq("event_id"))
      val df = sp(t(s, dir, "events")).withColumn("v",
        when(col("event_id") % 3 === 0, (col("event_id") % 100).cast("string"))
          .when(col("event_id") % 3 === 1, lit("3.5"))
          .otherwise(lit("abc")))
      val r = Validator.validate(spec, df)
      r.annotated.select(
        col("event_id"),
        u.branchName(col("v")).as("branch"),
        u.dumpExpr(col("v")).as("dumped"))
    }),

    // ---- C7 union LAZY (type-preserving) vs eager: same input, different branch order ------------------
    // Lazy tries the branch matching the input's NATIVE type first (union.ex:80-90,
    // :168-183 inference witnesses): string input => the string branch wins even
    // when an integer branch is declared first; eager takes declaration order.
    "q_union_lazy" -> ((s, dir) => {
      val uLazy = FUnion(Seq(FInteger, FString()), lazyInfer = true)
      val uEager = FUnion(Seq(FInteger, FString()))
      val spec = SchemaSpec("u", Seq(
        Field.of("vl", uLazy).from("v"),
        Field.of("ve", uEager).from("v")),
        keyColumns = Seq("event_id"))
      val df = sp(t(s, dir, "events")).withColumn("v",
        when(col("event_id") % 3 === 0, (col("event_id") % 100).cast("string"))
          .otherwise(concat(lit("w"), (col("event_id") % 10).cast("string"))))
      val r = Validator.validate(spec, df)
      r.annotated.select(
        col("event_id"),
        uLazy.branchName(col("vl")).as("branch_lazy"),
        uEager.branchName(col("ve")).as("branch_eager"),
        uLazy.dumpExpr(col("vl")).as("dumped"))
    }),

    // ---- C11 parameterized custom type (FTypeTemplate + FCustom cast/dump overrides) -------------------
    // The README NewUID example (README.md:110-116): a custom type extending
    // :string whose dump is &String.length/1; the template's default params are
    // merged under call-site overrides (lib/type.ex init/1).
    "q_custom_type" -> ((s, dir) => {
      val NewUID = FTypeTemplate("new_uid", Map("prefix" -> "uid-"), p => {
        val prefix = p("prefix").toString
        FCustom("new_uid", FString(),
          castOverride = Some((c, in) => in match {
            case _: org.apache.spark.sql.types.StringType =>
              when(c.startsWith(prefix), c).otherwise(lit(null).cast("string"))
            case _ => lit(null).cast("string")
          }),
          dumpOverride = Some(c => length(c).cast("long")))
      })
      val spec = SchemaSpec("d",
        Seq(Field.of("uid", NewUID("prefix" -> "doc-"))), keyColumns = Seq("doc_id"))
      val df = t(s, dir, "documents").withColumn("uid",
        when(col("doc_id") % 7 === 0, concat(lit("bad-"), col("doc_id").cast("string")))
          .otherwise(concat(lit("doc-"), col("doc_id").cast("string"))))
      val r = Validator.validate(spec, df)
      Validator.dump(spec, r.coerced).select(col("doc_id"), col("uid").as("uid_len"))
    }),

    // ---- X3 block pass-clause reset quirk ----------------------------------------------------------------
    // A later truthy clause whose expression evaluates to nil RESETS earlier
    // same-field block errors (block.ex:80-82).
    "q_block_reset" -> ((s, dir) => {
      val spec = SchemaSpec("documents", Seq(
        Field.integer("n_chars").blockClauses(
          BlockClause.failWhen(ctx => ctx("n_chars") < 200, "too short"),
          BlockClause(ctx => ctx("n_chars") % 2 === 0, _ => lit(null).cast("string")))),
        keyColumns = Seq("doc_id"))
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- M1 user-authored RulePack (extension-authoring seam) -------------------------------------------
    // A custom pipeline stage registered alongside the built-ins
    // (lib/extension.ex:238-272, lib/flint/extension/dsl.ex:1-57): fires a
    // violation on the planted "dup" marker token; the built-in length
    // validator on the same field shows both stages accumulate through the
    // one normal violations pipeline.
    "q_rulepack" -> ((s, dir) => {
      object DupMarkerPack extends RulePack {
        val name = "dup_marker"
        def apply(spec: SchemaSpec, f: FieldSpec, st: RulePack.FieldState,
            ctx: Ctx, prefix: Column): RulePack.Result = f.ftype match {
          case _: FString if f.name == "text" => RulePack.Result(triggers = Seq(
            Trigger(st.inChanges && st.value.contains("dup"),
              concat(prefix, lit(s"${f.name}.dup_marker")),
              lit("contains planted dup marker"))))
          case _ => RulePack.Result.empty
        }
      }
      val spec = SchemaSpec("documents", Seq(Field.string("text").lenMax(420)),
        keyColumns = Seq("doc_id"), packs = RulePack.defaults :+ DupMarkerPack)
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- M3 pack-declared field options (extension option DSL) ------------------------------------------
    // A user pack DECLARES a new field option (divisible_by) with a validator;
    // Field(...).opt(...) routes it to that pack through the eager-resolution
    // seam (reference: lib/flint/extension/dsl.ex:1-57, lib/schema.ex:85-128).
    "q_pack_option" -> ((s, dir) => {
      object DivisiblePack extends RulePack {
        val name = "divisible"
        override val options = Seq(OptionSpec("divisible_by",
          validator = Some { case n: Int => n > 0; case _ => false }))
        def apply(spec: SchemaSpec, f: FieldSpec, st: RulePack.FieldState,
            ctx: Ctx, prefix: Column): RulePack.Result =
          spec.fieldOption(f, "divisible_by") match {
            case Some(n: Int) => RulePack.Result(triggers = Seq(Trigger(
              st.inChanges && st.value.isNotNull && pmod(st.value, lit(n)) =!= 0,
              concat(prefix, lit(s"${f.name}.divisible_by")),
              lit(s"must be divisible by $n"))))
            case _ => RulePack.Result.empty
          }
      }
      val spec = SchemaSpec("documents",
        Seq(Field.integer("n_chars").opt("divisible_by", 3)),
        keyColumns = Seq("doc_id"), packs = RulePack.defaults :+ DivisiblePack)
      Validator.validate(spec, t(s, dir, "documents")).violations
    }),

    // ---- E1 full pipeline (flagship) --------------------------------------------------------------------
    "q_validate_documents" -> ((s, dir) =>
      Validator.validate(flagshipSchema, docsDirty(s, dir)).violations),

    // ---- N3 grouped pass/fail summary -----------------------------------------------------------------
    "q_summary" -> ((s, dir) =>
      Validator.validate(flagshipSchema, docsDirty(s, dir)).summaryBy("source")),

    // ---- N4 profile -------------------------------------------------------------------------------------
    "q_profile" -> ((s, dir) =>
      Checks.profile(t(s, dir, "documents"), Seq("lang", "source", "n_chars"), exactDistinct = true)
        .withColumnsRenamed(Map("column" -> "col_name", "rows" -> "n_rows"))),

    // ---- N5 uniqueness -----------------------------------------------------------------------------------
    "q_uniqueness" -> ((s, dir) =>
      Checks.uniquenessViolations(t(s, dir, "events"), Seq("user_id", "event_type"))),

    // ---- N6 referential (broadcast anti-join; planted dangling keys) --------------------------------------
    "q_referential" -> ((s, dir) => {
      val child = t(s, dir, "orders").withColumn("o_custkey",
        col("o_custkey") + when(col("o_orderkey") % 97 === 0, lit(1000000L)).otherwise(lit(0L)))
      Checks.referentialViolations(child, Seq("o_custkey"),
        t(s, dir, "customer"), Seq("c_custkey"),
        broadcastDim = true, keyCols = Seq("o_orderkey"))
    }),

    // ---- N4b quartile profiling (x4-integer encoding keeps the oracle float-free) --------------------------
    "q_profile_quantiles" -> ((s, dir) =>
      Checks.profileQuartiles(t(s, dir, "documents"), Seq("n_chars", "doc_id"), exact = true)),

    // ---- N12 key-skew profile (drives the salting decision N6 takes as a parameter) ------------------------
    "q_skew_profile" -> ((s, dir) =>
      Checks.keySkewProfile(t(s, dir, "events"), Seq("user_id"), topK = 10, parallelism = 32)),

    // ---- N13 functional-dependency profile ------------------------------------------------------------------
    // Does o_custkey determine o_orderpriority? (The code-table analogue:
    // does repo determine lang.) Output ∝ violating groups, with the
    // deterministic majority value (count desc, value asc) and the repair
    // cost; all-integer arithmetic so the report is bit-stable.
    "q_fd_check" -> ((s, dir) =>
      Checks.functionalDependencyViolations(
        t(s, dir, "orders"), Seq("o_custkey"), "o_orderpriority")),

    // The actionable half of q_fd_check: rewrite minority deps to the
    // majority, full table out, dep type preserved.
    "q_fd_repair" -> ((s, dir) =>
      Checks.functionalDependencyRepair(
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority"),
        Seq("o_custkey"), "o_orderpriority")),

    // ---- N7 drift histograms --------------------------------------------------------------------------------
    "q_drift_hist" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = Checks.categoricalHistogram(docs, col("lang"), "lang")
        .withColumnRenamed("cnt", "base_cnt")
      val cur = Checks.categoricalHistogram(docs.filter(col("doc_id") % 2 === 0), col("lang"), "lang")
        .withColumnRenamed("cnt", "cur_cnt")
      base.join(cur, Seq("lang"), "full_outer")
        .select(col("lang"),
          coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
          coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
    }),

    // ---- N9 resume semantics: pending = all buckets minus manifest (anti-join) ---------------------------------
    "q_checkpoint_pending" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("bucket", pmod(col("doc_id"), lit(16)))
      val manifest = s.range(16).select(col("id").as("bucket"))
        .filter(col("bucket") % 4 === 0) // "completed" buckets
      docs.join(manifest, Seq("bucket"), "left_anti").select("doc_id", "bucket")
    }),

    // ---- N11 incremental: snapshot diff — changed/added/removed buckets between two snapshots -------------------
    // Engine-portable md5-derived bucket + row hash so the oracle reproduces
    // the fingerprints bit-for-bit; the library default is xxhash64.
    "q_snapshot_diff" -> ((s, dir) => {
      val prev = t(s, dir, "documents").select("doc_id", "text")
      val cur = prev.filter(col("doc_id") % 101 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 97 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionAll(prev.filter(col("doc_id") % 103 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), lit("brand new document").as("text")))
      val bucketOf = pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"), lit(4096))
      val rowHash = conv(substring(
        md5(concat_ws("|", col("doc_id").cast("string"), col("text"))), 1, 15), 16, 10).cast("long")
      graft.checkpoint.CheckpointedRunner.snapshotDiff(cur, prev, bucketOf, rowHash)
        .select(col("bucket"), col("status"))
    }),

    // ---- dedup: exact -------------------------------------------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exactGroups(corpus, "doc_id", "text").select("digest", "doc_count", "keep_id")
    }),

    // ---- dedup: MinHash LSH + exact-Jaccard verify ------------------------------------------------------------------
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9)),

    // ---- dedup: brute-force n-gram Jaccard ----------------------------------------------------------------------------
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.jaccardPairsBruteForce(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)),

    // ---- dedup: connected components => duplicate clusters ---------------------------------------------------------------
    // Pairs -> clusters via alternating large-star/small-star; component id =
    // cluster minimum, so output is engine-independent. The oracle recomputes
    // components with a recursive reachability CTE over the same pair set.
    "q_dedup_groups" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairsBruteForce(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)
      Components.nearDupGroups(pairs).select(col("id").as("doc_id"), col("component"))
    }),

    // Same clustering, every document covered: edgeless docs are their own
    // singleton components (the convenience wrapper unions them in).
    "q_dedup_groups_iso" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairsBruteForce(docs, "doc_id", "text", 3, 0.8)
      Components.connectedComponentsWithIsolated(docs, "doc_id", pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component"))
    }),

    // ---- decontamination: n-gram collisions corpus vs benchmark ----------------------------------------------------------
    // Even/odd doc split as corpus/probe; pairs sharing >= 20 distinct
    // 3-grams are contamination flags. The engine joins 8-byte ngram hashes;
    // the oracle joins the ngram strings themselves.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.ngramCollisions(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text",
        n = 3, minHits = 20L)
    }),

    // ---- dedup: SimHash (md5-derived 120-bit signature => the DuckDB oracle recomputes it bit-for-bit) -------------------
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDupsAudited(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = SimhashMaxHamming).pairs),

    // ---- dedup: duplicated-span scrub (exact substring dedup, token 8-gram granularity) -----------------------------------
    // The engine counts/joins 8-byte xxhash64 gram hashes; the oracle joins
    // the gram strings themselves (same accepted collision caveat as
    // q_decontaminate). n=8 isolates the planted near-dup docs' shared
    // passages; clean docs pass through with dup counts 0.
    "q_span_scrub" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 8, minCount = 2L)
        .withColumnRenamed("id", "doc_id")),

    // ---- dedup: incremental delta vs a signature index (portable md5 signatures => DuckDB recomputes bit-for-bit) ---------
    // doc_id % 3 == 0 plays the new snapshot delta; the rest is the already-
    // deduped corpus, represented ONLY by its signature frame (its text is
    // never read). Verification = signature agreement (matches/32 >= 0.8 as
    // an integer compare), the estimate an index-only dedup must use.
    "q_dedup_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
      Dedup.deltaNearDups(nw, "doc_id", "text",
        Dedup.minhashSignatures(old, "doc_id", "text", DeltaOracleParams),
        DeltaOracleParams, threshold = 0.8)
    }),

    // ---- dedup: embedding cosine near-dup (LSH-bucketed scale path) -------------------------------------------------------
    "q_embed_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.select(col("vec_id"), col("embedding"))
        .unionAll(e.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      Similarity.cosineNearDupPairsLshAudited(corpus, "vec_id", "embedding", 0.9999)
        .pairs.select("id_a", "id_b")
    }),

    // ---- dedup: SemDeDup (semantic near-dup clusters via the IVF coarse quantizer) ---------------------------------------
    // iters=0 quantizer so DuckDB rebuilds the exact cells; pairs form only
    // within a cell; clusters via the same CC the lexical dedup uses.
    // k=64: within-cell pair cost is quadratic in cell size (SemDeDup's
    // design bounds it with MANY cells — the paper uses ~100k at web scale);
    // 16 cells over the sf0.1 battery table made this the slowest line.
    "q_dedup_semantic" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = Similarity.ivfTrain(e, "vec_id", "embedding", k = 64, iters = 0,
        sampleSize = 64, sampleByHash = false)
      val pairs = Similarity.semanticNearDupPairsAudited(e, "vec_id", "embedding", centroids,
        threshold = 0.35, maxCell = 4096).pairs
      Components.nearDupGroups(pairs).select(col("id").as("vec_id"), col("component"))
    }),

    // ---- dedup: semantic delta vs the IVF cell structure (embedding-side twin of q_dedup_delta) --------------------------
    // vec_id % 3 == 0 plays the delta; the quantizer trains on the OLD side
    // only (the index's own centroids — an append never forks the
    // quantizer); iters=0 so DuckDB rebuilds cells from the data alone.
    "q_dedup_semantic_delta" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val old = e.filter(col("vec_id") % 3 =!= 0)
      val nw = e.filter(col("vec_id") % 3 === 0)
      val centroids = Similarity.ivfTrain(old, "vec_id", "embedding", k = 64, iters = 0,
        sampleSize = 64, sampleByHash = false)
      Similarity.semanticDeltaPairsAudited(
        Similarity.ivfAssign(nw, "vec_id", "embedding", centroids),
        Similarity.ivfAssign(old, "vec_id", "embedding", centroids),
        threshold = 0.35, maxCell = 4096).pairs
    }),

    // ---- dedup: PQ-coded semantic delta (ADC candidates + exact refine) --------------------------------------------------
    // The old side is scored as PQ codes (8 B) through per-new-row ADC
    // tables, floored at threshold - margin; candidates then re-check at
    // exact cosine. iters=0 quantizers (coarse: old's 64 smallest ids; PQ:
    // old's 16 smallest) so DuckDB rebuilds cells, codes, ADC tables, and
    // the floor compare bit-for-bit.
    "q_dedup_semantic_delta_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val old = e.filter(col("vec_id") % 3 =!= 0)
      val nw = e.filter(col("vec_id") % 3 === 0)
      // ONE sample collect feeds both quantizers (the PQ sample is the ivf
      // sample's 16-row prefix under the same id order) — two train calls
      // would each pay a full TakeOrdered job for byte-identical data
      val sample = Similarity.trainSample(old, "vec_id", "embedding", 64, sampleByHash = false)
      val centroids = Similarity.ivfTrainFromSample(sample, k = 64, iters = 0)
      val codebooks = Similarity.pqTrainFromSample(sample.take(16), m = 8, kSub = 16, iters = 0)
      Similarity.semanticDeltaPairsPq(nw, "vec_id", "embedding", old,
        centroids, codebooks, threshold = 0.35, maxCell = 4096,
        adcMargin = PqDeltaMargin).pairs
    }),

    // ---- similarity: brute-force cosine top-k ------------------------------------------------------------------------------
    "q_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0)
      Similarity.topKCosine(e, "vec_id", "embedding", q, 10)
        .select(col("rank").cast("long").as("rank"), col("id"))
    }),

    // ---- similarity: LSH-bucketed ANN (planes are seed-deterministic, so the oracle recomputes the exact candidate set) ----
    "q_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0)
      Similarity.lshTopKCosine(e, "vec_id", "embedding", q, 10,
        numPlanes = 10, probeHamming = LshProbeHamming)
        .select(col("rank").cast("long").as("rank"), col("id"))
    }),

    // ---- similarity: IVF coarse-quantizer ANN. Quantizer here is the deterministic
    // init (unit embeddings of the 16 smallest ids, iters=0) so DuckDB can rebuild the
    // exact cells; the trained path (driver k-means on a sample + persisted index) is
    // ivfTrain + ivfBuildIndexWith, recall-tested in OpsSpec — training never runs inside a query. ----
    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0)
      val centroids = Similarity.ivfTrain(e, "vec_id", "embedding", k = 16, iters = 0,
        sampleSize = 16, sampleByHash = false) // raw-id sample: the oracle rebuilds "the 16 smallest ids"
      Similarity.ivfTopKCosine(e, "vec_id", "embedding", centroids, q, 10, nprobe = 6)
        .select(col("rank").cast("long").as("rank"), col("id"))
    }),

    // ---- similarity: batch k-NN join (every query at once; bounded-priority-queue partial aggregation) -------------------
    "q_knn_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.knnJoinCosine(
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("id"))
    }),

    // ---- similarity: IVF-accelerated batch k-NN join (per-query cell pruning replaces the cartesian) ---------------------
    "q_knn_join_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = Similarity.ivfTrain(e, "vec_id", "embedding", k = 16, iters = 0,
        sampleSize = 16, sampleByHash = false) // oracle rebuilds "the 16 smallest ids"
      Similarity.knnJoinCosineIvf(
        e.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        Similarity.ivfAssign(e, "vec_id", "embedding", centroids), centroids,
        k = 5, nprobe = 6)
        .select(col("query_id"), col("rank"), col("id"))
    }),

    // ---- similarity: corpus-vs-corpus k-NN graph (distributed query side; probe cells as a per-row expression) ----------
    // Every vector's top-3 nearest others. No driver collect anywhere: the
    // probe-cell ranking runs as a codegen'd expression over the corpus-sized
    // query side (the shape knnJoinCosineIvf's collected batch cannot take).
    "q_knn_graph" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = Similarity.ivfTrain(e, "vec_id", "embedding", k = 16, iters = 0,
        sampleSize = 16, sampleByHash = false) // oracle rebuilds "the 16 smallest ids"
      Similarity.knnGraphCosineIvf(
        Similarity.ivfAssign(e, "vec_id", "embedding", centroids), k = 3, centroids, nprobe = 6)
        .select(col("query_id"), col("rank"), col("id"))
    }),

    // ---- similarity: product-quantized ADC search (32x smaller codes; exact oracle via iters=0 codebooks) ----------------
    "q_ann_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0)
      val books = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, kSub = 16,
        iters = 0, sampleSize = 16, sampleByHash = false)
      val enc = Similarity.pqEncode(e, "vec_id", "embedding", books)
      Similarity.pqTopKCosine(enc, books, q, 10)
        .select(col("rank").cast("long").as("rank"), col("id"))
    }),

    // ---- similarity: int8-quantized search (4x smaller vectors; scale cancels in cosine ranking) -------------------------
    "q_ann_int8" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 7)
        .select(col("embedding").cast("array<double>")).collect()
        .head.getSeq[Double](0)
      val quant = Similarity.quantizeInt8(e, "vec_id", "embedding")
      Similarity.topKCosineInt8(quant, q, 10)
        .select(col("rank").cast("long").as("rank"), col("id"))
    }),

    // ---- text analysis ------------------------------------------------------------------------------------------------------
    "q_text_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))),

    "q_text_quality" -> ((s, dir) =>
      sp(t(s, dir, "documents")).select(col("doc_id"), TextOps.qualitySignals(col("text")).as("q"))
        .select("doc_id", "q.n_tokens", "q.n_chars", "q.mean_token_len_x100",
          "q.stopword_count", "q.alpha_ratio_x100", "q.quality_score")),

    "q_text_tokens" -> ((s, dir) =>
      sp(t(s, dir, "documents")).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("ws_tokens"),
        TextOps.tokenCountBpeIsh(col("text")).cast("long").as("bpe_tokens"))),

    "q_text_fingerprint" -> ((s, dir) =>
      sp(t(s, dir, "documents")).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // ---- sharding: deterministic train/val/test split (md5 unit hash — engine-reproducible) --------------
    "q_hash_split" -> ((s, dir) =>
      Sharding.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
        .select(col("doc_id"), col("split"))),

    // ---- sharding: per-stratum deterministic sample (training-mix curation) ------------------------------
    "q_stratified_sample" -> ((s, dir) =>
      Sharding.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 0.25), defaultFraction = 0.1, salt = "mix")
        .select(col("doc_id"), col("lang"))),

    // ---- sharding: weighted corpus mixing by fractional repetition --------------------------------------
    "q_weighted_mix" -> ((s, dir) =>
      Sharding.sampleByWeights(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0), defaultWeight = 1.0, salt = "w1")
        .select(col("doc_id"), col("source"), col("copy"))),

    // ---- sharding: shard-local sequence packing by cost budget -------------------------------------------
    "q_pack_bins" -> ((s, dir) =>
      Sharding.packByCostBudget(t(s, dir, "documents"), "source", "doc_id", "n_chars", 10000L)
        .select(col("doc_id"), col("bin"))),

    // ---- sharding: packing under the composite (split, md5-shard) key ------------------------------------
    // The 100 TB shape: a coarse label alone (split: 1-3 values) would funnel
    // each split's whole corpus through ONE window partition; the md5 shard
    // column fans the window out `numShards`-wide per split.
    "q_pack_shards" -> ((s, dir) => {
      val sharded = Sharding.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
        .withColumn("shard", Sharding.shardColumn(col("doc_id"), 8, "v1"))
      Sharding.packByCostBudget(sharded, Seq("split", "shard"), "doc_id", "n_chars", 5000L)
        .select(col("doc_id"), col("split"), col("shard"), col("bin"))
    }),

    // ---- text: PII scrubbing (ordered codegen'd regexp chain; deterministic planted PII) -----------------
    "q_text_pii" -> ((s, dir) => {
      val withPii = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"), lit("@example.com from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".7 tel "),
        (col("doc_id") + 9100000000L).cast("string"))
      sp(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.scrubPii(withPii).as("scrubbed"),
          TextOps.piiCounts(withPii).as("p"))
        .select(col("doc_id"), col("scrubbed"),
          col("p.emails").as("emails"), col("p.ips").as("ips"), col("p.phones").as("phones"))
    }),

    // ---- text: within-doc repetition signals (Gopher-style quality filters; exact integer ratios) --------
    "q_text_repetition" -> ((s, dir) =>
      sp(t(s, dir, "documents"))
        .select(col("doc_id"), TextOps.repetitionSignals(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.top_word_count").as("top_word_count"), col("r.n_tokens").as("n_tokens"),
          col("r.distinct_bigrams").as("distinct_bigrams"), col("r.n_bigrams").as("n_bigrams"))),

    // ---- text: unicode NFC normalization (native codegen Expression) ------------------------------------
    // The corpus is ASCII, so a decomposed suffix (e + combining acute,
    // angstrom sign) is appended deterministically; NFC composes both
    // (merging a codepoint), which the oracle reproduces via nfc_normalize.
    "q_text_normalize" -> ((s, dir) => {
      val messy = concat(col("text"), lit(" cafe\u0301 \u212B")) // decomposed acute + angstrom sign
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.normalizeUnicode(messy).as("nfc"),
        length(TextOps.normalizeUnicode(messy)).cast("long").as("nfc_len"))
    }),

    // ---- multimodal plumbing ------------------------------------------------------------------------------------------------
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.ingest(t(s, dir, "documents"), "doc_id", col("text"), "image/fake")
      media.select(col("doc_id"),
        Multimodal.decodeImageMeta(col("media"), col("meta")).as("meta"))
        .select(col("doc_id"),
          col("meta.byte_size").as("byte_size"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"))
    })
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL (same tables, same semantics). Column names and integer
  // types are aligned with the Spark outputs (BIGINT everywhere integral).
  // ---------------------------------------------------------------------------

  /** Per-constraint violation selects for the flagship schema over dirty docs. */
  private val flagshipOracleUnion: String = Seq(
    """SELECT doc_id, 'lang.required' AS constraint_id, 'can''t be blank' AS reason
       FROM documents WHERE nullif(lang,'de') IS NULL""",
    """SELECT doc_id, 'lang.inclusion', 'is invalid'
       FROM documents WHERE nullif(lang,'de') IS NOT NULL AND lang NOT IN ('en','es','fr','zh')""",
    """SELECT doc_id, 'source.format', 'has invalid format'
       FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')""",
    """SELECT doc_id, 'n_chars.greater_than_or_equal_to', 'must be greater than or equal to 100'
       FROM documents WHERE n_chars < 100""",
    """SELECT doc_id, 'n_chars.less_than_or_equal_to', 'must be less than or equal to 500'
       FROM documents WHERE n_chars > 500""",
    """SELECT doc_id, 'text.min', 'should be at least 150 character(s)'
       FROM documents WHERE length(text) < 150""",
    """SELECT doc_id, 'text.max', 'should be at most 420 character(s)'
       FROM documents WHERE length(text) > 420""",
    """SELECT doc_id, 'text.block.1', 'document too short'
       FROM documents WHERE n_chars < 160"""
  ).mkString(" UNION ALL ")

  def oracleSql: Map[String, String] = Map(
    "q_cast_invalid" ->
      """SELECT event_id, 'props.cast' AS constraint_id, 'is invalid' AS reason
         FROM events WHERE props IS NOT NULL AND props <> '' AND TRY_CAST(props AS BIGINT) IS NULL""",

    "q_required" ->
      """SELECT doc_id, 'lang.required' AS constraint_id, 'can''t be blank' AS reason
         FROM documents WHERE nullif(lang,'de') IS NULL""",

    "q_default" ->
      """SELECT doc_id, coalesce(nullif(lang,'de'), 'unknown') AS lang FROM documents""",

    "q_number_bounds" ->
      """SELECT doc_id, 'n_chars.greater_than' AS constraint_id,
                'must be greater than 150' AS reason
         FROM documents WHERE n_chars <= 150
         UNION ALL
         SELECT doc_id, 'n_chars.less_than', 'must be less than 450'
         FROM documents WHERE n_chars >= 450""",

    "q_format" ->
      """SELECT doc_id, 'source.format' AS constraint_id, 'has invalid format' AS reason
         FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')""",

    "q_inclusion" ->
      """SELECT doc_id, 'lang.inclusion' AS constraint_id, 'is invalid' AS reason
         FROM documents WHERE lang NOT IN ('en','es','fr','de')""",

    "q_exclusion" ->
      """SELECT doc_id, 'source.exclusion' AS constraint_id, 'is reserved' AS reason
         FROM documents WHERE source IN ('src0','src13')""",

    "q_length" ->
      """SELECT doc_id, 'text.min' AS constraint_id,
                'should be at least 200 character(s)' AS reason
         FROM documents WHERE length(text) < 200
         UNION ALL
         SELECT doc_id, 'text.max', 'should be at most 400 character(s)'
         FROM documents WHERE length(text) > 400""",

    "q_subset" ->
      """SELECT doc_id, 'words.subset' AS constraint_id, 'has an invalid entry' AS reason
         FROM documents
         WHERE len(list_filter(string_split(text, ' '),
                   x -> x IN ('vector','stream'))) > 0""",

    "q_embeds" ->
      """SELECT doc_id, 'author.first_name.required' AS constraint_id,
                'can''t be blank' AS reason
         FROM documents WHERE source = 'src3'
         UNION ALL
         SELECT doc_id, 'coauthors[1].first_name.required', 'can''t be blank'
         FROM documents WHERE doc_id % 4 = 0""",

    "q_param_operand" ->
      """SELECT event_id, 'value.greater_than' AS constraint_id,
                'must be greater than ' || CAST(user_id AS VARCHAR) AS reason
         FROM events WHERE NOT (value > user_id)""",

    "q_when" ->
      """SELECT doc_id, 'n_chars.when' AS constraint_id,
                'Failed `:when` validation' AS reason
         FROM documents WHERE NOT (n_chars % 7 <> 0 OR length(text) > 200)""",

    "q_block" ->
      """SELECT doc_id, 'lang.block.1' AS constraint_id, 'unsupported language' AS reason
         FROM documents WHERE lang = 'zh'
         UNION ALL
         SELECT doc_id, 'lang.block.2', 'document too short'
         FROM documents WHERE n_chars < 160""",

    "q_derive" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS token_count
         FROM documents""",

    "q_map" ->
      """SELECT doc_id, upper(lang) AS lang FROM documents""",

    "q_dump" ->
      """SELECT doc_id,
                CASE lang WHEN 'en' THEN '0' WHEN 'es' THEN '1' WHEN 'de' THEN '2'
                          WHEN 'fr' THEN '3' WHEN 'zh' THEN '4' END AS lang_code,
                source AS origin
         FROM documents""",

    "q_dump_json" ->
      """SELECT doc_id,
                '{' || '"origin":"' || source || '",' ||
                CASE WHEN lang = 'de' THEN '' ELSE '"lang":"' || lang || '",' END ||
                '"n_chars":' || CAST(n_chars AS VARCHAR) || '}' AS json
         FROM documents""",

    "q_dump_embeds" ->
      """SELECT doc_id,
                '{' || '"lang":"' || lang || '",' ||
                '"writer":{"firstName":"' || source || '","lastName":"' || lang || '"' ||
                CASE WHEN source = 'src3' THEN '' ELSE ',"bio":"' || source || '"' END ||
                '},' ||
                '"coauthors":[{"firstName":"a","lastName":"' || lang || '"}]' ||
                '}' AS json
         FROM documents""",

    "q_enum_roundtrip" ->
      """SELECT doc_id,
                CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'en' WHEN 1 THEN 'es' END AS genre
         FROM documents""",

    "q_union" ->
      """SELECT event_id,
                CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN 'integer' WHEN 1 THEN 'float' END AS branch,
                CASE CAST(event_id % 3 AS INTEGER)
                  WHEN 0 THEN CAST(event_id % 100 AS VARCHAR)
                  WHEN 1 THEN '3.5' END AS dumped
         FROM events""",

    "q_map_type" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 10 = 0 THEN NULL ELSE n_chars END AS n_val,
                CASE WHEN doc_id % 10 = 0 THEN NULL ELSE doc_id % 7 END AS m_val
         FROM documents""",

    "q_time" ->
      """SELECT event_id,
                CASE WHEN event_id % 13 = 0 OR (event_id % 30) > 23 THEN NULL
                     ELSE lpad(CAST(event_id % 30 AS VARCHAR), 2, '0') || ':15:' ||
                          lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') END AS t
         FROM events""",

    "q_union_lazy" ->
      """SELECT event_id,
                'string' AS branch_lazy,
                CASE WHEN event_id % 3 = 0 THEN 'integer' ELSE 'string' END AS branch_eager,
                CASE WHEN event_id % 3 = 0 THEN CAST(event_id % 100 AS VARCHAR)
                     ELSE 'w' || CAST(event_id % 10 AS VARCHAR) END AS dumped
         FROM events""",

    "q_custom_type" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 7 = 0 THEN NULL
                     ELSE CAST(length('doc-' || CAST(doc_id AS VARCHAR)) AS BIGINT) END AS uid_len
         FROM documents""",

    "q_block_reset" ->
      """SELECT doc_id, 'n_chars.block.1' AS constraint_id, 'too short' AS reason
         FROM documents WHERE n_chars < 200 AND n_chars % 2 <> 0""",

    "q_rulepack" ->
      """SELECT doc_id, 'text.max' AS constraint_id,
                'should be at most 420 character(s)' AS reason
         FROM documents WHERE length(text) > 420
         UNION ALL
         SELECT doc_id, 'text.dup_marker', 'contains planted dup marker'
         FROM documents WHERE text LIKE '%dup%'""",

    "q_pack_option" ->
      """SELECT doc_id, 'n_chars.divisible_by' AS constraint_id,
                'must be divisible by 3' AS reason
         FROM documents WHERE n_chars % 3 <> 0""",

    "q_validate_documents" -> flagshipOracleUnion,

    "q_summary" -> s"""
      WITH v AS ($flagshipOracleUnion)
      SELECT d.source,
             COUNT(*) AS "rows",
             CAST(SUM(CASE WHEN vc.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
             CAST(SUM(CASE WHEN vc.cnt IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS invalid_rows,
             CAST(COALESCE(SUM(vc.cnt), 0) AS BIGINT) AS violations
      FROM documents d
      LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt FROM v GROUP BY doc_id) vc
        ON d.doc_id = vc.doc_id
      GROUP BY d.source""",

    "q_profile" -> Seq("lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
                 COUNT(*) - COUNT($c) AS null_count,
                 COUNT(DISTINCT $c) AS distinct_count,
                 CAST(MIN($c) AS VARCHAR) AS min_value,
                 CAST(MAX($c) AS VARCHAR) AS max_value
          FROM documents""").mkString(" UNION ALL "),

    "q_uniqueness" ->
      """SELECT user_id, event_type,
                'uniqueness.user_id_event_type' AS constraint_id,
                'duplicate key (' || CAST(user_id AS VARCHAR) || ',' || event_type || ')' AS reason
         FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1""",

    "q_referential" ->
      """WITH child AS (
           SELECT o_orderkey,
                  o_custkey + CASE WHEN o_orderkey % 97 = 0 THEN 1000000 ELSE 0 END AS fk
           FROM orders)
         SELECT o_orderkey, 'referential.o_custkey' AS constraint_id,
                'dangling reference (' || CAST(fk AS VARCHAR) || ')' AS reason
         FROM child WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = fk)""",

    "q_profile_quantiles" -> Seq("n_chars", "doc_id").map(c =>
      s"""SELECT '$c' AS col_name,
                 CAST(quantile_cont($c, 0.25) * 4 AS BIGINT) AS p25_x4,
                 CAST(quantile_cont($c, 0.5) * 4 AS BIGINT) AS p50_x4,
                 CAST(quantile_cont($c, 0.75) * 4 AS BIGINT) AS p75_x4
          FROM documents""").mkString(" UNION ALL "),

    "q_skew_profile" ->
      """WITH counts AS (
           SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS cnt
           FROM events GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
                        COUNT(*) AS distinct_keys FROM counts),
         top AS (
           SELECT key, cnt,
                  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS BIGINT) AS rank
           FROM counts QUALIFY rank <= 10)
         SELECT rank, key, cnt,
                (cnt * 10000) // total_rows AS pct_x10000,
                GREATEST(1, (cnt * 32 + total_rows - 1) // total_rows) AS salt_factor,
                total_rows, distinct_keys
         FROM top, tot""",

    "q_fd_check" ->
      """WITH pc AS (
           SELECT CAST(o_custkey AS VARCHAR) AS key, o_orderpriority AS dep, COUNT(*) AS cnt
           FROM orders GROUP BY 1, 2),
         mj AS (
           SELECT key, dep, cnt,
                  ROW_NUMBER() OVER (PARTITION BY key ORDER BY cnt DESC, dep ASC) AS rn,
                  CAST(SUM(cnt) OVER (PARTITION BY key) AS BIGINT) AS grp_rows,
                  COUNT(*) OVER (PARTITION BY key) AS distinct_deps
           FROM pc)
         SELECT key, grp_rows, distinct_deps,
                dep AS majority_dep, CAST(cnt AS BIGINT) AS majority_cnt,
                CAST(grp_rows - cnt AS BIGINT) AS minority_rows
         FROM mj WHERE rn = 1 AND distinct_deps > 1""",

    "q_fd_repair" ->
      """WITH pc AS (
           SELECT o_custkey, o_orderpriority AS dep, COUNT(*) AS cnt
           FROM orders GROUP BY 1, 2),
         mj AS (
           SELECT o_custkey, dep,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY cnt DESC, dep ASC) AS rn,
                  COUNT(*) OVER (PARTITION BY o_custkey) AS dd
           FROM pc)
         SELECT o.o_orderkey, o.o_custkey,
                CASE WHEN m.o_custkey IS NOT NULL THEN m.dep
                     ELSE o.o_orderpriority END AS o_orderpriority
         FROM orders o
         LEFT JOIN (SELECT o_custkey, dep FROM mj WHERE rn = 1 AND dd > 1) m
           USING (o_custkey)""",

    "q_drift_hist" ->
      """SELECT b.lang, b.base_cnt, COALESCE(c.cur_cnt, 0) AS cur_cnt
         FROM (SELECT lang, COUNT(*) AS base_cnt FROM documents GROUP BY lang) b
         LEFT JOIN (SELECT lang, COUNT(*) AS cur_cnt FROM documents
                    WHERE doc_id % 2 = 0 GROUP BY lang) c USING (lang)""",

    "q_checkpoint_pending" ->
      """SELECT doc_id, doc_id % 16 AS bucket FROM documents
         WHERE (doc_id % 16) % 4 <> 0""",

    "q_snapshot_diff" ->
      """WITH prev AS (SELECT doc_id, text FROM documents),
         cur AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 97 = 0 THEN text || ' edited' ELSE text END AS text
           FROM documents WHERE doc_id % 101 <> 0
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, 'brand new document' AS text
           FROM documents WHERE doc_id % 103 = 0),
         fc AS (
           SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4096 AS bucket,
                  COUNT(*) AS n,
                  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))::BIGINT) AS fp
           FROM cur GROUP BY 1),
         fp AS (
           SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4096 AS bucket,
                  COUNT(*) AS n,
                  bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))::BIGINT) AS fp
           FROM prev GROUP BY 1)
         SELECT bucket, status FROM (
           SELECT COALESCE(c.bucket, p.bucket) AS bucket,
                  CASE WHEN p.bucket IS NULL THEN 'added'
                       WHEN c.bucket IS NULL THEN 'removed'
                       WHEN c.n <> p.n OR c.fp <> p.fp THEN 'changed' END AS status
           FROM fc c FULL OUTER JOIN fp p ON c.bucket = p.bucket)
         WHERE status IS NOT NULL""",

    "q_dedup_exact" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0)
         SELECT sha256(text) AS digest, COUNT(*) AS doc_count, MIN(doc_id) AS keep_id
         FROM corpus GROUP BY text HAVING COUNT(*) > 1""",

    "q_dedup_minhash" -> jaccardOracle(0.9),
    "q_dedup_ngram" -> jaccardOracle(0.8),

    "q_decontaminate" -> s"""
      WITH s AS ($shingleCte),
      c AS (SELECT doc_id AS id, unnest(sh) AS g FROM s WHERE doc_id % 2 = 0),
      p AS (SELECT doc_id AS probe_id, unnest(sh) AS g FROM s WHERE doc_id % 2 = 1)
      SELECT c.id, p.probe_id, COUNT(*) AS hits
      FROM c JOIN p ON c.g = p.g
      GROUP BY c.id, p.probe_id
      HAVING COUNT(*) >= 20""",

    "q_dedup_groups" -> s"""
      WITH RECURSIVE p AS (${jaccardOracle(0.8)}),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      walk(id, reach) AS (
        SELECT u, u FROM e
        UNION
        SELECT w.id, e.v FROM walk w JOIN e ON e.u = w.reach
      )
      SELECT id AS doc_id, MIN(reach) AS component FROM walk GROUP BY id""",

    "q_dedup_groups_iso" -> s"""
      WITH RECURSIVE p AS (${jaccardOracle(0.8)}),
      e AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      walk(id, reach) AS (
        SELECT u, u FROM e
        UNION
        SELECT w.id, e.v FROM walk w JOIN e ON e.u = w.reach
      ),
      cc AS (SELECT id AS doc_id, MIN(reach) AS component FROM walk GROUP BY id)
      SELECT doc_id, component FROM cc
      UNION ALL
      SELECT d.doc_id, d.doc_id AS component FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM cc)""",

    // SimHash recomputed bit-for-bit: md5 per token, two 60-bit words from hex
    // chars 1-15/16-30, +-1 votes per bit, sign fold. The banding in the engine
    // is lossless for hamming <= maxHamming (pigeonhole), so brute-force pairs
    // here are EXACTLY the engine's output.
    "q_dedup_simhash" -> s"""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ts
        FROM documents),
      dg AS (SELECT doc_id, list_transform(ts, t -> md5(t)) AS ms FROM tok),
      hw AS (SELECT doc_id,
               list_transform(ms, m -> ${hexParseSql("substring(m, 1, 15)")}) AS h0,
               list_transform(ms, m -> ${hexParseSql("substring(m, 16, 15)")}) AS h1
             FROM dg),
      sg AS (SELECT doc_id, ${simhashWordSql("h0")} AS s0, ${simhashWordSql("h1")} AS s1 FROM hw)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) AS BIGINT) AS hamming
      FROM sg a JOIN sg b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.s0, b.s0)) + bit_count(xor(a.s1, b.s1)) <= $SimhashMaxHamming""",

    // Duplicated-span scrub: the oracle joins gram STRINGS where the engine
    // joins their xxhash64s (q_decontaminate's accepted collision caveat);
    // covered positions / scrub mirrored with list comprehensions.
    "q_span_scrub" ->
      """WITH toks AS (
           SELECT doc_id, [t for t in string_split_regex(text, '\s+') if t <> ''] AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, i AS pos,
                  COALESCE(CASE WHEN len(tk) < 8 THEN array_to_string(tk, ' ')
                                ELSE array_to_string(tk[i+1:i+8], ' ') END, '') AS g
           FROM toks, unnest(CASE WHEN len(tk) < 8 THEN [0] ELSE range(0, len(tk)-8+1) END) AS u(i)),
         duph AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         starts AS (
           SELECT doc_id, list(pos) AS st, CAST(COUNT(*) AS BIGINT) AS dup_ngrams
           FROM grams JOIN duph USING (g) GROUP BY doc_id),
         cov AS (
           SELECT t.doc_id, t.tk,
                  COALESCE(list_distinct(flatten([range(s, least(s+8, len(t.tk))) for s in st])), []) AS cv,
                  COALESCE(s.dup_ngrams, 0) AS dup_ngrams
           FROM toks t LEFT JOIN starts s USING (doc_id))
         SELECT doc_id,
                CAST(len(tk) AS BIGINT) AS total_tokens,
                dup_ngrams,
                CAST(len(cv) AS BIGINT) AS dup_tokens,
                COALESCE(array_to_string([tk[i+1] for i in range(0, len(tk)) if NOT list_contains(cv, i)], ' '), '') AS scrubbed
         FROM cov""",

    "q_dedup_delta" -> deltaDedupOracle,

    "q_embed_neardup" ->
      """WITH corpus AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id AND a.embedding = b.embedding""",

    // SemDeDup: same iters=0 cell assignment as q_ann_ivf, within-cell cosine
    // pairs (dot/(norm*norm) — the engine's exact grouping, so the 0.35
    // threshold compare is bit-stable), reachability CC like q_dedup_groups.
    "q_dedup_semantic" -> """
      WITH RECURSIVE ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell,
                      list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cu
               FROM (SELECT vec_id, e FROM ev ORDER BY vec_id ASC LIMIT 64)),
      assign AS (SELECT vec_id, e, cell FROM (
                   SELECT ev.vec_id, ev.e, cent.cell,
                          row_number() OVER (PARTITION BY ev.vec_id
                            ORDER BY list_dot_product(ev.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM ev CROSS JOIN cent) WHERE rn = 1),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e) /
                    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35),
      eg AS (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
      walk(id, reach) AS (
        SELECT u, u FROM eg
        UNION
        SELECT w.id, eg.v FROM walk w JOIN eg ON eg.u = w.reach
      )
      SELECT id AS vec_id, MIN(reach) AS component FROM walk GROUP BY id""",

    // Semantic delta: centroids = first 64 OLD vec_ids (iters=0), assignment
    // tie-break mirrors nearestCentroid (>= keeps the LATER cell), cosine
    // grouping mirrors the engine exactly (dot/(norm*norm)).
    "q_dedup_semantic_delta" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell,
                      list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cu
               FROM (SELECT vec_id, e FROM ev WHERE vec_id % 3 <> 0 ORDER BY vec_id ASC LIMIT 64)),
      assign AS (SELECT vec_id, e, cell FROM (
                   SELECT ev.vec_id, ev.e, cent.cell,
                          row_number() OVER (PARTITION BY ev.vec_id
                            ORDER BY list_dot_product(ev.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM ev CROSS JOIN cent) WHERE rn = 1)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (a.vec_id % 3 = 0) AS a_is_new, (b.vec_id % 3 = 0) AS b_is_new
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE (a.vec_id % 3 = 0 OR b.vec_id % 3 = 0)
        AND list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35""",

    // PQ semantic delta recomputed verbatim: coarse centroids = unit vectors
    // of the 64 smallest OLD ids; codebooks = 8-dim subvector slices of the
    // unit 16 smallest OLD ids (iters=0); old codes = per-subspace L2 argmin
    // (ties smallest j); new-side ADC table = per-subspace dots of the unit
    // NEW vector against the codebooks. Candidates = same-cell (new, old)
    // pairs whose 8-term ADC sum (per-subspace sums first, then the m-term
    // total — the engine's grouping) clears threshold - margin; the floor
    // literal interpolated below IS the Scala double the engine compares
    // against. Candidates then re-check at exact cosine; new-new pairs skip
    // ADC (exact cosine within shared cells, both vectors ride the delta).
    "q_dedup_semantic_delta_pq" -> {
      val dist = (1 to 8).map(i => s"(su[$i]-cs[$i])*(su[$i]-cs[$i])").mkString(" + ")
      val dotN = (1 to 8).map(i => s"su[$i]*cs[$i]").mkString(" + ")
      val wide = (0 until 8).map(m => s"max(CASE WHEN mi=$m THEN t END) AS t$m").mkString(", ")
      val score = (0 until 8).map(m => s"t$m").mkString(" + ")
      val floor = 0.35 - PqDeltaMargin
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      nv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM ev),
      uv AS (SELECT vec_id, e, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u FROM nv),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell, u AS cu
               FROM (SELECT vec_id, u FROM uv WHERE vec_id % 3 <> 0 ORDER BY vec_id ASC LIMIT 64)),
      assign AS (SELECT vec_id, e, u, cell FROM (
                   SELECT uv.vec_id, uv.e, uv.u, cent.cell,
                          row_number() OVER (PARTITION BY uv.vec_id
                            ORDER BY list_dot_product(uv.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM uv CROSS JOIN cent) WHERE rn = 1),
      kept AS (SELECT cell FROM assign WHERE vec_id % 3 <> 0 GROUP BY cell HAVING count(*) <= 4096),
      cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS j, u AS cu
             FROM (SELECT vec_id, u FROM uv WHERE vec_id % 3 <> 0 ORDER BY vec_id ASC LIMIT 16)),
      ms AS (SELECT CAST(t.range AS INTEGER) AS mi FROM range(8) t),
      csub AS (SELECT j, mi, cu[mi*8+1 : mi*8+8] AS cs FROM cb, ms),
      osub AS (SELECT vec_id, mi, u[mi*8+1 : mi*8+8] AS su FROM uv, ms WHERE vec_id % 3 <> 0),
      enc AS (SELECT vec_id, mi, j AS code FROM (
                SELECT osub.vec_id, osub.mi, csub.j,
                       row_number() OVER (PARTITION BY osub.vec_id, osub.mi
                         ORDER BY $dist ASC, csub.j ASC) AS rn
                FROM osub JOIN csub USING (mi)) WHERE rn = 1),
      nsub AS (SELECT vec_id, mi, u[mi*8+1 : mi*8+8] AS su FROM uv, ms WHERE vec_id % 3 = 0),
      tbl AS (SELECT nsub.vec_id, nsub.mi, csub.j, $dotN AS t FROM nsub JOIN csub USING (mi)),
      pairs AS (SELECT n.vec_id AS id_new, o.vec_id AS id_old
                FROM assign n JOIN assign o ON n.cell = o.cell
                JOIN kept k ON k.cell = o.cell
                WHERE n.vec_id % 3 = 0 AND o.vec_id % 3 <> 0),
      pick AS (SELECT p.id_new, p.id_old, e.mi, t.t
               FROM pairs p
               JOIN enc e ON e.vec_id = p.id_old
               JOIN tbl t ON t.vec_id = p.id_new AND t.mi = e.mi AND t.j = e.code),
      adc AS (SELECT id_new, id_old, $score AS s
              FROM (SELECT id_new, id_old, $wide FROM pick GROUP BY id_new, id_old)),
      newold AS (SELECT c.id_new AS id_a, c.id_old AS id_b, TRUE AS a_is_new, FALSE AS b_is_new
                 FROM adc c JOIN ev a ON a.vec_id = c.id_new JOIN ev b ON b.vec_id = c.id_old
                 WHERE c.s >= $floor
                   AND list_dot_product(a.e, b.e) /
                         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35),
      newnew AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, TRUE AS a_is_new, TRUE AS b_is_new
                 FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
                 WHERE a.vec_id % 3 = 0 AND b.vec_id % 3 = 0
                   AND list_dot_product(a.e, b.e) /
                         (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35)
      SELECT id_a, id_b, a_is_new, b_is_new FROM newold
      UNION ALL SELECT id_a, id_b, a_is_new, b_is_new FROM newnew"""
    },

    "q_ann_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
           scored AS (
             SELECT vec_id,
                    list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) AS sim
             FROM embeddings)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank,
                vec_id AS id
         FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10""",

    // LSH ANN: hyperplanes are a pure function of (numPlanes, dim, seed), so the
    // exact plane values are interpolated below and the candidate set ("signature
    // within probeHamming sign flips of the query's") is recomputed verbatim.
    "q_ann_lsh" -> s"""
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      sg AS (SELECT vec_id, e, $lshSigTermsSql AS sig FROM ev),
      q AS (SELECT e AS qv, sig AS qsig FROM sg WHERE vec_id = 7),
      cand AS (SELECT sg.vec_id, sg.e FROM sg, q
               WHERE bit_count(xor(sg.sig, q.qsig)) <= $LshProbeHamming),
      scored AS (SELECT vec_id,
                        list_cosine_similarity(e, (SELECT qv FROM q)) AS sim
                 FROM cand)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank,
             vec_id AS id
      FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10""",

    // IVF ANN with the deterministic quantizer init: centroids = unit-normalized
    // embeddings of the 16 smallest vec_ids; assignment = argmax dot (ties ->
    // larger cell, matching the engine's struct-max); probe = top-6 cells by
    // dot(centroid, unit query) (ties -> smaller cell).
    "q_ann_ivf" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell,
                      list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cu
               FROM (SELECT vec_id, e FROM ev ORDER BY vec_id ASC LIMIT 16)),
      q AS (SELECT e AS qv FROM ev WHERE vec_id = 7),
      qu AS (SELECT list_transform(qv, x -> x / sqrt(list_dot_product(qv, qv))) AS u FROM q),
      probe AS (SELECT cell FROM cent, qu
                ORDER BY list_dot_product(cent.cu, qu.u) DESC, cell ASC LIMIT 6),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT ev.vec_id, cent.cell,
                          row_number() OVER (PARTITION BY ev.vec_id
                            ORDER BY list_dot_product(ev.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM ev CROSS JOIN cent) WHERE rn = 1),
      cand AS (SELECT ev.vec_id, ev.e FROM ev JOIN assign USING (vec_id)
               WHERE assign.cell IN (SELECT cell FROM probe)),
      scored AS (SELECT vec_id,
                        list_cosine_similarity(e, (SELECT qv FROM q)) AS sim
                 FROM cand)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank,
             vec_id AS id
      FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10""",

    // Batch k-NN: the oracle writes the cosine as the engine's exact formula
    // (dot / (norm_c * norm_q)) and mirrors the (sim DESC, id DESC) rank
    // direction the bounded-queue cut has.
    "q_knn_join" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      qs AS (SELECT vec_id AS query_id, e AS qe FROM ev WHERE vec_id % 100 = 0),
      scored AS (SELECT qs.query_id, ev.vec_id AS id,
                        list_dot_product(ev.e, qs.qe) /
                          (sqrt(list_dot_product(ev.e, ev.e)) * sqrt(list_dot_product(qs.qe, qs.qe))) AS sim
                 FROM ev CROSS JOIN qs)
      SELECT query_id, CAST(rn AS BIGINT) AS rank, id FROM (
        SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, id DESC) AS rn
        FROM scored) WHERE rn <= 5""",

    // IVF k-NN join: per-query probe cells (dot with unit centroids DESC,
    // cell ASC — probeCells' order), assignment ties take the larger cell
    // (NearestCentroid parity), candidates = corpus rows in any probed cell
    // of that query, then the same exact cosine + (sim DESC, id DESC) rank
    // as q_knn_join.
    "q_knn_join_ivf" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell,
                      list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cu
               FROM (SELECT vec_id, e FROM ev ORDER BY vec_id ASC LIMIT 16)),
      qs AS (SELECT vec_id AS query_id, e AS qe FROM ev WHERE vec_id % 100 = 0),
      qu AS (SELECT query_id, qe,
                    list_transform(qe, x -> x / sqrt(list_dot_product(qe, qe))) AS u
             FROM qs),
      probe AS (SELECT query_id, cell FROM (
                  SELECT qu.query_id, cent.cell,
                         row_number() OVER (PARTITION BY qu.query_id
                           ORDER BY list_dot_product(cent.cu, qu.u) DESC, cent.cell ASC) AS rn
                  FROM qu CROSS JOIN cent) WHERE rn <= 6),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT ev.vec_id, cent.cell,
                          row_number() OVER (PARTITION BY ev.vec_id
                            ORDER BY list_dot_product(ev.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM ev CROSS JOIN cent) WHERE rn = 1),
      scored AS (SELECT probe.query_id, ev.vec_id AS id,
                        list_dot_product(ev.e, qs.qe) /
                          (sqrt(list_dot_product(ev.e, ev.e)) * sqrt(list_dot_product(qs.qe, qs.qe))) AS sim
                 FROM ev
                 JOIN assign USING (vec_id)
                 JOIN probe ON assign.cell = probe.cell
                 JOIN qs ON qs.query_id = probe.query_id)
      SELECT query_id, CAST(rn AS BIGINT) AS rank, id FROM (
        SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, id DESC) AS rn
        FROM scored) WHERE rn <= 5""",

    // k-NN graph: q_knn_join_ivf's oracle with the whole corpus as the query
    // side and self-pairs excluded before the per-query rank cut.
    "q_knn_graph" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS cell,
                      list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS cu
               FROM (SELECT vec_id, e FROM ev ORDER BY vec_id ASC LIMIT 16)),
      qu AS (SELECT vec_id AS query_id, e AS qe,
                    list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
             FROM ev),
      probe AS (SELECT query_id, cell FROM (
                  SELECT qu.query_id, cent.cell,
                         row_number() OVER (PARTITION BY qu.query_id
                           ORDER BY list_dot_product(cent.cu, qu.u) DESC, cent.cell ASC) AS rn
                  FROM qu CROSS JOIN cent) WHERE rn <= 6),
      assign AS (SELECT vec_id, cell FROM (
                   SELECT ev.vec_id, cent.cell,
                          row_number() OVER (PARTITION BY ev.vec_id
                            ORDER BY list_dot_product(ev.e, cent.cu) DESC, cent.cell DESC) AS rn
                   FROM ev CROSS JOIN cent) WHERE rn = 1),
      scored AS (SELECT probe.query_id, ev.vec_id AS id,
                        list_dot_product(ev.e, qu.qe) /
                          (sqrt(list_dot_product(ev.e, ev.e)) * sqrt(list_dot_product(qu.qe, qu.qe))) AS sim
                 FROM ev
                 JOIN assign USING (vec_id)
                 JOIN probe ON assign.cell = probe.cell
                 JOIN qu ON qu.query_id = probe.query_id
                 WHERE ev.vec_id <> probe.query_id)
      SELECT query_id, CAST(rn AS BIGINT) AS rank, id FROM (
        SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, id DESC) AS rn
        FROM scored) WHERE rn <= 3""",

    // PQ recomputed verbatim: iters=0 codebooks are the unit-normalized 16
    // smallest-id vectors' subvectors; encode = per-subspace L2 argmin (ties
    // smallest j); ADC = sum of per-subspace dot lookups. Float arithmetic
    // GROUPING mirrors the engine exactly (per-subspace sums first, then the
    // 8-term total), so the sims are bit-identical and only (rank, id) is
    // emitted.
    "q_ann_pq" -> {
      val dist = (1 to 8).map(i => s"(su[$i]-cs[$i])*(su[$i]-cs[$i])").mkString(" + ")
      val dotQ = (1 to 8).map(i => s"qsv[$i]*cs[$i]").mkString(" + ")
      val wide = (0 until 8).map(m => s"max(CASE WHEN mi=$m THEN t END) AS t$m").mkString(", ")
      val score = (0 until 8).map(m => s"t$m").mkString(" + ")
      s"""WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         nv AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM ev),
         uv AS (SELECT vec_id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS u FROM nv),
         cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INTEGER) AS j, u AS cu
                FROM (SELECT vec_id, u FROM uv ORDER BY vec_id ASC LIMIT 16)),
         ms AS (SELECT CAST(t.range AS INTEGER) AS mi FROM range(8) t),
         sub AS (SELECT vec_id, mi, u[mi*8+1 : mi*8+8] AS su FROM uv, ms),
         csub AS (SELECT j, mi, cu[mi*8+1 : mi*8+8] AS cs FROM cb, ms),
         enc AS (SELECT vec_id, mi, j AS code FROM (
            SELECT sub.vec_id, sub.mi, csub.j,
                   row_number() OVER (PARTITION BY sub.vec_id, sub.mi
                     ORDER BY $dist ASC, csub.j ASC) AS rn
            FROM sub JOIN csub USING (mi)) WHERE rn = 1),
         qs AS (SELECT mi, u[mi*8+1 : mi*8+8] AS qsv FROM uv, ms WHERE vec_id = 7),
         tbl AS (SELECT qs.mi, csub.j, $dotQ AS t FROM qs JOIN csub ON qs.mi = csub.mi),
         pick AS (SELECT enc.vec_id, enc.mi, tbl.t
                  FROM enc JOIN tbl ON enc.mi = tbl.mi AND enc.code = tbl.j),
         wide AS (SELECT vec_id, $wide FROM pick GROUP BY vec_id),
         scored AS (SELECT vec_id, $score AS sim FROM wide)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank,
                vec_id AS id
         FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10"""
    },

    // Int8 quantization recomputed verbatim: scale = max|x|/127, codes =
    // round(x*127/max|x|); ranking runs on the codes (scale cancels). All-zero
    // vectors (m = 0) are excluded on both sides: cosine 0/0 is NaN.
    "q_ann_int8" -> """
      WITH ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      mx AS (SELECT vec_id, e, greatest(list_max(e), -list_min(e)) AS m FROM ev),
      qz AS (SELECT vec_id,
                    list_transform(e, x -> round(x * 127.0 / m)) AS codes
             FROM mx WHERE m <> 0),
      q AS (SELECT e AS qv FROM ev WHERE vec_id = 7),
      scored AS (SELECT vec_id,
                        list_cosine_similarity(codes, (SELECT qv FROM q)) AS sim
                 FROM qz)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank,
             vec_id AS id
      FROM scored ORDER BY sim DESC, vec_id ASC LIMIT 10""",

    "q_text_langid" ->
      """SELECT doc_id,
                CASE WHEN len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','of','and','to','is','in','it'))) > 0
                     THEN 'en' ELSE 'und' END AS lang_pred
         FROM documents""",

    "q_text_quality" ->
      """WITH tok AS (
           SELECT doc_id, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ts
           FROM documents)
         SELECT doc_id,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(length(text) AS BIGINT) AS n_chars,
                CASE WHEN len(ts) > 0
                     THEN CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) * 100 // len(ts)
                     ELSE 0 END AS mean_token_len_x100,
                CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','to','is','in','it'))) AS BIGINT)
                  AS stopword_count,
                CASE WHEN length(text) > 0
                     THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) * 100 // length(text)
                     ELSE 0 END AS alpha_ratio_x100,
                (LEAST(CAST(len(ts) AS BIGINT), 50) * 2 +
                 CASE WHEN length(text) > 0
                      THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) * 100 // length(text)
                      ELSE 0 END) // 2 AS quality_score
         FROM tok""",

    "q_text_tokens" ->
      """SELECT doc_id,
                CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
         FROM documents""",

    "q_text_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                      w -> (CAST(length(w) AS BIGINT) * 131 + ascii(substring(w, 1, 1))) % 1000000007)),
                  (acc, h) -> (acc * 31 + h) % 1000000007) AS fp
         FROM documents""",

    "q_hash_split" ->
      """SELECT doc_id,
                CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8))::BIGINT) / 4294967296.0 AS u
               FROM documents)""",

    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8))::BIGINT AS hv
           FROM documents)
         WHERE hv < CASE WHEN lang = 'en' THEN 2147483648
                         WHEN lang = 'es' THEN 1073741824
                         ELSE 429496729 END""",

    "q_weighted_mix" ->
      """WITH c AS (
           SELECT doc_id, source,
                  CASE WHEN source = 'src0' THEN 2 + CASE WHEN hv < 2147483648 THEN 1 ELSE 0 END
                       WHEN source = 'src1' THEN CASE WHEN hv < 1073741824 THEN 1 ELSE 0 END
                       WHEN source = 'src2' THEN 0
                       ELSE 1 END AS n
           FROM (SELECT doc_id, source,
                        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'w1'), 1, 8))::BIGINT AS hv
                 FROM documents))
         SELECT doc_id, source, unnest(range(0, n)) AS copy FROM c WHERE n > 0""",

    "q_pack_shards" ->
      """WITH h AS (
           SELECT doc_id, n_chars,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'v1'), 1, 8))::BIGINT) AS hv
           FROM documents),
         s AS (
           SELECT doc_id, n_chars,
                  CASE WHEN hv / 4294967296.0 < 0.8 THEN 'train'
                       WHEN hv / 4294967296.0 < 0.9 THEN 'val' ELSE 'test' END AS split,
                  hv % 8 AS shard
           FROM h)
         SELECT doc_id, split, shard,
                CAST(floor(COALESCE(sum(n_chars) OVER (
                       PARTITION BY split, shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000.0)
                     AS BIGINT) AS bin
         FROM s""",

    "q_pack_bins" ->
      """SELECT doc_id,
                CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) - n_chars) / 10000.0) AS BIGINT) AS bin
         FROM documents""",

    "q_text_pii" ->
      """WITH w AS (
           SELECT doc_id,
                  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
                  CAST(doc_id % 256 AS VARCHAR) || '.7 tel ' || CAST(doc_id + 9100000000 AS VARCHAR) AS t
           FROM documents),
         s1 AS (SELECT doc_id,
                       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t FROM w),
         s2 AS (SELECT doc_id, emails,
                       CAST(len(regexp_extract_all(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS ips,
                       regexp_replace(t, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, emails, ips,
                       CAST(len(regexp_extract_all(t, '\+[0-9]{7,}\b|\b[0-9]{7,}\b')) AS BIGINT) AS phones,
                       regexp_replace(t, '\+[0-9]{7,}\b|\b[0-9]{7,}\b', '<PHONE>', 'g') AS t FROM s2)
         SELECT doc_id, t AS scrubbed, emails, ips, phones FROM s3""",

    "q_text_repetition" ->
      """WITH tok AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts FROM documents),
         b AS (SELECT doc_id, ts,
                 CASE WHEN len(ts) >= 2 THEN [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]
                      ELSE []::VARCHAR[] END AS bg
               FROM tok)
         SELECT doc_id,
                CAST(COALESCE(list_max(list_transform(list_distinct(ts), w -> len(list_filter(ts, x -> x = w)))), 0) AS BIGINT) AS top_word_count,
                CAST(len(ts) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(bg)) AS BIGINT) AS distinct_bigrams,
                CAST(len(bg) AS BIGINT) AS n_bigrams
         FROM b""",

    "q_text_normalize" ->
      """SELECT doc_id,
                nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491)) AS nfc,
                CAST(length(nfc_normalize(text || ' cafe' || chr(769) || ' ' || chr(8491))) AS BIGINT) AS nfc_len
         FROM documents""",

    "q_multimodal_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
                (CAST(octet_length(encode(text)) AS BIGINT) * 37) % 1920 + 16 AS width,
                (CAST(octet_length(encode(text)) AS BIGINT) * 91) % 1080 + 16 AS height
         FROM documents"""
  )

  /** maxHamming for the simhash entry query, over 120-bit signatures. Measured
    * on the synthetic corpus: planted near-dup pairs land at hamming <= 5;
    * background pairs (31-word shared vocab) explode above ~10 (14k+ pairs at
    * 11-15 at sf0.1). 5 keeps output = true near-dups + a thin natural band,
    * and bands = 6 => 20-bit chunks => tiny LSH buckets. */
  val SimhashMaxHamming = 5

  /** probeHamming used by both the q_ann_lsh query and its oracle. */
  val LshProbeHamming = 3

  /** q_dedup_semantic_delta_pq's ADC margin. The floor literal interpolated
    * into the oracle SQL is the SAME Scala double the operator computes
    * (threshold - margin), so the boundary compare agrees bit-for-bit. */
  val PqDeltaMargin = 0.15

  /** Parse a 15-char lowercase-hex SQL expression to a 60-bit BIGINT in DuckDB
    * (no conv() there): fold digits via list_reduce with a prepended 0 seed. */
  private def hexParseSql(hexExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($hexExpr, ''),
            c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
          (a, x) -> a * 16 + x)"""

  /** One 60-bit simhash word from a column of per-token 60-bit hashes:
    * per-bit +-1 votes, then sign fold — mirrors Dedup.simhash exactly. */
  private def simhashWordSql(hashListCol: String): String =
    s"""CAST(list_sum(list_transform(range(0, 60), b ->
          CASE WHEN list_sum(list_transform($hashListCol,
                 x -> CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN CAST(1 AS BIGINT) << b ELSE 0 END)) AS BIGINT)"""

  /** The q_ann_lsh signature expression: same seed-deterministic hyperplanes as
    * Similarity.hyperplanes(10, 64, 42), values interpolated as SQL literals
    * (Double.toString round-trips exactly). */
  private def lshSigTermsSql: String = {
    val planes = graft.ops.Similarity.hyperplanes(numPlanes = 10, dim = 64, seed = 42L)
    planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(e, $arr) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Exact pairwise n-gram(3) Jaccard in DuckDB: shingle lists via list
    * comprehension, intersection/union via list ops. Matches the engine's
    * shingle definition (distinct word 3-grams; whole text when < 3 words). */
  /** Distinct word 3-gram shingles per document (DuckDB), mirroring
    * TextOps.shingles(text, 3) incl. the short-doc whole-text fallback. */
  private val shingleCte: String =
    """SELECT doc_id,
              CASE WHEN len(string_split(text,' ')) >= 3
                   THEN list_distinct([string_split(text,' ')[i] || ' ' ||
                                       string_split(text,' ')[i+1] || ' ' ||
                                       string_split(text,' ')[i+2]
                                       for i in range(1, len(string_split(text,' ')) - 1)])
                   ELSE [text] END AS sh
       FROM documents"""

  /** q_dedup_delta params: portable md5-derived signatures so the oracle can
    * rebuild them; 32 hashes in 8 bands of 4. */
  val DeltaOracleParams: graft.ops.Dedup.MinhashIndexParams =
    graft.ops.Dedup.MinhashIndexParams(
      shingleN = 3, numHashes = 32, bands = 8, seed = 42L, portable = true)

  /** The q_dedup_delta oracle: recompute the portable MinHash signature —
    * per-shingle md5 raw hash reduced mod the Mersenne prime, folded through
    * the SAME (a,b) permutations the engine uses (coefficients interpolated
    * as SQL literals, like the LSH hyperplanes) — then brute-force the
    * banding candidate rule and the integer matches cut. */
  private def deltaDedupOracle: String = {
    val p = DeltaOracleParams
    val (as, bs) = graft.functions.MinHashSig.coeffs(p.numHashes, p.seed)
    val coefLits = (0 until p.numHashes)
      .map(i => s"[${as(i)},${bs(i)}]").mkString("[", ",", "]")
    val r = p.rowsPerBand
    val minM = p.minMatches(0.8)
    s"""WITH s AS ($shingleCte),
        hs AS (SELECT doc_id,
                 list_transform(sh, t -> ${hexParseSql("substring(md5(t), 1, 15)")} % 2147483647) AS hv
               FROM s),
        sig AS (SELECT doc_id,
                  list_transform($coefLits,
                    p -> list_min(list_transform(hv, h -> (p[1]*h + p[2]) % 2147483647))) AS sg
                FROM hs),
        tagged AS (SELECT doc_id, sg, (doc_id % 3 = 0) AS is_new FROM sig),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len([i for i in range(1, ${p.numHashes + 1}) if a.sg[i] = b.sg[i]]) AS BIGINT) AS matches,
                 a.is_new AS a_is_new, b.is_new AS b_is_new
          FROM tagged a JOIN tagged b ON a.doc_id < b.doc_id
          WHERE (a.is_new OR b.is_new)
            AND len([j for j in range(0, ${p.bands}) if a.sg[j*$r+1:j*$r+$r] = b.sg[j*$r+1:j*$r+$r]]) > 0)
        SELECT id_a, id_b, matches, a_is_new, b_is_new FROM cand WHERE matches >= $minM"""
  }

  private def jaccardOracle(threshold: Double): String =
    s"""WITH s AS ($shingleCte)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= $threshold"""
}
