package graft.suite

import graft.dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The canonical input of the north_rule: a source-code table
  * (repo, path, commit, lang, content) — deterministic, seed-fixed synthesis
  * (FIXTURES.md §B; no external data). Violations are planted at exact,
  * analytically-known rates so the suite's output is assertable:
  *   - one mega-repo holding ~20% of rows (join-skew exercise, N6 salting)
  *   - id % 97 == 0  -> malformed path (format violation)
  *   - id % 89 == 0  -> lang outside the allow-set
  *   - id % 83 == 0  -> empty content (required violation)
  *   - id % 79 == 0  -> dangling commit (referential violation)
  *   - id % 101 == 0 -> duplicated (repo,path,commit) key (uniqueness)
  * Every row carries sha256(content) computed at generation time for the
  * per-row parity invariant (input_hint).
  */
object CodeTable {

  val langs = Seq("scala", "python", "elixir", "go", "rust", "java")

  private val words = Seq(
    "def", "val", "case", "match", "import", "spark", "schema", "filter",
    "column", "partition", "shuffle", "hash", "join", "agg", "stream", "batch")

  /** Deterministic synthesis: every column is a pure function of `id` (and the
    * seed), so any two generations are identical — no RNG state, no time. */
  def generate(spark: SparkSession, rows: Long, seed: Long = 42L): DataFrame = {
    val id = col("id")
    val h = xxhash64(id, lit(seed))
    def pick(n: Int, salt: Int) = pmod(xxhash64(id, lit(seed + salt)), lit(n))

    val repo = when(id % 5 === 0, lit("org0/mega")) // planted mega-repo, ~20% of rows
      .otherwise(concat(lit("org"), pick(20, 1), lit("/repo"), pick(50, 2)))
    val dir = element_at(array(Seq("src", "lib", "test").map(lit): _*), (pick(3, 3) + 1).cast(IntegerType))
    val goodPath = concat(dir, lit("/pkg"), pick(40, 4), lit("/file"), pick(1000000, 5),
      element_at(array(Seq(".scala", ".py", ".ex", ".go").map(lit): _*), (pick(4, 6) + 1).cast(IntegerType)))
    val path = when(id % 97 === 0, concat(lit("///bad path "), pick(1000, 7))).otherwise(goodPath)
    // 40-char lowercase hex; dangling commits derive from a disjoint salt space
    val commit = when(id % 79 === 0, substring(sha2(concat(lit("dangling"), id.cast(StringType)), 256), 1, 40))
      .otherwise(substring(sha2(concat(repo, lit("@"), pick(8, 8).cast(StringType)), 256), 1, 40))
    val lang = when(id % 89 === 0, lit("klingon"))
      .otherwise(element_at(array(langs.map(lit): _*), (pick(langs.size, 9) + 1).cast(IntegerType)))
    // pseudo-source text: 5..84 words chosen deterministically
    val nWords = (pmod(h, lit(80)) + 5).cast(IntegerType)
    val body = concat_ws(" ", transform(sequence(lit(1), nWords), i =>
      element_at(array(words.map(lit): _*),
        (pmod(xxhash64(id, i, lit(seed)), lit(words.size)) + 1).cast(IntegerType))))
    val content = when(id % 83 === 0, lit("")).otherwise(body)

    spark.range(rows).select(
      id,
      repo.as("repo"),
      path.as("path"),
      commit.as("commit"),
      lang.as("lang"),
      content.as("content"))
      .withColumn("content_sha256", sha2(col("content"), 256)) // generation-time fixture column
  }

  /** Planted duplicates: rows with id % 101 == 0 appear twice (distinct ids,
    * same (repo,path,commit) key). */
  def withPlantedDuplicates(df: DataFrame, totalRows: Long): DataFrame =
    df.unionAll(df.filter(col("id") % 101 === 0).withColumn("id", col("id") + totalRows))

  /** Referential dim (repo -> commit): exactly the non-dangling commits. */
  def dimRepoCommits(df: DataFrame): DataFrame =
    df.filter(col("id") % 79 =!= 0).select("repo", "commit").distinct()

  /** The canonical row-level schema over the code table — the reference's rule
    * classes (required/format/inclusion/length/derive/when) lifted to the
    * input_hint shape. sha-parity is expressed as a :when rule against the
    * generation-time fixture column.
    */
  val codeSchema: SchemaSpec = SchemaSpec(
    "code_files",
    fields = Seq(
      Field.string("repo").req.format("^[a-z0-9]+/[a-z0-9]+$"),
      Field.string("path").req.format("^(src|lib|test)(/[a-zA-Z0-9_.-]+)+$"),
      Field.string("commit").req.format("^[0-9a-f]{40}$").lenIs(40),
      Field.string("lang").req.in(langs: _*),
      Field.string("content").req
        .when(ctx => sha2(ctx("content"), 256) === ctx("sha_fixture")),
      // generation-time fixture column, passed through untouched (C5)
      FieldSpec("sha_fixture", FString(), virtual = true)),
    keyColumns = Seq("repo", "path"),
    bindings = Map.empty)
}
