package graft

import graft.suite.{Checks, CodeTable}
import graft.run.Validator
import org.apache.spark.sql.functions._

/** Table-scope checks (N4-N7) over the deterministic synthesized code table
  * with analytically-known planted violations (FIXTURES.md §B).
  */
class SuiteSpec extends SparkSpec {
  import spark.implicits._

  val N = 20000L
  lazy val base = CodeTable.generate(spark, N).cache()
  lazy val table = CodeTable.withPlantedDuplicates(base, N).cache()
  lazy val dim = CodeTable.dimRepoCommits(base)

  private def plantedCount(mod: Long): Long = (0L until N).count(_ % mod == 0).toLong

  test("row rules: planted violation counts are exact") {
    val withFixture = table.withColumn("sha_fixture", col("content_sha256"))
    val r = Validator.validate(CodeTable.codeSchema, withFixture)
    val byCid = r.violations.groupBy("constraint_id").count()
      .as[(String, Long)].collect().toMap
    // duplicated rows (id%101==0) carry the same planted defects twice
    def withDups(mod: Long): Long =
      (0L until N).map(i => if (i % mod == 0) (if (i % 101 == 0) 2L else 1L) else 0L).sum
    assert(byCid.getOrElse("path.format", 0L) === withDups(97))
    assert(byCid.getOrElse("lang.inclusion", 0L) === withDups(89))
    assert(byCid.getOrElse("content.required", 0L) === withDups(83))
    assert(byCid.get("repo.format") === None)
    assert(byCid.get("commit.format") === None)
    assert(byCid.get("content.when") === None) // sha parity holds by construction
  }

  test("sha256 parity violation is detected when content is corrupted") {
    val corrupted = base.withColumn("sha_fixture",
      when(col("id") % 500 === 0, lit("deadbeef")).otherwise(col("content_sha256")))
    val r = Validator.validate(CodeTable.codeSchema, corrupted)
    val n = r.violations.filter($"constraint_id" === "content.when").count()
    // rows with empty content (id%83==0) are not in changes => when-rule skipped
    val expected = (0L until N).count(i => i % 500 == 0 && i % 83 != 0).toLong
    assert(n === expected)
  }

  test("N5 uniqueness: exactly the planted duplicate keys, each with count 2") {
    val dups = Checks.uniqueness(table, Seq("repo", "path", "commit"))
      .as[(String, String, String, Long)].collect()
    assert(dups.length === plantedCount(101))
    assert(dups.forall(_._4 == 2L))
    val viols = Checks.uniquenessViolations(table, Seq("repo", "path", "commit"))
    assert(viols.count() === plantedCount(101))
    assert(viols.columns.toSeq === Seq("repo", "path", "commit", "constraint_id", "reason"))
  }

  test("N6 referential: broadcast and salted sort-merge agree on planted dangling commits") {
    val expected = (0L until N).map(i =>
      if (i % 79 == 0) (if (i % 101 == 0) 2L else 1L) else 0L).sum
    val viaBroadcast = Checks.referentialViolations(
      table, Seq("repo", "commit"), dim, Seq("repo", "commit"),
      broadcastDim = true, keyCols = Seq("repo", "path"))
    assert(viaBroadcast.count() === expected)
    val viaSalted = Checks.referentialViolations(
      table, Seq("repo", "commit"), dim, Seq("repo", "commit"),
      broadcastDim = false, saltBuckets = 8, keyCols = Seq("repo", "path"))
    assert(viaSalted.count() === expected)
    // identical violation sets, not just counts
    assert(viaBroadcast.exceptAll(viaSalted).count() === 0)
    assert(viaSalted.exceptAll(viaBroadcast).count() === 0)
  }

  test("N4 profile: one-pass column stats are exact where exact, sane where approx") {
    val p = Checks.profile(base, Seq("repo", "lang", "content"), exactDistinct = true)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("repo").getLong(1) === N)
    assert(p("repo").getLong(2) === 0L) // no null repos
    val langDistinct = p("lang").getLong(3)
    assert(langDistinct === (CodeTable.langs.size + 1).toLong) // + klingon
    assert(p("lang").getString(4) === "elixir") // min lexicographic
    // approx flavor within HLL tolerance
    val approx = Checks.profile(base, Seq("repo"), exactDistinct = false).collect().head
    val exact = p("repo").getLong(3).toDouble
    assert(math.abs(approx.getLong(3) - exact) / exact < 0.10) // HLL++ default rsd 5%
  }

  test("N7 drift: identical snapshot ~0; drifted snapshot trips PSI and KS") {
    val same = Checks.driftCheck(base, base, "lang", length(col("content")), 0, 600)
    assert(same.psiValue < 1e-9 && same.ksValue < 1e-9)
    assert(same.violations.isEmpty)
    // drifted: drop most scala rows and truncate content
    val drifted = base.filter(col("lang") =!= "scala" || col("id") % 10 === 0)
      .withColumn("content", substring(col("content"), 1, 60))
    val rep = Checks.driftCheck(drifted, base, "lang", length(col("content")), 0, 600)
    assert(rep.psiValue > 0.01)
    assert(rep.ksValue > 0.1)
    assert(rep.violations.exists(_._1 == "drift.ks"))
  }

  test("N12 skew profile: planted mega-key ranks first with the right salt factor; integer math exact") {
    // 50 rows of one key + 10 singletons = 60 rows, 11 distinct keys
    val df = ((1 to 50).map(_ => "org0/mega") ++ (1 to 10).map(i => s"org$i/r"))
      .toDF("repo")
    val rows = Checks.keySkewProfile(df, Seq("repo"), topK = 3, parallelism = 4)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length === 3)
    val (rank1, key1, cnt1, pct1, salt1, total, distinct) = rows.head
    assert(rank1 === 1L && key1 === "org0/mega" && cnt1 === 50L)
    assert(total === 60L && distinct === 11L)
    assert(pct1 === 8333L)              // (50*10000) div 60
    assert(salt1 === 4L)                // ceil(50*4/60) = 4 salt buckets
    // singleton keys need no salting; ties broken by key ascending
    assert(rows(1)._3 === 1L && rows(1)._5 === 1L)
    assert(rows(1)._2 < rows(2)._2)
    // the planted CodeTable mega-repo surfaces the same way (~20% of rows)
    val mega = Checks.keySkewProfile(base, Seq("repo"), topK = 1, parallelism = 32)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect().head
    assert(mega._2 === "org0/mega")
    assert(mega._4 > 1500L && mega._4 < 2500L) // ~20% share
    assert(mega._5 >= 6L)                      // needs real salting at p=32
  }

  test("N13 functional dependency: violating groups only, deterministic majority, null category") {
    // repo1 holds (3x scala), repo2 violated (2 scala / 2 java / 1 null),
    // repo3 violated with a count TIE (1 java / 1 scala -> majority = asc min)
    val df = Seq(
      ("repo1", "scala"), ("repo1", "scala"), ("repo1", "scala"),
      ("repo2", "scala"), ("repo2", "java"), ("repo2", "java"), ("repo2", "scala"),
      ("repo3", "scala"), ("repo3", "java"))
      .toDF("repo", "lang")
      .union(Seq(("repo2", null.asInstanceOf[String])).toDF("repo", "lang"))
    val out = Checks.functionalDependencyViolations(df, Seq("repo"), "lang")
      .as[(String, Long, Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq("repo2", "repo3")) // repo1 holds -> absent
    val r2 = out.head
    assert(r2._2 === 5L && r2._3 === 3L) // 5 rows, {scala, java, NullCategoryKey-null}
    assert(r2._4 === "java" || r2._4 === "scala") // 2-2 tie -> asc min = "java"
    assert(r2._4 === "java" && r2._5 === 2L && r2._6 === 3L)
    val r3 = out(1)
    assert(r3 === (("repo3", 2L, 2L, "java", 1L, 1L))) // tie broken ascending
    // null dep lands under the shared null sentinel category
    val nullGrp = Checks.functionalDependencyViolations(
      df.filter(col("repo") === "repo2"), Seq("repo"), "lang")
      .as[(String, Long, Long, String, Long, Long)].collect().head
    assert(nullGrp._3 === 3L)
    // composite determinant holds on (repo, lang) -> lang trivially
    assert(Checks.functionalDependencyViolations(df.na.drop(), Seq("repo", "lang"), "lang").isEmpty)
  }

  test("N13 FD repair: minority rows rewritten to typed majority, null majority wins, holds untouched") {
    // repo1 holds; repo2 majority = null (3 null / 2 scala); repo3 tie -> asc
    // min "java"; dep is an INT column in the second frame (type preserved)
    val df = Seq(("repo1", Some("scala")), ("repo1", Some("scala")),
      ("repo2", None: Option[String]), ("repo2", None), ("repo2", None),
      ("repo2", Some("scala")), ("repo2", Some("scala")),
      ("repo3", Some("scala")), ("repo3", Some("java")))
      .toDF("repo", "lang")
    val fixed = Checks.functionalDependencyRepair(df, Seq("repo"), "lang")
    assert(fixed.columns.toSeq === df.columns.toSeq)
    val byRepo = fixed.as[(String, Option[String])].collect().groupBy(_._1)
    assert(byRepo("repo1").map(_._2).toSet === Set(Some("scala")))
    assert(byRepo("repo2").map(_._2).toSet === Set(None)) // null IS the majority
    assert(byRepo("repo3").map(_._2).toSet === Set(Some("java")))
    // repaired frame satisfies the dependency
    assert(Checks.functionalDependencyViolations(fixed, Seq("repo"), "lang").isEmpty)
    // non-string dep keeps its type (no string round-trip)
    val ints = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 7)).toDF("k", "v")
    val fi = Checks.functionalDependencyRepair(ints, Seq("k"), "v")
    assert(fi.schema("v").dataType === org.apache.spark.sql.types.IntegerType)
    assert(fi.as[(String, Int)].collect().toSet === Set(("a", 1), ("b", 7)))
  }

  test("N13/N12 composite keys: null det segments do NOT collide across positions") {
    // ('a', null) vs (null, 'a') — concat_ws alone would key both to "a".
    // Each tuple's dep is consistent, so a collision would FABRICATE a
    // violation ({x, y} under one merged key); distinct keys report none.
    val df = Seq(
      (Some("a"), None: Option[String], "x"), (Some("a"), None, "x"),
      (None: Option[String], Some("a"), "y"), (None, Some("a"), "y"))
      .toDF("c1", "c2", "lang")
    assert(Checks.functionalDependencyViolations(df, Seq("c1", "c2"), "lang").isEmpty)
    // and the skew profile sees TWO distinct keys, not one merged mega-key
    val skew = Checks.keySkewProfile(df, Seq("c1", "c2"), topK = 5, parallelism = 4)
      .as[(Long, String, Long, Long, Long, Long, Long)].collect()
    assert(skew.head._7 === 2L)          // distinct_keys
    assert(skew.forall(_._3 === 2L))     // each key counts its own 2 rows
  }

  test("N4b quartiles: exact x4 values on a known distribution; approx within sketch error") {
    // 0..99 has known quartiles 24.75 / 49.5 / 74.25 -> x4 = 99 / 198 / 297
    val df = spark.range(100).toDF("v")
    val ex = Checks.profileQuartiles(df, Seq("v"), exact = true)
      .as[(String, Long, Long, Long)].collect().head
    assert(ex === (("v", 99L, 198L, 297L)))
    val ap = Checks.profileQuartiles(df, Seq("v"), exact = false)
      .as[(String, Long, Long, Long)].collect().head
    assert(math.abs(ap._3 - 198L) <= 8L) // approx sketch, generous bound
  }

  test("generation is deterministic: same seed => identical table") {
    def fingerprint() = CodeTable.generate(spark, 1000)
      .withColumn("h", xxhash64(col("repo"), col("path"), col("commit"), col("lang"), col("content")))
      .agg(expr("bit_xor(h)")).as[Long].collect().head
    val a = fingerprint()
    val b = fingerprint()
    assert(a === b)
  }
}
