package graft

import org.apache.spark.sql.functions._

/** Drives the RunPipeline CLI core in-process: two snapshot deltas against
  * one work dir's persisted indexes, the no-op resubmission, a deletions
  * pass, the PQ index mode, and the arg guards. (The real spark-submit
  * deploy path is shared with RunValidation — same thin jar, verified r5.) */
class RunPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def field(json: String, name: String): Long =
    s""""$name":(-?\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong

  private def text(i: Long, extra: String = "") =
    (1 to 30).map(t => s"w${i}_$t").mkString(" ") + extra
  private def emb(concept: Long): Seq[Double] =
    Seq.tabulate(16)(j =>
      (scala.util.hashing.MurmurHash3.productHash((concept, j)) % 19 - 9).toDouble)
  private val leakText =
    "the quick brown fox jumps over the lazy dog once more for the benchmark row"

  private def df(rows: Seq[(Long, String, Long)]) =
    rows.map { case (i, t, c) => (i, t, emb(c)) }.toDF("doc_id", "text", "emb")

  private lazy val root = java.nio.file.Files.createTempDirectory("graft-runpipe").toString
  private def writeParquet(d: org.apache.spark.sql.DataFrame, name: String): String = {
    val p = s"$root/$name"
    d.write.mode("overwrite").parquet(p)
    p
  }

  private lazy val d1 = writeParquet(df(
    (1L to 10L).map(i => (i, text(i), i)) ++ Seq(
      (21L, text(1), 21L),                                     // exact dup of 1
      (22L, text(2, " xq1 xq2"), 22L),                         // near twin of 2
      (23L, "spam spam spam spam spam spam spam spam", 23L))), // low quality
    "d1")
  private lazy val d2 = writeParquet(df(
    (101L to 105L).map(i => (i, text(i), i)) ++ Seq(
      (121L, text(3), 121L),   // exact copy ACROSS snapshots (near-dups at the index)
      (124L, text(124), 5L),   // SEMANTIC twin of 1's doc 5 (text disjoint)
      (125L, leakText, 125L))), "d2")
  private lazy val probe = writeParquet(Seq((900L, leakText)).toDF("pid", "ptext"), "probe")

  private def args(work: String, input: String, extra: Seq[String] = Nil) =
    RunPipeline.parse((Seq(
      "--input", input, "--work", work, "--emb", "emb", "--probe", probe,
      "--minhash-threshold", "0.8", "--max-top-word-pct", "60",
      "--semantic-threshold", "0.99", "--cells", "4") ++ extra).toArray)

  test("two snapshots through the CLI: per-stage accounting, cross-snapshot dedup, no-op resubmission, deletion") {
    val work = s"$root/work"
    val j1 = RunPipeline.run(spark, args(work, d1))
    assert(field(j1, "input") === 13 && field(j1, "invalid") === 0)
    assert(field(j1, "exact_dups") === 1)   // 21
    assert(field(j1, "near_dups") === 1)    // 22
    assert(field(j1, "low_quality") === 1)  // 23
    assert(field(j1, "semantic_dups") === 0 && field(j1, "output") === 10)
    assert(field(j1, "stages_computed") > 0)

    val j2 = RunPipeline.run(spark, args(work, d2))
    assert(field(j2, "input") === 8)
    assert(field(j2, "near_dups") === 1)    // 121 loses to the INDEXED doc 3
    assert(field(j2, "contaminated") === 1) // 125
    assert(field(j2, "semantic_dups") === 1) // 124 loses to doc 5's indexed vector
    assert(field(j2, "output") === 5)
    // the output parquet holds exactly the survivors, split column present
    val outDir = """"out":"([^"]+)"""".r.findFirstMatchIn(j2).get.group(1)
    val out = spark.read.parquet(outDir)
    assert(out.select($"doc_id").as[Long].collect().toSet
      === Set(101L, 102L, 103L, 104L, 105L))
    assert(out.columns.contains("split"))

    // identical resubmission: every stage loads, same summary, same output
    val j2b = RunPipeline.run(spark, args(work, d2))
    assert(field(j2b, "stages_computed") === 0 && field(j2b, "stages_loaded") > 0)
    assert(field(j2b, "output") === 5)

    // a RE-EMBEDDED snapshot (same ids and text, new vectors) is a NEW
    // content address: stages recompute against the new vectors instead of
    // loading results scored against the old ones — 124's vector no longer
    // twins doc 5, so it now survives
    val d2re = writeParquet(
      ((101L to 105L).map(i => (i, text(i), i + 1000L)) ++ Seq(
        (121L, text(3), 1121L), (124L, text(124), 1124L), (125L, leakText, 1125L)))
        .map { case (i, t, c) => (i, t, emb(c)) }.toDF("doc_id", "text", "emb"),
      "d2re")
    val j2re = RunPipeline.run(spark, args(work, d2re))
    assert(field(j2re, "stages_loaded") === 0 && field(j2re, "stages_computed") > 0)
    assert(field(j2re, "semantic_dups") === 0 && field(j2re, "output") === 6)

    // withdraw doc 3, then a fresh near-copy of it SURVIVES (both indexes
    // compacted under the bumped corpus epoch before the delta)
    val del = writeParquet(Seq(3L).toDF("doc_id"), "del3")
    val d3 = writeParquet(df(Seq((201L, text(3, " zz"), 201L))), "d3")
    val j3 = RunPipeline.run(spark, args(work, d3, Seq("--deletions", del)))
    assert(field(j3, "near_dups") === 0 && field(j3, "output") === 1)
  }

  test("--use-pq: same survivors via the IVF-PQ index; cells carry codes") {
    val work = s"$root/work_pq"
    val pq = Seq("--use-pq", "--pq-m", "8", "--pq-ksub", "8", "--pq-margin", "2.0")
    val j1 = RunPipeline.run(spark, args(work, d1, pq))
    assert(field(j1, "output") === 10)
    val j2 = RunPipeline.run(spark, args(work, d2, pq))
    assert(field(j2, "semantic_dups") === 1 && field(j2, "output") === 5)
    val cells = graft.ops.Similarity.ivfIndexLoad(spark, s"$work/ivfidx")
    assert(cells.columns.contains("codes"))
  }

  test("--require: null required columns count as invalid and drop") {
    val d = writeParquet(
      Seq((1L, text(1), "en"), (2L, text(2), null.asInstanceOf[String]))
        .toDF("doc_id", "text", "lang"), "dreq")
    val work = s"$root/work_req"
    val j = RunPipeline.run(spark, RunPipeline.parse(Array(
      "--input", d, "--work", work, "--require", "lang")))
    assert(field(j, "input") === 2 && field(j, "invalid") === 1)
    assert(field(j, "output") === 1)
    // a CHANGED require list keys new stages — never a stale-verdict replay
    val j2 = RunPipeline.run(spark, RunPipeline.parse(Array(
      "--input", d, "--work", work, "--require", "lang,text")))
    assert(field(j2, "stages_loaded") === 0 && field(j2, "invalid") === 1)
    // a corrected required VALUE (same ids, text, emb) is a NEW snapshot:
    // the require'd columns join the content fingerprint
    val dFixed = writeParquet(
      Seq((1L, text(1), "en"), (2L, text(2), "en")).toDF("doc_id", "text", "lang"),
      "dreqfix")
    val j3 = RunPipeline.run(spark, RunPipeline.parse(Array(
      "--input", dFixed, "--work", work, "--require", "lang")))
    assert(field(j3, "stages_loaded") === 0)
    assert(field(j3, "invalid") === 0 && field(j3, "output") === 2)
    // typo'd or non-string columns fail fast instead of silently
    // invalidating the whole delta
    val typo = intercept[IllegalArgumentException] {
      RunPipeline.run(spark, RunPipeline.parse(Array(
        "--input", d, "--work", work, "--require", "langg")))
    }
    assert(typo.getMessage.contains("not in the input schema"), typo.getMessage)
    val nonString = intercept[IllegalArgumentException] {
      RunPipeline.run(spark, RunPipeline.parse(Array(
        "--input", d, "--work", work, "--require", "doc_id")))
    }
    assert(nonString.getMessage.contains("not string"), nonString.getMessage)
  }

  test("arg guards") {
    intercept[IllegalArgumentException](RunPipeline.parse(Array("--input", "x")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--use-pq")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--splits", "train")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--splits", "train=abc")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--splits", "train=1,val=0")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--splits", "train=Infinity,val=1")))
    intercept[IllegalArgumentException](
      RunPipeline.parse(Array("--input", "x", "--work", "y", "--bogus")))
  }
}
