package graft.perfbench

import graft.{RunPipeline, RunValidation}
import graft.suite.CodeTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The two workloads. Each builds its inputs from `--seed`, hands the CLI
  * core only the generated files, and checks every call's output against
  * what was planted. */
object Workloads {

  val names: Seq[String] = Seq("code_table", "pipeline_deltas")


  def run(b: Bench): Unit = b.o.workload match {
    case "code_table" => codeTable(b)
    case "pipeline_deltas" => pipelineDeltas(b)
  }

  private def num(json: String, field: String): Long =
    s""""$field":(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new NoSuchElementException(s"$field missing in $json"))

  private def str(json: String, field: String): String =
    s""""$field":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new NoSuchElementException(s"$field missing in $json"))

  private def expect(json: String, want: (String, Long)*): Seq[String] =
    want.flatMap { case (f, v) =>
      val got = num(json, f)
      if (got == v) None else Some(s"$f: got $got, want $v")
    }

  // ---------------------------------------------------------------- code table

  /** Planted counts from the id arithmetic of `CodeTable.generate` plus
    * `withPlantedDuplicates`: ids below `rows`, and a second copy of every
    * id % 101 == 0 row. Row rules: id % 97 (path format), id % 89 (lang
    * allow-set), id % 83 (blank content); id % 79 is a dangling commit. */
  final case class Planted(rows: Long) {
    private def copies(i: Long): Long = if (i % 101 == 0) 2L else 1L
    val staged: Long = rows + (rows + 100) / 101
    val (violations, dangling) = {
      var v = 0L
      var d = 0L
      var i = 0L
      while (i < rows) {
        val c = copies(i)
        v += c * (Seq(97L, 89L, 83L).count(i % _ == 0))
        if (i % 79 == 0) d += c
        i += 1
      }
      (v, d)
    }
    val plantedDupKeys: Long = (rows + 100) / 101
  }

  private def writeCodeTable(spark: SparkSession, rows: Long, seed: Long, path: String): Unit =
    CodeTable.withPlantedDuplicates(CodeTable.generate(spark, rows, seed), rows)
      .write.parquet(path)

  private def validateCall(b: Bench, a: RunValidation.Args): String =
    b.cli("validate")(RunValidation.run(b.spark, a))(t => TracedCli.validate(b.spark, a, t))

  /** Traced-run counts of one validation call, read from its manifest. */
  private def tallyValidation(b: Bench, work: String, json: String, stagedRows: Long): Unit =
    if (b.tracing && json.nonEmpty) b.aside("bench.check") {
      val m = b.spark.read.parquet(s"$work/manifest")
      val runId = str(json, "run_id")
      val rows = m.filter(col("run_id") === runId).agg(coalesce(sum("rows"), lit(0L)))
        .head().getLong(0)
      b.tally("checkpoint.buckets_processed", num(json, "processed_buckets").toDouble)
      b.tally("checkpoint.revalidated_row_frac", rows.toDouble / stagedRows)
      b.gauge("checkpoint.manifest_rows", m.count().toDouble)
    }

  /** Full validations, changed-bucket deltas and identical resubmissions of
    * one code table. Each timed step is:
    *  - delta: a new snapshot that edits every row of 1-2 seed-chosen
    *    buckets, through `--incremental --restage` on the long-lived work
    *    dir (restage, fingerprint selection, the touched buckets' rules);
    *  - replay: the same snapshot submitted again (nothing pending);
    *  - on every other step, full: `--restage --dim --unique --profile --fd`
    *    into a fresh work dir (plain runner: every bucket's row rules, then
    *    the suite checks), then the step's snapshot replayed once more, so
    *    a run's replays are spread over its whole loop.
    * Four steps at least, so a run's medians rest on two full calls, four
    * deltas and six replays. */
  private def codeTable(b: Bench): Unit = {
    val spark = b.spark
    val s = b.scale
    val planted = Planted(s.codeRows)
    def suiteArgs(in: String) = Seq("--dim", s"$in/dim", "--unique", "repo,path,commit",
      "--profile", "repo,lang,content", "--fd", "repo:lang")
    def args(input: String, work: String, extra: Seq[String]) = RunValidation.parse((Seq(
      "--input", input, "--work", work, "--buckets", s.buckets.toString) ++ extra).toArray)
    def fullArgs(in: String, work: String) = args(s"$in/code", work, "--restage" +: suiteArgs(in))
    def incArgs(input: String, work: String) = args(input, work, Seq("--incremental", "--restage"))

    final case class State(in: String, work: String, dupKeys: Long, fdGroups: Long, inBytes: Long)
    def checkSuite(st: State, processed: Long)(j: String): Seq[String] =
      expect(j, "processed_buckets" -> processed, "done_buckets" -> s.buckets,
        "violations" -> planted.violations, "dangling_refs" -> planted.dangling,
        "duplicate_keys" -> st.dupKeys, "fd_violating_groups" -> st.fdGroups)

    val st = b.setup {
      val in = b.dir("ct-in")
      val work = b.dir("ct-work")
      writeCodeTable(spark, s.codeRows, b.o.seed, s"$in/code")
      val code = spark.read.parquet(s"$in/code")
      // the dim comes from the table before its planted copies: a copy's id
      // is no longer a multiple of 79 and would let its dangling commit in
      CodeTable.dimRepoCommits(code.filter(col("id") < s.codeRows)).write.parquet(s"$in/dim")
      // key collisions beyond the planted copies come from the generator's
      // finite path space; a plain group-by counts them, graft is not asked
      val dupKeys = code.groupBy("repo", "path", "commit").count()
        .filter(col("count") > 1).count()
      val fdGroups = code.groupBy("repo").agg(countDistinct("lang").as("n"))
        .filter(col("n") > 1).count()
      require(dupKeys >= planted.plantedDupKeys, s"$dupKeys duplicate keys < planted")
      val state = State(in, work, dupKeys, fdGroups, Host.bytesUnder(in))
      // the long-lived incremental work dir starts fully validated; the
      // suite flags on this first call warm the suite checks too
      b.call("warm", planted.staged)(validateCall(b,
        args(s"$in/code", work, Seq("--incremental", "--restage") ++ suiteArgs(in))))(
        checkSuite(state, s.buckets))
      state
    }

    val base = spark.read.parquet(s"${st.in}/code")
    val bucketOf = pmod(xxhash64(col("repo"), col("path")), lit(s.buckets)).cast("int")
    val rng = new scala.util.Random(b.o.seed)
    val versions = mutable.Map.empty[Int, Int]
    var submitted = st.inBytes
    var lastViolations = planted.violations

    // snapshot k: every row of a touched bucket gets a per-version content
    // edit (blank contents become non-blank, fixing their violation); the
    // digest column follows the content, as the CLI's contract requires
    def writeSnapshot(path: String): Unit = {
      import spark.implicits._
      val v = versions.toSeq.toDF("__b", "__v")
      base.withColumn("__b", bucketOf)
        .join(broadcast(v), Seq("__b"), "left")
        .withColumn("content", when(col("__v").isNotNull,
          concat(col("content"), lit(" rev"), col("__v").cast("string"))).otherwise(col("content")))
        .withColumn("content_sha256", when(col("__v").isNotNull, sha2(col("content"), 256))
          .otherwise(col("content_sha256")))
        .select(base.columns.map(col).toIndexedSeq: _*)
        .write.parquet(path)
    }

    var snapshot = ""
    var snapshotBytes = 0L
    def replay(): Unit = {
      val r = b.call("replay", planted.staged)(validateCall(b, incArgs(snapshot, st.work)))(j =>
        expect(j, "processed_buckets" -> 0, "done_buckets" -> s.buckets,
          "violations" -> lastViolations))
      tallyValidation(b, st.work, r, planted.staged)
      submitted += snapshotBytes
    }
    def delta(tag: String): Unit = {
      val touched = rng.shuffle((0 until s.buckets).toList).take(1 + rng.nextInt(2))
      touched.foreach(t => versions(t) = versions.getOrElse(t, 0) + 1)
      val previous = snapshot
      snapshot = s"${st.in}/snap-$tag"
      snapshotBytes = b.aside("bench.input") {
        writeSnapshot(snapshot)
        if (previous.nonEmpty) Host.deleteTree(previous)
        Host.bytesUnder(snapshot)
      }
      val d = b.call("delta", planted.staged)(validateCall(b, incArgs(snapshot, st.work)))(j =>
        expect(j, "processed_buckets" -> touched.size, "done_buckets" -> s.buckets))
      if (d.nonEmpty) lastViolations = num(d, "violations")
      tallyValidation(b, st.work, d, planted.staged)
      submitted += snapshotBytes
    }
    // a step's full call comes after its delta and replay, so the first one
    // runs on a JVM already warmed by three calls
    b.timed(minSteps = 4) { i =>
      delta(i.toString)
      replay()
      if (i % 2 == 0) {
        val fresh = b.dir(s"ct-full-$i")
        val f = b.call("full", planted.staged)(validateCall(b, fullArgs(st.in, fresh)))(
          checkSuite(st, s.buckets))
        tallyValidation(b, fresh, f, planted.staged)
        b.aside("bench.cleanup")(Host.deleteTree(fresh))
        replay()
      }
      b.stored(Host.bytesUnder(st.work).toDouble / submitted)
    }

    // untimed: the incremental sink must equal a from-scratch validation of
    // the last snapshot
    val scratch = b.dir("ct-scratch")
    b.call("scratch_check", planted.staged)(Console.withOut(System.err)(
      RunValidation.run(spark, args(snapshot, scratch, Seq("--restage")))))(
      j => sameRows(spark.read.parquet(s"${st.work}/violations"),
        spark.read.parquet(s"$scratch/violations")) ++
        expect(j, "violations" -> lastViolations))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Seq[String] = {
    val cols = a.columns.sorted.toIndexedSeq
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    val (onlyA, onlyB) = (x.exceptAll(y).count(), y.exceptAll(x).count())
    if (onlyA == 0 && onlyB == 0) Nil
    else Seq(s"incremental sink differs from scratch: $onlyA extra, $onlyB missing rows")
  }

  // ---------------------------------------------------------- pipeline deltas

  private def pipelineDeltas(b: Bench): Unit = {
    val spark = b.spark
    val s = b.scale
    def args(input: String, work: String, probe: String, deletions: Option[String]) =
      RunPipeline.parse((Seq("--input", input, "--work", work, "--emb", "emb",
        "--probe", probe, "--require", "lang", "--max-top-word-pct", "30",
        "--cells", s.cells.toString) ++ deletions.toSeq.flatMap(d => Seq("--deletions", d))).toArray)
    def pipe(a: RunPipeline.Args): String =
      b.cli("pipeline")(RunPipeline.run(spark, a))(t => TracedCli.pipeline(spark, a, t))

    def check(d: Docs.Delta)(j: String): Seq[String] = {
      val e = d.expected
      val counts = expect(j, "input" -> e.input, "invalid" -> e.invalid,
        "exact_dups" -> e.exactDups, "near_dups" -> e.nearDups,
        "contaminated" -> e.contaminated, "low_quality" -> e.lowQuality,
        "semantic_dups" -> e.semanticDups, "output" -> e.output, "dropped_ids" -> 0L)
      val ids = spark.read.parquet(str(j, "out")).select("doc_id").collect().map(_.getLong(0))
      val survivors =
        if (ids.length == ids.toSet.size && ids.toSet == e.survivors) Nil
        else Seq(s"survivor ids differ: ${ids.toSet.diff(e.survivors).size} unexpected, " +
          s"${e.survivors.diff(ids.toSet).size} missing, ${ids.length - ids.toSet.size} repeated")
      counts ++ survivors
    }
    def sameReplay(original: String)(r: String): Seq[String] = {
      def strip(x: String) = x.replaceAll(""""stages_(loaded|computed)":\d+,""", "")
      expect(r, "stages_computed" -> 0) ++
        (if (strip(r) == strip(original)) Nil else Seq(s"replay JSON differs: $r vs $original"))
    }
    def tallyPipeline(work: String, j: String): Unit = if (b.tracing && j.nonEmpty) b.aside("bench.check") {
      b.tally("ops.stages_loaded", num(j, "stages_loaded").toDouble)
      b.tally("ops.dropped_ids", num(j, "dropped_ids").toDouble)
      b.gauge("ops.mhidx_mb", Host.bytesUnder(s"$work/mhidx") / 1e6)
      b.gauge("ops.ivfidx_mb", Host.bytesUnder(s"$work/ivfidx") / 1e6)
    }

    final case class State(docs: Docs, in: String, work: String, probe: String, submitted: Long)
    val st = b.setup {
      val docs = new Docs(b.o.seed, s.docs)
      val in = b.dir("pd-in")
      val work = b.dir("pd-work")
      import spark.implicits._
      docs.probe.toDF("pid", "ptext").coalesce(1).write.parquet(s"$in/probe")
      val d0 = docs.nextDelta(withDeletions = false)
      val bytes = docs.write(spark, d0.rows, s"$in/d0") + Host.bytesUnder(s"$in/probe")
      b.call("warm", d0.rows.size)(pipe(args(s"$in/d0", work, s"$in/probe", None)))(
        check(d0))
      State(docs, in, work, s"$in/probe", bytes)
    }

    var submitted = st.submitted
    // one step: a new delta (with a deletions pass on the first step when
    // the scale plants one), then three identical redeliveries of it; a
    // delta costs far more than a replay, so a run holds one step
    val deletionsPass = s.docs.deletions > 0
    b.timed(minSteps = 1) { i =>
      val withDeletions = deletionsPass && i == 0
      val d = st.docs.nextDelta(withDeletions)
      val input = s"${st.in}/d${d.index}"
      val del = if (withDeletions) Some(s"${st.in}/del${d.index}") else None
      val bytes = b.aside("bench.input") {
        import spark.implicits._
        del.foreach(p => d.deletionIds.toDF("doc_id").coalesce(1).write.parquet(p))
        st.docs.write(spark, d.rows, input) + del.fold(0L)(Host.bytesUnder) +
          Host.bytesUnder(st.probe)
      }
      val j = b.call("delta", d.rows.size)(pipe(args(input, st.work, st.probe, del)))(check(d))
      tallyPipeline(st.work, j)
      submitted += bytes
      // the redelivery resubmits the delta itself; the deletions pass is
      // run-once work, not part of the delta's content
      if (j.nonEmpty) for (_ <- 1 to 3) {
        val r = b.call("replay", d.rows.size)(pipe(args(input, st.work, st.probe, None)))(
          sameReplay(j))
        tallyPipeline(st.work, r)
        submitted += bytes - del.fold(0L)(Host.bytesUnder)
      }
      if (i == 0) b.stored(Host.bytesUnder(st.work).toDouble / submitted)
    }
  }
}
