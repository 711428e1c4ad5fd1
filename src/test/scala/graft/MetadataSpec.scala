package graft

import graft.checkpoint.StageStore
import graft.io.{ParquetLayout, PreChangeLayoutException}
import graft.ops.{Adaptive, DeltaPipelineReport, Dedup, IndexVersions, Similarity, TrainingPipeline}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, udf}

/** graft's small metadata (stage commit records, index params, quantizers,
  * lifecycle events) is driver-side file I/O: no Spark job, no dependence on
  * Hadoop's `_SUCCESS`, and pre-change Spark-written layouts are never
  * silently trusted. */
class MetadataSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-meta").toString
  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def doc(i: Long) = (i, (1 to 25).map(t => s"m${i}_$t").mkString(" "))
  private def delta(ids: Long*) = ids.map(doc).toDF("doc_id", "text")

  /** Spark jobs of the budget test's delta (local[4], 4 shuffle partitions):
    * its survivors resolve on the driver, and its index reads and stage id
    * sets run no job. */
  private val DeltaJobBudget = 37

  /** Spark jobs of the budget test's first delta, which also trains the
    * IVF quantizer and builds both indexes empty (an empty build runs no
    * job). */
  private val FirstDeltaJobBudget = 36

  test("tiny metadata never submits a Spark job: stage records, index epochs, MinHash params, IVF centroids") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L, 2L, 3L), "doc_id", "text", s"$w/mh", p)
    val embs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))).toDF("id", "emb")
    val cents = Similarity.ivfTrain(embs, "id", "emb", k = 2, iters = 1)
    Similarity.ivfBuildIndexWith(embs, "id", "emb", s"$w/ivf", cents)

    var loaded: Option[Map[String, Long]] = None
    var epochAfter = -1L
    val (jobs, _) = jobsDuring {
      StageStore.commit(spark, w, "stage_a", "key|with=odd \"chars\"\n", Map("n" -> 7L, "m" -> 0L))
      loaded = StageStore.load(spark, w, "stage_a", "key|with=odd \"chars\"\n")
      assert(StageStore.load(spark, w, "stage_a", "another key").isEmpty)
      IndexVersions.record(spark, s"$w/mh", 4L, "compact", 3L)
      epochAfter = IndexVersions.epoch(spark, s"$w/mh")
      assert(Dedup.minhashIndexLoad(spark, s"$w/mh")._2 === p)
      assert(Similarity.ivfLoadCentroids(spark, s"$w/ivf") === cents)
    }
    assert(jobs === 0, s"$jobs Spark job(s) moved metadata")
    assert(loaded === Some(Map("n" -> 7L, "m" -> 0L)))
    assert(epochAfter === 4L)
  }

  test("spread reads the partition count off the plan: no job for a frame behind a shuffle") {
    val small = tmp() + "/one_split"
    delta(1L, 2L, 3L).write.parquet(small)
    val agg = spark.read.parquet(small).groupBy("doc_id").count()
    var spreadAgg: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { spreadAgg = Adaptive.spread(agg) }._1 === 0)
    assert(spreadAgg.count() === 3L)
    // the contract is unchanged: a single-split scan spreads to every slot
    val target = spark.sparkContext.defaultParallelism
    assert(Adaptive.spread(spark.read.parquet(small)).rdd.getNumPartitions === target)
  }

  test("a stage committed with marksuccessfuljobs=false loads back: graft's own file is the commit point") {
    val w = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    val prior = Option(conf.get(key))
    conf.setBoolean(key, false)
    try {
      val first = TrainingPipeline.runDelta(delta(1L, 2L), "doc_id", "text", w,
        minhashThreshold = 0.8)
      assert(first.stages.forall(!_.loaded))
      val corpusDir = new Path(StageStore.dataDir(w, s"delta_${first.tag}_corpus"))
      assert(fs.exists(new Path(corpusDir, graft.io.TieredLayout.CommitMarker)))
      assert(!fs.exists(new Path(corpusDir, "_SUCCESS")), "the committer still wrote _SUCCESS")
      val again = TrainingPipeline.runDelta(delta(1L, 2L), "doc_id", "text", w,
        minhashThreshold = 0.8)
      assert(again.stages.nonEmpty && again.stages.forall(_.loaded),
        again.stages.filterNot(_.loaded).map(_.name).mkString(","))
      assert(again.report === first.report)
    } finally prior match {
      case Some(v) => conf.set(key, v)
      case None    => conf.unset(key)
    }
  }

  test("a pre-change parquet stage meta reads as uncommitted: that stage recomputes, the rest load") {
    val w = tmp()
    val first = TrainingPipeline.runDelta(delta(1L, 2L), "doc_id", "text", w,
      minhashThreshold = 0.8)
    // the earlier layout: a 1-row parquet directory at _meta/<stage>
    val quality = s"delta_${first.tag}_quality"
    fs.delete(new Path(s"$w/_meta/$quality"), true)
    Seq((quality, "any key", Map("n_kept" -> 2L))).toDF("stage", "key", "counts")
      .coalesce(1).write.parquet(s"$w/_meta/$quality")
    assert(StageStore.load(spark, w, quality, "any key").isEmpty)
    val again = TrainingPipeline.runDelta(delta(1L, 2L), "doc_id", "text", w,
      minhashThreshold = 0.8)
    assert(again.stages.filterNot(_.loaded).map(_.name) === Seq(quality))
    assert(again.report === first.report)
    // the recompute's commit replaced the directory with the one-file record
    assert(fs.getFileStatus(new Path(s"$w/_meta/$quality")).isFile)
    assert(TrainingPipeline.runDelta(delta(1L, 2L), "doc_id", "text", w,
      minhashThreshold = 0.8).stages.forall(_.loaded))
  }

  test("pre-change index sidecars are refused with a typed error naming the rebuild") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L, 2L), "doc_id", "text", s"$w/mh", p)
    fs.delete(new Path(s"$w/mh/_params"), true)
    Seq((3, 32, 8, 42L, false, 4, "BIGINT"))
      .toDF("shingle_n", "num_hashes", "bands", "seed", "portable", "num_buckets", "id_type")
      .coalesce(1).write.parquet(s"$w/mh/_params")
    val params = intercept[PreChangeLayoutException](Dedup.minhashIndexLoad(spark, s"$w/mh"))
    assert(params.getMessage.contains("minhashIndexBuild"), params.getMessage)

    val embs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "emb")
    Similarity.ivfBuildIndexWith(embs, "id", "emb", s"$w/ivf",
      Similarity.ivfTrain(embs, "id", "emb", k = 2, iters = 1))
    fs.delete(new Path(s"$w/ivf/centroids"), true)
    Seq("[[1.0,0.0],[0.0,1.0]]").toDF("centroids").coalesce(1).write.json(s"$w/ivf/centroids")
    val cents = intercept[PreChangeLayoutException](Similarity.ivfLoadCentroids(spark, s"$w/ivf"))
    assert(cents.getMessage.contains("ivfBuildIndexWith"), cents.getMessage)

    // a parquet lifecycle log cannot say which epoch the index is at
    Seq((0L, "build", 2L)).toDF("epoch", "event", "rows")
      .coalesce(1).write.mode("append").parquet(s"$w/mh/${IndexVersions.Sidecar}")
    val log = intercept[PreChangeLayoutException](IndexVersions.epoch(spark, s"$w/mh"))
    assert(log.getMessage.contains("rebuild the index"), log.getMessage)
  }

  // the job-budget fixtures: a first delta that bootstraps both indexes,
  // and a next one with one near twin, one semantic twin and one leak
  private def budgetText(i: Long, extra: String = "") =
    (1 to 30).map(t => s"w${i}_$t").mkString(" ") + extra
  private def budgetDocs(rows: Seq[(Long, String, Long)]) = // (id, text, embedding concept)
    rows.map { case (i, t, c) =>
      (i, t, Seq.tabulate(16)(j => (scala.util.hashing.MurmurHash3.productHash((c, j)) % 19 - 9).toDouble))
    }.toDF("doc_id", "text", "emb")
  private val leak = "the quick brown fox jumps over the lazy dog once more for the benchmark row"
  private def budgetProbe = Seq((900L, leak)).toDF("pid", "ptext")
  private def budgetFirst = budgetDocs((1L to 20L).map(i => (i, budgetText(i), i)))
  private def budgetNext = budgetDocs((101L to 110L).map(i => (i, budgetText(i), i)) ++ Seq(
    (121L, budgetText(3, " xq1 xq2"), 121L), // near twin of an indexed doc
    (122L, budgetText(122), 5L),             // semantic twin of an indexed doc
    (123L, leak, 123L)))                     // benchmark leak
  private def budgetDelta(w: String, d: DataFrame, probe: DataFrame) =
    TrainingPipeline.runDelta(d, "doc_id", "text", w,
      probe = Some((probe, "pid", "ptext")), embCol = Some("emb"),
      minhashThreshold = 0.8, semanticThreshold = 0.99, numCells = 4,
      ivfIters = 2, ivfSampleSize = 16)

  /** The content-fingerprint memos in a work dir. */
  private def fpMemos(w: String): Set[String] = {
    val meta = new Path(s"$w/_meta")
    if (!fs.exists(meta)) Set.empty
    else fs.listStatus(meta).map(_.getPath.getName).filter(_.startsWith("fp-")).toSet
  }

  /** `df` written as parquet under a new directory, read back as a file
    * relation: what `graft.RunPipeline` hands `runDelta`. */
  private def onDisk(df: DataFrame): String = {
    val p = s"${tmp()}/data"
    df.write.parquet(p)
    p
  }

  test("a pipeline delta against bootstrapped indexes stays within its job budget, the same count every run") {
    val (probe, first, next) = (budgetProbe, budgetFirst, budgetNext)
    // the second delta of a fresh work dir: every stage computes, against
    // the MinHash and IVF indexes the first delta bootstrapped
    def deltaJobs(): (Int, Int, DeltaPipelineReport) = {
      val w = tmp()
      def go(d: DataFrame) = budgetDelta(w, d, probe)
      val (firstJobs, _) = jobsDuring(go(first))
      var report: DeltaPipelineReport = null
      val (jobs, _) = jobsDuring { report = go(next).report }
      (firstJobs, jobs, report)
    }
    val (firstJobs, jobs, report) = deltaJobs()
    assert(report.nearDups === 1 && report.semanticDups === 1 && report.contaminated === 1,
      report.toString)
    assert(firstJobs <= FirstDeltaJobBudget,
      s"a first delta ran $firstJobs Spark jobs (budget $FirstDeltaJobBudget)")
    assert(jobs <= DeltaJobBudget, s"a delta ran $jobs Spark jobs (budget $DeltaJobBudget)")
    val (firstAgain, again, _) = deltaJobs()
    assert(firstAgain === firstJobs, "an identical first delta ran another number of jobs")
    assert(again === jobs, "an identical delta ran another number of jobs")
  }

  test("a byte-identical redelivery of a parquet delta and probe runs no Spark job inside runDelta") {
    val (first, next, probe) = (onDisk(budgetFirst), onDisk(budgetNext), onDisk(budgetProbe))
    val w = tmp()
    // each call reads the files anew, as a new submission does (reading
    // infers the schema, a job outside runDelta)
    def go(d: DataFrame) = budgetDelta(w, d, spark.read.parquet(probe))
    go(spark.read.parquet(first))
    val r = go(spark.read.parquet(next))
    assert(r.report.nearDups === 1 && r.report.semanticDups === 1 && r.report.contaminated === 1,
      r.report.toString)
    var again: graft.ops.DeltaPipelineResult = null
    val (d, p) = (spark.read.parquet(next), spark.read.parquet(probe))
    val (jobs, _) = jobsDuring { again = budgetDelta(w, d, p) }
    assert(jobs === 0, s"a redelivered delta ran $jobs Spark jobs")
    assert(again.stages.forall(_.loaded))
    assert(again.report === r.report && again.tag === r.tag)
  }

  test("a new delta against an unchanged parquet probe writes no probe memo and runs one job fewer than with an in-memory probe") {
    val (first, next, probe) = (onDisk(budgetFirst), onDisk(budgetNext), onDisk(budgetProbe))
    // the next delta's jobs and the memos it added; every frame is read
    // before the count (reading a file infers its schema, a job)
    def nextJobs(probeDf: () => DataFrame): (Int, Set[String]) = {
      val w = tmp()
      budgetDelta(w, spark.read.parquet(first), probeDf())
      val memos = fpMemos(w)
      val (d, p) = (spark.read.parquet(next), probeDf())
      val (jobs, _) = jobsDuring(budgetDelta(w, d, p))
      (jobs, fpMemos(w) -- memos)
    }
    val (onFile, fileMemos) = nextJobs(() => spark.read.parquet(probe))
    val (inMemory, memMemos) = nextJobs(() => budgetProbe)
    // the delta's own memo in both: the probe's was written by the first
    // delta, and in-memory rows have none
    assert(fileMemos.size === 1 && memMemos.size === 1)
    assert(onFile === inMemory - 1, s"parquet probe: $onFile jobs, in-memory probe: $inMemory")
  }

  test("the fingerprint memo: rewritten files and another column list recompute, a copy replays, in-memory rows, a UDF and a garbage memo scan") {
    val w = tmp()
    val rows = delta(1L to 12L: _*).withColumn("lang", lit("en"))
    val path = onDisk(rows)
    def go(d: DataFrame, extra: Seq[String] = Nil) = TrainingPipeline.runDelta(d, "doc_id", "text", w,
      minhashThreshold = 0.8, extraFingerprintCols = extra)
    def content(memo: String) = {
      val in = fs.open(new Path(s"$w/_meta/$memo"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val r = go(spark.read.parquet(path))
    val Seq(first) = fpMemos(w).toSeq
    val fp = content(first)

    // the same rows rewritten at the same path: new part files, a new
    // identity, a scan that finds the same content and replays
    rows.write.mode("overwrite").parquet(path)
    val rewritten = go(spark.read.parquet(path))
    assert(fpMemos(w).size === 2)
    assert(rewritten.tag === r.tag && rewritten.stages.forall(_.loaded))

    // another --require list fingerprints other columns: a new snapshot
    assert(go(spark.read.parquet(path), extra = Seq("lang")).tag !== r.tag)
    assert(fpMemos(w).size === 3)

    // the same bytes under another path: a new identity, replayed by its
    // fingerprint
    val copy = s"${tmp()}/copy"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(path), fs, new Path(copy), false,
      spark.sparkContext.hadoopConfiguration)
    val before = fpMemos(w)
    val copied = go(spark.read.parquet(copy))
    val Seq(copyMemo) = (fpMemos(w) -- before).toSeq
    assert(copied.tag === r.tag && copied.stages.forall(_.loaded))
    assert(content(copyMemo) === fp)

    // no identity, no memo: in-memory rows, a UDF over file rows
    val same = udf((t: String) => t)
    assert(go(rows).tag === r.tag)
    assert(go(spark.read.parquet(copy).withColumn("text", same($"text"))).tag === r.tag)
    assert(fpMemos(w).size === 4)

    // a memo that does not parse is ignored: the fold runs and rewrites it
    graft.io.MetaFile.write(fs, new Path(s"$w/_meta/$copyMemo"), "not a fingerprint")
    val (jobs, _) = jobsDuring(assert(go(spark.read.parquet(copy)).tag === r.tag))
    assert(jobs > 0)
    assert(content(copyMemo) === fp)
  }

  test("an index read lists its bucket directories on the driver: no job with a task per directory") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8) // 64 bucket directories
    Dedup.minhashIndexBuild((1L to 400L).map(doc).toDF("doc_id", "text"), "doc_id", "text",
      s"$w/mh", p)
    val dirs = fs.listStatus(new Path(s"$w/mh/bands")).count(_.getPath.getName.contains("="))
    // more than Spark's 32-path parallel-discovery threshold: spark.read
    // would list them in a job of one task per directory
    assert(dirs > 32, s"$dirs bucket directories")
    val delta = (Seq(1L) ++ (1001L to 1040L)).map(doc).map { case (i, t) => (i + 5000L, t) }
      .toDF("doc_id", "text")
    var pairs = 0L
    val jobs = jobStartsDuring {
      pairs = Dedup.deltaNearDupsIndexedAudited(delta, "doc_id", "text", s"$w/mh",
        threshold = 0.8).pairs.count()
    }
    assert(pairs === 1L) // the copy of doc 1 pairs with its indexed source
    val tasks = jobs.map(_.stageInfos.map(_.numTasks).max)
    assert(tasks.nonEmpty && tasks.forall(_ < dirs), s"tasks per job: $tasks")
  }

  test("a stage id set reads on the driver up to the cut and is refused above it from its footers") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val w = tmp()
    Seq(Some(3L), None, Some(1L), Some(2L)).toDF("doc_id").repartition(2).write.parquet(s"$w/ids")
    Seq("a", "\uD83D\uDE00").toDF("doc_id").write.parquet(s"$w/strs")
    val conf = spark.sparkContext.hadoopConfiguration
    var (ids, over, strs) = (Option.empty[Seq[Any]], Option.empty[Seq[Any]], Option.empty[Seq[Any]])
    val (jobs, _) = jobsDuring {
      ids = ParquetLayout.readIds(conf, new Path(s"$w/ids"), LongType, 4)
      over = ParquetLayout.readIds(conf, new Path(s"$w/ids"), LongType, 3) // 4 rows, one null
      strs = ParquetLayout.readIds(conf, new Path(s"$w/strs"), StringType, 4)
    }
    assert(jobs === 0)
    assert(ids.map(_.sortBy(_.toString)) === Some(Seq(1L, 2L, 3L)))
    assert(over === None)
    assert(strs.map(_.toSet) === Some(Set("a", "\uD83D\uDE00")))
  }

  /** Data files under `dir` (hidden names skipped, `_runs/` included). */
  private def files(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Set.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .map(_.toString).toSet
  }

  test("an index append adds at most one file per write task to each layout, and none to its base") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8) // 64 buckets
    Dedup.minhashIndexBuild((1L to 200L).map(doc).toDF("doc_id", "text"), "doc_id", "text",
      s"$w/mh", p)
    val embs = (1 to 40).map(i => (i.toLong, Seq((i % 5).toFloat, (i % 3).toFloat, 1f)))
    Similarity.ivfBuildIndexWith(embs.toDF("id", "emb"), "id", "emb", s"$w/ivf",
      Similarity.ivfTrain(embs.toDF("id", "emb"), "id", "emb", k = 8, iters = 1))
    val layouts = Seq(s"$w/mh/sigs", s"$w/mh/bands", s"$w/ivf/cells")
    val before = layouts.map(d => d -> files(d)).toMap
    val tasks = 3
    // `tasks` write tasks per append: an explicit partition count AQE keeps
    Dedup.minhashIndexAppend((301L to 360L).map(doc).toDF("doc_id", "text").repartition(tasks),
      "doc_id", "text", s"$w/mh", "a1")
    Similarity.ivfIndexAppend((41 to 70).map(i => (i.toLong, Seq(1f, (i % 4).toFloat, 0f)))
      .toDF("id", "emb").repartition(tasks), "id", "emb", s"$w/ivf", "a1")
    layouts.foreach { d =>
      val added = files(d) -- before(d)
      assert(added.nonEmpty && added.size <= tasks, s"$d: ${added.size} files for $tasks tasks")
      assert(added.forall(_.contains(s"/${graft.io.TieredLayout.RunsDir}/")), s"$d: $added")
      assert(before(d).subsetOf(files(d)), s"$d: the append rewrote base files")
    }
    assert(Dedup.minhashIndexLoad(spark, s"$w/mh")._1.count() === 260L)
    assert(Similarity.ivfIndexLoad(spark, s"$w/ivf").count() === 70L)
  }

  test("the run tier stays within its bound across 3 x numBuckets appends") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L, 2L, 3L), "doc_id", "text", s"$w/mh", p)
    val layouts = Seq(graft.io.TieredLayout(s"$w/mh/sigs", "id_bucket", "id"),
      graft.io.TieredLayout(s"$w/mh/bands", "band_bucket", "band_hash"))
    var folded = false
    for (k <- 1 to 3 * p.numBuckets) {
      Dedup.minhashIndexAppend(delta(100L + 2 * k, 101L + 2 * k), "doc_id", "text", s"$w/mh",
        s"a$k")
      layouts.foreach { l =>
        val tier = l.runs(spark).size
        assert(tier <= p.numBuckets, s"${l.dir}: $tier runs after append $k")
        folded ||= tier == 1 && k > 1
      }
      assert(Dedup.minhashIndexLoad(spark, s"$w/mh")._1.count() === 3L + 2 * k)
    }
    assert(folded, "no append folded the tier")
    // the folded index still finds a copy of an appended doc
    val copy = delta(110L).select(($"doc_id" + 1000).as("doc_id"), $"text")
    assert(Dedup.deltaNearDupsIndexedAudited(copy, "doc_id", "text", s"$w/mh", threshold = 0.8)
      .pairs.select("id_a").as[Long].collect().toSeq === Seq(110L))
  }

  test("a redelivered index append writes nothing: lost append records, a lost band run, a killed write's hidden run") {
    def text(i: Long, extra: String = "") = (1 to 30).map(t => s"r${i}_$t").mkString(" ") + extra
    def emb(c: Long): Seq[Double] = Seq.tabulate(16) { j =>
      (scala.util.hashing.MurmurHash3.productHash((c, j)) % 19 - 9).toDouble
    }
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, emb(i)) }.toDF("doc_id", "text", "emb")
    val w = tmp()
    def go(d: DataFrame) = TrainingPipeline.runDelta(d, "doc_id", "text", w,
      embCol = Some("emb"), minhashThreshold = 0.8, semanticThreshold = 0.99, numCells = 4,
      ivfIters = 2, ivfSampleSize = 16)
    val r0 = go(docs((1L to 20L).map(i => i -> text(i))))
    val next = docs((101L to 110L).map(i => i -> text(i)) :+ (121L -> text(3, " xq1 xq2")))
    val r = go(next)
    assert(r.report.nearDups === 1 && r.report.output === 10L, r.report.toString)
    val bands = graft.io.TieredLayout(s"$w/mhidx/bands", "band_bucket", "band_hash")
    val bandsSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, band_idx INT, band_hash BIGINT, band_bucket INT")
    // (sig rows, distinct sig ids, band rows, IVF rows)
    def counts() = {
      val sigs = Dedup.minhashIndexLoad(spark, s"$w/mhidx")._1
      (sigs.count(), sigs.select("id").distinct().count(),
        bands.read(spark, bandsSchema, None).count(), Similarity.ivfIndexLoad(spark, s"$w/ivfidx").count())
    }
    val clean = counts()
    assert(clean._1 === clean._2)
    val run = s"delta_${r.tag}_mhappend"
    def forget(stages: String*): Unit =
      stages.foreach(n => assert(fs.delete(new Path(s"$w/_meta/delta_${r.tag}_$n"), true), n))
    def recomputed(res: graft.ops.DeltaPipelineResult) =
      res.stages.filterNot(_.loaded).map(_.name.split("_").last).toSet

    // both append records lost after their runs committed: the resubmission
    // recomputes both appends, which find their runs and write nothing
    forget("mhappend", "semappend")
    assert(recomputed(go(next)) === Set("mhappend", "semappend"))
    assert(counts() === clean)

    // a kill between the sig run and the band run: the band rows come back
    // once, derived from the committed sig run, and the sig rows do not double
    assert(fs.delete(new Path(s"$w/mhidx/bands/_runs/$run"), true))
    forget("mhappend")
    assert(counts()._3 === clean._3 - 10L * Dedup.MinhashIndexParams().bands)
    assert(recomputed(go(next)) === Set("mhappend"))
    assert(counts() === clean)

    // a write killed before its rename left the sig run under its hidden
    // name: it is not read, and the redelivered append commits the run
    val sigRuns = new Path(s"$w/mhidx/sigs/_runs")
    assert(fs.rename(new Path(sigRuns, run), new Path(sigRuns, s"_tmp_$run")))
    assert(fs.delete(new Path(s"$w/mhidx/bands/_runs/$run"), true))
    forget("mhappend")
    assert(counts()._1 === clean._1 - 10L)
    assert(!graft.io.TieredLayout(s"$w/mhidx/sigs", "id_bucket", "id").runs(spark)
      .exists(_._1.getName.contains(run)))
    assert(recomputed(go(next)) === Set("mhappend"))
    assert(counts() === clean)
    assert(!fs.exists(new Path(sigRuns, s"_tmp_$run")))

    // each index logs one append event per committed run, however often
    // the append was redelivered
    def appendEvents(index: String) =
      fs.listStatus(new Path(s"$w/$index/${IndexVersions.Sidecar}")).map(_.getPath.getName)
        .filter(_.contains("-append-")).toSet
    def events(stage: String) = Set(r0.tag, r.tag).map(t => s"e0-append-delta_${t}_$stage.json")
    assert(appendEvents("mhidx") === events("mhappend"))
    assert(appendEvents("ivfidx") === events("semappend"))
  }

  test("a fold reads the runs as the index's own types: Int ids and float vectors folded into Long and double indexes") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L, 2L, 3L), "doc_id", "text", s"$w/mh", p)
    val embs = (1 to 12).map(i => (i.toLong, Seq((i % 3).toDouble, (i % 2).toDouble, 1.0)))
    Similarity.ivfBuildIndexWith(embs.toDF("id", "emb"), "id", "emb", s"$w/ivf",
      Similarity.ivfTrain(embs.toDF("id", "emb"), "id", "emb", k = 4, iters = 1))
    // one append past the bucket count: the last one folds a tier of
    // narrower runs (written by the earlier appends) into the base
    for (k <- 1 to p.numBuckets + 1) {
      Dedup.minhashIndexAppend(Seq(doc(100L + k)).map { case (i, t) => (i.toInt, t) }
        .toDF("doc_id", "text"), "doc_id", "text", s"$w/mh", s"a$k")
      Similarity.ivfIndexAppend(Seq((100 + k, Seq(1f, (k % 2).toFloat, 0f))).toDF("id", "emb"),
        "id", "emb", s"$w/ivf", s"a$k")
    }
    val sigs = Dedup.minhashIndexLoad(spark, s"$w/mh")._1
    assert(sigs.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(sigs.select("id").as[Long].collect().toSet ===
      (Set(1L, 2L, 3L) ++ (1 to p.numBuckets + 1).map(100L + _)))
    val cells = Similarity.ivfIndexLoad(spark, s"$w/ivf")
    assert(cells.count() === 12L + p.numBuckets + 1)
    // the folded index still finds a copy of a folded doc
    val copy = delta(102L).select(($"doc_id" + 1000).as("doc_id"), $"text")
    assert(Dedup.deltaNearDupsIndexedAudited(copy, "doc_id", "text", s"$w/mh", threshold = 0.8)
      .pairs.select("id_a").as[Long].collect().toSeq === Seq(102L))
  }

  test("a first delta with no candidate bucket resolves its drop audit at once, without the warning") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L).limit(0), "doc_id", "text", s"$w/mh", p)
    val audited = Dedup.deltaNearDupsIndexedAudited(delta(1L, 2L, 3L), "doc_id", "text",
      s"$w/mh", threshold = 0.8)
    assert(audited.pairs.count() === 0L)
    val err = new java.io.ByteArrayOutputStream()
    val prior = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val t0 = System.nanoTime()
    val drops = try (audited.droppedBuckets, audited.droppedIds) finally System.setErr(prior)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(drops === ((0L, 0L)))
    assert(!err.toString.contains("not delivered"), err.toString)
    assert(seconds < 1.5, s"the audit took $seconds s")
  }
}
