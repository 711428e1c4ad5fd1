package graft.perfbench

import graft.{RunPipeline, RunValidation}
import graft.checkpoint.CheckpointedRunner
import graft.ops.TrainingPipeline
import graft.run.Validator
import graft.suite.{Checks, CodeTable}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The two CLI cores replayed call by call through the same public API they
  * use, each call inside a span: `RunValidation.run` and `RunPipeline.run`
  * for the argument shapes this benchmark submits (no bucketed suite
  * staging). They return the same summary JSON as the CLIs, so the traced
  * run's outputs pass the same checks as the untraced run's.
  *
  * The replay is a copy, so it is tied to the CLI sources it was copied
  * from: `CliSources` holds their SHA-256, and a traced run whose checkout
  * differs fails (`drift`). Whoever changes either CLI core updates the
  * replay below to match and then the hash. */
object TracedCli {

  /** SHA-256 of the CLI sources this replay follows, relative to the
    * checkout root. */
  val CliSources: Seq[(String, String)] = Seq(
    "src/main/scala/graft/RunValidation.scala" ->
      "5fec28846a4e1d24e10e68e0d18a49927a0d1a8cd6df1dc43c9e422722ca2289",
    "src/main/scala/graft/RunPipeline.scala" ->
      "636a21d2438d52198e75da2f8b6b7d9d6da899c9249dbdc16904b6afe6ed9313")

  /** One problem per CLI source that no longer matches its recorded hash. */
  def drift(): Seq[String] = CliSources.flatMap { case (path, want) =>
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p)) Some(s"$path missing")
    else {
      val got = java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(p)).map(b => f"${b & 0xff}%02x").mkString
      if (got == want) None
      else Some(s"$path changed (sha256 $got, replay follows $want): update TracedCli")
    }
  }

  private val keys = Seq("repo", "path")
  private val sortCols = Seq("repo", "path", "constraint_id")

  def validate(spark: SparkSession, a: RunValidation.Args, t: Tracer): String = {
    require(a.bucketedTable.isEmpty, "the traced replay covers unbucketed staging only")
    val staging = s"${a.work}/staging"
    val manifest = s"${a.work}/manifest"
    val outDir = s"${a.work}/violations"
    val fs = new Path(staging).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketMeta = new Path(staging, RunValidation.BucketCountFile)

    t.span("checkpoint.stage") {
      if (!a.incremental && fs.exists(new Path(manifest))) {
        val fingerprinted = spark.read.schema(CheckpointedRunner.manifestSchema)
          .parquet(manifest)
          .filter(col("status") === "done" && col("fingerprint").isNotNull)
          .limit(1).count()
        require(fingerprinted == 0L, s"manifest at $manifest has fingerprinted rows")
      }
      def stagedBuckets(): Option[Int] =
        if (!fs.exists(bucketMeta)) None
        else {
          val in = fs.open(bucketMeta)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
          finally in.close()
        }
      if (a.restage && fs.exists(new Path(manifest))) {
        stagedBuckets().foreach(old => require(old == a.buckets,
          s"--restage with --buckets ${a.buckets} over a manifest built for $old buckets"))
        require(a.incremental, "--restage over an existing manifest requires --incremental")
      }
      if (a.restage || !fs.exists(new Path(staging))) {
        val in = spark.read.parquet(a.input)
        val withSha =
          if (in.columns.contains("content_sha256")) in
          else in.withColumn("content_sha256", sha2(col("content"), 256))
        val rowHash =
          if (a.incremental)
            Some(xxhash64((keys ++ Seq("commit", "lang", "content_sha256")).map(col): _*))
          else None
        CheckpointedRunner.stage(withSha, keys, a.buckets, staging, rowHash)
        val out = fs.create(bucketMeta, true)
        try out.write(s"${a.buckets}\n".getBytes("UTF-8")) finally out.close()
      }
      stagedBuckets().foreach(staged =>
        require(staged == a.buckets, s"staged with $staged buckets, run with ${a.buckets}"))
    }

    def process(in: DataFrame): DataFrame =
      Validator.validate(CodeTable.codeSchema,
        in.withColumn("sha_fixture", col("content_sha256"))).violations
    val runId = s"run-${java.util.UUID.randomUUID().toString.take(8)}"
    val processed =
      if (a.incremental) t.span("checkpoint.incremental_run") {
        CheckpointedRunner.incrementalRun(spark, staging, manifest, outDir,
          a.buckets, process, sortCols, runId, keys)
      } else t.span("checkpoint.run") {
        CheckpointedRunner.run(spark, staging, manifest, outDir,
          a.buckets, process, sortCols, runId, keys)
      }

    val staged = spark.read.parquet(staging)
    val extras = scala.collection.mutable.ListBuffer.empty[String]
    if (a.profileCols.nonEmpty) t.span("suite.profile") {
      val prof = Checks.profile(staged, a.profileCols).collect()
        .map(r => s""""${r.getString(0)}":{"rows":${r.getLong(1)},"nulls":${r.getLong(2)},"distinct":${r.getLong(3)}}""")
      extras += s""""profile":{${prof.mkString(",")}}"""
    }
    if (a.uniqueKeys.nonEmpty) t.span("suite.uniqueness") {
      extras += s""""duplicate_keys":${Checks.uniqueness(staged, a.uniqueKeys).count()}"""
    }
    a.fd.foreach { case (dets, dep) =>
      t.span("suite.fd") {
        val fdAgg = Checks.functionalDependencyViolations(staged, dets, dep)
          .agg(count(lit(1)).as("groups"),
            coalesce(sum(col("minority_rows")), lit(0L)).as("minority"))
          .collect().head
        extras += s""""fd_violating_groups":${fdAgg.getLong(0)},"fd_minority_rows":${fdAgg.getLong(1)}"""
      }
    }
    a.dim.foreach { d =>
      t.span("suite.referential") {
        val dangling = Checks.referentialViolations(
          staged, Seq("commit"), spark.read.parquet(d), Seq("commit"),
          broadcastDim = true, keyCols = keys).count()
        extras += s""""dangling_refs":$dangling"""
      }
    }

    t.span("checkpoint.summary") {
      val done = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(manifest)
        .filter(col("status") === "done").select("bucket").distinct().count()
      val viols = try spark.read.parquet(outDir).count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      s"""{"run_id":"$runId","processed_buckets":${processed.size},""" +
        s""""done_buckets":$done,"total_buckets":${a.buckets},""" +
        s""""violations":$viols,"incremental":${a.incremental}""" +
        (if (extras.nonEmpty) extras.mkString(",", ",", "") else "") + "}"
    }
  }

  /** `RunPipeline.run`, with `TrainingPipeline.runDelta`'s `onStageComputed`
    * hook cutting the call into one span per computed stage. A segment ends
    * when its stage commits, so it also holds any loaded stages and driver
    * work before it; the segment after the last computed stage (all of a
    * replay) is `ops.load`. */
  def pipeline(spark: SparkSession, a: RunPipeline.Args, t: Tracer): String = {
    require(a.out.isEmpty && a.packBudget.isEmpty, "the traced replay covers the default output")
    val delta = spark.read.parquet(a.input)
    val probe = a.probe.map(p => (spark.read.parquet(p), a.probeId, a.probeText))
    val deletions = a.deletions.map(d => spark.read.parquet(d).select(col(a.id)))
    a.require_.foreach { c =>
      val f = delta.schema.fields.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(s"--require column '$c' missing"))
      require(f.dataType == org.apache.spark.sql.types.StringType,
        s"--require column '$c' is ${f.dataType.simpleString}, not string")
    }
    val schema = if (a.require_.isEmpty) None else Some(graft.dsl.SchemaSpec(
      "delta", a.require_.map(c => graft.dsl.Field.string(c).req),
      keyColumns = Seq(a.id)))

    var seg = t.begin("ops.pending")
    def cut(stage: String): Unit = {
      seg.name = "ops." + stage.substring(stage.lastIndexOf('_') + 1)
      t.end(seg)
      seg = t.begin("ops.pending")
    }
    val result =
      try TrainingPipeline.runDelta(
        delta, a.id, a.text, a.work,
        schema = schema,
        paramsKey = if (a.require_.isEmpty) "" else s"require=${a.require_.mkString(",")}",
        extraFingerprintCols = a.require_,
        probe = probe, embCol = a.emb, deletions = deletions,
        minhashThreshold = a.minhashThreshold,
        minQualityScore = a.minQuality, maxTopWordPct = a.maxTopWordPct,
        semanticThreshold = a.semanticThreshold, numCells = a.cells,
        usePqCodes = a.usePq, pqM = a.pqM, pqKSub = a.pqKSub,
        pqAdcMargin = a.pqMargin,
        splits = a.splits, packBudget = a.packBudget,
        onStageComputed = cut)
      finally { seg.name = "ops.load"; t.end(seg) }

    t.span("pipeline.write") {
      val outDir = s"${a.work}/out/delta_${result.tag}"
      result.corpus.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy("split").parquet(outDir)
      val r = result.report
      val loaded = result.stages.count(_.loaded)
      s"""{"input":${r.input},"invalid":${r.invalid},"exact_dups":${r.exactDups},""" +
        s""""near_dups":${r.nearDups},"contaminated":${r.contaminated},""" +
        s""""low_quality":${r.lowQuality},"semantic_dups":${r.semanticDups},""" +
        s""""output":${r.output},"dropped_buckets":${r.nearDupDroppedBuckets},""" +
        s""""dropped_ids":${r.nearDupDroppedIds},""" +
        s""""stages_loaded":$loaded,"stages_computed":${result.stages.size - loaded},""" +
        s""""out":"$outDir"}"""
    }
  }
}
