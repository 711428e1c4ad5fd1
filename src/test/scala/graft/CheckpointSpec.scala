package graft

import graft.checkpoint.CheckpointedRunner
import graft.run.Validator
import graft.suite.CodeTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** N9: kill-and-resume yields identical final outputs; manifest records
  * per-bucket lineage + metrics; completed buckets are never re-read.
  */
class CheckpointSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-ckpt").toString

  private val numBuckets = 8

  private def process(in: DataFrame): DataFrame =
    Validator.validate(CodeTable.codeSchema,
      in.withColumn("sha_fixture", col("content_sha256"))).violations

  private val keys = Seq("repo", "path")
  private val sortCols = Seq("repo", "path", "constraint_id")
  /** The caller fingerprint RunValidation stages with: it skips `id`. */
  private val narrowHash =
    Some(xxhash64((keys ++ Seq("commit", "lang", "content_sha256")).map(col): _*))
  private def bucketOf = CheckpointedRunner.bucketExpr(keys, numBuckets)

  /** The staging commit record's raw JSON text. */
  private def recordText(staging: String): String = new String(Files.readAllBytes(
    java.nio.file.Paths.get(staging, CheckpointedRunner.StagingRecord)), "UTF-8")

  /** Buckets listed in the staging commit record (a driver-side JSON file). */
  private def stagingRecordBuckets(staging: String): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    graft.io.MetaFile.json.readTree(recordText(staging)).get("buckets").elements().asScala
      .map(_.get(0).intValue()).toSeq
  }

  /** Every file under `dir` (relative path -> modification time). */
  private def listing(dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis).toMap
    finally walk.close()
  }

  /** Data files under `dir`, by bucket directory. */
  private def dataFiles(dir: String): Map[String, Set[String]] =
    listing(dir).keys.filter(_.endsWith(".parquet")).toSeq
      .groupBy(_.takeWhile(_ != '/')).view.mapValues(_.toSet).toMap

  /** The record's input identity, None when it carries none. */
  private def recordInput(staging: String): Option[String] =
    Option(graft.io.MetaFile.json.readTree(recordText(staging)).get("input"))
      .filter(_.isTextual).map(_.asText())

  /** A generated code table written as parquet in `files` files, read back. */
  private def parquetInput(root: String, rows: Long, files: Int): String = {
    val dir = s"$root/input"
    CodeTable.generate(spark, rows).repartition(files).write.parquet(dir)
    dir
  }

  /** `from`'s rows with bucket `b`'s content edited, written as parquet at
    * `root/name`. */
  private def editedInput(root: String, name: String, from: String, b: Int): String = {
    val dir = s"$root/$name"
    spark.read.parquet(from)
      .withColumn("content",
        when(bucketOf === b, concat(col("content"), lit(s" $name"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
      .write.parquet(dir)
    dir
  }

  /** Bucket directories whose files differ between two listings. */
  private def touchedDirs(before: Map[String, Long], after: Map[String, Long]): Set[String] =
    (before.keySet ++ after.keySet).filter(f => before.get(f) != after.get(f))
      .map(_.takeWhile(_ != '/')).filter(_.startsWith("bucket="))

  /** Asserts the staged table at `staging` equals a static full restage of
    * `snapshot`. */
  private def sameAsFullRestage(staging: String, snapshot: DataFrame): Unit = {
    val full = s"${tmp()}/full"
    CheckpointedRunner.stage(snapshot, keys, numBuckets, full)
    val (a, b) = (spark.read.parquet(staging), spark.read.parquet(full))
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("kill after k buckets, resume processes exactly the complement; outputs identical") {
    val root = tmp()
    val staging = s"$root/staging"; val out1 = s"$root/out1"; val m1 = s"$root/m1"
    val df = CodeTable.generate(spark, 5000)
    CheckpointedRunner.stage(df, Seq("repo", "path"), numBuckets, staging)

    // full run in one go
    val all = CheckpointedRunner.run(spark, staging, m1, out1, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-a", keyCols = Seq("repo", "path"))
    assert(all === (0 until numBuckets))

    // interrupted run: only 3 buckets, then resume
    val out2 = s"$root/out2"; val m2 = s"$root/m2"
    val first = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b", keyCols = Seq("repo", "path"), maxBuckets = 3)
    assert(first === Seq(0, 1, 2))
    val resumed = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b2", keyCols = Seq("repo", "path"))
    assert(resumed === (3 until numBuckets))

    // identical final content
    val a = spark.read.parquet(out1)
    val b = spark.read.parquet(out2)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)

    // third invocation: nothing pending, nothing reprocessed
    val again = CheckpointedRunner.run(spark, staging, m2, out2, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "run-b3", keyCols = Seq("repo", "path"))
    assert(again.isEmpty)

    // manifest carries lineage + metrics
    val manifest = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m2)
    assert(manifest.count() === numBuckets)
    val row = manifest.filter(col("bucket") === 0).collect().head
    assert(row.getAs[String]("input_path") === staging)
    assert(row.getAs[Long]("rows") > 0)
    assert(row.getAs[String]("status") === "done")
  }

  test("multi-bucket run is ONE write job plus one rows aggregate, not one per bucket") {
    // the round-1 runner launched 4 jobs PER bucket (process, count, write,
    // rescan) with coalesce(1) writes — serial and single-task at 100 TB scale
    val root = tmp()
    val staging = s"$root/staging"
    CheckpointedRunner.stage(CodeTable.generate(spark, 4000), Seq("repo", "path"), numBuckets, staging)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CheckpointedRunner.run(spark, staging, s"$root/m", s"$root/out", numBuckets,
        process, Seq("repo", "path", "constraint_id"), runId = "one-job",
        keyCols = Seq("repo", "path"))
      Thread.sleep(500) // let queued listener events drain
      // the write and the rows-per-bucket aggregate, each with its AQE
      // shuffle-map job: 4, NOT proportional to the 8 buckets (the round-1
      // loop launched ~4 jobs x 8 buckets = 32). The staged schema comes
      // from a staged file's footer (a plain stage keeps no record), the
      // sink counts from the sink's footers and the manifest is written on
      // the driver: none of them is a job.
      assert(jobs.get() <= 4, s"expected a bounded job count, got ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("process() that re-maps key values fails fast — never overwrites a completed bucket") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 2000), Seq("repo", "path"), numBuckets, staging)
    // complete buckets 0..2
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "good", keyCols = Seq("repo", "path"),
      maxBuckets = 3)
    val committed = spark.read.parquet(out).count()
    // a broken process() that rewrites the key: rows hash to arbitrary (often
    // completed) buckets — the run must fail BEFORE the write commits
    val broken: DataFrame => DataFrame =
      in => process(in).withColumn("path", concat(lit("REMAPPED/"), col("path")))
    val ex = intercept[Exception] {
      CheckpointedRunner.run(spark, staging, m, out, numBuckets,
        broken, Seq("repo", "path", "constraint_id"), runId = "bad", keyCols = Seq("repo", "path"))
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("non-pending bucket")), msgs.mkString(" | "))
    // committed output intact, manifest unchanged (still 3 buckets done)
    assert(spark.read.parquet(out).count() === committed)
    assert(CheckpointedRunner.completedBuckets(spark, m) === Set(0, 1, 2))
  }

  test("incremental revalidation: exactly the content-changed buckets re-run; removed buckets cleaned; final output equals from-scratch") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val sortCols = Seq("repo", "path", "constraint_id")
    val keys = Seq("repo", "path")
    val df = CodeTable.generate(spark, 3000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging)

    val first = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-a", keyCols = keys)
    assert(first === (0 until numBuckets)) // cold start: everything pending
    // identical content => second invocation is a no-op (content-addressed)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-b", keyCols = keys).isEmpty)

    // snapshot 2: edit the content of ~1/7 of rows (sha fixture updated with
    // it), and remove EVERY row of one bucket entirely
    val bucketOf = CheckpointedRunner.bucketExpr(keys, numBuckets)
    val removedBucket = 5
    val df2 = df
      .withColumn("content",
        when(xxhash64(col("repo"), col("path")) % 7 === 0, concat(col("content"), lit(" EDITED")))
          .otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
      .filter(bucketOf =!= removedBucket)
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)

    val expectChanged = df2
      .filter(xxhash64(col("repo"), col("path")) % 7 === 0)
      .select(bucketOf.as("b")).distinct()
      .collect().map(_.getInt(0)).toSet
    val second = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-c", keyCols = keys)
    assert(second.toSet === expectChanged, s"pending=$second expected=$expectChanged")
    assert(!second.contains(removedBucket))
    // removed bucket's stale output partition was deleted
    assert(!new java.io.File(s"$out/bucket=$removedBucket").exists())

    // the incremental final state equals a from-scratch run over snapshot 2
    val outFull = s"$root/outFull"
    CheckpointedRunner.run(spark, staging, s"$root/mFull", outFull, numBuckets,
      process, sortCols, runId = "full", keyCols = keys)
    val a = spark.read.parquet(out); val b = spark.read.parquet(outFull)
    assert(a.count() === b.count())
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)

    // and a third incremental invocation over the same snapshot is a no-op
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "inc-d", keyCols = keys).isEmpty)

    // manifest: fingerprints recorded for incremental rows; append-only log
    val manifest = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m)
    assert(manifest.filter(col("fingerprint").isNotNull).count() >= numBuckets)
    assert(manifest.filter(col("bucket") === removedBucket && col("rows") === 0).count() === 1)
  }

  test("re-validated bucket whose new output is EMPTY loses its stale violations") {
    // dynamic partition overwrite only replaces partitions that receive rows;
    // the runner must pre-delete pending buckets' old output partitions or a
    // bucket whose violations were all fixed keeps them forever
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val keys = Seq("repo", "path")
    val sortCols = Seq("repo", "path")
    val proc: DataFrame => DataFrame =
      in => in.filter(col("lang") === "klingon").select("repo", "path", "lang")
    val df = CodeTable.generate(spark, 2000) // id%89 rows carry lang=klingon
    CheckpointedRunner.stage(df, keys, numBuckets, staging)
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, sortCols, runId = "e-a", keyCols = keys)
    val before = spark.read.parquet(out).count()
    assert(before > 0)
    // snapshot 2: fix EVERY violation (no klingon rows anywhere)
    val df2 = df.withColumn("lang",
      when(col("lang") === "klingon", lit("python")).otherwise(col("lang")))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)
    val second = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, sortCols, runId = "e-b", keyCols = keys)
    assert(second.nonEmpty) // the klingon buckets' content changed
    // stale violations gone: the incremental final state equals from-scratch
    val p = new org.apache.hadoop.fs.Path(out)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val remaining =
      if (!fs.exists(p)) 0L
      else try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
    assert(remaining === 0L, s"stale violation rows remain: $remaining")
  }

  test("fingerprint sidecar: stage-time stats drive selection; identical pending set; wiped on plain re-stage") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val sortCols = Seq("repo", "path", "constraint_id")
    val keys = Seq("repo", "path")
    val df = CodeTable.generate(spark, 2000)
    val rh = Some(xxhash64(col("repo"), col("path"), col("commit"), col("content_sha256")))
    CheckpointedRunner.stage(df, keys, numBuckets, staging, rh)
    // record exists: one entry per occupied bucket, hidden from data reads
    val occupied = spark.read.parquet(staging).select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(stagingRecordBuckets(staging).sorted === occupied)
    assert(!spark.read.parquet(staging).columns.contains("num_buckets"))
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-a", keyCols = keys) === (0 until numBuckets))
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-b", keyCols = keys).isEmpty)
    // change one key's content; the record-selected pending set matches the
    // direct fingerprint computation over the new staged data
    val df2 = df.withColumn("content",
        when(col("id") % 13 === 0, concat(col("content"), lit("!"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, rh)
    val expect = df2.filter(col("id") % 13 === 0)
      .select(CheckpointedRunner.bucketExpr(keys, numBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val got = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "sc-c", keyCols = keys)
    assert(got.toSet === expect)
    // a plain (no-rowHash) re-stage wipes the record — it can never go stale
    CheckpointedRunner.stage(df2, keys, numBuckets, staging)
    assert(!new java.io.File(s"$staging/${CheckpointedRunner.StagingRecord}").exists())
  }

  test("run history: one lineage+metrics row per invocation over the append-only manifest") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1500), Seq("repo", "path"), numBuckets, staging)
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "h-1",
      keyCols = Seq("repo", "path"), maxBuckets = 3)
    CheckpointedRunner.run(spark, staging, m, out, numBuckets,
      process, Seq("repo", "path", "constraint_id"), runId = "h-2",
      keyCols = Seq("repo", "path"))
    val h = CheckpointedRunner.runHistory(spark, m)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h.keySet === Set("h-1", "h-2"))
    assert(h("h-1")._1 === 3L && h("h-2")._1 === (numBuckets - 3).toLong)
    assert(h.values.map(_._2).sum === spark.read.parquet(staging).count())
  }

  test("snapshot diff: added/removed/changed buckets; unchanged buckets emit no row") {
    val prev = CodeTable.generate(spark, 800)
    val bucketOf = CheckpointedRunner.bucketExpr(Seq("repo", "path"), numBuckets)
    val cur = prev
      .filter(bucketOf =!= 2) // bucket 2 removed
      .withColumn("content",
        when(bucketOf === 4, concat(col("content"), lit("x"))).otherwise(col("content")))
    val d = CheckpointedRunner.snapshotDiff(cur, prev, Seq("repo", "path"), numBuckets)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(d(2) === "removed")
    assert(d(4) === "changed")
    assert(d.size === 2, d.toString) // every other bucket: no row
    // a pure row-order change is NOT a change (order-independent fingerprint)
    val shuffled = prev.orderBy(rand(7))
    assert(CheckpointedRunner.snapshotDiff(shuffled, prev, Seq("repo", "path"), numBuckets)
      .collect().isEmpty)
  }

  test("staged layout partition-prunes: per-bucket read touches one directory") {
    val root = tmp()
    val staging = s"$root/staging"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1000), Seq("repo", "path"), numBuckets, staging)
    val one = spark.read.parquet(staging).filter(col("bucket") === 3)
    val plan = one.queryExecution.executedPlan.toString
    // PartitionFilters prune to bucket=3 (no full scan on resume)
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    val total = spark.read.parquet(staging).count()
    assert(one.count() < total)
  }

  test("identical restage writes nothing; the replay's selection runs no job") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val df = CodeTable.generate(spark, 2000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "id-a", keyCols = keys) === (0 until numBuckets))
    val before = listing(staging)
    val (jobs, queries) = jobsDuring {
      CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    }
    // one query: the input aggregate (AQE runs its shuffle map stage as a
    // job of its own) — no write, no read-back, no schema inference
    assert(queries === 1 && jobs <= 2, s"$jobs job(s) in $queries query execution(s)")
    assert(listing(staging) === before)
    var pending = Seq.empty[Int]
    val (runJobs, _) = jobsDuring {
      pending = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
        process, sortCols, runId = "id-b", keyCols = keys)
    }
    assert(pending.isEmpty)
    // the record, the manifest and the output listing are all read on the
    // driver
    assert(runJobs === 0, s"replay selection ran $runJobs job(s)")
  }

  test("change-only restage: a changed bucket rewrites only its directory, a removed one is deleted; staged table equals a full restage") {
    val root = tmp()
    val staging = s"$root/staging"
    val df = CodeTable.generate(spark, 2000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    // content edit inside bucket 3: the caller fingerprint moves with it
    val df2 = df.withColumn("content",
        when(bucketOf === 3, concat(col("content"), lit(" v2"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    val before2 = listing(staging)
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    assert(touchedDirs(before2, listing(staging)) === Set("bucket=3"))
    sameAsFullRestage(staging, df2)
    // an edit only to `id`, a column the caller fingerprint skips: the
    // layout fingerprint covers every staged column, so bucket 6 is rewritten
    val df3 = df2.withColumn("id", when(bucketOf === 6, col("id") + 100000L).otherwise(col("id")))
    val before3 = listing(staging)
    CheckpointedRunner.stage(df3, keys, numBuckets, staging, narrowHash)
    assert(touchedDirs(before3, listing(staging)) === Set("bucket=6"))
    sameAsFullRestage(staging, df3)
    // every row of bucket 5 gone: its directory is deleted, nothing rewritten
    val df4 = df3.filter(bucketOf =!= 5)
    val before4 = listing(staging)
    CheckpointedRunner.stage(df4, keys, numBuckets, staging, narrowHash)
    assert(!new java.io.File(s"$staging/bucket=5").exists())
    assert(touchedDirs(before4, listing(staging)) === Set("bucket=5"))
    assert(!stagingRecordBuckets(staging).contains(5))
    sameAsFullRestage(staging, df4)
  }

  test("an added column or a different bucket count restages fully") {
    val root = tmp()
    val staging = s"$root/staging"
    val df = CodeTable.generate(spark, 1500)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    val first = dataFiles(staging)
    val wider = df.withColumn("license", lit("mit"))
    CheckpointedRunner.stage(wider, keys, numBuckets, staging, narrowHash)
    val second = dataFiles(staging)
    assert(second.keySet === first.keySet)
    assert(second.values.flatten.toSet.intersect(first.values.flatten.toSet).isEmpty,
      "a file of the narrower layout survived the schema change")
    assert(spark.read.parquet(staging).columns.contains("license"))
    CheckpointedRunner.stage(wider, keys, 2 * numBuckets, staging, narrowHash)
    val third = dataFiles(staging)
    assert(third.keySet === (0 until 2 * numBuckets).map(b => s"bucket=$b").toSet)
    assert(third.values.flatten.toSet.intersect(second.values.flatten.toSet).isEmpty)
    assert(stagingRecordBuckets(staging).toSet === (0 until 2 * numBuckets).toSet)
  }

  test("a lost staging record (kill between uncommit and commit): selection scans and stays exact, the next restage is full") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val df = CodeTable.generate(spark, 2000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "lr-a", keyCols = keys, rowHash = narrowHash)
    val df2 = df.withColumn("content",
        when(bucketOf === 2, concat(col("content"), lit(" v2"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    // the state a kill leaves after the bucket rewrite, before the commit
    assert(new java.io.File(s"$staging/${CheckpointedRunner.StagingRecord}").delete())
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "lr-b", keyCols = keys, rowHash = narrowHash) === Seq(2))
    val before = dataFiles(staging)
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    assert(dataFiles(staging).values.flatten.toSet.intersect(before.values.flatten.toSet).isEmpty,
      "a restage without a record kept files it could not vouch for")
    assert(stagingRecordBuckets(staging).toSet === (0 until numBuckets).toSet)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "lr-c", keyCols = keys).isEmpty)
  }

  test("bucket fingerprints count multiplicity: editing both copies of a planted duplicate revalidates its bucket") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val rows = 2000L
    val df = CodeTable.withPlantedDuplicates(CodeTable.generate(spark, rows), rows)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "dup-a", keyCols = keys)
    // ids 101 and 2101 are the two copies of one key; the caller hash skips
    // `id`, so the bucket goes {A.., B, B} -> {A.., C, C}: same row count,
    // and a bit_xor alone cancels both pairs
    val both = col("id") % rows === 101
    val df2 = df.withColumn("content",
        when(both, concat(col("content"), lit(" edited twice"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    val dupBucket = df.filter(col("id") === 101).select(bucketOf).head().getInt(0)
    assert(CheckpointedRunner.snapshotDiff(df2, df, bucketOf, narrowHash.get)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSeq === Seq(dupBucket -> "changed"))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "dup-b", keyCols = keys) === Seq(dupBucket))
    assert(spark.read.parquet(staging).filter(both)
      .filter(col("content").endsWith(" edited twice")).count() === 2)
  }

  test("a redelivered parquet input skips its stage: no job, no write, the record unchanged") {
    val root = tmp()
    val staging = s"$root/staging"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    assert(recordInput(staging).isDefined)
    val before = listing(staging)
    val record = recordText(staging)
    val redelivered = spark.read.parquet(input) // the listing (and inference) happen here
    val (jobs, _) = jobsDuring {
      CheckpointedRunner.stage(redelivered, keys, numBuckets, staging, narrowHash)
    }
    assert(jobs === 0, s"a redelivered input ran $jobs job(s)")
    assert(listing(staging) === before)
    assert(recordText(staging) === record)
  }

  test("an input file rewritten in place runs the aggregate and restages only the buckets it touched") {
    val root = tmp()
    val staging = s"$root/staging"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    // rewrite one input file under its own path: bucket 3's rows in it get
    // new content, and the file a new modification time
    val file = new java.io.File(input).listFiles().filter(_.getName.startsWith("part-")).head
    val edited = s"$root/edited"
    spark.read.parquet(file.getPath)
      .withColumn("content",
        when(bucketOf === 3, concat(col("content"), lit(" v2"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
      .coalesce(1).write.parquet(edited)
    val replacement = new java.io.File(edited).listFiles().filter(_.getName.startsWith("part-")).head
    val mtime = file.lastModified()
    Files.copy(replacement.toPath, file.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local file system's checksum of the old content would fail reads
    Files.deleteIfExists(java.nio.file.Paths.get(file.getParent, s".${file.getName}.crc"))
    assert(file.setLastModified(mtime + 5000))
    val snapshot = spark.read.parquet(input)
    assert(snapshot.filter(col("content").endsWith(" v2")).count() > 0)
    val before = listing(staging)
    val (jobs, _) = jobsDuring {
      CheckpointedRunner.stage(snapshot, keys, numBuckets, staging, narrowHash)
    }
    assert(jobs > 0, "the rewritten file was trusted without the aggregate")
    assert(touchedDirs(before, listing(staging)) === Set("bucket=3"))
    sameAsFullRestage(staging, snapshot)
  }

  test("the same input files through another plan or another row hash do not skip") {
    val root = tmp()
    val staging = s"$root/staging"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    val first = recordInput(staging)
    // a filter that keeps every row: same files, same staged data, new plan
    val filtered = spark.read.parquet(input).filter(col("id") >= 0)
    val (filterJobs, _) = jobsDuring {
      CheckpointedRunner.stage(filtered, keys, numBuckets, staging, narrowHash)
    }
    assert(filterJobs > 0, "another plan over the same files skipped the aggregate")
    val second = recordInput(staging)
    assert(second.isDefined && second != first)
    // another caller hash over the same files and plan
    val otherHash = Some(xxhash64(col("repo"), col("path")))
    val (hashJobs, _) = jobsDuring {
      CheckpointedRunner.stage(spark.read.parquet(input).filter(col("id") >= 0), keys,
        numBuckets, staging, otherHash)
    }
    assert(hashJobs > 0, "another row hash skipped the aggregate")
    assert(recordInput(staging).isDefined && recordInput(staging) != second)
  }

  test("a plan with a UDF or a non-file leaf never records an input identity") {
    val root = tmp()
    val input = parquetInput(root, 1000, 2)
    val upper = udf((s: String) => s.toUpperCase)
    val withUdf = spark.read.parquet(input).withColumn("lang", upper(col("lang")))
    val udfStaging = s"$root/udf"
    CheckpointedRunner.stage(withUdf, keys, numBuckets, udfStaging, narrowHash)
    assert(recordInput(udfStaging).isEmpty)
    val (udfJobs, _) = jobsDuring {
      CheckpointedRunner.stage(withUdf, keys, numBuckets, udfStaging, narrowHash)
    }
    assert(udfJobs > 0, "a UDF plan skipped the aggregate")
    val generated = s"$root/generated"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1000), keys, numBuckets, generated, narrowHash)
    assert(recordInput(generated).isEmpty)
  }

  test("a record without an input identity takes the aggregate once, then skips") {
    val root = tmp()
    val staging = s"$root/staging"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    // the record as a stage before the input identity existed wrote it
    val record = graft.io.MetaFile.json.readTree(recordText(staging))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    record.remove("input")
    graft.io.MetaFile.writeJson(spark, s"$staging/${CheckpointedRunner.StagingRecord}", record)
    val before = dataFiles(staging)
    val once = spark.read.parquet(input)
    val (firstJobs, _) = jobsDuring {
      CheckpointedRunner.stage(once, keys, numBuckets, staging, narrowHash)
    }
    assert(firstJobs > 0, "a record without an input identity was trusted")
    assert(dataFiles(staging) === before)
    assert(recordInput(staging).isDefined)
    val twice = spark.read.parquet(input)
    val (secondJobs, _) = jobsDuring {
      CheckpointedRunner.stage(twice, keys, numBuckets, staging, narrowHash)
    }
    assert(secondJobs === 0)
  }

  test("the runner leaves the session's partitionOverwriteMode as it found it") {
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "static")
    try {
      val root = tmp()
      val staging = s"$root/staging"
      CheckpointedRunner.stage(CodeTable.generate(spark, 1000), keys, numBuckets, staging, narrowHash)
      CheckpointedRunner.run(spark, staging, s"$root/m1", s"$root/out1", numBuckets,
        process, sortCols, runId = "conf-a", keyCols = keys)
      assert(spark.conf.get(conf) === "static")
      CheckpointedRunner.incrementalRun(spark, staging, s"$root/m2", s"$root/out2", numBuckets,
        process, sortCols, runId = "conf-b", keyCols = keys)
      assert(spark.conf.get(conf) === "static")
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a run commits its manifest rows as one file") {
    val root = tmp()
    val staging = s"$root/staging"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1000), keys, numBuckets, staging)
    assert(CheckpointedRunner.run(spark, staging, m, s"$root/out", numBuckets,
      process, sortCols, runId = "one-file", keyCols = keys).size === numBuckets)
    assert(new java.io.File(m).list().count(_.startsWith("part-")) === 1)
  }

  test("a parquet-input restage of one changed bucket runs the aggregate and the write, no read-back") {
    val root = tmp()
    val staging = s"$root/staging"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    val snapshot = spark.read.parquet(editedInput(root, "v2", input, 3))
    val before = listing(staging)
    val (jobs, queries) = jobsDuring {
      CheckpointedRunner.stage(snapshot, keys, numBuckets, staging, narrowHash)
    }
    // the input aggregate and bucket 3's write: the record takes the
    // aggregate's stats for the rewritten bucket
    assert(queries === 2, s"$jobs job(s) in $queries query execution(s)")
    assert(touchedDirs(before, listing(staging)) === Set("bucket=3"))
    sameAsFullRestage(staging, snapshot)
    // the record a static full restage writes from a read of its own files
    val full = s"$root/full"
    CheckpointedRunner.stage(snapshot, keys, numBuckets, full, narrowHash)
    assert(recordText(staging) === recordText(full))
  }

  test("a restage of a generated input (no input identity) reads its rewritten bucket back") {
    val root = tmp()
    val staging = s"$root/staging"
    val df = CodeTable.generate(spark, 2000)
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    val df2 = df.withColumn("content",
        when(bucketOf === 3, concat(col("content"), lit(" v2"))).otherwise(col("content")))
      .withColumn("content_sha256", sha2(col("content"), 256))
    val (jobs, queries) = jobsDuring {
      CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    }
    // the aggregate, bucket 3's write and its read-back
    assert(queries === 3, s"$jobs job(s) in $queries query execution(s)")
    assert(recordInput(staging).isEmpty)
    val full = s"$root/full"
    CheckpointedRunner.stage(df2, keys, numBuckets, full, narrowHash)
    assert(recordText(staging) === recordText(full))
  }

  test("a one-bucket incremental run runs only its write") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val input = parquetInput(root, 2000, 4)
    CheckpointedRunner.stage(spark.read.parquet(input), keys, numBuckets, staging, narrowHash)
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "w-a", keyCols = keys)
    CheckpointedRunner.stage(spark.read.parquet(editedInput(root, "v2", input, 3)), keys,
      numBuckets, staging, narrowHash)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    var pending = Seq.empty[Int]
    val (jobs, queries) =
      try jobsDuring {
        pending = CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
          process, sortCols, runId = "w-b", keyCols = keys)
      } finally spark.listenerManager.unregister(listener)
    assert(pending === Seq(3))
    // the write's job and its AQE shuffle-map job; selection, the sink
    // counts and the manifest commit are driver reads and writes
    assert(queries === 1 && jobs === 2, s"$jobs job(s) in $queries query execution(s)")
    // the write's scan is pruned to bucket 3 (a partition filter, which is
    // never codegen'd, so its literal compiles nothing)
    assert(plans.size === 1)
    assert(plans.peek().contains("PartitionFilters: [isnotnull(bucket"), plans.peek())
  }

  test("manifest violations are the sink's per-bucket counts, 0 for a bucket validated clean") {
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val proc: DataFrame => DataFrame =
      in => in.filter(col("lang") === "klingon").select("repo", "path", "lang")
    val df = CodeTable.generate(spark, 2000) // id%89 rows carry lang=klingon
    CheckpointedRunner.stage(df, keys, numBuckets, staging, narrowHash)
    def manifestViolations(runId: String): Map[Int, Long] =
      spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m)
        .filter(col("run_id") === runId).collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("violations")).toMap
    def sinkCounts(): Map[Int, Long] = spark.read.parquet(out).groupBy("bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, Seq("repo", "path"), runId = "v-a", keyCols = keys)
    val first = sinkCounts()
    assert(first.size > 1, first.toString)
    assert(manifestViolations("v-a") === (0 until numBuckets).map(b => b -> first.getOrElse(b, 0L)).toMap)
    // every violation of one bucket fixed
    val fixed = first.keys.min
    val df2 = df.withColumn("lang",
      when(bucketOf === fixed && col("lang") === "klingon", lit("python")).otherwise(col("lang")))
    CheckpointedRunner.stage(df2, keys, numBuckets, staging, narrowHash)
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      proc, Seq("repo", "path"), runId = "v-b", keyCols = keys) === Seq(fixed))
    assert(manifestViolations("v-b") === Map(fixed -> 0L))
    assert(sinkCounts() === first - fixed)
  }

  test("a manifest mixing Spark-written and driver-written files reads the same everywhere") {
    import scala.jdk.CollectionConverters._
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    CheckpointedRunner.stage(CodeTable.generate(spark, 1500), keys, numBuckets, staging)
    val staged = spark.read.parquet(staging)
    val fps = CheckpointedRunner.bucketFingerprints(staged, CheckpointedRunner.defaultRowHash(staged))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a commit as earlier versions wrote it, through a Spark job: bucket 0
    // done with its current fingerprint, bucket 1 done without one, bucket
    // 2 failed
    val old = Seq(
      Row(0, "old", staging, fps(0)._1, 1L, 5L, "done", fps(0)._2),
      Row(1, "old", staging, fps(1)._1, 2L, 5L, "done", null),
      Row(2, "old", staging, fps(2)._1, 3L, 5L, "failed", fps(2)._2))
    spark.createDataFrame(old.asJava, CheckpointedRunner.manifestSchema).coalesce(1)
      .write.mode("append").parquet(m)
    // selection reads the Spark-written file on the driver: bucket 0 alone
    // is done for this content ...
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "new", keyCols = keys) === (1 until numBuckets))
    // ... and then the driver-written one too
    assert(CheckpointedRunner.incrementalRun(spark, staging, m, out, numBuckets,
      process, sortCols, runId = "again", keyCols = keys).isEmpty)
    assert(CheckpointedRunner.completedBuckets(spark, m) === (0 until numBuckets).toSet)
    val files = new java.io.File(m).listFiles().filter(_.getName.startsWith("part-")).map(_.getPath)
    assert(files.length === 2)
    assert(files.map(spark.read.parquet(_).schema).distinct.length === 1)
    // Spark reads: schema-given, schema-less and the run history agree
    def key(r: Row) = (r.getInt(0), r.getString(1), r.getString(6),
      if (r.isNullAt(7)) None else Some(r.getLong(7)))
    val given = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m)
    assert(given.collect().map(key).toSet ===
      old.map(key).toSet ++ (1 until numBuckets).map(b => (b, "new", "done", Some(fps(b)._2))))
    val inferred = spark.read.parquet(m)
    assert(inferred.schema === given.schema)
    assert(inferred.collect().toSet === given.collect().toSet)
    assert(CheckpointedRunner.runHistory(spark, m).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("old" -> 3L, "new" -> (numBuckets - 1L)))
    // a plain run commits rows without a fingerprint: read back as null
    val m2 = s"$root/m2"
    CheckpointedRunner.run(spark, staging, m2, s"$root/out2", numBuckets,
      process, sortCols, runId = "plain", keyCols = keys, maxBuckets = 2)
    val plain = spark.read.schema(CheckpointedRunner.manifestSchema).parquet(m2).collect()
    assert(plain.map(_.getInt(0)).sorted.toSeq === Seq(0, 1))
    assert(plain.forall(_.isNullAt(7)))
    assert(CheckpointedRunner.completedBuckets(spark, m2) === Set(0, 1))
  }

  test("an incremental run over another changed bucket compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = tmp()
    val staging = s"$root/staging"; val out = s"$root/out"; val m = s"$root/m"
    val input = parquetInput(root, 2000, 4)
    def restage(dir: String): Unit =
      CheckpointedRunner.stage(spark.read.parquet(dir), keys, numBuckets, staging, narrowHash)
    def incremental(runId: String): Seq[Int] = CheckpointedRunner.incrementalRun(
      spark, staging, m, out, numBuckets, process, sortCols, runId, keyCols = keys)
    restage(input)
    incremental("cg-all")
    val v3 = editedInput(root, "v3", input, 3)
    restage(v3)
    assert(incremental("cg-3") === Seq(3))
    restage(editedInput(root, "v5", v3, 5))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val pending = incremental("cg-5")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(pending === Seq(5))
    // the pending set is a reference object of the generated classes, not
    // Java literals: the previous delta's classes serve this one
    assert(compiled === 0, s"$compiled class(es) compiled for another bucket set")
  }
}
