package graft.io

import graft.functions.IdIn
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** One bucketed index layout in two tiers: the MinHash `sigs/` (by
  * `id_bucket`) and `bands/` (by `band_bucket`) layouts and the IVF `cells/`
  * layout (by `cell`) are each one of these. The design is the LSM tree's
  * (O'Neil et al., 1996): a write-optimised run tier that merges into a
  * read-optimised base.
  *
  *  - The base tier is `dir` partitioned by `bucketCol`, one directory per
  *    bucket, each file in it sorted by (`bucketCol`, `sortCol`): a read
  *    prunes it to the buckets it needs. Builds and compactions replace it
  *    whole ([[rewrite]]), written beside it and swapped in.
  *  - The run tier (`dir/_runs/`, hidden from Spark's reader) is where every
  *    append lands ([[appendRun]]): one directory per append, named by its
  *    caller, holding one file per write task, sorted by the same key, with
  *    no bucket exchange. A bucket-partitioned append wrote one small file
  *    per bucket instead: 64 per layout per append, ~30 ms each, and the
  *    base grew by that many files per delta. A run is written under a
  *    hidden name and renamed into place, so a committed run is whole and
  *    an append of a name already committed writes nothing: appends are
  *    exactly-once, and no reader repairs duplicate rows.
  *
  * A read ([[read]]) takes the runs next to the bucket-pruned base. An
  * append that would take the tier past the layout's bucket count in runs
  * first folds the tier into the base ([[fold]]): the runs' rows, one file
  * per bucket, move into the base's bucket directories, so a fold costs the
  * run tier's size, not the index's, and the base grows by at most one file
  * per bucket per bucket-count appends. A fold is written under
  * `dir/_fold/` and commit-marked before any file moves, and every later
  * step is idempotent, so [[recover]] completes a fold a kill interrupted
  * (or drops one that never committed) and a reader never sees a row
  * twice. */
final case class TieredLayout(dir: String, bucketCol: String, sortCol: String) {
  import TieredLayout._

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def tmpDir = s"${dir}_compacting"

  private def foldDir = new Path(dir, FoldDir)

  /** Completes or drops an interrupted base rewrite ([[completeSwap]]) or
    * fold ([[finishFold]]): every reader and writer of the layout calls
    * this first. */
  def recover(spark: SparkSession): Unit = {
    completeSwap(spark, dir, tmpDir)
    val f = fs(spark)
    if (f.exists(foldDir)) {
      if (f.exists(new Path(foldDir, CommitMarker))) finishFold(f)
      else f.delete(foldDir, true) // never committed: the runs hold its rows
    }
  }

  /** The buckets the base holds a directory for, from a driver listing. */
  private def baseBuckets(spark: SparkSession): Set[Int] = {
    val root = new Path(dir)
    val f = fs(spark)
    val prefix = s"$bucketCol="
    if (!f.exists(root)) Set.empty
    else f.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt).toSet
  }

  /** The run tier's committed directories with their data files, listed
    * on the driver: a run still under its hidden write name
    * ([[appendRun]]) is not listed, nor a legacy run (`run-<millis>-<id>`,
    * written in place) whose write never finished, which holds no data
    * file. */
  def runs(spark: SparkSession): Seq[(Path, Array[FileStatus])] = {
    val f = fs(spark)
    val root = f.makeQualified(new Path(dir, RunsDir))
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq
      .filter(d => d.isDirectory && !ParquetLayout.hidden(d.getPath.getName))
      .map(d => d.getPath -> ParquetLayout.walk(f, d.getPath).toArray).filter(_._2.nonEmpty)
  }

  /** The layout's rows as `schema` (which names `bucketCol`, an int), after
    * [[recover]]: with `buckets`, the base read only in those bucket
    * directories and the runs' rows filtered to them; without, every row.
    * `buckets` is evaluated once, and only when the layout holds rows for
    * it to narrow (it may cost the caller a job). With `wholeRuns`, the
    * runs come unfiltered, for a caller that joins on the bucket key
    * anyway: then `buckets` is evaluated only when the base holds a bucket
    * directory, and an index built empty reads with no bucket list. One
    * listing of the base and one of the runs; no job. */
  def read(spark: SparkSession, schema: StructType, buckets: => Option[Set[Int]],
      wholeRuns: Boolean = false): DataFrame = {
    val present = baseBuckets(spark)
    val tier = runs(spark)
    lazy val wanted = buckets
    val base = ParquetLayout.readPartitions(spark, dir, schema, bucketCol,
      if (present.isEmpty) present else wanted.fold(present)(_ intersect present))
    if (tier.isEmpty) base
    else {
      val all = ParquetLayout.readFiles(spark, tier, schema)
      val kept = if (wholeRuns) all
        else wanted.fold(all)(b => all.filter(IdIn(col(bucketCol), b, IntegerType)))
      if (present.isEmpty) kept else base.unionAll(kept)
    }
  }

  /** The rows of one run ([[appendRun]]'s path) as `schema`. */
  def readRun(spark: SparkSession, run: String, schema: StructType): DataFrame = {
    val f = fs(spark)
    val root = f.makeQualified(new Path(run))
    ParquetLayout.readFiles(spark, Seq(root -> ParquetLayout.walk(f, root).toArray), schema)
  }

  /** The Spark schema of the layout's data with `bucketCol` last, from a
    * base or run file's footer on the driver, else from the schema
    * [[rewrite]] stored (a layout built empty holds no data file); None for
    * neither. */
  def dataSchema(spark: SparkSession): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetLayout.footerSchema(conf, new Path(dir))
      .orElse(ParquetLayout.footerSchema(conf, new Path(dir, RunsDir)))
      .orElse(MetaFile.read(fs(spark), new Path(dir, SchemaFile), s"rebuild the index at $dir")
        .map(j => graftbridge.asNullable(DataType.fromJson(j).asInstanceOf[StructType])))
      .map(s => StructType(s.filterNot(_.name == bucketCol) :+
        StructField(bucketCol, IntegerType)))
  }

  /** Appends `rows` (which carry `bucketCol`) as the run `name`, exactly
    * once. Each write task sorts its rows by (`bucketCol`, `sortCol`) and
    * writes one file, with no exchange, under the hidden `_runs/_tmp_<name>`
    * (a killed write's leftover there is deleted first); the rename to
    * `_runs/<name>` commits the run. An append whose run is already
    * committed writes nothing and returns that run's row count, from its
    * footers; a run a fold has since moved into the base is gone from the
    * tier, so a redelivery after that fold appends again (a compaction
    * removes the duplicate rows). A tier already holding `numBuckets` runs
    * is first folded into the base ([[fold]], reading the runs as
    * `schema`, the layout's own read schema, evaluated only for a fold:
    * `rows` may be narrower than rows appended earlier). Returns the run's
    * rows (counted on the write job) and its path. */
  def appendRun(rows: DataFrame, name: String, numBuckets: Int,
      schema: => StructType): (Long, String) = {
    require(name.nonEmpty && !name.contains("/") && !ParquetLayout.hidden(name),
      s"a run name must be a visible file name: '$name'")
    val spark = rows.sparkSession
    val f = fs(spark)
    val run = f.makeQualified(new Path(new Path(dir, RunsDir), name))
    if (f.exists(run))
      (ParquetLayout.rowCount(spark.sparkContext.hadoopConfiguration, run), run.toString)
    else {
      if (runs(spark).size >= numBuckets) fold(spark, schema, numBuckets)
      val tmp = new Path(run.getParent, s"_tmp_$name")
      f.delete(tmp, true)
      val n = countingWrite(rows.sortWithinPartitions(bucketCol, sortCol))(
        _.write.mode("errorifexists").parquet(tmp.toString))
      require(f.rename(tmp, run), s"run commit failed: could not rename $tmp to $run")
      (n, run.toString)
    }
  }

  /** Folds the run tier into the base: [[writeFold]], then [[finishFold]]. */
  private[graft] def fold(spark: SparkSession, schema: StructType, numBuckets: Int): Unit =
    if (writeFold(spark, schema, numBuckets)) finishFold(fs(spark))

  /** The fold's first half: the runs' rows read as `schema`,
    * hash-partitioned on `bucketCol` into min(`numBuckets`, slots) tasks
    * (so one file per bucket) and sorted within each, written
    * bucket-partitioned to `dir/_fold/`, then commit-marked with the names
    * of the runs it holds. False (nothing written) when the tier is
    * empty. */
  private[graft] def writeFold(spark: SparkSession, schema: StructType, numBuckets: Int): Boolean = {
    val tier = runs(spark)
    if (tier.nonEmpty) {
      val parts = math.min(numBuckets, spark.sparkContext.defaultParallelism)
      ParquetLayout.readFiles(spark, tier, schema).repartition(parts, col(bucketCol))
        .sortWithinPartitions(bucketCol, sortCol)
        .write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy(bucketCol).parquet(foldDir.toString)
      writeCommitMarker(fs(spark), foldDir.toString, tier.map(_._1.getName))
    }
    tier.nonEmpty
  }

  /** The fold's second half, each step safe to repeat after a kill: every
    * file of the committed `dir/_fold/` moves into its base bucket
    * directory (a file already moved is no longer there to move), then the
    * runs its marker names are deleted, then the fold directory. Until the
    * runs are gone a reader would see their rows twice, which is why every
    * read [[recover]]s first. */
  private def finishFold(f: FileSystem): Unit = {
    val prefix = s"$bucketCol="
    f.listStatus(foldDir).iterator.filter(d => d.isDirectory && d.getPath.getName.startsWith(prefix))
      .foreach { d =>
        val bucket = new Path(dir, d.getPath.getName)
        f.mkdirs(bucket)
        ParquetLayout.walk(f, d.getPath).foreach(file => require(
          f.rename(file.getPath, new Path(bucket, file.getPath.getName)),
          s"fold failed: could not move ${file.getPath} into $bucket"))
      }
    val marker = f.open(new Path(foldDir, CommitMarker))
    val consumed = try scala.io.Source.fromInputStream(marker, "UTF-8").getLines().toVector
      finally marker.close()
    consumed.filter(_.nonEmpty).foreach(r => f.delete(new Path(new Path(dir, RunsDir), r), true))
    f.delete(foldDir, true)
  }

  /** Replaces the whole layout (base, runs and any fold) by `rows` (which
    * carry `bucketCol`), written as the base: hash-partitioned on
    * `bucketCol` into min(`numBuckets`, slots) tasks (AQE would coalesce a small write into
    * one task writing every bucket file in turn), sorted by (`bucketCol`,
    * `sortCol`) within each bucket, into `<dir>_compacting` with `rows`'
    * schema stored beside them ([[dataSchema]]), commit-marked and swapped
    * in. `rows` may read this layout: the swap comes after the write.
    * Rows the optimizer already knows to be none (an index built empty) run
    * no job: that base holds its schema and marker only. Returns the rows
    * written. */
  def rewrite(rows: DataFrame, numBuckets: Int): Long = {
    val spark = rows.sparkSession
    val parts = math.min(numBuckets, spark.sparkContext.defaultParallelism)
    val sorted = rows.repartition(parts, col(bucketCol)).sortWithinPartitions(bucketCol, sortCol)
    val f = fs(spark)
    val n = sorted.queryExecution.optimizedPlan match {
      case r: LocalRelation if r.data.isEmpty =>
        f.delete(new Path(tmpDir), true) // an earlier rewrite's uncommitted leftover
        f.mkdirs(new Path(tmpDir))
        0L
      // per-write static overwrite: a caller's session-wide
      // partitionOverwriteMode=dynamic would keep any bucket absent from
      // the new rows (the checkpoint runner's staging bug, index edition)
      case _ => countingWrite(sorted)(_.write.mode("overwrite")
        .option("partitionOverwriteMode", "static").partitionBy(bucketCol).parquet(tmpDir))
    }
    MetaFile.write(f, new Path(tmpDir, SchemaFile), rows.schema.json)
    writeCommitMarker(f, tmpDir)
    val live = new Path(dir)
    f.delete(live, true)
    require(f.rename(new Path(tmpDir), live),
      s"index swap failed: could not rename $tmpDir to $live")
    n
  }
}

object TieredLayout {
  /** The run tier's directory under a layout: `_`-prefixed, so neither
    * Spark's reader nor a base listing takes it for data. */
  val RunsDir = "_runs"

  /** A fold in progress under a layout ([[TieredLayout.fold]]), hidden the
    * same way. */
  private val FoldDir = "_fold"

  /** The schema [[TieredLayout.rewrite]] stores in the base, as JSON. */
  private val SchemaFile = "_schema"

  /** Graft-owned commit marker for a swapped-in directory (an index base
    * rewrite, a pipeline stage's data). Recovery must NOT key off Hadoop's
    * `_SUCCESS`: deployments commonly disable it on object stores
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`), and a
    * crash between delete(live) and rename would then leave a fully-written
    * sibling that recovery DELETES — permanently losing the index. This
    * marker is written by graft itself after the write returns, so its
    * presence is independent of committer configuration. */
  private[graft] val CommitMarker = "_GRAFT_COMMITTED"

  /** Writes `dir`'s [[CommitMarker]], holding `lines` (a fold's consumed
    * runs). */
  private[graft] def writeCommitMarker(fs: FileSystem, dir: String,
      lines: Seq[String] = Nil): Unit = {
    val out = fs.create(new Path(dir, CommitMarker), true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
  }

  /** Crash recovery for a base rewrite's swap, applied at every index read:
    *  - live missing + committed sibling present (a kill landed between the
    *    delete and the rename) -> finish the rename;
    *  - live present + sibling present (a kill landed before the delete) ->
    *    the rewrite never took effect; drop the sibling.
    * Either way the reader sees exactly one committed data directory.
    * "Committed" means graft's own [[CommitMarker]], not Hadoop's `_SUCCESS`
    * (which object-store deployments often disable — see [[CommitMarker]]). */
  private[graft] def completeSwap(spark: SparkSession, liveDir: String, tmpDir: String): Unit = {
    val live = new Path(liveDir)
    val tmp = new Path(tmpDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) {
      val tmpCommitted = fs.exists(new Path(tmp, CommitMarker))
      if (!fs.exists(live) && tmpCommitted) {
        require(fs.rename(tmp, live), s"swap recovery failed: $tmpDir -> $liveDir")
        System.err.println(s"[graft] completed interrupted index swap: $liveDir")
      } else fs.delete(tmp, true) // uncommitted, or the live dir still stands
    }
  }

  private val obsCountSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run `write` on `df` with a count Observation riding the SAME job, so
    * index lifecycle records never pay a second full scan of just-written
    * data (on a 10^12-row index the recount would double every compaction's
    * I/O for one BIGINT field). If AQE's empty-relation propagation replaced
    * the plan, the metrics map comes back empty — that only happens when
    * zero rows survived, so the fallback IS the count. */
  private[graft] def countingWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation(s"graft_write_count_${obsCountSeq.incrementAndGet()}")
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
  }
}
