package graft.ops

import graft.io.{MetaFile, PreChangeLayoutException}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Append-only lifecycle log for the persisted dedup indexes (`_versions/`
  * inside the index dir, underscore-prefixed so data reads skip it): one
  * small driver-written file per build / append / compact event
  * ([[graft.io.MetaFile]], no Spark job), named by the index's compaction
  * EPOCH and holding the row count after the event. An append's file is
  * named by its run, so `_versions` holds one append event per run however
  * often the append is redelivered.
  *
  * The epoch is the staleness contract between an index and the corpus it
  * shadows: every corpus deletion pass bumps the corpus manifest epoch and
  * compacts the index AT that epoch, so an index whose max recorded epoch is
  * BEHIND the corpus epoch provably missed a deletion pass — its stale
  * entries of deleted documents would still win against future deltas (the
  * exact failure compaction exists to prevent), so delta operators refuse it
  * via [[requireAtLeast]] instead of silently over-dropping. Appends record
  * the index's CURRENT epoch (they never advance it); an index that predates
  * versioning reads as epoch 0, matching an un-deleted-from corpus.
  */
object IndexVersions {

  val Sidecar = "_versions"

  /** Event files: `e<epoch>-<event>-<name>.json`, so the epoch is read off
    * the listing without opening a file. */
  private val EventName = """e(\d+)-\w+-[\w-]+\.json""".r

  private def dir(indexDir: String) = new Path(s"$indexDir/$Sidecar")

  /** Current compaction epoch: max recorded, 0 for a pre-versioning index.
    * A log written by an earlier graft version (parquet files) is refused
    * with a [[graft.io.PreChangeLayoutException]]. */
  def epoch(spark: SparkSession, indexDir: String): Long = {
    val fs = MetaFile.fs(spark, indexDir)
    if (!fs.exists(dir(indexDir))) 0L
    else fs.listStatus(dir(indexDir)).map(_.getPath.getName)
      .filterNot(_.endsWith(".tmp"))
      .map {
        case EventName(e) => e.toLong
        case other => throw new PreChangeLayoutException(s"${dir(indexDir)}/$other",
          s"rebuild the index at $indexDir (Dedup.minhashIndexBuild or " +
            "Similarity.ivfBuildIndexWith) to start a new log")
      }.maxOption.getOrElse(0L)
  }

  /** Record one lifecycle event as the file named by `name` (unique by
    * default): a new name never rewrites, so a concurrent reader can't lose
    * history, and an event recorded again under its name (an append, named
    * by its run, redelivered) replaces its own file instead of adding one. */
  def record(spark: SparkSession, indexDir: String, epoch: Long, event: String,
      rows: Long, name: String = java.util.UUID.randomUUID().toString): Unit =
    MetaFile.writeJson(spark, s"${dir(indexDir)}/e$epoch-$event-$name.json",
      Map("epoch" -> epoch, "event" -> event, "rows" -> rows))

  /** Refuse an index whose compaction epoch is behind the corpus manifest
    * epoch — see the class doc for why using it anyway silently over-drops. */
  def requireAtLeast(spark: SparkSession, indexDir: String, atLeast: Long,
      what: String): Unit = {
    val e = epoch(spark, indexDir)
    require(e >= atLeast,
      s"$what at $indexDir is at compaction epoch $e, older than the corpus " +
        s"manifest epoch $atLeast — it may hold stale entries of deleted " +
        "documents that would wrongly win against new deltas; re-compact it " +
        "with the corpus' surviving ids (a deletions-bearing runDelta does " +
        "this) before delta dedup")
  }
}
