package graft.checkpoint

import com.fasterxml.jackson.databind.JsonNode
import graft.io.MetaFile
import org.apache.spark.sql.SparkSession

/** Content-addressed commit log for multi-stage pipeline state (the
  * stage-level analogue of [[CheckpointedRunner]]'s per-bucket manifest).
  *
  * Each stage owns two locations under one `workDir`:
  *   - `workDir/<stage>/`      — the stage's persisted DATA (a parquet
  *     corpus checkpoint or a small loser-id set); absent for counts-only
  *     stages.
  *   - `workDir/_meta/<stage>` — one small JSON file, written on the driver
  *     ([[graft.io.MetaFile]]: temp file + rename, no Spark job): the stage's
  *     content KEY (chained fingerprint of input + every upstream parameter)
  *     and its report counts. Written strictly AFTER the data, so this file
  *     is the commit point: a kill mid-stage leaves no meta and the stage
  *     recomputes from scratch (overwriting any partial data) on the next
  *     invocation. Hadoop's `_SUCCESS` plays no part in it.
  *
  * Completion is content-addressed, never positional: [[load]] returns the
  * committed counts only when the stored key equals the caller's key, so a
  * changed input fingerprint or parameter invalidates the stage — and,
  * because keys CHAIN (each stage's key embeds its predecessor's), everything
  * downstream of a change invalidates with it. Matching state is never
  * recomputed and never rewritten: resume leaves completed stages'
  * files untouched on disk (byte-identical), the property the resume tests
  * pin.
  */
object StageStore {

  /** Where a stage persists its data (callers write/read this themselves). */
  def dataDir(workDir: String, stage: String): String = s"$workDir/$stage"

  private def metaFile(workDir: String, stage: String) = s"$workDir/_meta/$stage"

  /** Committed counts for `stage`, iff its meta file exists AND its key
    * matches (same input content, same upstream parameters). Any read
    * problem — missing file, torn write, a pre-change parquet meta directory —
    * means "not committed": the safe direction is always recompute, never a
    * stale load. */
  def load(spark: SparkSession, workDir: String, stage: String, key: String): Option[Map[String, Long]] =
    try {
      import scala.jdk.CollectionConverters._
      MetaFile.readJson(spark, metaFile(workDir, stage), "", classOf[JsonNode])
        .filter(m => m.get("stage").asText() == stage && m.get("key").asText() == key)
        .map(_.get("counts").properties().asScala
          .map(e => e.getKey -> e.getValue.longValue()).toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Commit `stage` under `key`. Call strictly after the stage's data write
    * (if any) — this file is what makes the data trustworthy on resume. */
  def commit(spark: SparkSession, workDir: String, stage: String, key: String,
      counts: Map[String, Long]): Unit =
    MetaFile.writeJson(spark, metaFile(workDir, stage),
      Map("stage" -> stage, "key" -> key, "counts" -> counts))
}
