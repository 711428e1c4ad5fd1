package graft.ops

import graft.checkpoint.StageStore
import graft.dsl.SchemaSpec
import graft.io.MetaFile
import graft.run.Validator
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Per-stage row accounting for one [[TrainingPipeline.run]] (docs removed BY
  * that stage; every stage sees the previous stage's survivors).
  * `nearDupDroppedBuckets`/`nearDupDroppedIds` surface the MinHash LSH bucket
  * cap's exclusions (the one recall cap in the pipeline) — the operators'
  * no-silent-caps contract survives composition. */
case class PipelineReport(
    input: Long,
    invalid: Long,
    exactDups: Long,
    nearDups: Long,
    contaminated: Long,
    lowQuality: Long,
    output: Long,
    nearDupDroppedBuckets: Long = 0L,
    nearDupDroppedIds: Long = 0L,
    mixedRows: Long = 0L) {
  def removed: Long = invalid + exactDups + nearDups + contaminated + lowQuality
}

/** One pipeline stage's completion record: whether its state was computed
  * this invocation or loaded from the work dir's committed checkpoint, plus
  * the counts it contributed to the [[PipelineReport]]. Surfaced on
  * [[PipelineResult.stages]] so callers (and the resume tests) can see
  * exactly which stages a resumed run re-executed. */
case class StageRecord(name: String, loaded: Boolean, counts: Map[String, Long])

/** Per-stage row accounting for one [[TrainingPipeline.runDelta]] snapshot
  * (each count = docs removed by that stage, among the previous stage's
  * survivors; `semanticDups` is 0 when no embedding column was given). */
case class DeltaPipelineReport(
    input: Long, invalid: Long, exactDups: Long, nearDups: Long,
    contaminated: Long, lowQuality: Long, semanticDups: Long, output: Long,
    nearDupDroppedBuckets: Long = 0L, nearDupDroppedIds: Long = 0L) {
  def removed: Long =
    invalid + exactDups + nearDups + contaminated + lowQuality + semanticDups
}

/** One [[TrainingPipeline.runDelta]] snapshot's output: the delta's surviving
  * documents (split/packed), its report, and the per-stage manifest (which
  * stages a resumed run loaded vs recomputed — the same contract as
  * [[PipelineResult.stages]]). */
case class DeltaPipelineResult(corpus: DataFrame, report: DeltaPipelineReport,
    stages: Seq[StageRecord] = Nil,
    /** The delta's content-address tag (stage-namespace id) — callers use it
      * as a stable per-snapshot output address (graft.RunPipeline does). */
    tag: String = "")

/** `corpus` reads from the one cached frame [[run]] created; call
  * [[unpersist]] once the caller's action on `corpus` (write/collect) is done.
  * `stages` is the per-stage manifest — empty for the uncheckpointed [[run]],
  * one record per stage for [[TrainingPipeline.runResumable]]. */
case class PipelineResult(corpus: DataFrame, report: PipelineReport,
    private[ops] val cached: Seq[DataFrame] = Nil,
    stages: Seq[StageRecord] = Nil) {
  /** Releases the pipeline's cached frames (the deduped corpus + the small
    * flagged-id / probe-hash sets). After this, actions on `corpus` recompute
    * the full lineage. */
  def unpersist(): Unit = cached.foreach(_.unpersist())
}

/** End-to-end training-data preprocessing — a thin composition of the
  * library's operators in their canonical order; it adds NO logic of its own,
  * so each stage keeps its documented scale contract:
  *
  *   normalize (NFC) + PII scrub  -> one codegen'd projection
  *   (optional) line scrub        -> corpus-frequency boilerplate-line removal
  *   (optional) span scrub        -> duplicated n-gram span removal (exact
  *                                   substring dedup; whitespace-normalizing)
  *   validate                     -> compiled rule pipeline; invalid rows drop
  *   exact dedup                  -> digest hash-aggregate
  *   near-dup dedup               -> MinHash LSH pairs (AUDITED bucket cap)
  *                                   -> connected components -> keep cluster
  *                                   minimum
  *   decontaminate                -> n-gram hash join vs the benchmark probe
  *   quality filter               -> integer quality + repetition signals
  *   (optional) corpus mixing     -> per-stratum fractional repetition
  *                                   weights (sampleByWeights), applied
  *                                   BEFORE the split so all copies of a
  *                                   document share one split (no leakage)
  *   split (+ optional packing)   -> md5 hash split; cost-budget bins packed
  *                                   per (split, shard) — `packShards` md5
  *                                   hash buckets, so no split funnels its
  *                                   whole corpus through one window partition
  *
  * Accounting rides the work instead of re-running it: ONE persist of the
  * corpus (post-exact-dedup — the frame every later stage re-reads), intake
  * counts as an `Observation` on that frame's materializing action, and every
  * other stage counted from its SMALL side output (loser-id / flagged-id
  * sets), never a second full-corpus pass. The only persisted non-corpus
  * frames are those id sets, the probe hashes, and — when the line scrub is
  * on — the pre-scrub projection, held only until the corpus cache
  * materializes (the scrub reads its input three times). */
object TrainingPipeline {

  def run(
      docs: DataFrame, idCol: String, textCol: String,
      schema: Option[SchemaSpec] = None,
      probe: Option[(DataFrame, String, String)] = None,
      maxLineFreq: Option[Long] = None,
      spanScrubN: Option[Int] = None, spanScrubMinCount: Long = 2L,
      shingleN: Int = 3, minhashThreshold: Double = 0.9,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      decontamN: Int = 13, decontamMinHits: Long = 1L,
      minQualityScore: Long = 0L, maxTopWordPct: Int = 100,
      mixStrataCol: Option[String] = None,
      mixWeights: Map[String, Double] = Map.empty, mixDefaultWeight: Double = 1.0,
      splits: Seq[(String, Double)] = Seq("train" -> 1.0), splitSalt: String = "",
      packBudget: Option[Long] = None, packShards: Int = 64): PipelineResult = {

    val cleaned0 = docs.withColumn(textCol,
      TextOps.scrubPii(TextOps.normalizeUnicode(col(textCol))))
    // optional boilerplate-LINE pass (RefinedWeb-style): scrubs lines occurring
    // > maxLineFreq corpus-wide; edits text in place (no doc removed), so it
    // carries no PipelineReport row — downstream digests/signatures see the
    // scrubbed text. scrubCommonLines reads its input THREE times (line-freq
    // aggregate, posexplode side, final doc join), so the normalize+PII
    // projection is persisted for the duration of the cache-materializing
    // action below instead of being recomputed per pass.
    val cleaned1 = maxLineFreq match {
      case Some(f) => Dedup.scrubCommonLines(cleaned0.persist(), idCol, textCol, f)
      case None    => cleaned0
    }
    // optional duplicated-SPAN pass (exact substring dedup): scrubs token
    // spans covered by corpus-wide duplicated n-grams; in-place edit like the
    // line scrub (and, like it, reads its input three times — persist the
    // upstream frame for the window; note the scrub whitespace-normalizes).
    val preSpan = if (spanScrubN.isDefined) cleaned1.persist() else cleaned1
    val cleaned = spanScrubN match {
      case Some(n) => Dedup.scrubDuplicatedSpans(preSpan, idCol, textCol, n, spanScrubMinCount)
      case None    => cleaned1
    }

    // validate; count input and survivors with ONE observation riding the
    // cache-materializing count below (no separate full pass per count)
    val intake = Observation(s"graft_pipeline_intake_${seq.incrementAndGet()}")
    val annotated = schema match {
      case Some(spec) => Validator.validate(spec, cleaned).annotated
      case None       => cleaned.withColumn("valid", lit(true))
    }
    val observed = annotated
      .observe(intake, count(lit(1)).as("n_input"),
        coalesce(sum(when(col("valid"), 1L).otherwise(0L)), lit(0L)).as("n_valid"))
      .filter(col("valid"))
    val valid = (schema match {
      case Some(_) => observed.drop("violations", "valid")
      case None    => observed.drop("valid")
    })

    // exact dedup, fused into THE one persisted corpus frame: everything
    // downstream (signature scan, Jaccard verify, decontamination join,
    // quality filter, the caller's action) re-reads this cache instead of
    // re-running scrub+validate+dedup per stage
    val exact = Dedup.exactDedup(valid, idCol, textCol).persist()
    val nExact = exact.count() // materializes the cache; fires `intake`
    val (nInput, nValid) = intakeCounts(intake, annotated)
    // everything downstream reads the `exact` cache; the pre-scrub
    // projections (persisted only for the scrubs' multi-pass windows) can go
    // now — intakeCounts' recompute fallback has already run if it was going to
    if (maxLineFreq.isDefined) cleaned0.unpersist()
    if (spanScrubN.isDefined) preSpan.unpersist()

    // near-dup: audited pairs (bucket-cap drops ride the same job), cluster
    // via connected components (runs its own bounded actions), count the
    // LOSER set — small by construction, checkpoint-backed via the CC fixpoint
    val audited = Dedup.minhashNearDupsAudited(
      exact, idCol, textCol, shingleN = shingleN, threshold = minhashThreshold,
      maxBucket = maxBucket)
    val nearLosers = Components.nearDupLosers(audited.pairs, idCol)
    val nNearRemoved = nearLosers.count()
    val near = exact.join(nearLosers, Seq(idCol), "left_anti")
    // CC's checksum actions already ran on `pairs`, so the audit observation
    // has fired; these resolve without a recompute pass
    val (nDropBuckets, nDropIds) = (audited.droppedBuckets, audited.droppedIds)

    // decontamination: persist the SMALL flagged-id set (computing it costs a
    // corpus n-gram scan — don't pay it twice: once for the count, once in
    // the caller's action) and the probe hashes it joins against
    val (decon, nContam, deconCached) = probe match {
      case Some((p, pid, ptext)) =>
        val probeHashed = Decontaminate.probeHashes(p, pid, ptext, decontamN).persist()
        val flagged = Decontaminate
          .flaggedIds(near, idCol, textCol, probeHashed, decontamN, decontamMinHits).persist()
        val n = flagged.count()
        (near.join(flagged, Seq(idCol), "left_anti"), n, Seq(flagged, probeHashed))
      case None => (near, 0L, Nil)
    }

    val kept = qualityFilter(decon, textCol, minQualityScore, maxTopWordPct)
    val nKept = kept.count() // one cached-corpus pass + the small anti-joins

    // optional per-stratum corpus mixing (fractional repetition weights):
    // applied BEFORE the split so every copy of a document — keyed on the
    // same id — lands in the SAME split (a copy in train and its original in
    // test would be leakage by construction). The mixed-row count is the one
    // accounting value that cannot ride another action: counting it costs
    // one extra cached-corpus pass, paid only when mixing is requested.
    // The mixing salt is DERIVED from the split salt, never equal to it:
    // both decisions hash md5(id || salt), so sharing the salt would make
    // "survives a fractional weight w" identical to "unit hash < w" — and the
    // split bounds partition that same unit hash, so every fractionally-kept
    // row would land in the first split(s) and the later splits would see an
    // effective weight of floor(w). A distinct suffix decorrelates them.
    val (mixed, nMixedRows) = mixStrataCol match {
      case Some(sc) =>
        val m = Sharding.sampleByWeights(kept, idCol, sc, mixWeights, mixDefaultWeight,
          splitSalt + "#mix")
        (m, m.count())
      case None => (kept, nKept)
    }

    val corpus = splitAndPack(mixed, idCol, textCol, mixing = mixStrataCol.isDefined,
      splits, splitSalt, packBudget, packShards)

    PipelineResult(corpus, PipelineReport(
      input = nInput,
      invalid = nInput - nValid,
      exactDups = nValid - nExact,
      nearDups = nNearRemoved,
      contaminated = nContam,
      lowQuality = nExact - nNearRemoved - nContam - nKept,
      output = nKept,
      nearDupDroppedBuckets = nDropBuckets,
      nearDupDroppedIds = nDropIds,
      mixedRows = nMixedRows),
      cached = exact +: deconCached)
  }

  // ---- shared stage bodies (run + runResumable) ----------------------------

  /** Integer-threshold quality gate: composite score floor + Gopher-style
    * top-word dominance cap (top_word_count * 100 <= pct * n_tokens). */
  private def qualityFilter(df: DataFrame, textCol: String,
      minQualityScore: Long, maxTopWordPct: Int): DataFrame = {
    val q = TextOps.qualitySignals(col(textCol))
    val r = TextOps.repetitionSignals(col(textCol))
    df.filter(
      q.getField("quality_score") >= minQualityScore &&
        r.getField("top_word_count") * 100 <= r.getField("n_tokens") * maxTopWordPct)
  }

  /** md5 hash split + optional cost-budget packing.
    * Fine-grained composite shard key: a bare `split` (1-3 values) would sort
    * each split's ENTIRE corpus in one window partition; (split, md5-shard)
    * keeps every partition 1/packShards of a split, and the pair is the packed
    * output's natural write partitioning. With mixing on, id repeats across
    * copies — the packing order key must stay unique per shard, so (id, copy)
    * composes into __ord; without mixing the id keeps its own (typed)
    * ordering as before. */
  private def splitAndPack(mixed: DataFrame, idCol: String, textCol: String,
      mixing: Boolean, splits: Seq[(String, Double)], splitSalt: String,
      packBudget: Option[Long], packShards: Int): DataFrame = {
    val split = Sharding.hashSplit(mixed, idCol, splits, splitSalt)
    packBudget match {
      case Some(b) =>
        val (ordered, orderCol) =
          if (mixing) (split.withColumn("__ord",
            concat(col(idCol).cast("string"), lit("#"), col("copy"))), "__ord")
          else (split, idCol)
        Sharding.packByCostBudget(
          ordered
            .withColumn("shard", Sharding.shardColumn(col(idCol), packShards, splitSalt))
            .withColumn("__cost", TextOps.tokenCountBpeIsh(col(textCol)).cast("long")),
          Seq("split", "shard"), orderCol, "__cost", b)
          .drop("__cost", "__ord")
      case None => split
    }
  }

  /** One resumable run's stage bookkeeping over [[StageStore]]:
    * load-or-compute, the per-stage manifest, and the one stage-data writer
    * ([[runResumable]] and [[runDelta]] share it). */
  private final class Stages(spark: SparkSession, workDir: String,
      onStageComputed: String => Unit) {
    private val fs = MetaFile.fs(spark, workDir)
    val records = Seq.newBuilder[StageRecord]

    /** Load-or-compute one stage. `dataDir` (when the stage persists data)
      * must ALSO carry graft's commit marker for a load — meta without data
      * means recompute. */
    def apply(name: String, key: String, dataDir: Option[String] = None)(
        compute: => Map[String, Long]): Map[String, Long] =
      StageStore.load(spark, workDir, name, key)
        .filter(_ => dataDir.forall(d => fs.exists(new Path(d, Dedup.CommitMarker)))) match {
        case Some(c) => records += StageRecord(name, loaded = true, c); c
        case None =>
          val c = compute
          StageStore.commit(spark, workDir, name, key, c)
          records += StageRecord(name, loaded = false, c)
          onStageComputed(name)
          c
      }

    /** Persist a stage's rows at `dir` (overwrite), then graft's commit
      * marker; returns the row count, observed on the write job itself — no
      * re-read. The exchange names no partition count: AQE sizes it from the
      * data (one file for a small delta; at scale the fan-out follows
      * `spark.sql.shuffle.partitions`), and the id sort keeps per-file id
      * stats tight and the layout deterministic across recomputes. */
    def write(df: DataFrame, idCol: String, dir: String): Long = {
      val n = Dedup.countingWrite(df.repartition(col(idCol)).sortWithinPartitions(idCol))(
        _.write.mode(SaveMode.Overwrite).parquet(dir))
      Dedup.writeCommitMarker(fs, dir)
      n
    }
  }

  // ---- resumable variant ----------------------------------------------------

  /** [[run]] with pipeline-level resume — the north_rule's checkpoint mandate
    * lifted from the validation entry point to the whole pipeline. Stage state
    * lives under `workDir`, committed through [[graft.checkpoint.StageStore]]:
    *
    *   - `prepare`  — normalize+PII (+optional line/span scrubs) + validate +
    *     exact dedup, CHECKPOINTED as the corpus parquet every later stage reads.
    *     This replaces run()'s in-memory persist: a resume cannot
    *     re-materialize a cache, and at 100 TB the cleaned deduped corpus is
    *     written once either way.
    *   - `neardup`  — MinHash/LSH + connected components; persists the SMALL
    *     loser-id set (the discovery job is the expensive part; the anti-join
    *     that applies it is cheap reapplication).
    *   - `decontam` — n-gram collisions vs the probe; persists the flagged-id
    *     set (skipped entirely when no probe is given).
    *   - `quality`  — counts-only (the gate is a cheap reapplied filter).
    *   - `mix`      — counts-only (deterministic hash sampling, reapplied).
    *
    * Stage keys CHAIN: each embeds its predecessor's key plus its own
    * parameters, rooted at a content fingerprint of the input (and of the
    * probe, for decontam). A changed input, probe, or parameter therefore
    * recomputes exactly the affected suffix of the pipeline; an unchanged
    * prefix loads without touching its files (byte-identical state on disk).
    * A kill mid-stage leaves that stage uncommitted (meta is written strictly
    * after data): the resume re-runs it and everything after, never anything
    * before. The returned corpus is assembled by deterministic reapplication
    * (corpus checkpoint -> loser anti-joins -> quality filter -> mix -> split
    * -> pack), so a resumed run's corpus and report are identical to an
    * uninterrupted one's.
    *
    * `schema` is the one input whose content can't be fingerprinted (Scala
    * closures); encode schema changes in `paramsKey` or use a fresh workDir —
    * the same contract CheckpointedRunner documents for its `process`.
    *
    * Stage data (the corpus checkpoint, the loser-id sets) is written
    * id-hash-partitioned and id-sorted with no fixed fan-out: AQE sizes the
    * exchange from the data, so a small corpus writes one file and a large
    * one follows `spark.sql.shuffle.partitions`. Each stage's commit record
    * is one small driver-written file (see [[graft.checkpoint.StageStore]]).
    *
    * @param paramsKey       caller-owned version string folded into every
    *                        stage key (bump when `schema` changes)
    * @param onStageComputed invoked after a stage computes AND commits (not on
    *                        load) — a progress hook; throwing from it aborts
    *                        the run at a committed stage boundary, which is
    *                        exactly the kill the resume test simulates
    */
  def runResumable(
      docs: DataFrame, idCol: String, textCol: String, workDir: String,
      schema: Option[SchemaSpec] = None,
      probe: Option[(DataFrame, String, String)] = None,
      maxLineFreq: Option[Long] = None,
      spanScrubN: Option[Int] = None, spanScrubMinCount: Long = 2L,
      shingleN: Int = 3, minhashThreshold: Double = 0.9,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      decontamN: Int = 13, decontamMinHits: Long = 1L,
      minQualityScore: Long = 0L, maxTopWordPct: Int = 100,
      mixStrataCol: Option[String] = None,
      mixWeights: Map[String, Double] = Map.empty, mixDefaultWeight: Double = 1.0,
      splits: Seq[(String, Double)] = Seq("train" -> 1.0), splitSalt: String = "",
      packBudget: Option[Long] = None, packShards: Int = 64,
      paramsKey: String = "",
      onStageComputed: String => Unit = _ => ()): PipelineResult = {
    val spark = docs.sparkSession
    val stage = new Stages(spark, workDir, onStageComputed)

    val inFp = contentFp(docs, Seq(idCol, textCol))

    val corpusDir = StageStore.dataDir(workDir, "corpus")
    val prepareKey =
      s"v2|in=$inFp|lineFreq=$maxLineFreq|spanN=$spanScrubN|spanMin=$spanScrubMinCount|" +
        s"schema=${schema.isDefined}|user=$paramsKey"
    val prep = stage("prepare", prepareKey, Some(corpusDir)) {
      val cleaned0 = docs.withColumn(textCol,
        TextOps.scrubPii(TextOps.normalizeUnicode(col(textCol))))
      val cleaned1 = maxLineFreq match {
        case Some(f) => Dedup.scrubCommonLines(cleaned0.persist(), idCol, textCol, f)
        case None    => cleaned0
      }
      val preSpan = if (spanScrubN.isDefined) cleaned1.persist() else cleaned1
      val cleaned = spanScrubN match {
        case Some(n) => Dedup.scrubDuplicatedSpans(preSpan, idCol, textCol, n, spanScrubMinCount)
        case None    => cleaned1
      }
      val intake = Observation(s"graft_pipeline_intake_${seq.incrementAndGet()}")
      val annotated = schema match {
        case Some(spec) => Validator.validate(spec, cleaned).annotated
        case None       => cleaned.withColumn("valid", lit(true))
      }
      val observed = annotated
        .observe(intake, count(lit(1)).as("n_input"),
          coalesce(sum(when(col("valid"), 1L).otherwise(0L)), lit(0L)).as("n_valid"))
        .filter(col("valid"))
      val valid = schema match {
        case Some(_) => observed.drop("violations", "valid")
        case None    => observed.drop("valid")
      }
      // the checkpoint write IS the observation's materializing action
      val nExact = stage.write(Dedup.exactDedup(valid, idCol, textCol), idCol, corpusDir)
      val (nInput, nValid) = intakeCounts(intake, annotated)
      if (maxLineFreq.isDefined) cleaned0.unpersist()
      if (spanScrubN.isDefined) preSpan.unpersist()
      Map("n_input" -> nInput, "n_valid" -> nValid, "n_exact" -> nExact)
    }
    val corpus = spark.read.parquet(corpusDir)
    val idType = corpus.schema(idCol).dataType
    def idSet(dir: String): DataFrame = // explicit schema: the set may be EMPTY
      spark.read.schema(StructType(Seq(StructField(idCol, idType)))).parquet(dir)

    val nearDir = StageStore.dataDir(workDir, "near_losers")
    val nearKey = s"$prepareKey|shingleN=$shingleN|thr=$minhashThreshold|maxBucket=$maxBucket"
    val nearC = stage("neardup", nearKey, Some(nearDir)) {
      val audited = Dedup.minhashNearDupsAudited(
        corpus, idCol, textCol, shingleN = shingleN, threshold = minhashThreshold,
        maxBucket = maxBucket)
      Map("n_near" -> stage.write(Components.nearDupLosers(audited.pairs, idCol),
        idCol, nearDir),
        "drop_buckets" -> audited.droppedBuckets, "drop_ids" -> audited.droppedIds)
    }
    val near = corpus.join(idSet(nearDir), Seq(idCol), "left_anti")

    val contamDir = StageStore.dataDir(workDir, "contaminated_ids")
    val (decontamKey, deconAndCount) = probe match {
      case Some((p, pid, ptext)) =>
        val key = s"$nearKey|probe=${contentFp(p, Seq(pid, ptext))}|n=$decontamN|minHits=$decontamMinHits"
        val c = stage("decontam", key, Some(contamDir)) {
          val probeHashed = Decontaminate.probeHashes(p, pid, ptext, decontamN)
          Map("n_contam" -> stage.write(Decontaminate
            .flaggedIds(near, idCol, textCol, probeHashed, decontamN, decontamMinHits),
            idCol, contamDir))
        }
        (key, (near.join(idSet(contamDir), Seq(idCol), "left_anti"), c("n_contam")))
      case None => (s"$nearKey|probe=none", (near, 0L))
    }
    val (decon, nContam) = deconAndCount

    val qualityKey = s"$decontamKey|minQ=$minQualityScore|maxTop=$maxTopWordPct"
    val kept = qualityFilter(decon, textCol, minQualityScore, maxTopWordPct)
    val nKept = stage("quality", qualityKey)(Map("n_kept" -> kept.count()))("n_kept")

    val (mixed, nMixedRows) = mixStrataCol match {
      case Some(sc) =>
        val wStr = mixWeights.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
        val mixKey = s"$qualityKey|strata=$sc|w=$wStr|dw=$mixDefaultWeight|salt=$splitSalt"
        val m = Sharding.sampleByWeights(kept, idCol, sc, mixWeights, mixDefaultWeight,
          splitSalt + "#mix")
        (m, stage("mix", mixKey)(Map("n_mixed" -> m.count()))("n_mixed"))
      case None => (kept, nKept)
    }

    val out = splitAndPack(mixed, idCol, textCol, mixing = mixStrataCol.isDefined,
      splits, splitSalt, packBudget, packShards)

    PipelineResult(out, PipelineReport(
      input = prep("n_input"),
      invalid = prep("n_input") - prep("n_valid"),
      exactDups = prep("n_valid") - prep("n_exact"),
      nearDups = nearC("n_near"),
      contaminated = nContam,
      lowQuality = prep("n_exact") - nearC("n_near") - nContam - nKept,
      output = nKept,
      nearDupDroppedBuckets = nearC("drop_buckets"),
      nearDupDroppedIds = nearC("drop_ids"),
      mixedRows = nMixedRows),
      stages = stage.records.result())
  }

  // ---- incremental (delta) variant ------------------------------------------

  /** One SNAPSHOT DELTA through the pipeline against the persisted state of
    * every earlier snapshot — the steady-state shape of a 100 TB corpus,
    * where each round re-reads a day's delta instead of the whole corpus:
    *
    *   normalize (NFC) + PII scrub -> validate -> exact dedup WITHIN the
    *   delta -> lexical delta dedup vs the persisted MinHash signature index
    *   (earlier corpus always wins; dedup survivors' signatures APPEND to
    *   the index) -> decontaminate -> quality -> semantic delta dedup vs the
    *   persisted IVF index when `embCol` is given (survivors append) ->
    *   split (+ optional packing).
    *
    * State lives under `workDir`: `mhidx/` (built empty on first use),
    * `ivfidx/` (quantizer TRAINED ON THE FIRST SNAPSHOT's quality survivors
    * and never re-trained — appends assign with the stored centroids), and
    * one StageStore chain per distinct delta content. Stages per delta:
    * prepare (delta corpus checkpoint), lexdedup (survivor-id set), mhappend,
    * decontam, quality, semdedup (survivor-id set), semappend. Stage data is
    * written with no fixed fan-out (AQE sizes each write from the delta —
    * one file for a small one), and every piece of tiny metadata — stage
    * commit records, index params and quantizers, lifecycle events, the
    * corpus epoch — is a driver-written file, so a delta's Spark jobs are
    * the ones its data needs. A kill
    * mid-stage resumes from the last committed stage; the appends are
    * EFFECT stages — a kill between an append's write and its commit can
    * redeliver it, leaving duplicate index rows (harmless for dedup
    * decisions — duplicate candidates collapse — and repaired by the next
    * index compaction). Submitting a byte-identical delta again REPLAYS its
    * committed result without touching the indexes (exactly-once processing
    * per distinct snapshot content); replay is only valid until a LATER
    * delta commits, the same monotone discipline as the checkpoint runner.
    *
    * `deletions` (ids withdrawn from the corpus) COMPACT both indexes before
    * the delta is processed, so a new near-copy of a deleted document can
    * survive (stale index entries would otherwise keep winning) — run-once
    * idempotent, not staged. Each deletion pass bumps the corpus manifest
    * epoch (`workDir/_corpus_epoch`) and compacts the indexes AT that epoch
    * ([[IndexVersions]]); a delta REFUSES an index whose compaction epoch is
    * behind the corpus epoch (e.g. a restored stale backup) instead of
    * silently over-dropping against deleted documents' entries.
    *
    * Equivalence to the batch pipeline: feeding snapshots D1..Dn through
    * this facade yields the same survivor-id union as [[run]] over
    * D1∪...∪Dn (OpsSpec pins it) PROVIDED ids are monotone across snapshots
    * (batch keeps cluster minima; the index keeps the earlier snapshot —
    * these agree when later snapshots have larger ids) and similarity chains
    * do not route exclusively through dropped documents (losers' signatures
    * never enter the index — the standard online-vs-batch dedup caveat).
    * Near-dup verification here is SIGNATURE agreement (index-only; the old
    * corpus text is never read), so borderline pairs at the threshold can
    * differ from the batch path's text-verified jaccard. The corpus-
    * frequency scrubs (line/span) and corpus mixing are deliberately absent:
    * they are corpus-scope passes that do not commute with per-delta
    * processing — run them on the assembled corpus downstream. */
  def runDelta(
      delta: DataFrame, idCol: String, textCol: String, workDir: String,
      schema: Option[SchemaSpec] = None,
      probe: Option[(DataFrame, String, String)] = None,
      embCol: Option[String] = None,
      deletions: Option[DataFrame] = None,
      minhashParams: Dedup.MinhashIndexParams = Dedup.MinhashIndexParams(),
      minhashThreshold: Double = 0.9,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      decontamN: Int = 13, decontamMinHits: Long = 1L,
      minQualityScore: Long = 0L, maxTopWordPct: Int = 100,
      semanticThreshold: Double = 0.99, numCells: Int = 1024,
      ivfIters: Int = 3, ivfSampleSize: Int = 4096,
      maxCell: Int = Dedup.DefaultMaxBucket,
      // usePqCodes: persist the semantic index as IVF-PQ (8-byte codes ride
      // the cell files next to emb; delta candidate scans read codes only —
      // the 32x-cheaper old side at corpus scale). ADC is recall-bounded by
      // pqAdcMargin and every emitted pair re-checks at full precision, so
      // precision is exact; a generous margin recovers the raw path exactly.
      usePqCodes: Boolean = false, pqM: Int = 8, pqKSub: Int = 16,
      pqAdcMargin: Double = 0.2, pqMaxRefineIds: Int = 1 << 14,
      splits: Seq[(String, Double)] = Seq("train" -> 1.0), splitSalt: String = "",
      packBudget: Option[Long] = None, packShards: Int = 64,
      paramsKey: String = "",
      // columns beyond (id, text, emb) whose VALUES the run's verdict depends
      // on (e.g. schema-validated fields): they join the content fingerprint,
      // so a data correction in them is a NEW snapshot, not a stale replay.
      // NOTE: resubmitting ids already in the corpus (an update, re-embedding
      // included) requires a `deletions` pass first — appends never retire an
      // id's previous generation from the indexes.
      extraFingerprintCols: Seq[String] = Nil,
      onStageComputed: String => Unit = _ => ()): DeltaPipelineResult = {
    val spark = delta.sparkSession
    val sc = spark.sparkContext
    val stage = new Stages(spark, workDir, onStageComputed)
    val fs = MetaFile.fs(spark, workDir)
    def exists(p: String) = fs.exists(new Path(p))
    val mhDir = s"$workDir/mhidx"
    val ivfDir = s"$workDir/ivfidx"

    // corpus manifest epoch: bumped by every deletion pass, and the floor
    // every index must have been compacted to before a delta may trust it.
    // Bumps land via MetaFile's temp-file + rename: an in-place overwrite
    // could be killed mid-write, leaving a truncated file that dead-ends
    // every later runDelta in toLong; a tmp left next to the live file is
    // dropped, and the redelivered deletion pass redoes the idempotent
    // compaction.
    val epochFile = new Path(workDir, "_corpus_epoch")
    def readCorpusEpoch(): Long =
      MetaFile.read(fs, epochFile, "expected the one-line corpus epoch file")
        .map(_.trim.toLong).getOrElse(0L)

    // withdrawals first: compact both indexes to the surviving ids so stale
    // entries of deleted documents can no longer win against this delta.
    // Order: compact AT the bumped epoch, THEN persist the bump — a kill in
    // between leaves the indexes ahead of the corpus epoch (harmless), and a
    // resubmission redoes the (idempotent) compaction before recording it.
    deletions.foreach { del =>
      val target = readCorpusEpoch() + 1
      val delIds = del.select(col(idCol).as("id"))
      if (exists(s"$mhDir/_params")) {
        val keep = Dedup.minhashIndexLoad(spark, mhDir)._1.select("id")
          .join(delIds, Seq("id"), "left_anti")
        Dedup.minhashIndexCompact(keep, "id", mhDir, Some(target))
      }
      if (embCol.isDefined && exists(s"$ivfDir/centroids")) {
        Dedup.completeSwap(spark, s"$ivfDir/cells", s"$ivfDir/cells_compacting")
        val keep = spark.read.parquet(s"$ivfDir/cells").select("id")
          .join(delIds, Seq("id"), "left_anti")
        Similarity.ivfIndexCompact(keep, "id", ivfDir, Some(target))
      }
      MetaFile.write(fs, epochFile, s"$target\n")
    }
    val corpusEpoch = readCorpusEpoch()

    // the fingerprint covers the EMBEDDING column too when one is in play: a
    // re-embedded snapshot (same ids and text, new vectors) must recompute
    // its semantic stages, not load results scored against the old vectors
    val baseKey =
      s"v2|in=${contentFp(delta, Seq(idCol, textCol) ++ embCol ++ extraFingerprintCols)}|" +
        s"schema=${schema.isDefined}|user=$paramsKey"
    // per-delta stage namespace: successive snapshots never overwrite each
    // other's committed state, so an identical resubmission replays cleanly
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(baseKey.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    def sname(n: String) = s"delta_${tag}_$n"

    // -- prepare: normalize+PII -> validate -> exact dedup WITHIN the delta,
    //    checkpointed as the frame every later stage re-reads
    val prepDir = StageStore.dataDir(workDir, sname("corpus"))
    val prep = stage(sname("prepare"), baseKey, Some(prepDir)) {
      val cleaned = delta.withColumn(textCol,
        TextOps.scrubPii(TextOps.normalizeUnicode(col(textCol))))
      val intake = Observation(s"graft_delta_intake_${seq.incrementAndGet()}")
      val annotated = schema match {
        case Some(spec) => Validator.validate(spec, cleaned).annotated
        case None       => cleaned.withColumn("valid", lit(true))
      }
      val observed = annotated
        .observe(intake, count(lit(1)).as("n_input"),
          coalesce(sum(when(col("valid"), 1L).otherwise(0L)), lit(0L)).as("n_valid"))
        .filter(col("valid"))
      val valid = schema match {
        case Some(_) => observed.drop("violations", "valid")
        case None    => observed.drop("valid")
      }
      val nExact = stage.write(Dedup.exactDedup(valid, idCol, textCol), idCol, prepDir)
      val (nInput, nValid) = intakeCounts(intake, annotated)
      Map("n_input" -> nInput, "n_valid" -> nValid, "n_exact" -> nExact)
    }
    val prepared = spark.read.parquet(prepDir)
    val idType = prepared.schema(idCol).dataType
    def idSet(dir: String): DataFrame =
      spark.read.schema(StructType(Seq(StructField(idCol, idType)))).parquet(dir)

    // -- lexical delta dedup vs the persisted MinHash index (built empty on
    //    first use: a from-scratch corpus's first snapshot dedups only
    //    within itself, exactly the batch semantics on one snapshot)
    val lexDir = StageStore.dataDir(workDir, sname("lex_keep"))
    val lexKey = s"$baseKey|mh=$minhashParams|thr=$minhashThreshold|maxBucket=$maxBucket"
    val lexC = stage(sname("lexdedup"), lexKey, Some(lexDir)) {
      if (!exists(s"$mhDir/_params"))
        Dedup.minhashIndexBuild(prepared.limit(0), idCol, textCol, mhDir,
          minhashParams, epoch = corpusEpoch)
      else
        IndexVersions.requireAtLeast(spark, mhDir, corpusEpoch,
          "MinHash signature index")
      val before = sc.getPersistentRDDs.keySet
      try {
        val audited = Dedup.deltaNearDupsIndexedAudited(
          prepared, idCol, textCol, mhDir, minhashThreshold, maxBucket)
        val kept = Dedup.deltaSurvivors(prepared, idCol, audited.pairs).select(col(idCol))
        Map("n_keep" -> stage.write(kept, idCol, lexDir),
          "drop_buckets" -> audited.droppedBuckets, "drop_ids" -> audited.droppedIds)
      } finally Dedup.releaseCheckpointsSince(sc, before)
    }
    val lexKept = prepared.join(idSet(lexDir), Seq(idCol), "left_semi")

    // -- append the DEDUP-stage survivors' signatures (pre-quality: a batch
    //    near-dup cluster forms over validated docs regardless of their later
    //    quality fate — appending post-quality would let a near-copy of a
    //    low-quality keeper survive where the batch pipeline drops it)
    stage(sname("mhappend"), lexKey) {
      Dedup.minhashIndexAppend(lexKept, idCol, textCol, mhDir)
      Map("n_appended" -> lexC("n_keep"))
    }

    // -- decontamination among lexical survivors
    val contamDir = StageStore.dataDir(workDir, sname("contaminated_ids"))
    val (decontamKey, deconAndCount) = probe match {
      case Some((p, pid, ptext)) =>
        val key = s"$lexKey|probe=${contentFp(p, Seq(pid, ptext))}|n=$decontamN|minHits=$decontamMinHits"
        val c = stage(sname("decontam"), key, Some(contamDir)) {
          val probeHashed = Decontaminate.probeHashes(p, pid, ptext, decontamN)
          Map("n_contam" -> stage.write(Decontaminate
            .flaggedIds(lexKept, idCol, textCol, probeHashed, decontamN, decontamMinHits),
            idCol, contamDir))
        }
        (key, (lexKept.join(idSet(contamDir), Seq(idCol), "left_anti"), c("n_contam")))
      case None => (s"$lexKey|probe=none", (lexKept, 0L))
    }
    val (decon, nContam) = deconAndCount

    // -- quality gate (cheap reapplied filter; counts-only stage)
    val qualityKey = s"$decontamKey|minQ=$minQualityScore|maxTop=$maxTopWordPct"
    val kept = qualityFilter(decon, textCol, minQualityScore, maxTopWordPct)
    val nKept = stage(sname("quality"), qualityKey)(Map("n_kept" -> kept.count()))("n_kept")

    // -- semantic delta dedup vs the persisted IVF index; first snapshot
    //    trains the quantizer (on its quality survivors) and seeds the index
    //    with its semantic survivors
    val (finalKept, nSemKeep) = embCol match {
      case Some(ec) =>
        val semDir = StageStore.dataDir(workDir, sname("sem_keep"))
        val semKey = s"$qualityKey|semThr=$semanticThreshold|cells=$numCells|" +
          s"iters=$ivfIters|sample=$ivfSampleSize|maxCell=$maxCell" +
          (if (usePqCodes)
             s"|pq=$pqM:$pqKSub|margin=$pqAdcMargin|refine=$pqMaxRefineIds"
           else "")
        val semC = stage(sname("semdedup"), semKey, Some(semDir)) {
          val before = sc.getPersistentRDDs.keySet
          try {
            val (survivors, bootstrapCents) =
              if (!exists(s"$ivfDir/centroids")) {
                val cents = Similarity.ivfTrain(kept, idCol, ec, numCells,
                  ivfIters, ivfSampleSize)
                (Similarity.semanticDedup(kept, idCol, ec, cents,
                  semanticThreshold, maxCell), Some(cents))
              } else {
                IndexVersions.requireAtLeast(spark, ivfDir, corpusEpoch,
                  "IVF cell index")
                (if (usePqCodes)
                   Similarity.semanticDeltaDedupPqIndexed(kept, idCol, ec, ivfDir,
                     semanticThreshold, maxCell, pqAdcMargin, pqMaxRefineIds)
                 else
                   Similarity.semanticDeltaDedupIndexed(kept, idCol, ec, ivfDir,
                     semanticThreshold, maxCell), None)
              }
            val n = stage.write(survivors.select(col(idCol)), idCol, semDir)
            // sidecar the trained centroids under the stage data dir (AFTER
            // the overwrite, which clears the dir; underscore-prefixed so the
            // parquet reader ignores it; before the stage's commit record):
            // semappend builds with the EXACT quantizer this dedup used, no
            // second training sample scan
            bootstrapCents.foreach(c =>
              MetaFile.writeJson(spark, s"$semDir/_centroids", c))
            Map("n_sem_keep" -> n,
              "bootstrapped" -> (if (bootstrapCents.isDefined) 1L else 0L))
          } finally Dedup.releaseCheckpointsSince(sc, before)
        }
        val semKept = kept.join(idSet(semDir), Seq(idCol), "left_semi")
        stage(sname("semappend"), semKey) {
          // bootstrap: the index IS the seeded survivor set — built HERE,
          // after the semdedup stage committed. Building it inside semdedup
          // left a crash window (index written, stage not committed) whose
          // recompute flipped onto the indexed branch against the delta's
          // own survivors. Centroids come from semdedup's sidecar (the exact
          // quantizer the dedup used; retrain fallback covers pre-sidecar
          // work dirs — ivfTrain is deterministic, hash-ordered sample).
          // Ownership guard: if ANOTHER delta seeded the index while this
          // snapshot's redelivery was pending, never overwrite it — that
          // would erase its survivors and fork the quantizer; append this
          // snapshot's survivors encoded with the index's stored quantizers
          // instead (first-come order semantics, like the append-only
          // lexical index; any cross-snapshot dups are kept — the
          // conservative direction).
          val ownerFile = new Path(ivfDir, "_bootstrap_owner")
          def ownedByUs: Boolean =
            MetaFile.read(fs, ownerFile, "rebuild the IVF index").exists(_.trim == tag)
          if (semC("bootstrapped") == 1L &&
              (!exists(s"$ivfDir/centroids") || ownedByUs)) {
            // claim BEFORE building: a kill mid-build recomputes our build
            MetaFile.write(fs, ownerFile, s"$tag\n")
            val cents =
              if (exists(s"$semDir/_centroids"))
                Similarity.readCentroids(spark, s"$semDir/_centroids")
              else Similarity.ivfTrain(kept, idCol, ec, numCells,
                ivfIters, ivfSampleSize)
            if (usePqCodes) {
              val books = Similarity.pqTrain(kept, idCol, ec, pqM, pqKSub,
                ivfIters, ivfSampleSize)
              Similarity.ivfPqBuildIndexWith(semKept, idCol, ec, ivfDir,
                cents, books, epoch = corpusEpoch)
            } else
              Similarity.ivfBuildIndexWith(semKept, idCol, ec, ivfDir, cents,
                epoch = corpusEpoch)
          } else if (exists(s"$ivfDir/codebooks"))
            Similarity.ivfPqIndexAppend(semKept, idCol, ec, ivfDir)
          else Similarity.ivfIndexAppend(semKept, idCol, ec, ivfDir)
          Map("n_appended" -> semC("n_sem_keep"))
        }
        (semKept, semC("n_sem_keep"))
      case None => (kept, nKept)
    }

    val out = splitAndPack(finalKept, idCol, textCol, mixing = false,
      splits, splitSalt, packBudget, packShards)

    DeltaPipelineResult(out, DeltaPipelineReport(
      input = prep("n_input"),
      invalid = prep("n_input") - prep("n_valid"),
      exactDups = prep("n_valid") - prep("n_exact"),
      nearDups = prep("n_exact") - lexC("n_keep"),
      contaminated = nContam,
      lowQuality = lexC("n_keep") - nContam - nKept,
      semanticDups = nKept - nSemKeep,
      output = nSemKeep,
      nearDupDroppedBuckets = lexC("drop_buckets"),
      nearDupDroppedIds = lexC("drop_ids")),
      stages = stage.records.result(), tag = tag)
  }

  /** Order-independent, multiset-robust content address over `cols`:
    * (row count, bit_xor of row hashes, additive hash sum mod Long.MaxValue).
    * XOR alone cancels duplicate rows in pairs ({A,A,B} vs {C,C,B} would
    * collide); the decimal SUM counts multiplicity and is ANSI-overflow-safe
    * (10^12 rows x 2^63 fits decimal(38)). ONE column-pruned scan — the
    * Iceberg seam: a catalog maintaining content digests in metadata
    * supplies this without any scan. */
  private def contentFp(df: DataFrame, cols: Seq[String]): String = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h),
      sum(h.cast(org.apache.spark.sql.types.DecimalType(38, 0)))).collect().head
    val sumMod = Option(r.getDecimal(2))
      .map(_.toBigInteger.mod(java.math.BigInteger.valueOf(Long.MaxValue)).toString)
      .getOrElse("0")
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:$sumMod"
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Intake counts from the observation, via the one observation resolver
    * (grace wait + loud explicit recompute — see Dedup.observedLongs). */
  private def intakeCounts(obs: Observation, annotated: DataFrame): (Long, Long) =
    Dedup.observedLongs(obs, ("n_input", "n_valid"), "pipeline intake",
      "input/valid counts") {
      val row = annotated.agg(count(lit(1)).as("n_input"),
        coalesce(sum(when(col("valid"), 1L).otherwise(0L)), lit(0L)).as("n_valid"))
        .collect().head
      (row.getLong(0), row.getLong(1))
    }
}
