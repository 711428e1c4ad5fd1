package graft

import graft.checkpoint.StageStore
import graft.io.PreChangeLayoutException
import graft.ops.{Adaptive, Dedup, IndexVersions, Similarity, TrainingPipeline}
import org.apache.hadoop.fs.Path

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

  test("tiny metadata never submits a Spark job: stage records, index epochs, MinHash params, IVF centroids") {
    val w = tmp()
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8, numBuckets = 4)
    Dedup.minhashIndexBuild(delta(1L, 2L, 3L), "doc_id", "text", s"$w/mh", p)
    val embs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f))).toDF("id", "emb")
    val cents = Similarity.ivfBuildIndex(embs, "id", "emb", s"$w/ivf", numCells = 2, iters = 1)

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
      assert(fs.exists(new Path(corpusDir, Dedup.CommitMarker)))
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
    Similarity.ivfBuildIndex(embs, "id", "emb", s"$w/ivf", numCells = 2, iters = 1)
    fs.delete(new Path(s"$w/ivf/centroids"), true)
    Seq("[[1.0,0.0],[0.0,1.0]]").toDF("centroids").coalesce(1).write.json(s"$w/ivf/centroids")
    val cents = intercept[PreChangeLayoutException](Similarity.ivfLoadCentroids(spark, s"$w/ivf"))
    assert(cents.getMessage.contains("ivfBuildIndex"), cents.getMessage)

    // a parquet lifecycle log cannot say which epoch the index is at
    Seq((0L, "build", 2L)).toDF("epoch", "event", "rows")
      .coalesce(1).write.mode("append").parquet(s"$w/mh/${IndexVersions.Sidecar}")
    val log = intercept[PreChangeLayoutException](IndexVersions.epoch(spark, s"$w/mh"))
    assert(log.getMessage.contains("rebuild the index"), log.getMessage)
  }
}
