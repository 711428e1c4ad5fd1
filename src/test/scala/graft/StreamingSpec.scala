package graft

import graft.dsl._
import graft.run.Validator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The compiled validation pipeline is stateless Column transforms, so the
  * SAME SchemaSpec runs unchanged over Structured Streaming — violations
  * stream out per micro-batch; windowed summaries aggregate with watermarks.
  * (The reference is batch-only; this is the Spark-native lift.)
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  case class Ev(event_id: Long, event_type: String, value: Double)

  test("streaming validation: violations flow through a memory sink per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val spec = SchemaSpec("events", Seq(
      Field.string("event_type").in("view", "click", "purchase"),
      Field.float("value").ge(0.0)),
      keyColumns = Seq("event_id"))

    val violations = Validator.validate(spec, input.toDF()).violations
    val q = violations.writeStream
      .format("memory").queryName("viol_sink").outputMode("append").start()
    try {
      input.addData(
        Ev(1, "view", 10.0),
        Ev(2, "hack", 5.0),    // inclusion violation
        Ev(3, "click", -2.0))  // ge violation
      q.processAllAvailable()
      input.addData(Ev(4, "purchase", 1.0), Ev(5, "hack", -1.0)) // two violations
      q.processAllAvailable()
      val got = spark.table("viol_sink")
        .select("event_id", "constraint_id").as[(Long, String)].collect().toSet
      assert(got === Set(
        (2L, "event_type.inclusion"),
        (3L, "value.greater_than_or_equal_to"),
        (5L, "event_type.inclusion"),
        (5L, "value.greater_than_or_equal_to")))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicates dropped across micro-batches; audit stream counts them") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")

    val kept = graft.streaming.StreamingDedup.dedupExactStream(df, "doc_id", "text")
    val q1 = kept.writeStream.format("memory").queryName("dedup_sink").outputMode("append").start()
    val audit = graft.streaming.StreamingDedup.dedupAuditStream(df, "doc_id", "text")
    val q2 = audit.writeStream.format("memory").queryName("audit_sink").outputMode("append").start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // 3 dups 1 in-batch
      q1.processAllAvailable(); q2.processAllAvailable()
      input.addData((4L, "alpha"), (5L, "gamma"))               // 4 dups 1 cross-batch
      q1.processAllAvailable(); q2.processAllAvailable()

      // streaming dropDuplicates keeps whichever in-batch duplicate reaches the
      // state store first — assert the SET of surviving texts, not which of the
      // two batch-1 "alpha" rows won (that order is not guaranteed)
      val keptIds = spark.table("dedup_sink").select("doc_id").as[Long].collect().toSet
      assert(keptIds.size === 3)
      assert(keptIds.contains(2L) && keptIds.contains(5L))
      assert(keptIds.contains(1L) || keptIds.contains(3L))

      val events = spark.table("audit_sink")
        .select("id", "keep", "dup_count").as[(Long, Boolean, Long)].collect().toSet
      assert(events === Set(
        (1L, true, 0L), (2L, true, 0L), (3L, false, 1L),  // batch 1: 3 is the 2nd "alpha"
        (4L, false, 2L), (5L, true, 0L)))                 // batch 2: state remembered "alpha"
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming simhash near-dup: partner found the moment it arrives; matches batch output") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val maxH = 30
    val pairs = graft.streaming.StreamingDedup.simhashNearDupStream(df, "doc_id", "text", maxH)
    val q = pairs.writeStream.format("memory").queryName("nd_sink").outputMode("append").start()
    val t1 = "the quick brown fox jumps over the lazy dog again and again and again"
    val t2 = "completely different content about spark catalyst expression codegen pipelines"
    val t3 = t1 + " tail"
    try {
      input.addData((1L, t1), (2L, t2))
      q.processAllAvailable()
      assert(spark.table("nd_sink").count() === 0) // unrelated texts: no pair yet
      input.addData((3L, t1), (4L, t3)) // 3 = exact partner of 1; 4 = near-dup
      q.processAllAvailable()
      // a pair matching in several bands is emitted once per band — set-compare
      val got = spark.table("nd_sink").select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val batch = graft.ops.Dedup.simhashNearDupsAudited(
        Seq((1L, t1), (2L, t2), (3L, t1), (4L, t3)).toDF("doc_id", "text"),
        "doc_id", "text", maxHamming = maxH)
        .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got === batch)
      assert(got.contains((1L, 3L))) // identical texts: hamming 0, cross-batch
    } finally q.stop()
  }

  test("streaming windowed summary with watermark (violations per window)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val spec = SchemaSpec("s", Seq(
      Field.string("v").in("ok")), keyColumns = Seq("ts"))
    val annotated = Validator.validate(spec, input.toDF().toDF("ts", "v")).annotated
    val summary = annotated
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "10 seconds"))
      .agg(count(lit(1)).as("rows"), sum(when(!$"valid", 1L).otherwise(0L)).as("invalid"))
    val q = summary.writeStream
      .format("memory").queryName("win_sink").outputMode("complete").start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      input.addData((ts(5), "ok"), (ts(7), "bad"), (ts(15), "ok"))
      q.processAllAvailable()
      val rows = spark.table("win_sink").select("rows", "invalid")
        .as[(Long, Long)].collect().toSet
      assert(rows === Set((2L, 1L), (1L, 0L)))
    } finally q.stop()
  }

  test("streaming drift: finalized windows scored once against the baseline; drifted window flagged") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val baseline = Map("en" -> 50L, "es" -> 50L)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Boolean, Long)]
    val q = graft.streaming.StreamingDrift.driftStream(
      input.toDF().toDF("ts", "lang"), "ts", "lang", baseline,
      windowDuration = "10 seconds", watermarkDelay = "5 seconds",
      psiThreshold = 0.2) { (report, _) =>
      got ++= report.collect().map(r => (
        r.getTimestamp(0).getTime / 1000, r.getDouble(2), r.getBoolean(3), r.getLong(4)))
    }.start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      // window [0,10): same 50/50 mix as baseline; window [10,20): all-'es'
      input.addData(
        Seq(ts(2L) -> "en", ts(3L) -> "es", ts(4L) -> "en", ts(5L) -> "es") ++
          Seq.fill(6)(ts(12L) -> "es"): _*)
      q.processAllAvailable()
      // advance the watermark past both windows to finalize them
      input.addData(ts(40L) -> "en")
      q.processAllAvailable()
      val byWindow = got.groupBy(_._1)
      assert(byWindow.keySet === Set(0L, 10L), got.toString) // [40,50) not finalized
      assert(byWindow(0L).size === 1 && byWindow(10L).size === 1) // scored exactly once
      val (_, psiSame, driftedSame, rowsSame) = byWindow(0L).head
      val (_, psiDrift, driftedDrift, rowsDrift) = byWindow(10L).head
      assert(psiSame < 1e-9 && !driftedSame && rowsSame === 4L)
      assert(psiDrift > 0.2 && driftedDrift && rowsDrift === 6L)
    } finally q.stop()
  }

  test("streaming drift: null categories share the batch sentinel — identical null mix scores PSI ~0") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    // baseline with nulls keyed the way the BATCH driftCheck keys them
    val baseline = Map("en" -> 2L, graft.suite.Checks.NullCategoryKey -> 2L)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val q = graft.streaming.StreamingDrift.driftStream(
      input.toDF().toDF("ts", "lang"), "ts", "lang", baseline,
      windowDuration = "10 seconds", watermarkDelay = "5 seconds",
      psiThreshold = 0.2) { (report, _) =>
      got ++= report.collect().map(r => (r.getDouble(2), r.getBoolean(3)))
    }.start()
    try {
      def ts(s: Long) = new java.sql.Timestamp(s * 1000)
      input.addData(Seq(ts(2L) -> "en", ts(3L) -> null, ts(4L) -> "en", ts(5L) -> null): _*)
      q.processAllAvailable()
      input.addData(ts(40L) -> "en")
      q.processAllAvailable()
      assert(got.size === 1, got.toString)
      val (psi, drifted) = got.head
      // before the shared sentinel this scored one vanished + one new category
      assert(psi < 1e-9 && !drifted, s"psi=$psi")
    } finally q.stop()
  }

  test("streaming delta dedup: index on disk is the cross-batch state; earlier corpus wins") {
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8)
    val idx = java.nio.file.Files.createTempDirectory("graft-sdelta").toString
    // index starts from an EMPTY corpus of the right schema
    Dedup.minhashIndexBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx, p)
    val docA = (1 to 30).map(i => s"a$i").mkString(" ")
    val docB = (1 to 30).map(i => s"b$i").mkString(" ")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDedup.deltaDedupStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, threshold = 0.8) {
      (kept, batchId) =>
        survivors.synchronized {
          survivors ++= kept.select("doc_id").collect().map(r => (batchId, r.getLong(0)))
        }
    }.start()
    try {
      // batch 0: A twice (near-copies) -> min id 10 survives
      input.addData((10L, docA), (11L, docA + " tail"))
      q.processAllAvailable()
      // batch 1: another near-copy of A (loses to the INDEXED batch-0 doc) + novel B
      input.addData((12L, docA + " other"), (20L, docB))
      q.processAllAvailable()
      // batch 2: near-copy of B from two batches ago -> still caught
      input.addData((21L, docB + " again"))
      q.processAllAvailable()
      assert(survivors.toSet === Set((0L, 10L), (1L, 20L)))
      // the index holds exactly the survivors' signatures
      assert(Dedup.minhashIndexLoad(spark, idx)._1.select("id").as[Long].collect().toSet
        === Set(10L, 20L))
      // storage hygiene: each batch released its localCheckpoint blocks —
      // a long-running stream must not accumulate them until driver GC
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
    } finally q.stop()
  }

  test("streaming semantic delta dedup: IVF index on disk is the cross-batch state; earlier vectors win") {
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val idx = java.nio.file.Files.createTempDirectory("graft-ssem").toString
    def v(base: Seq[Double], eps: Double) = base.map(_ + eps)
    val vA = Seq(1.0, 0.1, 0.0, 0.0)
    val vB = Seq(0.0, 1.0, 0.1, 0.0)
    val vC = Seq(0.0, 0.0, 0.1, 1.0)
    // the quantizer trains on the EXISTING corpus (unlike the lexical index,
    // IVF cannot seed from an empty frame)
    Similarity.ivfBuildIndex(Seq((1L, vA)).toDF("vec_id", "emb"),
      "vec_id", "emb", idx, numCells = 1, iters = 0, sampleSize = 1)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDedup.semanticDeltaDedupStream(
      input.toDF().toDF("vec_id", "emb"), "vec_id", "emb", idx, threshold = 0.95) {
      (kept, batchId) =>
        survivors.synchronized {
          survivors ++= kept.select("vec_id").collect().map(r => (batchId, r.getLong(0)))
        }
    }.start()
    try {
      // batch 0: near-copy of the indexed 1 loses; novel B survives + appends
      input.addData((10L, v(vA, 0.01)), (20L, vB))
      q.processAllAvailable()
      // batch 1: near-copy of B from the PREVIOUS batch loses to the index;
      // novel C survives
      input.addData((21L, v(vB, 0.01)), (30L, vC))
      q.processAllAvailable()
      assert(survivors.toSet === Set((0L, 20L), (1L, 30L)))
      // the index holds exactly the corpus + streamed survivors
      assert(spark.read.parquet(s"$idx/cells").select("id").as[Long].collect().toSet
        === Set(1L, 20L, 30L))
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
      assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
    } finally q.stop()
  }

  test("streaming semantic delta dedup over an IVF-PQ index: survivors append as codes; cross-batch dup caught") {
    import graft.ops.Similarity
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Double])]
    val idx = java.nio.file.Files.createTempDirectory("graft-ssempq").toString
    val vA = Seq(1.0, 0.1, 0.0, 0.0)
    val vB = Seq(0.0, 1.0, 0.1, 0.0)
    Similarity.ivfPqBuildIndex(Seq((1L, vA)).toDF("vec_id", "emb"),
      "vec_id", "emb", idx, numCells = 1, m = 2, kSub = 1, iters = 0, sampleSize = 1)
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDedup.semanticDeltaDedupStream(
      input.toDF().toDF("vec_id", "emb"), "vec_id", "emb", idx,
      threshold = 0.95, usePqCodes = true, pqAdcMargin = 2.0) {
      (kept, batchId) =>
        survivors.synchronized {
          survivors ++= kept.select("vec_id").collect().map(r => (batchId, r.getLong(0)))
        }
    }.start()
    try {
      input.addData((10L, vA.map(_ + 0.01)), (20L, vB))
      q.processAllAvailable()
      input.addData((21L, vB.map(_ + 0.01))) // near-copy of the PREVIOUS batch's survivor
      q.processAllAvailable()
      assert(survivors.toSet === Set((0L, 20L)))
      val cells = spark.read.parquet(s"$idx/cells")
      assert(cells.columns.contains("codes"))
      assert(cells.select("id").as[Long].collect().toSet === Set(1L, 20L))
    } finally q.stop()
  }

  test("streaming decontamination: leaked docs dropped per micro-batch against a static probe") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val bench = "the quick brown fox jumps over the lazy dog again and again"
    val clean1 = "spark shuffles hash partitions across executor cores nightly"
    val clean2 = "catalyst folds constants before codegen emits the loop body"
    val probe = Seq((100L, bench)).toDF("pid", "ptext")
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamingDecontaminate.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      probe, "pid", "ptext", n = 3, minHits = 3L) { (kept, batchId) =>
      survivors.synchronized {
        survivors ++= kept.select("doc_id").collect().map(r => (batchId, r.getLong(0)))
      }
    }.start()
    try {
      input.addData((1L, clean1), (2L, bench))                      // 2 leaks verbatim
      q.processAllAvailable()
      input.addData((3L, "prefix " + bench + " suffix"), (4L, clean2)) // 3 leaks embedded
      q.processAllAvailable()
      assert(survivors.map(_._2).toSet === Set(1L, 4L))
      // verdicts landed in their own batch (stateless per trigger)
      assert(survivors.toSet === Set((0L, 1L), (1L, 4L)))
    } finally q.stop()
  }
}
