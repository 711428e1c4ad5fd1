package graft

import graft.dsl._
import graft.run.Validator
import graft.suite.{Checks, CodeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan assertions: the properties that make the engine hold at
  * 100 TB are checked, not assumed — no shuffle in row validation, column
  * pruning reaches the parquet scan, joins broadcast when they should, and
  * aggregates are partial+final.
  */
class PlanSpec extends SparkSpec {

  private lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft-plan").toString + "/t"
    CodeTable.generate(spark, 2000).write.mode("overwrite").parquet(dir)
    dir
  }
  private def table: DataFrame = spark.read.parquet(tableDir)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The executed plans of the SQL actions `body` ran, read by a
    * `QueryExecutionListener`. An eager `localCheckpoint` is such an action:
    * its plan holds the scans the checkpointed frame's own plan has
    * truncated to an RDD leaf. */
  private def actionPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // the sentinel job of jobsDuring comes after every listener event of body
    try jobsDuring(body) finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("row validation is a single narrow pass: no exchange, whole-stage codegen") {
    val r = Validator.validate(CodeTable.codeSchema,
      table.withColumn("sha_fixture", col("content_sha256")))
    val p = plan(r.annotated)
    assert(!p.contains("Exchange"), s"row validation must not shuffle:\n$p")
    // '*(n)' prefixes mark operators inside WholeStageCodegen in simple format;
    // the validation Project itself must carry one (HOF lambdas would evict it)
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"validation projection not codegen'd:\n$p")
    // no UDFs anywhere in the compiled pipeline
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
  }

  test("column pruning reaches the parquet scan for narrow rule sets") {
    // a schema touching only `lang` must not read `content` (SURVEY §4)
    val spec = SchemaSpec("narrow",
      Seq(Field.string("lang").in(CodeTable.langs: _*)), keyColumns = Seq("repo"))
    val viol = Validator.validate(spec, table).violations
    val scan = viol.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("lang"), scan)
    assert(!scan.contains("content"), s"content must be pruned from ReadSchema:\n$scan")
  }

  test("filter pushdown reaches the scan (PushedFilters)") {
    val q = table.filter(col("lang") === "scala").select("repo", "path")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,scala)]"), p)
  }

  test("referential check uses a broadcast join for a small dim") {
    val dim = CodeTable.dimRepoCommits(table)
    val v = Checks.referentialViolations(table, Seq("repo", "commit"), dim, Seq("repo", "commit"),
      broadcastDim = true, keyCols = Seq("repo", "path"))
    val p = plan(v)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("salted referential path shuffles on (key, salt), not raw key alone") {
    val dim = CodeTable.dimRepoCommits(table)
    val v = Checks.referentialViolations(table, Seq("repo", "commit"), dim, Seq("repo", "commit"),
      broadcastDim = false, saltBuckets = 8, keyCols = Seq("repo", "path"))
    val p = plan(v)
    assert(p.contains("__salt"), s"salt column must be part of the join key:\n$p")
  }

  test("profile is one partial+final aggregate pass") {
    val p = plan(Checks.profile(table, Seq("repo", "lang", "content")))
    assert(p.contains("Aggregate"), p) // Sort/ObjectHash/Hash — global agg, either is fine
    // partial + final = exactly one exchange for the single global aggregate
    assert("Exchange".r.findAllIn(p).size === 1, p)
    assert(p.contains("partial_"), s"expected map-side partial aggregation:\n$p")
  }

  test("uniqueness: first shuffle carries 8-byte hashes, exact confirm is semi-joined") {
    val p = plan(Checks.uniqueness(table, Seq("repo", "path", "commit")))
    assert(p.contains("xxhash64"), p)        // candidate pass on the narrow hash
    assert(p.contains("LeftSemi"), p)        // exact confirmation on candidates only
    assert(p.contains("partial_count") || p.contains("partial_"), p)
  }

  test("grouped summary keeps one shuffle; violations explode adds none") {
    val r = Validator.validate(CodeTable.codeSchema,
      table.withColumn("sha_fixture", col("content_sha256")))
    assert(!plan(r.violations).contains("Exchange"))
    assert("Exchange".r.findAllIn(plan(r.summaryBy("lang"))).size === 1)
  }

  test("brute-force top-k plans as TakeOrdered (no global sort of the corpus)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = (0 until 64).map(_ => 0.1)
    val p = plan(graft.ops.Similarity.topKCosine(e, "vec_id", "embedding", q, 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the cosine projection itself is codegen'd (native DotProduct — the HOF
    // fold it replaced was CodegenFallback and would strip the *(n) marker)
    assert(p.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"cosine projection not codegen'd:\n$p")
  }

  test("persisted IVF index partition-prunes queries to the probed cells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-ivf-plan").toString
    val centroids = graft.ops.Similarity.ivfTrain(e, "vec_id", "embedding", k = 16, iters = 0,
      sampleSize = 16)
    graft.ops.Similarity.ivfBuildIndexWith(e, "vec_id", "embedding", dir, centroids)
    val q = (0 until 64).map(i => math.sin(i + 1).abs)
    val indexed = spark.read.parquet(s"$dir/cells")
    val top = graft.ops.Similarity.ivfTopKCosineAssigned(indexed, centroids, q, 10, nprobe = 4)
    val scan = top.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // the cell filter lands in PartitionFilters (directory pruning), never a
    // post-scan Filter over all 16 cell directories
    assert(scan.contains("PartitionFilters:"), scan)
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      s"cell IN-filter must prune partitions:\n$scan")
    val probed = graft.ops.Similarity.probeCells(centroids, q, 4).toSet
    assert(probed.size === 4)
    // non-tautological pruning proof: the scan node EMITS at most the probed
    // cells' rows — a regressed post-scan filter would have the scan emit all
    // 16 cells' rows and only then discard
    top.collect()
    val scanned = top.queryExecution.executedPlan
      .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .map(_.metrics("numOutputRows").value).sum
    import spark.implicits._
    val probedRows = indexed.filter(col("cell").isin(probed.toSeq: _*)).count()
    val totalRows = indexed.count()
    assert(probedRows < totalRows) // the probe set is a real subset
    assert(scanned <= probedRows, s"scan emitted $scanned rows; probed cells hold $probedRows")
  }

  test("IVF knn join over the persisted index: partition-pruned scan + broadcast hash join replace the cartesian") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-ivf-knn-plan").toString
    val centroids = graft.ops.Similarity.ivfTrain(e, "vec_id", "embedding", k = 16, iters = 0,
      sampleSize = 16)
    graft.ops.Similarity.ivfBuildIndexWith(e, "vec_id", "embedding", dir, centroids)
    val indexed = spark.read.parquet(s"$dir/cells")
    val queries = e.filter(col("vec_id") % 200 === 0) // few queries -> probed cells a real subset
    val out = graft.ops.Similarity.knnJoinCosineIvf(
      queries, "vec_id", "embedding", indexed, centroids, k = 5, nprobe = 2)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    // the brute-force join's cartesian is gone; cell equi-join broadcasts
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // same bounded-queue top-k tail as the brute-force join
    assert(p.contains("partial_collect_top_k"), p)
    // the cell IN-filter prunes index partitions at the scan
    val scan = out.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      s"cell IN-filter must prune partitions:\n$scan")
    // non-tautological: the scan emitted only the probed cells' rows
    val scanned = out.queryExecution.executedPlan
      .collectWithSubqueries { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .map(_.metrics("numOutputRows").value).sum
    val totalRows = indexed.count()
    assert(scanned < totalRows, s"scan emitted $scanned of $totalRows rows — no pruning happened")
  }

  test("distributed IVF knn join: no driver-collected query side, codegen'd probe explode, hash join on cell") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = graft.ops.Similarity.ivfTrain(
      e, "vec_id", "embedding", k = 16, iters = 0, sampleSize = 16)
    val indexed = graft.ops.Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
    val out = graft.ops.Similarity.knnJoinCosineIvfDistributed(
      e.filter(col("vec_id") % 200 === 0), "vec_id", "embedding",
      indexed, centroids, k = 5, nprobe = 2)
    val p = plan(out)
    // the query side is a SCAN + Generate(explode(probe_cells)), never a
    // LocalTableScan of rows collected to the driver (the probed path's
    // signature) — both sides must come straight from the parquet source
    assert(!p.contains("LocalTableScan"), s"driver-collected query side leaked in:\n$p")
    assert(p.contains("probe_cells"), s"probe-cell expression missing:\n$p")
    assert(p.contains("Generate explode"), s"probe fan-out must be an explode:\n$p")
    // cell equi-join (broadcast here; shuffle-hash at corpus scale) — never
    // a nested-loop/cartesian
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"), p)
    // same bounded-queue top-k tail as every other k-NN join
    assert(p.contains("partial_collect_top_k"), p)
  }

  test("minhash/simhash signature projections stay inside whole-stage codegen") {
    // the signatures are native Expressions (one JITed static call each) — a
    // HOF fold here would be CodegenFallback and evict the whole projection
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pMin = plan(d.select(col("doc_id"),
      graft.ops.Dedup.minhashSignature(col("text"), 3, 64).as("sig")))
    assert(pMin.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"minhash signature projection not codegen'd:\n$pMin")
    val pSim = plan(d.select(col("doc_id"), graft.ops.Dedup.simhash(col("text")).as("sig")))
    assert(pSim.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"simhash signature projection not codegen'd:\n$pSim")
    val pNorm = plan(d.select(col("doc_id"),
      graft.ops.TextOps.normalizeUnicode(col("text")).as("nfc")))
    assert(pNorm.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"unicode_normalize projection not codegen'd:\n$pNorm")
    val pRep = plan(d.select(col("doc_id"),
      graft.ops.TextOps.repetitionSignals(col("text")).as("r")))
    assert(pRep.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"repetition_stats projection not codegen'd:\n$pRep")
    val pNg = plan(d.select(col("doc_id"),
      graft.functions.NgramHashes(col("text"), 3).as("g")))
    assert(pNg.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"ngram_hashes projection not codegen'd:\n$pNg")
    // native lang_id (the k-interpreted-HOF-filters shape it replaced would
    // evict the projection from codegen)
    val pLang = plan(d.select(col("doc_id"),
      graft.ops.TextOps.langId(col("text")).as("lang")))
    assert(pLang.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"lang_id projection not codegen'd:\n$pLang")
    // PQ encode + ADC score (the full-corpus passes of the 32x-compressed
    // ANN path) are native Expressions too
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = graft.ops.Similarity.pqTrain(e, "vec_id", "embedding",
      m = 8, kSub = 16, iters = 0, sampleSize = 16)
    val pEnc = plan(graft.ops.Similarity.pqEncode(e, "vec_id", "embedding", books))
    assert(pEnc.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"pq_encode projection not codegen'd:\n$pEnc")
    val table = graft.ops.Similarity.pqAdcTable(books, Seq.fill(64)(0.1))
    val pAdc = plan(graft.ops.Similarity.pqEncode(e, "vec_id", "embedding", books)
      .select(col("id"), graft.functions.PqAdcScore(col("codes"), table).as("s")))
    assert(pAdc.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"pq_adc_score projection not codegen'd:\n$pAdc")
  }

  test("duplicated-span scrub: positional grams + scrub codegen'd; dup hashes semi-joined; no gram collect_list") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // both native expressions keep their projections in whole-stage codegen
    val pAt = plan(d.select(col("doc_id"),
      graft.functions.NgramHashesAt(col("text"), 8).as("g")))
    assert(pAt.linesIterator.exists(l => l.contains("Project") && l.contains("*(")),
      s"ngram_hashes_at projection not codegen'd:\n$pAt")
    val p = plan(graft.ops.Dedup.duplicatedSpans(d, "doc_id", "text", n = 8))
    // duplicated-instance selection is a LeftSemi join on the 8-byte hash —
    // never a per-gram collect_list (a corpus-dominant gram would build one
    // giant bucket)
    assert(p.contains("LeftSemi"), s"dup-hash selection must be a semi join:\n$p")
    assert(p.contains("span_scrub"), s"scrub must be the native expression:\n$p")
  }

  test("bucketed staging: uniqueness over the bucketed table plans with NO shuffle; values match the hash-prescreen path") {
    val dir = Files.createTempDirectory("graft-bucketed").toString
    // planted duplicates (id%101 copies) so the value-parity check is non-vacuous
    val dupTable = CodeTable.withPlantedDuplicates(table, 2000)
    graft.io.BucketedStage.stage(
      dupTable, Seq("repo", "path", "commit"), buckets = 8, table = "graft_bucketed_plan",
      path = Some(dir))
    try {
      val t = spark.table("graft_bucketed_plan")
      val u = Checks.uniquenessPrePartitioned(t, Seq("repo", "path", "commit"))
      val p = plan(u)
      assert(!p.contains("Exchange"),
        s"keyed check over the bucketed stage must not shuffle:\n$p")
      // exact same duplicate set as the general-input path
      val got = u.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      val ref = Checks.uniqueness(dupTable, Seq("repo", "path", "commit"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(got === ref && got.nonEmpty)
      // co-bucketed referential: child and dim staged bucketed on the SAME
      // join key => the sort-merge anti-join consumes both scans' bucketing
      // and the whole check is exchange-free too (broadcast disabled: at
      // 10^12 rows neither side broadcasts — that is what this path is for)
      graft.io.BucketedStage.stage(dupTable, Seq("repo", "commit"), buckets = 8,
        table = "graft_bucketed_rc", path = Some(Files.createTempDirectory("graft-brc").toString))
      graft.io.BucketedStage.stage(CodeTable.dimRepoCommits(table), Seq("repo", "commit"),
        buckets = 8, table = "graft_bucketed_dim",
        path = Some(Files.createTempDirectory("graft-bdim").toString))
      val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val v = Checks.referentialViolations(
          spark.table("graft_bucketed_rc"), Seq("repo", "commit"),
          spark.table("graft_bucketed_dim"), Seq("repo", "commit"),
          broadcastDim = false, saltBuckets = 0, keyCols = Seq("repo", "path"),
          dimIsDistinct = true, nullSafeKeys = false)
        val pv = plan(v)
        assert(!pv.contains("Exchange"),
          s"co-bucketed referential must not shuffle:\n$pv")
        val nRef = Checks.referentialViolations(dupTable, Seq("repo", "commit"),
          CodeTable.dimRepoCommits(table), Seq("repo", "commit"),
          broadcastDim = true, keyCols = Seq("repo", "path")).count()
        assert(v.count() === nRef && nRef > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_plan")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_rc")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_dim")
    }
  }

  test("semantic delta dedup: the index read partition-prunes to the delta's cells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-sem-delta-plan").toString
    val old = e.filter(col("vec_id") % 3 =!= 0)
    graft.ops.Similarity.ivfBuildIndexWith(old, "vec_id", "embedding", dir,
      graft.ops.Similarity.ivfTrain(old, "vec_id", "embedding", k = 16, iters = 0, sampleSize = 16))
    // a one-vector delta touches ONE cell: the old-side scan must prune to it
    val delta = e.filter(col("vec_id") === 3).select(
      (col("vec_id") + 1000).as("vec_id"), col("embedding"))
    val pairs = graft.ops.Similarity.semanticDeltaPairsIndexed(
      delta, "vec_id", "embedding", dir, threshold = 0.9).pairs
    val scan = pairs.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(scan).isDefined,
      s"delta's touched cells must land in PartitionFilters:\n$scan")
  }

  test("PQ semantic delta: candidate scan reads 8-byte codes (never emb); cells partition-pruned") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-sem-delta-pq-plan").toString
    val old = e.filter(col("vec_id") % 3 =!= 0)
    graft.ops.Similarity.ivfBuildIndexWith(old, "vec_id", "embedding", dir,
      graft.ops.Similarity.ivfTrain(old, "vec_id", "embedding", k = 16, iters = 0, sampleSize = 16),
      Some(graft.ops.Similarity.pqTrain(old, "vec_id", "embedding", iters = 0, sampleSize = 16)))
    val delta = e.filter(col("vec_id") === 3).select(
      (col("vec_id") + 1000).as("vec_id"), col("embedding"))
    // the candidate scan runs in the candidate frame's checkpoint job
    val scans = actionPlans {
      graft.ops.Similarity.semanticDeltaPairsPqIndexed(
        delta, "vec_id", "embedding", dir, threshold = 0.9, adcMargin = 0.9).pairs.collect()
    }.flatMap(_.split("\n")).filter(_.contains("FileScan"))
    val codeScans = scans.filter(_.contains("codes"))
    assert(codeScans.nonEmpty, s"no codes scan in:\n${scans.mkString("\n")}")
    // the candidate scan's ReadSchema must NOT drag the raw vectors — that
    // column pruning IS the 32x old-side read cut
    codeScans.foreach(s => assert(!s.contains("emb"),
      s"candidate scan must read codes, not emb:\n$s"))
    assert(scans.exists("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(_).isDefined),
      s"delta's touched cells must land in PartitionFilters:\n${scans.mkString("\n")}")
  }

  test("PQ cells are columnar in BYTES, not just schema: a codes scan reads a fraction of an emb scan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = Files.createTempDirectory("graft-pq-bytes").toString
    graft.ops.Similarity.ivfBuildIndexWith(e, "vec_id", "embedding", dir,
      graft.ops.Similarity.ivfTrain(e, "vec_id", "embedding", k = 4, iters = 0, sampleSize = 16),
      Some(graft.ops.Similarity.pqTrain(e, "vec_id", "embedding", iters = 0, sampleSize = 16)))
    // measure the on-disk column chunks straight from the parquet footers:
    // a projection's scan bytes are bounded by its columns' chunk sizes
    // (the parquet reader's own guarantee), so the chunk ratio IS the
    // measured basis of the "32x cheaper old side" claim
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(s"$dir/cells")
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    var codesBytes = 0L
    var embBytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          for (bg <- reader.getFooter.getBlocks.asScala;
               c <- bg.getColumns.asScala) {
            val col = c.getPath.toDotString
            if (col.startsWith("codes")) codesBytes += c.getTotalSize
            if (col.startsWith("emb")) embBytes += c.getTotalSize
          }
        } finally reader.close()
      }
    }
    assert(codesBytes > 0 && embBytes > 0)
    assert(codesBytes * 4 <= embBytes,
      s"codes chunks $codesBytes B vs emb chunks $embBytes B — the codes-only " +
        "candidate scan would not be materially cheaper than raw vectors")
  }

  test("delta dedup: old bands pruned by a broadcast semi-join on the delta's bucket keys") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = graft.ops.Dedup.MinhashIndexParams(numHashes = 32, bands = 8)
    val oldSigs = graft.ops.Dedup.minhashSignatures(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", p)
    val pairs = graft.ops.Dedup.deltaNearDups(
      d.filter(col("doc_id") % 3 === 0), "doc_id", "text", oldSigs, p)
    val pl = plan(pairs)
    // the index side must be filtered to buckets the delta touches BEFORE the
    // banding shuffle — a broadcast semi-join, never a plain shuffle of every
    // old band (and never any nested-loop/cartesian shape)
    assert(pl.contains("BroadcastHashJoin") && pl.contains("LeftSemi"),
      s"old-band prune must be a broadcast semi join:\n$pl")
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"), pl)
  }

  test("indexed delta dedup: thin band scan partition-pruned to the delta's buckets; sig fetch pruned to candidate id buckets") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = graft.ops.Dedup.MinhashIndexParams(numHashes = 32, bands = 8)
    val dir = Files.createTempDirectory("graft-banded-idx").toString
    graft.ops.Dedup.minhashIndexBuild(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", dir, p)
    // a one-doc delta touches ≤ bands band-buckets of numBuckets dirs: the
    // old-side candidate scan must carry a PartitionFilters entry on
    // band_bucket, and it must be the THIN layout (no sig column read)
    val delta = d.filter(col("doc_id") === 1) // doc 1 IS indexed -> a pair must surface
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    // the pruned parquet scans run in the candidate and signature frames'
    // checkpoint jobs (the final plan reads the checkpoints)
    var pairs = Set.empty[Seq[Any]]
    val scan = actionPlans {
      pairs = graft.ops.Dedup.deltaNearDupsIndexedAudited(
        delta, "doc_id", "text", dir, threshold = 0.8).pairs.collect().map(_.toSeq).toSet
    }.flatMap(_.split("\n")).filter(_.contains("FileScan")).mkString("\n")
    assert("PartitionFilters: \\[[^\\]]*band_bucket".r.findFirstIn(scan).isDefined,
      s"delta's band buckets must land in PartitionFilters:\n$scan")
    assert("PartitionFilters: \\[[^\\]]*id_bucket".r.findFirstIn(scan).isDefined,
      s"candidate old ids' buckets must land in PartitionFilters:\n$scan")
    val bandScan = scan.linesIterator.filter(_.contains("/bands")).mkString("\n")
    assert(bandScan.nonEmpty && !bandScan.contains("sig"),
      s"candidate scan must read the THIN band layout, no signature column:\n$bandScan")
    // and the indexed path emits exactly what the raw-frame path emits
    val oldSigs = graft.ops.Dedup.minhashSignatures(
      d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", p)
    val raw = graft.ops.Dedup.deltaNearDups(delta, "doc_id", "text", oldSigs, p)
      .collect().map(_.toSeq).toSet
    assert(raw.nonEmpty, "expected the planted delta copy to pair with its indexed source")
    assert(pairs === raw)
  }

  test("snapshot diff: partial+final fingerprint aggregates, scans pruned to the hashed columns") {
    val cur = table.filter(col("id") % 5 =!= 0)
    val p = plan(graft.checkpoint.CheckpointedRunner.snapshotDiff(
      cur, table, Seq("repo", "path"), 64))
    assert(p.contains("partial_"), s"fingerprint aggregate must map-side combine:\n$p")
    // the full-outer join of two 64-row histogram frames — never the tables
    assert(p.contains("FullOuter"), p)
  }

  test("stratified sample is one codegen'd filter: no shuffle, no extra pass") {
    val p = plan(graft.ops.Sharding.stratifiedSample(
      table, "id", "lang", Map("scala" -> 0.5), 0.1))
    assert(!p.contains("Exchange"), s"sampling must not shuffle:\n$p")
    assert(p.linesIterator.exists(l => l.contains("Filter") && l.contains("*(")),
      s"sample filter not codegen'd:\n$p")
  }

  test("skew profile: per-key counts partial-aggregate; top-K is TakeOrdered, not a global sort") {
    val p = plan(Checks.keySkewProfile(table, Seq("repo"), 10, 32))
    assert(p.contains("partial_"), s"count aggregate must map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-K must not globally sort:\n$p")
  }

  test("cost-budget packing windows partition by the full composite shard key") {
    import graft.ops.Sharding
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sharded = Sharding.hashSplit(d, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
      .withColumn("shard", Sharding.shardColumn(col("doc_id"), 8))
    val packed = Sharding.packByCostBudget(sharded, Seq("split", "shard"), "doc_id", "n_chars", 1000L)
    val windows = packed.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    // both composite key columns reach the window's partition spec — a
    // single-column spec here is the one-task-per-split scale failure
    assert(windows.nonEmpty && windows.head.partitionSpec.size === 2,
      windows.map(_.partitionSpec).mkString(";"))
  }
}
