package graft.ops

import graft.io.MetaFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (array<float>).
  *
  * Scale model: brute-force cosine is ONE narrow scan + a top-k aggregate
  * (no shuffle of vectors, only of k-sized heaps via TakeOrdered) — the right
  * baseline up to ~10^8 rows/query batch. The LSH path (random hyperplane
  * signatures) buckets vectors so a query touches only matching buckets —
  * the 100 TB path; signatures are deterministic from a seed so the index is
  * reproducible and checkpoint-friendly.
  */
object Similarity {

  /** dot(a, b) in double precision (stable across engines vs float accum) —
    * a native codegen Expression: the brute-force cosine baseline is a
    * full-corpus scan, and the aggregate/zip_with fold it replaced ran
    * interpreted per element. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Rank the (already tiny, <= k rows) result of an orderBy/limit without a
    * single-partition Window: the k rows are coalesced and sorted once, and
    * rank = position. Keeps 100x-scale hygiene — nothing row-count-dependent
    * ever passes through a global window. */
  private def rankTopK(topK: DataFrame): DataFrame =
    topK.coalesce(1)
      .sortWithinPartitions(col("cosine").desc, col("id").asc)
      .withColumn("rank", monotonically_increasing_id() + 1L)
      .select("rank", "id", "cosine")

  /** Brute-force top-k cosine neighbors of a literal query vector.
    * The filter/projection is codegen'd; `orderBy().limit(k)` becomes
    * TakeOrderedAndProject — each partition keeps only k rows. */
  def topKCosine(df: DataFrame, idCol: String, embCol: String, query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    rankTopK(
      df.select(col(idCol).as("id"), cosine(col(embCol), q).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k))
  }

  /** Deterministic random hyperplanes (seeded LCG on the driver). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Seq.fill(numPlanes)(Seq.fill(dim)(next()))
  }

  /** Sign-of-dot-product signature: numPlanes-bit bucket id as a long. */
  def lshSignature(emb: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(emb, array(p.map(lit): _*)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: group vectors by hyperplane signature; a query probes
    * its own bucket plus all buckets within `probeHamming` sign flips, then
    * ranks candidates by exact cosine. Recall grows with probes; cost stays
    * ~candidates instead of ~corpus. */
  def lshTopKCosine(
      df: DataFrame, idCol: String, embCol: String, query: Seq[Double], k: Int,
      numPlanes: Int = 12, probeHamming: Int = 2, seed: Long = 42L): DataFrame = {
    val dim = query.size
    val planes = hyperplanes(numPlanes, dim, seed)
    val indexed = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      lshSignature(col(embCol), planes).as("sig"))
    // query signature computed on the driver (tiny)
    val qSig = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d > 0) 1L << i else 0L
    }.sum
    // all signatures within probeHamming bit flips of qSig
    def sigsWithin(h: Int): Seq[Long] = {
      def flips(bits: Seq[Int]): Long = bits.map(1L << _).sum ^ qSig
      val idxs = 0 until numPlanes
      (0 to h).flatMap {
        case 0 => Seq(qSig)
        case 1 => idxs.map(i => flips(Seq(i)))
        case 2 => for (i <- idxs; j <- idxs if j > i) yield flips(Seq(i, j))
        case n => idxs.combinations(n).map(c => flips(c)).toSeq
      }
    }
    val candidates = indexed.filter(col("sig").isin(sigsWithin(probeHamming): _*))
    val q = array(query.map(lit): _*)
    rankTopK(
      candidates.select(col("id"), cosine(col("emb"), q).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k))
  }

  // ---------------------------------------------------------------------------
  // IVF (inverted-file) index: coarse quantizer + probe-limited search.
  //
  // Train/query split (the round-1 design flaw was training INSIDE the query —
  // 3 Lloyd rounds, each a full scan + driver collect, per query):
  //  - ivfTrain: k-means on a small DETERMINISTIC SAMPLE, Lloyd on the driver.
  //    One distributed pass total (the sample take); at 10^9 vectors you train
  //    the coarse quantizer on ~10^4 samples, never the corpus.
  //  - ivfAssign/ivfBuildIndex: assign the corpus to cells ONCE (one codegen'd
  //    scan), persist partitioned by cell — queries partition-prune to nprobe
  //    cells.
  //  - ivfTopKCosine: centroids passed in; scans only the probed cells.
  // Deterministic end-to-end: sample = smallest ids, fixed iterations.
  // ---------------------------------------------------------------------------

  /** Cell assignment = argmax of raw dot(emb, centroid): centroids are kept
    * unit-norm, and cosine order is invariant to the row's own norm — so no
    * per-row normalization is needed at assignment time at all. A native
    * codegen Expression (functions/NearestCentroid.scala): the assignment is
    * the ONE full-corpus pass ivfBuildIndex makes, so it must not fall out of
    * whole-stage codegen the way HOF lambdas do.
    * Ties take the larger cell index (struct-max parity with the previous
    * Column shape — the q_ann_ivf oracle depends on it). */
  def nearestCentroid(emb: Column, centroids: Seq[Seq[Double]]): Column =
    graft.functions.NearestCentroid(emb, centroids)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Deterministic training-sample order. `byHash = true` (the scale
    * default): md5 of the stringified id — at 100 TB ids correlate with
    * source/shard/time, so "smallest ids" would train the quantizer on one
    * corner of the distribution; the value-keyed hash is an unbiased,
    * engine-portable draw (the repo's Sharding discipline), still one
    * TakeOrdered pass. `byHash = false`: the raw id column (any orderable
    * type — an ANSI cast to long would throw on string ids), kept for the
    * iters=0 oracle queries DuckDB rebuilds from "the k smallest ids". */
  private def sampleOrder(idCol: String, byHash: Boolean): Seq[Column] =
    if (byHash) Seq(md5(col(idCol).cast("string")), col(idCol)) else Seq(col(idCol))

  /** Train the coarse quantizer: deterministic sample (one TakeOrdered pass,
    * k-heaps per partition — see [[sampleOrder]] for the order), then Lloyd
    * entirely on the driver over unit-normalized sample vectors (cosine
    * geometry). `iters = 0` => centroids are just the unit-normalized
    * embeddings of the first k sampled ids — fully reproducible by any
    * engine from the data alone. */
  /** The deterministic training sample both quantizer trainers draw: the
    * first `n` vectors under [[sampleOrder]], one TakeOrdered pass. Public so
    * a pipeline training BOTH the coarse quantizer and the PQ codebooks can
    * collect ONE sample and feed [[ivfTrainFromSample]] /
    * [[pqTrainFromSample]] — two separate train calls each pay a full
    * sample job for what is byte-identical data (the smaller request is a
    * prefix of the larger under the same order). */
  def trainSample(
      df: DataFrame, idCol: String, embCol: String, n: Int,
      sampleByHash: Boolean = true): Seq[Seq[Double]] =
    df.select(col(idCol).as("id"), col(embCol).cast("array<double>").as("e"))
      .orderBy(sampleOrder("id", sampleByHash): _*).limit(n)
      .collect().map(r => r.getSeq[Double](1)).toSeq

  def ivfTrain(
      df: DataFrame, idCol: String, embCol: String, k: Int, iters: Int = 3,
      sampleSize: Int = 4096, sampleByHash: Boolean = true): Seq[Seq[Double]] =
    ivfTrainFromSample(
      trainSample(df, idCol, embCol, math.max(sampleSize, k), sampleByHash), k, iters)

  /** [[ivfTrain]]'s Lloyd step over an already-collected [[trainSample]]. */
  def ivfTrainFromSample(
      sampleRows: Seq[Seq[Double]], k: Int, iters: Int): Seq[Seq[Double]] = {
    val sample = sampleRows.map(_.toArray).toArray
    require(sample.length >= k, s"need >= $k vectors to train $k cells")
    val points = sample.map(unit)
    var centroids: Array[Array[Double]] = points.take(k).map(_.clone())
    for (_ <- 1 to iters) {
      val dim = centroids(0).length
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i) * centroids(c)(i); i += 1 }
          if (d >= bestD) { bestD = d; best = c } // ties: larger idx, matches nearestCentroid
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else unit(sums(c).map(_ / counts(c)))
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** Assign every vector to its cell — ONE codegen'd scan, no shuffle.
    * (NearestCentroid reads float or double arrays natively — no cast pass.) */
  def ivfAssign(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"),
      nearestCentroid(col(embCol), centroids).as("cell"))

  /** Build + persist the index: corpus partitioned by cell (queries
    * partition-prune to their nprobe cells) and centroids as JSON. */
  def ivfBuildIndex(
      df: DataFrame, idCol: String, embCol: String, indexDir: String,
      numCells: Int = 16, iters: Int = 3, sampleSize: Int = 4096,
      sampleByHash: Boolean = true): Seq[Seq[Double]] = {
    val centroids = ivfTrain(df, idCol, embCol, numCells, iters, sampleSize, sampleByHash)
    ivfBuildIndexWith(df, idCol, embCol, indexDir, centroids)
    centroids
  }

  /** Persist an IVF index from ALREADY-TRAINED centroids (assign + write +
    * centroid sidecar, no training pass) — the bootstrap seam for incremental
    * pipelines, where the persisted quantizer must be exactly the one earlier
    * dedup decisions used (training a second time on a filtered frame would
    * silently fork it). */
  def ivfBuildIndexWith(
      df: DataFrame, idCol: String, embCol: String, indexDir: String,
      centroids: Seq[Seq[Double]], epoch: Long = 0L): Unit = {
    // static overwrite: under a session-wide dynamic partitionOverwriteMode a
    // whole-layout rebuild would keep cell partitions absent from the new
    // data — stale vectors surviving the "overwrite" and winning future deltas
    val n = Dedup.countingWrite(ivfAssign(df, idCol, embCol, centroids))(
      _.write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("cell").parquet(s"$indexDir/cells"))
    MetaFile.writeJson(df.sparkSession, s"$indexDir/centroids", centroids)
    IndexVersions.record(df.sparkSession, indexDir, epoch, "build", n)
  }

  /** Quantizer vectors (centroids, PQ codebooks) persist as one JSON file
    * each, read and written on the driver ([[graft.io.MetaFile]], no Spark
    * job); a pre-change Spark-written directory is refused, naming the
    * rebuild. */
  private def readQuantizer[T](spark: SparkSession, file: String, cls: Class[T]): T =
    MetaFile.readJson(spark, file,
      "rebuild the index with Similarity.ivfBuildIndex or ivfPqBuildIndex", cls)
      .getOrElse(throw new IllegalArgumentException(s"no IVF quantizer at $file"))

  def ivfLoadCentroids(spark: SparkSession, indexDir: String): Seq[Seq[Double]] =
    readCentroids(spark, s"$indexDir/centroids")

  private[ops] def readCentroids(spark: SparkSession, file: String): Seq[Seq[Double]] =
    readQuantizer(spark, file, classOf[Array[Array[Double]]]).map(_.toSeq).toSeq

  /** Which nprobe cells to scan for a query: centroids ranked by dot with the
    * unit query, descending (== nearest by angle; unit-norm both sides). */
  def probeCells(centroids: Seq[Seq[Double]], query: Seq[Double], nprobe: Int): Seq[Int] = {
    val qu = unit(query.toArray)
    centroids.zipWithIndex
      .map { case (c, i) => (-c.zip(qu).map { case (a, b) => a * b }.sum, i) }
      .sorted.take(nprobe).map(_._2)
  }

  /** IVF top-k over a PRE-ASSIGNED corpus (from [[ivfAssign]] or the persisted
    * index): scans only the nprobe cells nearest the query. */
  def ivfTopKCosineAssigned(
      indexed: DataFrame, centroids: Seq[Seq[Double]], query: Seq[Double], k: Int,
      nprobe: Int = 4): DataFrame = {
    val cells = probeCells(centroids, query, nprobe)
    val q = array(query.map(lit): _*) // raw query: cosine() normalizes both sides
    rankTopK(
      indexed.filter(col("cell").isin(cells: _*))
        .select(col("id"), cosine(col("emb"), q).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k))
  }

  /** Convenience: assign inline (one scan) and query with given centroids.
    * For repeated queries, persist with [[ivfBuildIndex]] and reuse. */
  def ivfTopKCosine(
      df: DataFrame, idCol: String, embCol: String, centroids: Seq[Seq[Double]],
      query: Seq[Double], k: Int, nprobe: Int = 4): DataFrame =
    ivfTopKCosineAssigned(ivfAssign(df, idCol, embCol, centroids), centroids, query, k, nprobe)

  /** IVF-PQ: the standard billion-scale layout — coarse cells prune the scan
    * (only nprobe of numCells partitions read), PQ codes shrink what is
    * scanned 32x, ADC scores the survivors with m lookups/adds per row. The
    * persisted-index projection: (id, emb, cell, codes) — the raw vector
    * rides alongside the codes for exact refinement (columnar storage:
    * `codes` scans skip it). */
  private def ivfPqEncodeWithEmb(
      df: DataFrame, idCol: String, embCol: String, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"),
      nearestCentroid(col(embCol), centroids).as("cell"),
      graft.functions.PqEncode(col(embCol), codebooks).as("codes"))

  /** Build + persist the IVF-PQ index: cell-partitioned codes (queries
    * partition-prune to their nprobe cells AND read 8-byte codes instead of
    * vectors — the two compressions compose on disk too), coarse centroids
    * as JSON (same layout [[ivfLoadCentroids]] reads), and the PQ codebooks
    * as one more small JSON file. Train once, query forever.
    *
    * The cell files ALSO carry the raw vector column, sorted by id within
    * each cell partition: parquet is columnar, so scans that select `codes`
    * never read a byte of `emb` (PlanSpec pins the pruned ReadSchema), while
    * refine steps ([[semanticDeltaPairsPqIndexed]]) can fetch full-precision
    * vectors for just their candidate ids with tight row-group min/max
    * skipping — the FAISS IVFPQR shape: disk is cheap, scan bytes are not. */
  def ivfPqBuildIndex(
      df: DataFrame, idCol: String, embCol: String, indexDir: String,
      numCells: Int = 16, m: Int = 8, kSub: Int = 16, iters: Int = 3,
      sampleSize: Int = 4096,
      sampleByHash: Boolean = true): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val centroids = ivfTrain(df, idCol, embCol, numCells, iters, sampleSize, sampleByHash)
    val codebooks = pqTrain(df, idCol, embCol, m, kSub, iters, sampleSize, sampleByHash)
    ivfPqBuildIndexWith(df, idCol, embCol, indexDir, centroids, codebooks)
    (centroids, codebooks)
  }

  /** Persist an IVF-PQ index from ALREADY-TRAINED quantizers — the facade's
    * bootstrap path, where the quantizers must be the ones the first
    * snapshot dedup'd under (the [[ivfBuildIndexWith]] contract, PQ twin). */
  def ivfPqBuildIndexWith(
      df: DataFrame, idCol: String, embCol: String, indexDir: String,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      epoch: Long = 0L): Unit = {
    val n = Dedup.countingWrite(
      ivfPqEncodeWithEmb(df, idCol, embCol, centroids, codebooks)
        .repartition(col("cell")).sortWithinPartitions("cell", "id"))(
      _.write.mode("overwrite").option("partitionOverwriteMode", "static")
        .partitionBy("cell").parquet(s"$indexDir/cells"))
    val spark = df.sparkSession
    MetaFile.writeJson(spark, s"$indexDir/centroids", centroids)
    MetaFile.writeJson(spark, s"$indexDir/codebooks", codebooks)
    IndexVersions.record(spark, indexDir, epoch, "build", n)
  }

  /** Does this index carry PQ codebooks? The format gate appends key off —
    * a plain-IVF append onto a PQ index would write codes-less rows later
    * PQ deltas can't score (silent permanent under-dedup), and vice versa. */
  private def isPqIndex(spark: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/codebooks")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Load both quantizers back from an [[ivfPqBuildIndex]] directory. */
  def ivfPqLoadIndex(
      spark: SparkSession, indexDir: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    require(isPqIndex(spark, indexDir),
      s"index at $indexDir is plain IVF (no codebooks) — use the raw-vector " +
        "operators (semanticDeltaDedupIndexed / ivfIndexAppend / usePqCodes=false)")
    val codebooks = readQuantizer(spark, s"$indexDir/codebooks",
      classOf[Array[Array[Array[Double]]]])
    (ivfLoadCentroids(spark, indexDir), codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** Batch k-NN join: top-k cosine neighbors in `corpus` for EVERY query row
    * at once — the batch-inference/RAG-eval shape where per-query TakeOrdered
    * calls would launch |Q| jobs. The query side broadcasts (it is the small
    * side by contract); norms are aliased in their own projections so each is
    * computed once per row, never once per pair-element; and the per-query
    * top-k is a bounded-priority-queue aggregate (CollectTopK — the engine
    * behind pandas-on-Spark nlargest) whose partials MERGE: each partition
    * keeps at most k rows per query, so the one shuffle carries
    * k x |Q| x partitions structs, never the |C| x |Q| score matrix.
    * Ranking is (cosine desc, id desc) — the tie direction the bounded queue
    * cut itself has, so the emitted rank order and the survivor set agree.
    * Zero vectors are excluded on BOTH sides (cosine 0/0 = NaN, and Spark
    * orders NaN above every double — zero vectors would otherwise occupy the
    * top-k; a zero-vector query gets no output rows). */
  def knnJoinCosine(
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      corpus: DataFrame, cIdCol: String, cEmbCol: String, k: Int): DataFrame = {
    val q = broadcast(
      queries.select(col(qIdCol).as("query_id"),
        col(qEmbCol).cast("array<double>").as("__qe"))
        .withColumn("__nq", norm(col("__qe")))
        .filter(col("__nq") =!= 0.0))
    val c = corpus.select(col(cIdCol).as("id"),
      col(cEmbCol).cast("array<double>").as("__ce"))
      .withColumn("__nc", norm(col("__ce")))
      .filter(col("__nc") =!= 0.0)
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("id"),
        (dot(col("__ce"), col("__qe")) / (col("__nc") * col("__nq"))).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** The bounded-priority-queue per-query top-k tail shared by the k-NN
    * joins: partials merge, so each partition shuffles at most k structs per
    * query. Ranking is (cosine desc, id desc) — the tie direction the queue
    * cut itself has. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(org.apache.spark.sql.graftbridge
        .collectTopK(struct(col("cosine"), col("id")), k, reverse = false).as("__t"))
      .select(col("query_id"),
        posexplode(reverse(sort_array(col("__t")))).as(Seq("__p", "__s")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("rank"),
        col("__s.id").as("id"), col("__s.cosine").as("cosine"))

  /** IVF-accelerated batch k-NN join — the 100x-scale replacement for
    * [[knnJoinCosine]]'s cartesian: each query scores only its `nprobe`
    * nearest cells of a pre-assigned corpus (from [[ivfAssign]] or the
    * persisted [[ivfBuildIndex]] layout) instead of every corpus row. Probe
    * cells are computed on the driver from the collected query batch — the
    * same "queries are the small side" contract under which the brute-force
    * join broadcasts them — and the union of all probed cells becomes an
    * explicit `cell IN (...)` filter, so a persisted index scan
    * partition-prunes to exactly the cells any query needs. The (query, cell)
    * fan-out joins BROADCAST-hash on `cell` (never a nested-loop cartesian):
    * compute is Σ_q |probed cells of q|, not |C| x |Q|. Same bounded-queue
    * top-k tail, same zero-vector exclusions, approximate exactly like any
    * IVF search (recall grows with nprobe; nprobe = numCells is exhaustive
    * and equals brute force). */
  def knnJoinCosineIvf(
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      indexed: DataFrame, centroids: Seq[Seq[Double]], k: Int,
      nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val qIdType = queries.schema(qIdCol).dataType
    val qRows = queries
      .select(col(qIdCol).as("query_id"), col(qEmbCol).cast("array<double>").as("__qe"))
      .collect()
      .map(r => (r.get(0), r.getSeq[Double](1)))
      .filter { case (_, e) => e != null && e.exists(_ != 0.0) } // zero-vector queries: no rows
    val probed = qRows.flatMap { case (qid, qe) =>
      probeCells(centroids, qe, nprobe).map(cell =>
        org.apache.spark.sql.Row(cell, qid, qe))
    }
    val cells = probed.map(_.getInt(0)).distinct.toSeq
    import scala.jdk.CollectionConverters._
    val q = broadcast(spark.createDataFrame(probed.toSeq.asJava, StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("query_id", qIdType),
      StructField("__qe", ArrayType(DoubleType)))))
      .withColumn("__nq", norm(col("__qe"))))
    // the isin filter is what partition-prunes a persisted cell= layout
    val c = indexed.filter(col("cell").isin(cells: _*))
      .select(col("id"), col("emb").cast("array<double>").as("__ce"), col("cell"))
      .withColumn("__nc", norm(col("__ce")))
      .filter(col("__nc") =!= 0.0)
    val scored = c.join(q, "cell") // broadcast hash join: each corpus row meets only the queries probing its cell
      .select(col("query_id"), col("id"),
        (dot(col("__ce"), col("__qe")) / (col("__nc") * col("__nq"))).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** [[knnJoinCosineIvf]] with a DISTRIBUTED query side: probe cells are a
    * per-row codegen'd expression ([[graft.functions.ProbeCells]] — exactly
    * [[probeCells]]' ranking) exploded into (query, cell) rows, so the query
    * side never collects to the driver and can itself be corpus-sized. The
    * (query, cell) fan-out joins hash on `cell` — broadcast when the query
    * side is small (equality with the driver-probed path is pinned in
    * OpsSpec), shuffle-hash at corpus scale, never a nested-loop — and the
    * same bounded-queue top-k tail caps every partition at k structs per
    * query. This is the corpus-vs-corpus k-NN graph shape: Σ_q |probed
    * cells| work, zero driver-side state. */
  def knnJoinCosineIvfDistributed(
      queries: DataFrame, qIdCol: String, qEmbCol: String,
      indexed: DataFrame, centroids: Seq[Seq[Double]], k: Int,
      nprobe: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    // both sides spread to the slot count (no-op at scale — Adaptive.spread):
    // the probe explode, the norms, and above all the per-pair dot products
    // of the cell join run with the stream side's partitioning, which for a
    // single-split input would be one core
    val q = Adaptive.spread(
      queries.select(col(qIdCol).as("query_id"), col(qEmbCol).cast("array<double>").as("__qe")))
      .withColumn("__nq", norm(col("__qe")))
      .filter(col("__nq") =!= 0.0) // zero-vector queries: no rows (brute-force parity)
      .select(col("query_id"), col("__qe"), col("__nq"),
        explode(graft.functions.ProbeCells(col("__qe"), centroids, nprobe)).as("cell"))
    val c = Adaptive.spread(
      indexed.select(col("id"), col("emb").cast("array<double>").as("__ce"), col("cell")))
      .withColumn("__nc", norm(col("__ce")))
      .filter(col("__nc") =!= 0.0)
    val joined = c.join(q, "cell")
    // excludeSelf (the k-NN-graph shape): drop id == query_id BEFORE the
    // top-k cut, so a row still yields k neighbors when its cells hold k others
    val scored = (if (excludeSelf) joined.filter(col("id") =!= col("query_id")) else joined)
      .select(col("query_id"), col("id"),
        (dot(col("__ce"), col("__qe")) / (col("__nc") * col("__nq"))).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Corpus-vs-corpus k-NN GRAPH over a pre-assigned corpus: every vector's
    * top-k nearest OTHER vectors. The corpus plays both sides of
    * [[knnJoinCosineIvfDistributed]] with self-pairs excluded — no driver
    * collect, no cartesian. */
  def knnGraphCosineIvf(
      assigned: DataFrame, k: Int, centroids: Seq[Seq[Double]],
      nprobe: Int = 4): DataFrame =
    knnJoinCosineIvfDistributed(
      assigned.select(col("id"), col("emb")), "id", "emb",
      assigned, centroids, k, nprobe, excludeSelf = true)

  // ---------------------------------------------------------------------------
  // Int8 scalar quantization: 4x less storage and shuffle than float32 — at
  // 100 TB the embedding column IS the data volume, so this is the difference
  // between shuffling 25 TB and 100 TB. Cosine RANKING needs no dequantization:
  // the per-vector scale cancels in the normalization, so search runs directly
  // on the codes.
  // ---------------------------------------------------------------------------

  /** Per-vector symmetric int8 quantization: codes in [-127, 127] plus a
    * double `scale` (max|x| / 127). The max|x| is aliased in its OWN
    * projection — referencing an array_max inside the per-element lambda
    * would re-evaluate it per element (HOFs are never CSE'd). */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("__mx", greatest(
        array_max(col("emb")).cast(DoubleType), -array_min(col("emb")).cast(DoubleType)))
      .select(col("id"),
        (col("__mx") / 127.0).as("scale"),
        when(col("__mx") === 0.0,
          transform(col("emb"), _ => lit(0).cast(ByteType)))
          .otherwise(transform(col("emb"),
            x => round(x.cast(DoubleType) * 127.0 / col("__mx")).cast(ByteType)))
          .as("codes"))

  /** Reconstruct approximate float values (scale * code). */
  def dequantizeInt8(scale: Column, codes: Column): Column =
    transform(codes, c => c.cast(DoubleType) * scale)

  /** Top-k cosine directly over int8 codes (no dequantization — scale cancels).
    * Rows quantized from all-zero vectors (scale 0, codes all 0) are excluded:
    * their cosine is 0/0 = NaN, and Spark orders NaN ABOVE all doubles
    * descending — zero vectors would otherwise occupy the top-k ranks. */
  def topKCosineInt8(quantized: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    rankTopK(
      quantized.filter(col("scale") =!= 0.0)
        .select(col("id"),
          cosine(col("codes").cast("array<double>"), q).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k))
  }

  // --------------------------------------------------------------------------
  // Product quantization (PQ) — the memory-scale path: a 64-float vector
  // (256 B) becomes m = 8 one-byte codes (32x compression), so a 10^9-vector
  // index fits in executor memory where raw floats cannot. Queries score via
  // ADC (asymmetric distance): the query stays full-precision, its
  // per-subspace dots with every centroid are a tiny driver-side m x kSub
  // table, and each candidate costs m table lookups + m adds instead of a
  // dim-element dot. Codebooks broadcast with the plan (addReferenceObj);
  // the scoring scan is one codegen'd pass, composable with the IVF cell
  // pruning (encode the IVF index's cell-partitioned corpus) for the
  // standard IVF-PQ layout.
  // --------------------------------------------------------------------------

  /** Train PQ codebooks: deterministic sample (same TakeOrdered discipline
    * as [[ivfTrain]] — see [[sampleOrder]]; never a per-query scan),
    * unit-normalize (cosine geometry), split into `m` contiguous subspaces,
    * Lloyd per subspace under L2. `iters = 0, sampleByHash = false` =>
    * codebook(mi) = the mi-th subvectors of the `kSub` smallest-id samples —
    * reproducible by any engine from the data alone (the q_ann_pq oracle
    * recomputes it).
    * Ties in assignment keep the smallest centroid index; empty clusters
    * keep their previous centroid. */
  def pqTrain(
      df: DataFrame, idCol: String, embCol: String, m: Int = 8, kSub: Int = 16,
      iters: Int = 3, sampleSize: Int = 4096,
      sampleByHash: Boolean = true): Seq[Seq[Seq[Double]]] =
    pqTrainFromSample(
      trainSample(df, idCol, embCol, math.max(sampleSize, kSub), sampleByHash),
      m, kSub, iters)

  /** [[pqTrain]]'s per-subspace Lloyd step over an already-collected
    * [[trainSample]] (pass the first `max(sampleSize, kSub)` rows — a
    * larger sample's prefix is exactly what pqTrain would have drawn). */
  def pqTrainFromSample(
      sampleRows: Seq[Seq[Double]], m: Int, kSub: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    val sample = sampleRows.map(_.toArray).toArray
    require(sample.length >= kSub, s"need >= $kSub vectors to train $kSub codes")
    require(kSub <= 256, "kSub must fit one byte per code")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val sub = dim / m
    val points = sample.map(unit)
    (0 until m).map { mi =>
      val off = mi * sub
      val sp = points.map(p => java.util.Arrays.copyOfRange(p, off, off + sub))
      var cents: Array[Array[Double]] = sp.take(kSub).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(kSub)(new Array[Double](sub))
        val counts = new Array[Int](kSub)
        sp.foreach { p =>
          var best = 0; var bestD = Double.PositiveInfinity
          var j = 0
          while (j < kSub) {
            var d = 0.0; var i = 0
            while (i < sub) { val x = p(i) - cents(j)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = j } // ties: smallest index
            j += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, j) =>
          if (counts(j) == 0) old else sums(j).map(_ / counts(j))
        }
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** Encode the corpus: (id, codes binary) — ONE codegen'd scan, no shuffle.
    * Zero vectors encode their raw (unnormalizable) form; their ADC score is
    * well-defined but meaningless, like any cosine of a zero vector. */
  def pqEncode(
      df: DataFrame, idCol: String, embCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.PqEncode(col(embCol), codebooks).as("codes"))

  /** The driver-side ADC table for one query: table(mi)(j) = dot of the
    * unit-normalized query's mi-th subvector with codebook centroid j. */
  def pqAdcTable(codebooks: Seq[Seq[Seq[Double]]], query: Seq[Double]): Seq[Seq[Double]] = {
    val qu = unit(query.toArray)
    codebooks.zipWithIndex.map { case (cents, mi) =>
      val sub = cents.head.length
      val off = mi * sub
      cents.map { c =>
        var d = 0.0; var i = 0
        while (i < sub) { d += qu(off + i) * c(i); i += 1 }
        d
      }
    }
  }

  /** Approximate top-k cosine over PQ codes (ADC): m lookups + m adds per
    * row, TakeOrdered keeps k per partition. The score approximates the
    * cosine of unit vectors (exact for vectors on their codebook centroids);
    * re-rank the k survivors against raw vectors when exactness matters. */
  def pqTopKCosine(
      encoded: DataFrame, codebooks: Seq[Seq[Seq[Double]]], query: Seq[Double],
      k: Int): DataFrame =
    rankTopK(
      encoded.select(col("id"),
        graft.functions.PqAdcScore(col("codes"), pqAdcTable(codebooks, query)).as("cosine"))
        .orderBy(col("cosine").desc, col("id").asc)
        .limit(k))

  /** Embedding near-duplicate pairs: cosine >= threshold. Exact O(n^2) flavor
    * for verification; LSH-bucketed flavor for scale (pairs only form inside a
    * bucket — brute force within buckets of similar vectors). */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, embCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    val a = v.withColumnsRenamed(Map("id" -> "id_a", "emb" -> "emb_a"))
    val b = v.withColumnsRenamed(Map("id" -> "id_b", "emb" -> "emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Pairs form only INSIDE a signature bucket: one grouped pass carrying the
    * vectors (a self-join on sig would re-run the whole signature pipeline on
    * both sides — DataFrame reuse re-executes the plan). `maxBucket` caps
    * pathological buckets; at near-1.0 thresholds buckets are tiny clusters of
    * near-identical vectors.
    *
    * @param dim embedding dimensionality; <= 0 derives it from the first row
    *            (one tiny driver action) — a fixed wrong default would
    *            silently truncate signatures on wider corpora. */
  def cosineNearDupPairsLshAudited(
      df: DataFrame, idCol: String, embCol: String, threshold: Double,
      numPlanes: Int = 8, dim: Int = -1, seed: Long = 42L,
      maxBucket: Int = Dedup.DefaultMaxBucket): AuditedPairs = {
    val d = if (dim > 0) dim
      else df.select(size(col(embCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1) // empty corpus => empty pairs
    val planes = hyperplanes(numPlanes, d, seed)
    val v = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      lshSignature(col(embCol), planes).as("sig"))
    pairsWithinBuckets(v, threshold, maxBucket)
  }

  /** Cosine pairs formed only INSIDE one `sig` bucket of a (id, emb, sig)
    * frame — one grouped pass carrying the vectors (a self-join on sig would
    * re-run the whole upstream pipeline on both sides), oversize buckets
    * capped + audited. Shared by the LSH-bucketed and SemDeDup cell-bucketed
    * pair generators. */
  private def pairsWithinBuckets(
      v: DataFrame, threshold: Double, maxBucket: Int): AuditedPairs =
    Dedup.bucketPairs(v.groupBy("sig")
      .agg(sort_array(collect_list(struct(col("id"), col("emb")))).as("xs")), maxBucket)(
      _.select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        cosine(col("p.a.emb"), col("p.b.emb")).as("cosine"))
        .filter(col("cosine") >= threshold))

  // --------------------------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication —
  // cluster embeddings with a coarse quantizer, then drop all but one
  // representative of every within-cluster group whose pairwise cosine
  // exceeds the threshold. The missing member of the dedup family: exact
  // (digest), lexical (MinHash/SimHash), and this — MEANING-level near-dups
  // (paraphrases, re-encodings) that share no n-grams.
  //
  // Scale shape: the coarse assignment is the one full scan (codegen'd
  // NearestCentroid); pairs form only within a cell (numCells bounds the
  // quadratic — the paper uses ~100k clusters at web scale for exactly this
  // reason), oversize cells capped + AUDITED like every other bucketed dedup
  // here. Reuses the trained IVF quantizer, so an ANN index and semantic
  // dedup share one training pass.
  // --------------------------------------------------------------------------

  /** Within-cell cosine pairs over an IVF cell assignment (the SemDeDup
    * candidate structure). Deterministic given the centroids; with iters=0
    * centroids this is oracle-reproducible end-to-end (q_dedup_semantic). */
  def semanticNearDupPairsAudited(
      df: DataFrame, idCol: String, embCol: String, centroids: Seq[Seq[Double]],
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket): AuditedPairs = {
    val v = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      nearestCentroid(col(embCol), centroids).as("sig"))
    pairsWithinBuckets(v, threshold, maxCell)
  }

  /** Full SemDeDup: keep one representative (the component-minimum id) per
    * semantic cluster — pairs -> connected components -> anti-join losers,
    * the same keep discipline as the pipeline's lexical near-dup stage. */
  def semanticDedup(
      df: DataFrame, idCol: String, embCol: String, centroids: Seq[Seq[Double]],
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val pairs = semanticNearDupPairsAudited(df, idCol, embCol, centroids, threshold, maxCell).pairs
    df.join(Components.nearDupLosers(pairs, idCol), Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------------------
  // Incremental (delta) semantic dedup against a persisted IVF index — the
  // embedding-side twin of graft.ops.Dedup's MinHash delta dedup: each
  // snapshot delta of vectors dedups against the corpus's cell-partitioned
  // IVF index, reading ONLY the cell partitions the delta touches
  // (partition-pruned — a delta landing in 5 of 100k cells scans 5/100k of
  // the index). Old vectors always win; new-only clusters keep the
  // connected-components min id; survivors append to the index
  // cell-partitioned, ready for the next delta.
  // --------------------------------------------------------------------------

  /** Within-cell cosine pairs INVOLVING AT LEAST ONE NEW vector, from two
    * pre-assigned (id, emb, cell) frames (see [[ivfAssign]]):
    * (id_a, id_b, a_is_new, b_is_new) at cosine >= threshold. Cells beyond
    * `maxCell` are excluded and counted in the audit riding the job. */
  def semanticDeltaPairsAudited(
      newAssigned: DataFrame, oldAssigned: DataFrame,
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket): AuditedPairs = {
    val cols = Seq(col("id"), col("emb"), col("cell"), col("is_new"))
    val tagged = oldAssigned.withColumn("is_new", lit(false)).select(cols: _*)
      .unionAll(newAssigned.withColumn("is_new", lit(true)).select(cols: _*))
    Dedup.bucketPairs(tagged.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("is_new"), col("emb")))).as("xs")),
      maxCell)(
      _.filter(col("p.a.is_new") || col("p.b.is_new"))
        // a resubmitted id never pairs with its own index entry (cosine 1
        // with itself) — an at-least-once redelivery that recomputes after
        // its survivors were appended must keep those survivors, not drop
        // every one as a dup of itself (same contract as the PQ path)
        .filter(col("p.a.id") =!= col("p.b.id"))
        .filter(cosine(col("p.a.emb"), col("p.b.emb")) >= threshold)
        .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
          col("p.a.is_new").as("a_is_new"), col("p.b.is_new").as("b_is_new")))
  }

  /** Delta pairs against a PERSISTED IVF index ([[ivfBuildIndex]] layout):
    * the delta assigns against the index's own centroids, the touched cell
    * ids collect to the driver (≤ numCells ints), and the index read is
    * partition-pruned to exactly those cells. */
  def semanticDeltaPairsIndexed(
      newDf: DataFrame, idCol: String, embCol: String, indexDir: String,
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket): AuditedPairs = {
    val spark = newDf.sparkSession
    val centroids = ivfLoadCentroids(spark, indexDir)
    // tiny frame (the delta), read by the cell collect AND the pair build —
    // recomputing it would re-run the assignment scan per reference
    val newAssigned = ivfAssign(newDf, idCol, embCol, centroids).localCheckpoint(true)
    val cells = newAssigned.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    Dedup.completeSwap(spark, s"$indexDir/cells", s"$indexDir/cells_compacting")
    val old = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(cells: _*))
      .select(col("id"), col("emb"), col("cell"))
    semanticDeltaPairsAudited(newAssigned, old, threshold, maxCell)
  }

  /** Delta pairs against a PERSISTED IVF-PQ index ([[ivfPqBuildIndex]]
    * layout) — the 32x-cheaper old side: the CANDIDATE scan reads the
    * corpus as 8-byte PQ `codes` partition-pruned to the delta's cells,
    * never raw vectors (PlanSpec pins the pruned ReadSchema). The refine
    * fetches the index's raw `emb` for just the candidate old ids — by
    * literal id list when ≤ `maxRefineIds` distinct ids (parquet min/max
    * row-group skipping over the id-sorted cell files), by semi-join above
    * it. The pair semantics (ADC recall stage, exact refine, new-new pairs,
    * old-cell audit) live in [[pqDeltaPairs]]. */
  def semanticDeltaPairsPqIndexed(
      newDf: DataFrame, idCol: String, embCol: String, indexDir: String,
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket,
      adcMargin: Double = 0.2, maxRefineIds: Int = 1 << 14,
      // PLAN-INSPECTION seam (same contract as deltaNearDupsIndexedAudited):
      // checkpoints truncate lineage to ExistingRDD leaves, hiding the
      // candidate scan from executedPlan — tests disable them to pin the
      // codes-only ReadSchema; production keeps them (frames are tiny
      // projections of expensive scans, each read by several consumers)
      eagerCheckpoints: Boolean = true): AuditedPairs = {
    def cp(df: DataFrame): DataFrame =
      if (eagerCheckpoints) df.localCheckpoint(true) else df
    val spark = newDf.sparkSession
    val (centroids, codebooks) = ivfPqLoadIndex(spark, indexDir)
    // one checkpoint read by the cell collect, the candidate join, the
    // refine, and the within-delta pairs
    val newAssigned = cp(pqAssign(newDf, idCol, embCol, centroids, codebooks))
    val cells = newAssigned.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    Dedup.completeSwap(spark, s"$indexDir/cells", s"$indexDir/cells_compacting")
    // dropDuplicates("id"): repair-at-read for duplicate rows a
    // crashed-then-redelivered append left (the lexical indexed path's
    // convention) — duplicates would emit duplicate pairs and inflate the
    // maxCell audit until the next compaction
    def touched(cols: Column*): DataFrame = spark.read.parquet(s"$indexDir/cells")
      .filter(col("cell").isin(cells: _*)).select(cols: _*).dropDuplicates("id")
    pqDeltaPairs(newAssigned, touched(col("id"), col("codes"), col("cell")),
      candIds => {
        val oldEmb = touched(col("id"), col("emb"))
          .select(col("id").as("id_old"), col("emb").as("emb_old"))
        // one capped collect decides: literal pushdown (row-group skipping)
        // when the id set is small, a distributed semi-join above the cap
        val ids = candIds.limit(maxRefineIds + 1).collect()
        if (ids.length <= maxRefineIds) oldEmb.filter(col("id_old").isin(ids.map(_.get(0)): _*))
        else oldEmb.join(candIds, Seq("id_old"), "left_semi")
      },
      threshold, maxCell, adcMargin, cp)
  }

  /** In-memory twin of [[semanticDeltaPairsPqIndexed]] — the same
    * [[pqDeltaPairs]] body with caller-supplied quantizers over a raw old
    * frame (encoded on the fly, no persisted index): the oracle/verification
    * path (q_dedup_semantic_delta_pq rebuilds every stage in SQL; OpsSpec
    * pins equality with the indexed path under the same quantizers). The
    * persisted-index path is the 100 TB one. */
  def semanticDeltaPairsPq(
      newDf: DataFrame, idCol: String, embCol: String, old: DataFrame,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket,
      adcMargin: Double = 0.2): AuditedPairs = {
    val newAssigned = pqAssign(newDf, idCol, embCol, centroids, codebooks).localCheckpoint(true)
    // scope the old side to the delta's cells BEFORE sizing, so the audit
    // counts the same universe the indexed twin sees (it partition-prunes
    // first and can never observe an untouched oversized cell); pair output
    // is unaffected — untouched cells generate no candidates either way
    val oldEnc = ivfPqEncodeWithEmb(old, idCol, embCol, centroids, codebooks)
      .join(broadcast(newAssigned.select("cell").distinct()), Seq("cell"), "left_semi")
      .localCheckpoint(true) // read by the size audit, candidates, and refine
    pqDeltaPairs(newAssigned, oldEnc.select(col("id"), col("codes"), col("cell")),
      _ => oldEnc.select(col("id").as("id_old"), col("emb").as("emb_old")),
      threshold, maxCell, adcMargin, identity)
  }

  /** (id, emb, cell, adc): the delta assigned to its cells, with the per-row
    * ADC lookup table ([[graft.functions.PqAdcTableExpr]]) built in ONE
    * projection. */
  private def pqAssign(newDf: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    ivfAssign(newDf, idCol, embCol, centroids)
      .withColumn("adc", graft.functions.PqAdcTableExpr(col("emb"), codebooks))

  /** The one PQ delta body — audit -> candidate -> refine -> new-new — over
    * the delta's `newAssigned` ([[pqAssign]]) and the old side's
    * (id, codes, cell) rows scoped to the delta's cells:
    *  - audit: OLD cells larger than `maxCell` are dropped from candidate
    *    generation and counted (buckets + old rows), the grouped paths' cap;
    *    the delta side is never dropped;
    *  - candidate: each (new, old) pair in a shared cell costs m ADC table
    *    lookups ([[graft.functions.PqAdcScorePair]]), not a dim-element dot.
    *    ADC is a RECALL stage — it under-estimates true cosine by up to the
    *    quantization error, so pairs scoring ≥ `threshold - adcMargin` pass
    *    (the margin buys recall; the refine restores precision). A
    *    resubmitted id never pairs with itself;
    *  - refine: candidates re-check at FULL precision against the raw old
    *    `emb` that `oldEmbOf(candidate old ids)` returns as (id_old,
    *    emb_old). Every emitted pair is exact-cosine-verified; ADC only
    *    decides what is NEVER compared (planted-twin recall pinned in
    *    OpsSpec);
    *  - new-new: both raw vectors ride the delta — exact cosine within
    *    shared cells, no ADC.
    * `stage` marks the candidate boundary (read by the refine join and the
    * candidate-id fetch). */
  private def pqDeltaPairs(
      newAssigned: DataFrame, old: DataFrame, oldEmbOf: DataFrame => DataFrame,
      threshold: Double, maxCell: Int, adcMargin: Double,
      stage: DataFrame => DataFrame): AuditedPairs = {
    val (sizes, obs, recompute) = Dedup.observeDrops(
      old.groupBy("cell").agg(count(lit(1)).as("n")), col("n"), maxCell)
    val keptCells = sizes.filter(col("n") <= maxCell).select("cell")
    // join on cell: the delta is the small side — AQE broadcasts it
    val newSide = newAssigned.select(
      col("cell"), col("id").as("id_new"), col("adc"), col("emb").as("emb_new"))
    val cand = stage(old.join(keptCells, Seq("cell"), "left_semi")
      .join(newSide, Seq("cell"))
      .filter(col("id") =!= col("id_new"))
      .filter(graft.functions.PqAdcScorePair(col("codes"), col("adc")) >= threshold - adcMargin)
      .select(col("id").as("id_old"), col("id_new"), col("emb_new")))
    val newOld = cand.join(oldEmbOf(cand.select(col("id_old")).distinct()), Seq("id_old"))
      .filter(cosine(col("emb_new"), col("emb_old")) >= threshold)
      .select(col("id_new").as("id_a"), col("id_old").as("id_b"),
        lit(true).as("a_is_new"), lit(false).as("b_is_new"))
    val a = newAssigned.select(col("cell"), col("id").as("id_a"), col("emb").as("emb_a"))
    val b = newAssigned.select(col("cell"), col("id").as("id_b"), col("emb").as("emb_b"))
    val newNew = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_a"), col("id_b"), lit(true).as("a_is_new"), lit(true).as("b_is_new"))
    AuditedPairs(newOld.unionAll(newNew), obs, recompute)
  }

  /** [[semanticDeltaDedupIndexed]] over the IVF-PQ layout: delta survivors
    * against the coded corpus (old wins; min-id keep among new-only
    * clusters). Append survivors with [[ivfPqIndexAppend]]. */
  def semanticDeltaDedupPqIndexed(
      newDf: DataFrame, idCol: String, embCol: String, indexDir: String,
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket,
      adcMargin: Double = 0.2, maxRefineIds: Int = 1 << 14): DataFrame =
    Dedup.deltaSurvivors(newDf, idCol, semanticDeltaPairsPqIndexed(newDf, idCol, embCol,
      indexDir, threshold, maxCell, adcMargin, maxRefineIds).pairs)

  /** Append vectors to a persisted IVF-PQ index, assigned AND encoded with
    * the index's own stored quantizers (an append can never fork either);
    * same (emb, codes) projection and id-sorted layout as the build. */
  def ivfPqIndexAppend(
      df: DataFrame, idCol: String, embCol: String, indexDir: String): Unit = {
    val spark = df.sparkSession
    Dedup.completeSwap(spark, s"$indexDir/cells", s"$indexDir/cells_compacting")
    val (centroids, codebooks) = ivfPqLoadIndex(spark, indexDir)
    val n = Dedup.countingWrite(
      ivfPqEncodeWithEmb(df, idCol, embCol, centroids, codebooks)
        .repartition(col("cell")).sortWithinPartitions("cell", "id"))(
      _.write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells"))
    IndexVersions.record(spark, indexDir,
      IndexVersions.epoch(spark, indexDir), "append", n)
  }

  /** The delta vectors that SURVIVE semantic dedup against the indexed
    * corpus (old wins; min-id keep among new-only clusters — the same
    * discipline as [[graft.ops.Dedup.deltaDedup]]). Append survivors with
    * [[ivfIndexAppend]] to complete the round. */
  def semanticDeltaDedupIndexed(
      newDf: DataFrame, idCol: String, embCol: String, indexDir: String,
      threshold: Double, maxCell: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.deltaSurvivors(newDf, idCol,
      semanticDeltaPairsIndexed(newDf, idCol, embCol, indexDir, threshold, maxCell).pairs)

  /** Append vectors to a persisted IVF index, assigned with the index's OWN
    * centroids (an append can never fork the quantizer) and written into
    * their cell partitions. */
  def ivfIndexAppend(
      df: DataFrame, idCol: String, embCol: String, indexDir: String): Unit = {
    require(!isPqIndex(df.sparkSession, indexDir),
      s"index at $indexDir is IVF-PQ (codebooks present) — append with " +
        "ivfPqIndexAppend (usePqCodes=true), or PQ deltas can't score the new rows")
    Dedup.completeSwap(df.sparkSession, s"$indexDir/cells", s"$indexDir/cells_compacting")
    val centroids = ivfLoadCentroids(df.sparkSession, indexDir)
    val n = Dedup.countingWrite(ivfAssign(df, idCol, embCol, centroids))(
      _.write.mode("append").partitionBy("cell").parquet(s"$indexDir/cells"))
    IndexVersions.record(df.sparkSession, indexDir,
      IndexVersions.epoch(df.sparkSession, indexDir), "append", n)
  }

  /** Compact a persisted IVF index to the ids in `keepIds` — the
    * cell-partitioned analogue of [[graft.ops.Dedup.minhashIndexCompact]]
    * (appends are append-only; deleted corpus vectors would otherwise keep
    * winning delta dedups). Rewrites the kept rows cell-partitioned into a
    * sibling directory and swaps; centroids are untouched (compaction never
    * re-trains the quantizer). */
  def ivfIndexCompact(
      keepIds: DataFrame, idCol: String, indexDir: String,
      epoch: Option[Long] = None): Unit = {
    val spark = keepIds.sparkSession
    Dedup.completeSwap(spark, s"$indexDir/cells", s"$indexDir/cells_compacting")
    val cur = IndexVersions.epoch(spark, indexDir)
    val target = epoch.getOrElse(cur + 1)
    require(target >= cur,
      s"compaction epoch $target would regress the index at $indexDir (currently $cur)")
    val cells = spark.read.parquet(s"$indexDir/cells")
    val tmp = s"$indexDir/cells_compacting"
    val n = Dedup.countingWrite(
      cells.join(keepIds.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .dropDuplicates("id"))( // repair duplicate rows a redelivered append left
      _.write.mode("overwrite").partitionBy("cell").parquet(tmp))
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Dedup.writeCommitMarker(fs, tmp)
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    fs.delete(live, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), live),
      s"compact swap failed: could not rename $tmp to $live")
    IndexVersions.record(spark, indexDir, target, "compact", n)
  }
}
