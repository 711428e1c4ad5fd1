package graft

import graft.ops.{Components, Dedup, Multimodal, Sharding, Similarity, TextOps, TrainingPipeline}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: dedup family, similarity search, text
  * analysis, multimodal plumbing — over the driver-provided documents and
  * embeddings tables plus planted duplicates.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  /** documents + exact copies of doc_id%5==0 and near-copies (one word appended)
    * of doc_id%7==0, with offset ids. */
  lazy val dupDocs = {
    val base = docs.select($"doc_id", $"text")
    base
      .unionAll(base.filter($"doc_id" % 5 === 0).select($"doc_id" + 10000, $"text"))
      .unionAll(base.filter($"doc_id" % 7 === 0)
        .select($"doc_id" + 20000, concat($"text", lit(" zzzz"))))
      .toDF("doc_id", "text").cache()
  }

  lazy val nDocs = docs.count()
  lazy val exactPlanted = docs.filter($"doc_id" % 5 === 0).count()

  test("exact dedup: planted copies found, survivors = originals") {
    val groups = Dedup.exactGroups(dupDocs, "doc_id", "text")
    assert(groups.count() === exactPlanted)
    assert(groups.filter($"doc_count" =!= 2).count() === 0)
    val deduped = Dedup.exactDedup(dupDocs, "doc_id", "text")
    // near-copies are NOT exact dups: survivors = originals + near-copies
    assert(deduped.count() === nDocs + docs.filter($"doc_id" % 7 === 0).count())
    assert(deduped.filter($"doc_id".between(10000, 19999)).count() === 0)
  }

  test("minhash LSH: finds all exact pairs and the appended-word near-dups") {
    val found = Dedup.minhashNearDups(dupDocs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exactPairs = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"doc_id" + 10000).as[(Long, Long)].collect().toSet
    // exact duplicates have identical signatures in every band — never missed
    assert(exactPairs.subsetOf(found))
    // near-dups (jaccard just below 1) should mostly be found
    val nearPairs = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", $"doc_id" + 20000).as[(Long, Long)].collect().toSet
    val recall = nearPairs.count(found).toDouble / nearPairs.size
    assert(recall > 0.9, s"near-dup recall $recall")
    // verify stage keeps jaccard exact: spot-check against brute force
    val brute = Dedup.jaccardPairsBruteForce(
      dupDocs.filter($"doc_id" % 50 === 0 || $"doc_id" % 50 === 10000 % 50),
      "doc_id", "text", 3, 0.8).count()
    assert(brute >= 0)
  }

  test("simhash: identical texts share signatures; near-dups within small hamming") {
    val sigs = dupDocs.select($"doc_id", Dedup.simhash($"text").as("sig"))
    val orig = sigs.filter($"doc_id" % 5 === 0 && $"doc_id" < 10000)
      .withColumnRenamed("doc_id", "a").withColumnRenamed("sig", "sa")
    val copy = sigs.filter($"doc_id" >= 10000 && $"doc_id" < 20000)
      .select(($"doc_id" - 10000).as("a"), $"sig".as("sb"))
    val joined = orig.join(copy, "a")
    assert(joined.filter($"sa" =!= $"sb").count() === 0)
    val pairs = Dedup.simhashNearDupsAudited(dupDocs, "doc_id", "text", maxHamming = 3).pairs
    val exactPairs = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id", $"doc_id" + 10000).as[(Long, Long)].collect().toSet
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactPairs.subsetOf(found))
  }

  test("a cap of 1 drops every candidate bucket and the drop audit counts them") {
    val bands = Dedup.simhashBands(dupDocs, "doc_id", "text", maxHamming = 3)
    // a cap of 1 makes EVERY >=2 bucket oversize: pairs empty, audit non-empty
    val audited = Dedup.candidatePairsAudited(bands, maxBucket = 1)
    assert(audited.pairs.count() === 0)
    assert(audited.droppedBuckets > 0)
    assert(audited.droppedIds >= 2 * audited.droppedBuckets) // every dropped bucket has >= 2 ids
  }

  test("simhash banding guarantee: banded pairs == brute-force pairs (maxHamming=15)") {
    // pigeonhole: maxHamming+1 disjoint covering chunks => recall 1.0 at ANY
    // radius (the round-1 fixed 4x16 banding silently missed distance > 3)
    val maxH = 15
    val sigs = dupDocs.select($"doc_id".as("id"), Dedup.simhash($"text").as("sig")).cache()
    val a = sigs.select($"id".as("id_a"), $"sig".as("sa"))
    val b = sigs.select($"id".as("id_b"), $"sig".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .withColumn("h", Dedup.hammingDistance($"sa", $"sb"))
      .filter($"h" <= maxH)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupsAudited(dupDocs, "doc_id", "text", maxHamming = maxH)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the planted near-dups actually land within radius
    sigs.unpersist()
  }

  test("simhash words=4: 240-bit signature, words=2 prefix unchanged, banding still lossless") {
    val sigs2 = dupDocs.select($"doc_id".as("id"), Dedup.simhash($"text").as("s2"))
    val sigs4 = dupDocs.select($"doc_id".as("id"), Dedup.simhash($"text", 4).as("s4"))
    // the first two words are the fixed-width construction bit-for-bit (the
    // oracle contract survives widening)
    val j = sigs2.join(sigs4, "id")
    assert(j.filter(element_at($"s2", 1) =!= element_at($"s4", 1) ||
      element_at($"s2", 2) =!= element_at($"s4", 2)).count() === 0)
    assert(sigs4.filter(size($"s4") =!= 4).count() === 0)
    // extra words are real signal, not copies of the first digest
    assert(j.filter(element_at($"s4", 3) === element_at($"s4", 1)).count() === 0)
    // pigeonhole banding keeps recall 1.0 at the wider width
    val maxH = 8
    val a = sigs4.select($"id".as("id_a"), $"s4".as("sa"))
    val b = sigs4.select($"id".as("id_b"), $"s4".as("sb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .withColumn("h", Dedup.hammingDistance($"sa", $"sb", 4))
      .filter($"h" <= maxH).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val banded = Dedup.simhashNearDupsAudited(dupDocs, "doc_id", "text", maxHamming = maxH, words = 4)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // exact-dup plants sit at hamming 0 in any width
  }

  test("brute-force cosine top-k: query's own embedding ranks first") {
    val q = embs.filter($"vec_id" === 0).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val top = Similarity.topKCosine(embs, "vec_id", "embedding", q, 10).collect()
    assert(top.length === 10)
    assert(top.head.getAs[Long]("id") === 0L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    val cosines = top.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines === cosines.sorted.reverse)
  }

  test("LSH ANN: high recall vs brute force at modest probe budget") {
    val q = embs.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val exact = Similarity.topKCosine(embs, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect().toSet
    val approx = Similarity.lshTopKCosine(embs, "vec_id", "embedding", q, 10,
      numPlanes = 10, probeHamming = 3)
      .select("id").as[Long].collect().toSet
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall $recall") // probes trade recall for cost
    assert(approx.contains(7L))
  }

  test("embedding near-dup: planted duplicate vectors found at cosine ~1") {
    val dupEmbs = embs.select($"vec_id", $"embedding")
      .unionAll(embs.filter($"vec_id" % 50 === 0).select($"vec_id" + 10000, $"embedding"))
      .toDF("vec_id", "embedding")
    val exact = Similarity.cosineNearDupPairs(dupEmbs, "vec_id", "embedding", 0.9999)
    val planted = embs.filter($"vec_id" % 50 === 0).count()
    assert(exact.count() === planted)
    val lsh = Similarity.cosineNearDupPairsLshAudited(dupEmbs, "vec_id", "embedding", 0.9999).pairs
    assert(lsh.count() === planted) // identical vectors share every signature
  }

  test("text analysis: langid, quality, token counts, fingerprint") {
    val r = docs.select(
      $"doc_id",
      TextOps.langId($"text").as("lang_pred"),
      TextOps.qualitySignals($"text").as("q"),
      TextOps.tokenCountBpeIsh($"text").as("bpe_tokens"),
      size(TextOps.tokens($"text")).as("ws_tokens"),
      TextOps.fingerprint($"text").as("fp"),
      $"n_chars")
    val row = r.orderBy("doc_id").collect().head
    // docs vocabulary is English-ish (contains "the"/"a") => "en"
    assert(row.getAs[String]("lang_pred") === "en")
    val q = row.getAs[org.apache.spark.sql.Row]("q")
    assert(q.getAs[Long]("n_chars") === row.getAs[Long]("n_chars"))
    assert(q.getAs[Long]("n_tokens") === row.getAs[Int]("ws_tokens").toLong)
    assert(row.getAs[Long]("fp") >= 0L)
    // deterministic: same text -> same fingerprint
    val fps = docs.limit(5).select(TextOps.fingerprint($"text")).as[Long].collect()
    val fps2 = docs.limit(5).select(TextOps.fingerprint($"text")).as[Long].collect()
    assert(fps.toSeq === fps2.toSeq)
  }

  test("multimodal plumbing: ingest/meta/features/frames over binary payloads") {
    val media = Multimodal.ingest(docs, "doc_id", $"text", "image/fake")
    val m = media.select($"doc_id", $"media",
      Multimodal.decodeImageMeta($"media", $"meta").as("meta"))
    val row = m.orderBy("doc_id").collect().head
    val meta = row.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Long]("byte_size") > 0)
    assert(meta.getAs[Int]("width") >= 16 && meta.getAs[Int]("width") < 1936)
    // ingest's and the decoded meta struct's schema EQUAL mediaMetaType on
    // field names + types (nullability differs only via lit() inputs)
    def fields(df: org.apache.spark.sql.DataFrame) =
      df.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => (f.name, f.dataType)).toSeq
    val expected = Multimodal.mediaMetaType.fields.map(f => (f.name, f.dataType)).toSeq
    assert(fields(media) === expected)
    assert(fields(m) === expected)
  }

  test("IVF ANN: train once (driver k-means on a sample), query many; persisted index reuse") {
    val q = embs.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val exact = Similarity.topKCosine(embs, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect().toSet
    // training is a separate step — never inside the query path
    val centroids = Similarity.ivfTrain(embs, "vec_id", "embedding", k = 16, iters = 3)
    assert(centroids.size === 16)
    val ivf = Similarity.ivfTopKCosine(embs, "vec_id", "embedding", centroids, q, 10, nprobe = 6)
      .select("id").as[Long].collect().toSet
    assert(ivf.contains(7L))
    val recall = exact.count(ivf).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
    // determinism: same input, same parameters => same centroids and result
    val again = Similarity.ivfTrain(embs, "vec_id", "embedding", k = 16, iters = 3)
    assert(again === centroids)
    // persisted index: build once, reload centroids + cell-pruned corpus, same answer
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val built = Similarity.ivfBuildIndex(embs, "vec_id", "embedding", dir, numCells = 16, iters = 3)
    assert(built === centroids)
    val loaded = Similarity.ivfLoadCentroids(spark, dir)
    assert(loaded === centroids)
    val fromIndex = Similarity.ivfTopKCosineAssigned(
      spark.read.parquet(s"$dir/cells"), loaded, q, 10, nprobe = 6)
      .select("id").as[Long].collect().toSet
    assert(fromIndex === ivf)
  }

  test("int8 quantization: 4x smaller codes, cosine ranking survives (scale cancels)") {
    val q = embs.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val quant = Similarity.quantizeInt8(embs, "vec_id", "embedding").cache()
    // codes are honest int8 and bounded
    val row = quant.orderBy("id").collect().head
    val codes = row.getAs[scala.collection.Seq[Byte]]("codes")
    assert(codes.forall(c => c >= -127 && c <= 127))
    assert(row.getAs[Double]("scale") > 0)
    // dequantized values approximate the originals within one quantization step
    val err = quant
      .join(embs.select($"vec_id".as("id"), $"embedding".cast("array<double>").as("raw")), "id")
      .select(aggregate(
        zip_with(Similarity.dequantizeInt8($"scale", $"codes"), $"raw",
          (a, b) => abs(a - b) / greatest($"scale", lit(1e-12))),
        lit(0.0), (acc, v) => greatest(acc, v)).as("steps"))
      .agg(max($"steps")).as[Double].collect().head
    assert(err <= 0.5 + 1e-9, s"max quantization error $err steps")
    // ranking on codes: own vector first, high overlap with exact top-k
    val exact = Similarity.topKCosine(embs, "vec_id", "embedding", q, 10)
      .select("id").as[Long].collect()
    val int8 = Similarity.topKCosineInt8(quant, q, 10)
      .select("id").as[Long].collect()
    assert(int8.head === 7L)
    val recall = exact.toSet.count(int8.toSet).toDouble / exact.size
    assert(recall >= 0.7, s"int8 recall $recall")
    quant.unpersist()
  }

  test("PQ: 32x codes, ADC exact on codebook points, own-vector top rank, stable under repartition") {
    val q = embs.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val books = Similarity.pqTrain(embs, "vec_id", "embedding", m = 8, kSub = 16, iters = 3)
    assert(books.length === 8 && books.forall(_.length === 16) && books.forall(_.forall(_.length === 8)))
    val enc = Similarity.pqEncode(embs, "vec_id", "embedding", books).cache()
    // codes are m bytes (the 32x claim vs 64 floats) and reference valid centroids
    val c0 = enc.orderBy("id").collect().head.getAs[Array[Byte]]("codes")
    assert(c0.length === 8 && c0.forall(b => (b & 0xFF) < 16))
    // ADC is EXACT for a vector that sits on its codebook centroids: with
    // iters=0 the smallest-id sample IS its own codebook entry in every
    // subspace, so encoding has zero distortion and self-ADC = ||u||^2 = 1
    val books0 = Similarity.pqTrain(embs, "vec_id", "embedding", m = 8, kSub = 16,
      iters = 0, sampleSize = 16, sampleByHash = false) // smallest-id sample: v0 IS codebook entry 0
    val v0id = embs.orderBy("vec_id").select($"vec_id").as[Long].collect().head
    val v0 = embs.filter($"vec_id" === v0id).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val s0 = Similarity.pqTopKCosine(
      Similarity.pqEncode(embs.filter($"vec_id" === v0id), "vec_id", "embedding", books0),
      books0, v0, 1).select($"cosine").as[Double].collect().head
    assert(math.abs(s0 - 1.0) < 1e-9, s"ADC self-score $s0")
    // querying a corpus vector ranks it at/near the top despite 32x compression
    val top = Similarity.pqTopKCosine(enc, books, q, 10).select("id").as[Long].collect()
    assert(top.take(3).contains(7L), s"own vector not in top-3: ${top.toSeq}")
    // deterministic and partitioning-independent
    val enc2 = Similarity.pqEncode(embs.repartition(13), "vec_id", "embedding", books)
    assert(Similarity.pqTopKCosine(enc2, books, q, 10).select("id").as[Long].collect()
      .toSeq === top.toSeq)
    // zero vector encodes without NaN/exception
    val z = Seq((1L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding")
    assert(Similarity.pqEncode(z, "vec_id", "embedding", books).collect().length === 1)
    // persisted IVF-PQ index round-trip: the build trains the same quantizers
    // as in memory, and loading reads both back unchanged
    val cents = Similarity.ivfTrain(embs, "vec_id", "embedding", k = 16, iters = 3)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val (cents2, books2) = Similarity.ivfPqBuildIndex(embs, "vec_id", "embedding", idxDir)
    assert(cents2 === cents && books2 === books) // same deterministic training
    val (centsL, booksL) = Similarity.ivfPqLoadIndex(spark, idxDir)
    assert(centsL === cents && booksL === books)
    enc.unpersist()
  }

  test("knn join: per-query top-k matches per-query TakeOrdered; partial top-k bounds the shuffle") {
    val queries = embs.filter($"vec_id" % 100 === 0)
    val out = Similarity.knnJoinCosine(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect()
    val qIds = queries.select($"vec_id").as[Long].collect().sorted
    assert(out.map(_._1).distinct.sorted.toSeq === qIds.toSeq)
    assert(out.groupBy(_._1).values.forall(_.length === 5))
    // every query's own vector ranks first (cosine 1 with itself)
    qIds.foreach { q =>
      assert(out.find(r => r._1 == q && r._2 == 1L).exists(_._3 == q), s"query $q")
    }
    // batch result set == single-query brute force, per query
    qIds.take(2).foreach { qid =>
      val qv = embs.filter($"vec_id" === qid).select($"embedding".cast("array<double>"))
        .as[Seq[Double]].collect().head
      val single = Similarity.topKCosine(embs, "vec_id", "embedding", qv, 5)
        .select("id").as[Long].collect().toSet
      assert(out.filter(_._1 == qid).map(_._3).toSet === single)
    }
    // plan: the per-query aggregation is a partial+final collect_top_k — the
    // shuffle carries <= k structs per (query, partition), not |C| x |Q| rows
    val p = Similarity.knnJoinCosine(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", 5).queryExecution.executedPlan.toString
    assert(p.contains("partial_collect_top_k"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // zero vectors excluded on both sides (NaN cosine would outrank everything)
    val withZero = embs.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionAll(Seq((99999L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding"))
    val z = Similarity.knnJoinCosine(withZero.filter($"vec_id" % 100 === 0 || $"vec_id" === 99999L),
      "vec_id", "embedding", withZero, "vec_id", "embedding", 5)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    assert(!z.exists(r => r._1 == 99999L || r._2 == 99999L))
  }

  test("SemDeDup: planted duplicate vectors collapse to the min-id representative; within-cell pairs match brute force") {
    val dupEmbs = embs.select($"vec_id", $"embedding")
      .unionAll(embs.filter($"vec_id" % 50 === 0).select($"vec_id" + 100000, $"embedding"))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(dupEmbs, "vec_id", "embedding", k = 16, iters = 3)
    // identical vectors always share an argmax cell, so at ~1.0 threshold the
    // cell structure loses nothing: semantic pairs == unbucketed brute force
    val semPairs = Similarity.semanticNearDupPairsAudited(dupEmbs, "vec_id", "embedding", cents, 0.9999)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val brute = Similarity.cosineNearDupPairs(dupEmbs, "vec_id", "embedding", 0.9999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(semPairs === brute && brute.nonEmpty)
    // full dedup: every planted copy dropped, every original kept (embeddings
    // have no natural pairs at this threshold — max natural cosine ~0.5)
    val kept = Similarity.semanticDedup(dupEmbs, "vec_id", "embedding", cents, 0.9999).cache()
    assert(kept.count() === embs.count())
    assert(kept.filter($"vec_id" >= 100000).count() === 0)
    kept.unpersist()
    // oversize-cell audit is live (cap of 1 drops every >=2 cell, audited)
    val audited = Similarity.semanticNearDupPairsAudited(
      dupEmbs, "vec_id", "embedding", cents, 0.9999, maxCell = 1)
    assert(audited.pairs.count() === 0 && audited.droppedIds > 0)
  }

  test("semantic delta dedup: old wins via the persisted IVF index; partition-pruned cells; survivors append") {
    // corpus = the real embeddings; delta = exact copies of two corpus
    // vectors (cosine 1.0), a novel synthetic pair (dup of each other only),
    // and the natural corpus has no near-dups above 0.9 (max cosine 0.51)
    val old = embs.select($"vec_id", $"embedding")
    val copies = old.filter($"vec_id".isin(3L, 17L))
      .select(when($"vec_id" === 3L, 900L).otherwise(901L).as("vec_id"), $"embedding")
    val synth = (0 until 64).map(i => (math.sin(i * 7 + 1) * 2).toFloat)
    val twins = Seq((950L, synth), (951L, synth)).toDF("vec_id", "embedding")
    val delta = copies.unionAll(twins)
    val idx = java.nio.file.Files.createTempDirectory("graft-sem-delta").toString
    Similarity.ivfBuildIndex(old, "vec_id", "embedding", idx, numCells = 16, iters = 0,
      sampleSize = 16)
    val pairsIdx = Similarity.semanticDeltaPairsIndexed(
      delta, "vec_id", "embedding", idx, threshold = 0.9)
    val got = pairsIdx.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((3L, 900L)) && got.contains((17L, 901L)) && got.contains((950L, 951L)))
    assert(pairsIdx.droppedBuckets === 0L)
    // indexed path == inline-assigned path with the same centroids
    val cents = Similarity.ivfLoadCentroids(spark, idx)
    val inline = Similarity.semanticDeltaPairsAudited(
      Similarity.ivfAssign(delta, "vec_id", "embedding", cents),
      Similarity.ivfAssign(old, "vec_id", "embedding", cents), threshold = 0.9)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inline === got)
    // old wins; min-id twin survives
    val kept = Similarity.semanticDeltaDedupIndexed(delta, "vec_id", "embedding", idx,
      threshold = 0.9).select("vec_id").as[Long].collect().toSet
    assert(kept === Set(950L))
    // survivors append into their cell partitions; next delta sees them
    Similarity.ivfIndexAppend(twins.filter($"vec_id" === 950L), "vec_id", "embedding", idx)
    val kept2 = Similarity.semanticDeltaDedupIndexed(
      Seq((960L, synth)).toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
      threshold = 0.9).select("vec_id").as[Long].collect().toSet
    assert(kept2 === Set.empty[Long]) // loses to the appended 950
    // compaction: drop 950 from the index => a re-sent twin survives again
    // (stale vectors can no longer win); centroids untouched
    Similarity.ivfIndexCompact(old.select($"vec_id"), "vec_id", idx)
    assert(Similarity.ivfLoadCentroids(spark, idx) === cents)
    val kept3 = Similarity.semanticDeltaDedupIndexed(
      Seq((961L, synth)).toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
      threshold = 0.9).select("vec_id").as[Long].collect().toSet
    assert(kept3 === Set(961L))
  }

  test("PQ-coded semantic delta: ADC candidates + exact refine; planted twins recalled; survivors append as codes") {
    val old = embs.select($"vec_id", $"embedding")
    val copies = old.filter($"vec_id".isin(3L, 17L))
      .select(when($"vec_id" === 3L, 900L).otherwise(901L).as("vec_id"), $"embedding")
    val synth = (0 until 64).map(i => (math.sin(i * 7 + 1) * 2).toFloat)
    val twins = Seq((950L, synth), (951L, synth)).toDF("vec_id", "embedding")
    val delta = copies.unionAll(twins)
    val idx = java.nio.file.Files.createTempDirectory("graft-sem-delta-pq").toString
    Similarity.ivfPqBuildIndex(old, "vec_id", "embedding", idx,
      numCells = 16, m = 8, kSub = 64, iters = 3, sampleSize = 512)
    // generous margin: these synthetic vectors are near-uniform (measured
    // ADC self-scores of exact copies bottom out ~0.49 — the worst case for
    // PQ); real embedding corpora sit far closer to their codebooks
    def pairsOf(margin: Double, refine: Int = 1 << 14) = Similarity
      .semanticDeltaPairsPqIndexed(delta, "vec_id", "embedding", idx,
        threshold = 0.9, adcMargin = margin, maxRefineIds = refine)
    def norm(s: Set[(Long, Long)]) =
      s.map { case (x, y) => (math.min(x, y), math.max(x, y)) }
    val pq = pairsOf(0.55)
    val got = norm(pq.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(got.contains((3L, 900L)) && got.contains((17L, 901L))) // ADC recall
    assert(got.contains((950L, 951L)))                            // exact new-new
    assert(pq.droppedBuckets === 0L)
    // refine is exact: every emitted pair also passes the raw-vector path
    // assigned with the SAME centroids
    val cents = Similarity.ivfLoadCentroids(spark, idx)
    val exact = norm(Similarity.semanticDeltaPairsAudited(
      Similarity.ivfAssign(delta, "vec_id", "embedding", cents),
      Similarity.ivfAssign(old, "vec_id", "embedding", cents), threshold = 0.9)
      .pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(got.subsetOf(exact) && exact.nonEmpty)
    // the semi-join refine path (no id pushdown) emits identical pairs
    assert(norm(pairsOf(0.55, refine = 0).pairs
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet) === got)
    // dedup semantics: old wins; min-id twin survives
    val kept = Similarity.semanticDeltaDedupPqIndexed(delta, "vec_id", "embedding",
      idx, threshold = 0.9, adcMargin = 0.55)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(950L))
    // survivors append as codes (stored quantizers); the next twin loses to 950
    Similarity.ivfPqIndexAppend(twins.filter($"vec_id" === 950L), "vec_id", "embedding", idx)
    val kept2 = Similarity.semanticDeltaDedupPqIndexed(
      Seq((960L, synth)).toDF("vec_id", "embedding"), "vec_id", "embedding", idx,
      threshold = 0.9, adcMargin = 0.55)
      .select("vec_id").as[Long].collect().toSet
    assert(kept2 === Set.empty[Long])
  }

  test("at-least-once redelivery: a delta recomputed against its own appended survivors is a no-op (both index families)") {
    // lexical: without the self-pair guard every survivor would pair with its
    // own index entry (all 32 signature words match) and drop — a replayed
    // snapshot would silently return ZERO survivors
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8)
    val old = dupDocs.filter($"doc_id" % 3 =!= 0)
    val delta = dupDocs.filter($"doc_id" % 3 === 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-redeliver-mh").toString
    Dedup.minhashIndexBuild(old, "doc_id", "text", idx, p)
    def lexKept() = Dedup.deltaDedupIndexed(delta, "doc_id", "text", idx, threshold = 0.8)
      .select($"doc_id").as[Long].collect().toSet
    val kept1 = lexKept()
    assert(kept1.nonEmpty && kept1.size < delta.count())
    Dedup.minhashIndexAppend(
      delta.join(kept1.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", idx)
    assert(lexKept() === kept1)
    // semantic twin: identical replay contract over the IVF cell index
    val ivf = java.nio.file.Files.createTempDirectory("graft-redeliver-ivf").toString
    val eOld = embs.select($"vec_id", $"embedding").filter($"vec_id" % 3 =!= 0)
    val eDelta = embs.select($"vec_id", $"embedding").filter($"vec_id" % 3 === 0)
      .unionAll(eOld.filter($"vec_id" === 5L).select(($"vec_id" + 7000).as("vec_id"), $"embedding"))
    Similarity.ivfBuildIndex(eOld, "vec_id", "embedding", ivf, numCells = 8)
    def semKept() = Similarity.semanticDeltaDedupIndexed(
      eDelta, "vec_id", "embedding", ivf, threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    val sem1 = semKept()
    assert(!sem1.contains(7005L) && sem1.nonEmpty) // the planted copy lost to its old source
    Similarity.ivfIndexAppend(
      eDelta.join(sem1.toSeq.toDF("vec_id"), Seq("vec_id"), "left_semi"),
      "vec_id", "embedding", ivf)
    assert(semKept() === sem1)
  }

  test("index format guards: raw-vs-PQ mismatches fail fast instead of corrupting the index") {
    val e = embs.select($"vec_id", $"embedding")
    val raw = java.nio.file.Files.createTempDirectory("graft-fmt-raw").toString
    val pq = java.nio.file.Files.createTempDirectory("graft-fmt-pq").toString
    Similarity.ivfBuildIndex(e, "vec_id", "embedding", raw, numCells = 4, iters = 0, sampleSize = 4)
    Similarity.ivfPqBuildIndex(e, "vec_id", "embedding", pq, numCells = 4, iters = 0, sampleSize = 16)
    // plain append onto a PQ index would write codes-less rows PQ deltas
    // can't score — refused loudly
    val a = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(e.limit(1), "vec_id", "embedding", pq)
    }
    assert(a.getMessage.contains("ivfPqIndexAppend"), a.getMessage)
    // PQ operators over a plain index: no codebooks to score with — refused
    val b = intercept[IllegalArgumentException] {
      Similarity.semanticDeltaDedupPqIndexed(e.limit(1), "vec_id", "embedding",
        raw, threshold = 0.9).collect()
    }
    assert(b.getMessage.contains("plain IVF"), b.getMessage)
    val c = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(e.limit(1), "vec_id", "embedding", raw)
    }
    assert(c.getMessage.contains("plain IVF"), c.getMessage)
  }

  test("IVF knn join: nprobe=all equals brute force exactly; pruned nprobe keeps own-vector rank 1") {
    val queries = embs.filter($"vec_id" % 100 === 0)
    val centroids = Similarity.ivfTrain(embs, "vec_id", "embedding", k = 16, iters = 3)
    val indexed = Similarity.ivfAssign(embs, "vec_id", "embedding", centroids).cache()
    // exhaustive probing: candidate set == full corpus => identical to the cartesian join
    val brute = Similarity.knnJoinCosine(queries, "vec_id", "embedding",
      embs, "vec_id", "embedding", k = 5)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    val all = Similarity.knnJoinCosineIvf(queries, "vec_id", "embedding",
      indexed, centroids, k = 5, nprobe = 16)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    assert(all === brute)
    // pruned probing: every query still finds itself (its own cell is always probed)
    val pruned = Similarity.knnJoinCosineIvf(queries, "vec_id", "embedding",
      indexed, centroids, k = 5, nprobe = 8)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect()
    val qIds = queries.select($"vec_id").as[Long].collect().toSet
    assert(pruned.map(_._1).toSet === qIds)
    qIds.foreach { q =>
      assert(pruned.find(r => r._1 == q && r._2 == 1L).exists(_._3 == q), s"query $q")
    }
    // recall vs brute force at nprobe 8/16: the embeddings table has NO
    // planted neighbor structure (near-random vectors), so pruning half the
    // cells legitimately loses some of the (weak, cosine~0.4) "neighbors" —
    // the bound pins the measured deterministic value, not a hope
    val recall = pruned.count(brute).toDouble / brute.size
    assert(recall >= 0.6, s"IVF knn-join recall $recall")
    // zero-vector hygiene matches the brute-force join: no NaN ranks
    val withZero = embs.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionAll(Seq((99999L, Seq.fill(64)(0.0))).toDF("vec_id", "embedding"))
    val zIdx = Similarity.ivfAssign(withZero, "vec_id", "embedding", centroids)
    val z = Similarity.knnJoinCosineIvf(
      withZero.filter($"vec_id" % 100 === 0 || $"vec_id" === 99999L), "vec_id", "embedding",
      zIdx, centroids, k = 5, nprobe = 16)
      .select($"query_id", $"id").as[(Long, Long)].collect()
    assert(!z.exists(r => r._1 == 99999L || r._2 == 99999L))
    indexed.unpersist()
  }

  test("distributed IVF knn join equals the driver-probed path; graph excludes self and matches per-query joins") {
    val queries = embs.filter($"vec_id" % 100 === 0)
    val centroids = Similarity.ivfTrain(embs, "vec_id", "embedding", k = 16, iters = 3)
    val indexed = Similarity.ivfAssign(embs, "vec_id", "embedding", centroids).cache()
    // the ProbeCells expression must rank cells exactly like driver-side
    // probeCells — same candidates, same scores, same rank cut
    for (np <- Seq(2, 8, 16)) {
      val driverProbed = Similarity.knnJoinCosineIvf(queries, "vec_id", "embedding",
        indexed, centroids, k = 5, nprobe = np)
        .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
      val distributed = Similarity.knnJoinCosineIvfDistributed(queries, "vec_id", "embedding",
        indexed, centroids, k = 5, nprobe = np)
        .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
      assert(distributed === driverProbed, s"nprobe=$np")
    }
    // the graph: corpus as its own query side, self-pairs excluded
    val graph = Similarity.knnGraphCosineIvf(indexed, k = 3, centroids, nprobe = 16)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect()
    assert(!graph.exists(r => r._1 == r._3), "self-pair leaked into the graph")
    val allIds = embs.select($"vec_id").as[Long].collect().toSet
    assert(graph.map(_._1).toSet === allIds) // every vector got neighbors
    // per-query agreement with the joined path: whenever the query's own
    // vector holds rank 1 of its top-4 (the usual case, cosine 1), the graph's
    // top-3 must be exactly ranks 2..4 with the rank shifted down by one
    val viaJoin = Similarity.knnJoinCosineIvfDistributed(embs, "vec_id", "embedding",
      indexed, centroids, k = 4, nprobe = 16)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2) }
    val byQ = graph.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    var checked = 0
    viaJoin.foreach { case (q, rs) =>
      if (rs.headOption.exists(_._3 == q) && rs.size == 4) {
        assert(byQ(q) === rs.drop(1).map(_._3).toSeq, s"query $q")
        checked += 1
      }
    }
    assert(checked > allIds.size / 2, s"self-at-rank-1 spot-check covered only $checked queries")
    indexed.unpersist()
  }

  test("drop audit rides the dedup job: degenerate corpus reports excluded buckets") {
    // 40 byte-identical docs: every band bucket holds all 40 ids. A cap of 10
    // drops ALL of them — without the audit that would read as "no near-dups".
    val degenerate = spark.range(40)
      .select($"id".as("doc_id"), lit("same text everywhere forever and ever").as("text"))
    val mh = Dedup.minhashNearDupsAudited(degenerate, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9, maxBucket = 10)
    assert(mh.pairs.count() === 0) // capped out — and the audit says so
    assert(mh.droppedBuckets === 16L) // one oversize bucket per band
    assert(mh.droppedIds === 16L * 40)
    val sh = Dedup.simhashNearDupsAudited(degenerate, "doc_id", "text",
      maxHamming = 3, maxBucket = 10)
    assert(sh.pairs.count() === 0)
    assert(sh.droppedBuckets > 0)
    // a healthy corpus reports zero drops alongside its (non-empty) pairs
    val healthy = Dedup.minhashNearDupsAudited(dupDocs, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
    assert(healthy.pairs.count() > 0)
    assert(healthy.droppedBuckets === 0L && healthy.droppedIds === 0L)
  }

  test("dot product: mismatched-length arrays yield null (corrupt embedding surfaces)") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (2L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)), // truncated => null, not a prefix dot
      (3L, Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("id", "a", "b")
    val r = df.select($"id", Similarity.dot($"a", $"b").as("d")).orderBy("id").collect()
    assert(r(0).getAs[Double]("d") === 14.0)
    assert(r(1).isNullAt(1) && r(2).isNullAt(1))
  }

  test("int8 search: all-zero vectors are excluded, never NaN-ranked into top-k") {
    val q = embs.filter($"vec_id" === 7).select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().head
    val dim = q.size
    val withZero = embs.select($"vec_id", $"embedding")
      .unionAll(spark.range(1).select(lit(99999L).as("vec_id"),
        array_repeat(lit(0.0f), dim).as("embedding")))
    val quant = Similarity.quantizeInt8(withZero, "vec_id", "embedding")
    assert(quant.filter($"id" === 99999L).select($"scale").as[Double].collect().head === 0.0)
    val top = Similarity.topKCosineInt8(quant, q, 10).select("id").as[Long].collect()
    assert(top.head === 7L)
    assert(!top.contains(99999L)) // NaN would have sorted ABOVE every real cosine
  }

  test("signature expressions: null/empty/unicode edges") {
    val df = Seq(
      (1L, "hello world of spark"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, "héllo wörld 中文")).toDF("id", "text")
    val r = df.select($"id",
      Dedup.simhash($"text").as("sim"),
      Dedup.minhashSignature($"text", 3, 8).as("min")).orderBy("id").collect()
    assert(r(0).getAs[scala.collection.Seq[Long]]("sim").length === 2)
    assert(r(0).getAs[scala.collection.Seq[Long]]("min").length === 8)
    // empty text: zero tokens => zero votes => all-zero signature
    assert(r(1).getAs[scala.collection.Seq[Long]]("sim") === Seq(0L, 0L))
    // null stays null (NullIntolerant unary expressions)
    assert(r(2).isNullAt(1) && r(2).isNullAt(2))
    // multibyte tokens hash deterministically (md5/xxh64 over UTF-8 bytes)
    val again = df.filter($"id" === 4).select(Dedup.simhash($"text")).collect().head
    assert(again.getAs[scala.collection.Seq[Long]](0) ===
      r(3).getAs[scala.collection.Seq[Long]]("sim"))
  }

  test("training pipeline end-to-end: every stage removes exactly its planted artifacts") {
    import graft.ops.TrainingPipeline
    import graft.dsl.{Field, SchemaSpec}
    // drop the generator's natural near-dup plants (token "dup") so stage
    // counts are fully determined by what THIS test plants
    val clean = docs.filter(!$"text".contains("dup")).select($"doc_id", $"text", $"lang")
    val probe = clean.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 90000).as("pid"), $"text".as("ptext")).cache()
    val base = clean.filter($"doc_id" % 25 =!= 0).cache()
    val nExact = base.filter($"doc_id" % 5 === 0).count()
    val nNearPlanted = base.filter($"doc_id" % 7 === 0).count()
    val nLeaks = probe.count()
    val corpus = base
      .unionAll(base.filter($"doc_id" % 5 === 0).select($"doc_id" + 10000, $"text", $"lang"))
      .unionAll(base.filter($"doc_id" % 7 === 0)
        .select($"doc_id" + 20000, concat($"text", lit(" zzzz")), $"lang"))
      .unionAll(probe.select($"pid" + 10000, $"ptext", lit("en")))
      .unionAll(Seq((40000L, "spam spam spam spam spam spam spam spam", "en"),
        (40001L, "a perfectly fine document text", null.asInstanceOf[String]))
        .toDF("doc_id", "text", "lang"))
      .toDF("doc_id", "text", "lang")

    val res = TrainingPipeline.run(
      corpus, "doc_id", "text",
      schema = Some(SchemaSpec("d", Seq(Field.string("lang").req), keyColumns = Seq("doc_id"))),
      probe = Some((probe, "pid", "ptext")),
      maxTopWordPct = 60,
      splits = Seq("train" -> 0.9, "val" -> 0.1), splitSalt = "pipe",
      packBudget = Some(500L))
    val rep = res.report
    assert(rep.input === corpus.count())
    assert(rep.invalid === 1)                      // the null-lang doc
    assert(rep.exactDups === nExact)               // +10000 copies
    assert(rep.nearDups >= (nNearPlanted * 0.8).toLong && rep.nearDups <= nNearPlanted)
    assert(rep.contaminated === nLeaks)            // +100000-ids leak copies
    assert(rep.lowQuality === 1)                   // the spam doc
    assert(rep.output === rep.input - rep.removed)
    val out = res.corpus.cache()
    assert(out.count() === rep.output)
    // only LSH-missed near-dup copies may survive (recall tolerance above);
    // every exact dup, leak and junk plant is gone
    val survivors = out.filter($"doc_id" >= 10000).select("doc_id").as[Long].collect()
    assert(survivors.forall(id => id >= 20000 && id < 30000), survivors.mkString(","))
    assert(survivors.length === (nNearPlanted - rep.nearDups))
    assert(out.select("split").distinct().as[String].collect().toSet === Set("train", "val"))
    assert(out.filter($"bin" < 0).count() === 0)
    out.unpersist(); probe.unpersist(); base.unpersist()
  }

  test("resumable pipeline: kill after a stage resumes with complement stages only; corpus + report identical; committed state untouched") {
    import graft.ops.TrainingPipeline
    import graft.dsl.{Field, SchemaSpec}
    val clean = docs.filter(!$"text".contains("dup")).select($"doc_id", $"text", $"lang")
    val probe = clean.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 90000).as("pid"), $"text".as("ptext")).cache()
    val base = clean.filter($"doc_id" % 25 =!= 0).cache()
    val corpus = base
      .unionAll(base.filter($"doc_id" % 5 === 0).select($"doc_id" + 10000, $"text", $"lang"))
      .unionAll(probe.select($"pid" + 10000, $"ptext", lit("en")))
      .unionAll(Seq((40001L, "a perfectly fine document text", null.asInstanceOf[String]))
        .toDF("doc_id", "text", "lang"))
      .toDF("doc_id", "text", "lang")
    val spec = Some(SchemaSpec("d", Seq(Field.string("lang").req), keyColumns = Seq("doc_id")))
    def go(work: String, onStage: String => Unit = _ => (), in: org.apache.spark.sql.DataFrame = corpus) =
      TrainingPipeline.runResumable(in, "doc_id", "text", work,
        schema = spec, probe = Some((probe, "pid", "ptext")),
        splits = Seq("train" -> 0.9, "val" -> 0.1), splitSalt = "pipe",
        packBudget = Some(500L), onStageComputed = onStage)

    // uninterrupted reference run in its own work dir
    val work1 = java.nio.file.Files.createTempDirectory("graft-pipe1").toString
    val full = go(work1)
    assert(full.stages.map(s => (s.name, s.loaded)) ===
      Seq("prepare" -> false, "neardup" -> false, "decontam" -> false, "quality" -> false))
    val fullRows = full.corpus.collect().map(_.toString).sorted

    // kill at the neardup commit boundary; decontam/quality never ran
    val work2 = java.nio.file.Files.createTempDirectory("graft-pipe2").toString
    val killed = intercept[RuntimeException] {
      go(work2, onStage = n => if (n == "neardup") throw new RuntimeException("kill"))
    }
    assert(killed.getMessage === "kill")
    def stateFiles(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(work2)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val committed = stateFiles()
    assert(committed.keys.exists(_.contains("/corpus/")) &&
      committed.keys.exists(_.contains("/near_losers/")))

    // resume: prepare + neardup load, decontam + quality compute
    val resumed = go(work2)
    assert(resumed.stages.map(s => (s.name, s.loaded)) ===
      Seq("prepare" -> true, "neardup" -> true, "decontam" -> false, "quality" -> false))
    assert(resumed.report === full.report)
    assert(resumed.corpus.collect().map(_.toString).sorted === fullRows)
    // completed stages' files were never rewritten — byte-identical on disk
    val after = stateFiles()
    assert(committed.forall { case (p, t) => after.get(p).contains(t) },
      committed.filterNot { case (p, t) => after.get(p).contains(t) }.keys.mkString(","))

    // a third invocation loads everything (no stage recomputes)
    val again = go(work2)
    assert(again.stages.forall(_.loaded) && again.report === full.report)

    // content change invalidates the whole chain: every stage recomputes
    val grown = corpus.unionAll(Seq((50000L, "a brand new document body", "en"))
      .toDF("doc_id", "text", "lang"))
    val changed = go(work2, in = grown)
    assert(changed.stages.forall(!_.loaded))
    assert(changed.report.input === full.report.input + 1)
    probe.unpersist(); base.unpersist()
  }

  test("delta pipeline facade: two snapshots equal the batch run; indexes hold the survivors; kill resumes; replay is exactly-once") {
    import graft.ops.{Dedup, Similarity, TrainingPipeline}
    import graft.dsl.{Field, SchemaSpec}
    // controlled corpus: disjoint-vocab docs (jaccard 0 across docs), planted
    // exact/near/semantic twins, a null-lang invalid plant, a spam plant, a
    // benchmark leak. Monotone ids across snapshots (the facade's documented
    // equivalence precondition).
    def text(i: Long, extra: String = "") =
      (1 to 30).map(t => s"w${i}_$t").mkString(" ") + extra
    def emb(concept: Long): Seq[Double] = // real hash mix: an affine scheme mod
      Seq.tabulate(16) { j =>             // a small prime aliases concepts
        (scala.util.hashing.MurmurHash3.productHash((concept, j)) % 19 - 9).toDouble
      }
    val leakText = "the quick brown fox jumps over the lazy dog " +
      "once more for the benchmark row"
    def df(rows: Seq[(Long, String, String, Long)]) = // (id, text, lang, concept)
      rows.map { case (i, t, l, c) => (i, t, l, emb(c)) }
        .toDF("doc_id", "text", "lang", "emb")
    val d1 = df(
      (1L to 20L).map(i => (i, text(i), "en", i)) ++ Seq(
        (21L, text(1), "en", 21L),               // exact dup WITHIN D1 (of 1)
        (22L, text(2, " xq1 xq2"), "en", 22L),   // near twin within D1 (of 2)
        (23L, "spam spam spam spam spam spam spam spam", "en", 23L))) // low quality
    val d2 = df(
      (101L to 110L).map(i => (i, text(i), "en", i)) ++ Seq(
        (121L, text(3), "en", 121L),             // exact copy ACROSS snapshots (of 3)
        (122L, text(4, " xq3 xq4"), "en", 122L), // near twin across snapshots (of 4)
        (123L, text(101, " xq5 xq6"), "en", 123L), // near twin within D2 (of 101)
        (124L, text(124), "en", 5L),             // SEMANTIC twin of 5 (text disjoint)
        (125L, leakText, "en", 125L),            // benchmark leak
        (126L, text(126), null.asInstanceOf[String], 126L))) // invalid (null lang)
    val probe = Seq((900L, leakText)).toDF("pid", "ptext")
    val spec = Some(SchemaSpec("d", Seq(Field.string("lang").req), keyColumns = Seq("doc_id")))
    val work = java.nio.file.Files.createTempDirectory("graft-delta-pipe").toString
    def go(delta: org.apache.spark.sql.DataFrame, w: String = work,
        onStage: String => Unit = _ => (),
        del: Option[org.apache.spark.sql.DataFrame] = None) =
      TrainingPipeline.runDelta(delta, "doc_id", "text", w,
        schema = spec, probe = Some((probe, "pid", "ptext")),
        embCol = Some("emb"), deletions = del,
        minhashThreshold = 0.8, maxTopWordPct = 60,
        semanticThreshold = 0.99, numCells = 4, ivfIters = 2, ivfSampleSize = 16,
        onStageComputed = onStage)

    val r1 = go(d1)
    val r2 = go(d2)
    assert(r1.report.exactDups === 1 && r1.report.nearDups === 1) // 21; 22
    assert(r1.report.lowQuality === 1 && r1.report.semanticDups === 0)
    assert(r2.report.invalid === 1)                               // 126
    assert(r2.report.nearDups === 3)                              // 121, 122, 123
    assert(r2.report.contaminated === 1 && r2.report.semanticDups === 1) // 125; 124
    val out1 = r1.corpus.select($"doc_id").as[Long].collect().toSet
    val out2 = r2.corpus.select($"doc_id").as[Long].collect().toSet
    assert(out1.intersect(out2).isEmpty)

    // batch equivalence: run() over the concatenated corpus, then semantic
    // dedup with the SAME quantizer the facade trained on snapshot 1
    val batch = TrainingPipeline.run(d1.unionAll(d2), "doc_id", "text",
      schema = spec, probe = Some((probe, "pid", "ptext")),
      minhashThreshold = 0.8, maxTopWordPct = 60)
    val cents = Similarity.ivfLoadCentroids(spark, s"$work/ivfidx")
    val batchIds = Similarity.semanticDedup(batch.corpus, "doc_id", "emb", cents, 0.99)
      .select($"doc_id").as[Long].collect().toSet
    assert(out1.union(out2) === batchIds)
    batch.unpersist()

    // the MinHash index holds exactly the lexical-dedup survivors (valid,
    // exact- and near-deduped — BEFORE decontam/quality, the batch-
    // equivalence choice), the IVF index exactly the final survivors
    val mhIds = Dedup.minhashIndexLoad(spark, s"$work/mhidx")._1
      .select($"id").as[Long].collect().toSet
    val lexSurvivors = ((1L to 20L).toSet ++ (101L to 110L).toSet + 23L + 124L + 125L)
    assert(mhIds === lexSurvivors)
    val ivfIds = spark.read.parquet(s"$work/ivfidx/cells")
      .select($"id").as[Long].collect().toSet
    assert(ivfIds === out1.union(out2))

    // PQ-coded semantic index mode: identical survivor sets with a generous
    // ADC margin (floor below any score -> candidates = all same-cell pairs
    // -> exact refine == the raw path); the index carries 8-byte codes and
    // appends encode with the STORED quantizers
    val workPq = java.nio.file.Files.createTempDirectory("graft-delta-pipe-pq").toString
    def goPq(delta: org.apache.spark.sql.DataFrame) =
      TrainingPipeline.runDelta(delta, "doc_id", "text", workPq,
        schema = spec, probe = Some((probe, "pid", "ptext")),
        embCol = Some("emb"),
        minhashThreshold = 0.8, maxTopWordPct = 60,
        semanticThreshold = 0.99, numCells = 4, ivfIters = 2, ivfSampleSize = 16,
        usePqCodes = true, pqM = 8, pqKSub = 8, pqAdcMargin = 2.0)
    assert(goPq(d1).corpus.select($"doc_id").as[Long].collect().toSet === out1)
    assert(goPq(d2).corpus.select($"doc_id").as[Long].collect().toSet === out2)
    val pqCells = spark.read.parquet(s"$workPq/ivfidx/cells")
    assert(pqCells.columns.contains("codes"))
    assert(pqCells.select($"id").as[Long].collect().toSet === out1.union(out2))

    // byte-identical replay of an earlier snapshot: all stages load, same
    // survivors, indexes untouched
    val again = go(d1)
    assert(again.stages.forall(_.loaded))
    assert(again.corpus.select($"doc_id").as[Long].collect().toSet === out1)
    assert(Dedup.minhashIndexLoad(spark, s"$work/mhidx")._1.count() === mhIds.size)

    // kill at the lexdedup boundary in a fresh work dir; resume loads the
    // committed prefix and recomputes the rest; result identical
    val work2 = java.nio.file.Files.createTempDirectory("graft-delta-pipe2").toString
    val killed = intercept[RuntimeException] {
      go(d1, w = work2, onStage = n => if (n.endsWith("_lexdedup")) throw new RuntimeException("kill"))
    }
    assert(killed.getMessage === "kill")
    val resumed = go(d1, w = work2)
    val loadedNames = resumed.stages.collect { case s if s.loaded => s.name.split("_").last }
    assert(loadedNames === Seq("prepare", "lexdedup"))
    assert(resumed.report === r1.report)
    assert(resumed.corpus.select($"doc_id").as[Long].collect().toSet === out1)

    // crash-window replay: dedup stage metas lost AFTER the survivors were
    // already appended/built into the indexes (the meta row is the commit
    // point) — the recompute runs the INDEXED branches against the delta's
    // own survivors and must reproduce the result, not drop every survivor
    // as a self-dup; the committed append stages must not re-append
    val metaFs = new org.apache.hadoop.fs.Path(work2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metas = metaFs.listStatus(new org.apache.hadoop.fs.Path(s"$work2/_meta"))
      .map(_.getPath)
      .filter(p => p.getName.endsWith("_lexdedup") || p.getName.endsWith("_semdedup"))
    assert(metas.length === 2)
    metas.foreach(p => metaFs.delete(p, true))
    val mhCountBefore = Dedup.minhashIndexLoad(spark, s"$work2/mhidx")._1.count()
    val replayed = go(d1, w = work2)
    assert(replayed.stages.filterNot(_.loaded).map(_.name.split("_").last).toSet
      === Set("lexdedup", "semdedup"))
    assert(replayed.report === r1.report)
    assert(replayed.corpus.select($"doc_id").as[Long].collect().toSet === out1)
    assert(Dedup.minhashIndexLoad(spark, s"$work2/mhidx")._1.count() === mhCountBefore)

    // interleaved bootstrap: snapshot A commits semdedup (bootstrapped=1)
    // but dies before semappend; snapshot B then bootstraps and OWNS the
    // index; A's redelivery must never overwrite B's index (that would erase
    // B's survivors and fork the quantizer) — it appends under B's stored
    // quantizers instead
    val work3 = java.nio.file.Files.createTempDirectory("graft-delta-pipe3").toString
    val killedSem = intercept[RuntimeException] {
      go(d1, w = work3, onStage = n => if (n.endsWith("_semdedup")) throw new RuntimeException("kill"))
    }
    assert(killedSem.getMessage === "kill")
    assert(!new java.io.File(s"$work3/ivfidx/centroids").exists) // index unborn
    val rB = go(d2, w = work3)
    val bSem = rB.corpus.select($"doc_id").as[Long].collect().toSet
    assert(bSem.contains(124L)) // A's semantic entry wasn't there to beat it
    val rA = go(d1, w = work3)
    assert(rA.corpus.select($"doc_id").as[Long].collect().toSet === out1)
    val cellIds3 = spark.read.parquet(s"$work3/ivfidx/cells")
      .select($"id").as[Long].collect().toSet
    assert(bSem.subsetOf(cellIds3), s"B's survivors must survive A's redelivery: $cellIds3")
    assert(out1.subsetOf(cellIds3))

    // deletion: withdraw doc 4 -> both indexes compact -> a fresh near-copy
    // of 4 now SURVIVES (stale signatures can no longer win)
    val d3 = df(Seq((201L, text(4, " xq7 xq8"), "en", 201L)))
    val r3 = go(d3, del = Some(Seq(4L).toDF("doc_id")))
    assert(r3.corpus.select($"doc_id").as[Long].collect().toSet === Set(201L))
    assert(!Dedup.minhashIndexLoad(spark, s"$work/mhidx")._1
      .select($"id").as[Long].collect().toSet.contains(4L))

    // lifecycle epochs: the deletion pass advanced the corpus manifest epoch
    // and both indexes' compaction epochs together
    import graft.ops.IndexVersions
    assert(IndexVersions.epoch(spark, s"$work/mhidx") === 1L)
    assert(IndexVersions.epoch(spark, s"$work/ivfidx") === 1L)
    // an index older than the corpus manifest epoch (a restored stale
    // backup) is REFUSED, not silently trusted
    val ep = new org.apache.hadoop.fs.Path(s"$work/_corpus_epoch")
    val hfs = ep.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ef = hfs.create(ep, true); ef.write("2\n".getBytes("UTF-8")); ef.close()
    val stale = intercept[IllegalArgumentException] {
      go(df(Seq((301L, text(301), "en", 301L))))
    }
    assert(stale.getMessage.contains("compaction epoch"), stale.getMessage)
    // a deletions pass (even an empty one) re-compacts at the current epoch
    // and heals the refusal
    val r4 = go(df(Seq((301L, text(301), "en", 301L))),
      del = Some(Seq.empty[Long].toDF("doc_id")))
    assert(r4.corpus.select($"doc_id").as[Long].collect().toSet === Set(301L))
    assert(IndexVersions.epoch(spark, s"$work/mhidx") === 3L)
  }

  test("hash split: deterministic, repartition-stable, weights approximately honored") {
    import graft.ops.Sharding
    val split = Sharding.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
      .select($"doc_id", $"split").cache()
    val byName = split.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(byName.keySet === Set("train", "val", "test"))
    assert(byName("train").toDouble / nDocs > 0.7 && byName("train").toDouble / nDocs < 0.9)
    // value-keyed: identical under repartition/reorder
    val again = Sharding.hashSplit(docs.repartition(7), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
      .select($"doc_id", $"split")
    assert(split.as[(Long, String)].collect().toSet === again.as[(Long, String)].collect().toSet)
    // a different salt re-rolls; growing the corpus never moves existing rows
    val rerolled = Sharding.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v2")
      .select($"doc_id", $"split").as[(Long, String)].collect().toSet
    assert(rerolled !== split.as[(Long, String)].collect().toSet)
    val grown = Sharding.hashSplit(docs.limit(100), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "v1")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val full = split.as[(Long, String)].collect().toMap
    grown.foreach { case (id, sp) => assert(full(id) === sp) }
    split.unpersist()
  }

  test("cost-budget packing: bins fill in order within each shard, never globally sorted") {
    import graft.ops.Sharding
    val packed = Sharding.packByCostBudget(docs, "source", "doc_id", "n_chars", 1000L)
      .select($"source", $"doc_id", $"n_chars", $"bin")
      .as[(String, Long, Long, Long)].collect()
    // per shard: bin = exclusive prefix sum / budget, recomputed on the driver
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, cost, bin) =>
        assert(bin === cum / 1000L, s"bin mismatch at cum=$cum")
        cum += cost
      }
    }
    // bins are dense from 0 within each shard
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val bins = rows.map(_._4).distinct.sorted
      assert(bins.head === 0L && bins === (bins.head to bins.last))
    }
  }

  test("PII scrubbing: ordered redaction, counts follow the scrub (email digits are not phones)") {
    val df = Seq(
      (1L, "mail bob.smith+x@ex-ample.co.uk now"),
      (2L, "server at 192.168.001.42 port"),
      (3L, "call +14155550123 or 5551234567"),
      (4L, "user12345678@corp.io"), // digit-heavy local part: email, NOT phone
      (5L, "clean text with no pii"),
      (6L, "card 1234567890123456 id ID12345678") // 16-digit run: WHOLE run redacted; word-embedded digits untouched
    ).toDF("id", "s")
    val out = df.select($"id", TextOps.scrubPii($"s").as("sc"), TextOps.piiCounts($"s").as("p"))
      .select($"id", $"sc", $"p.emails", $"p.ips", $"p.phones")
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "mail <EMAIL> now" && out(1L)._3 === 1L)
    assert(out(2L)._2 === "server at <IP> port" && out(2L)._4 === 1L)
    assert(out(3L)._2 === "call <PHONE> or <PHONE>" && out(3L)._5 === 2L)
    assert(out(4L)._2 === "<EMAIL>" && out(4L)._3 === 1L && out(4L)._5 === 0L)
    assert(out(5L)._2 === "clean text with no pii" && (out(5L)._3 + out(5L)._4 + out(5L)._5) === 0L)
    assert(out(6L)._2 === "card <PHONE> id ID12345678" && out(6L)._5 === 1L)
  }

  test("repetition signals: exact integer ratios; degenerate repeated-word doc flagged") {
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all words here are distinct tokens"),
      (3L, "one"),
      (4L, "")
    ).toDF("id", "s")
    val out = df.select($"id", TextOps.repetitionSignals($"s").as("r"))
      .select($"id", $"r.top_word_count", $"r.n_tokens", $"r.distinct_bigrams", $"r.n_bigrams")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4L, 4L, 1L, 3L))) // "spam spam" bigram repeats
    assert(out(2L) === ((2L, 1L, 6L, 5L, 5L)))
    assert(out(3L) === ((3L, 1L, 1L, 0L, 0L)))
    assert(out(4L) === ((4L, 0L, 0L, 0L, 0L)))
  }

  test("unicode normalization: NFC composes, NFKC folds compatibility chars, nulls pass through") {
    val df = Seq(
      (1L, "cafe\u0301"),       // e + combining acute -> e-acute
      (2L, "\u212B"),           // angstrom sign -> A-ring (U+00C5)
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String]),
      (5L, "\uFB01nal")         // fi-ligature: NFC keeps, NFKC expands
    ).toDF("id", "s")
    val out = df.select($"id",
      TextOps.normalizeUnicode($"s").as("nfc"),
      TextOps.normalizeUnicode($"s", "NFKC").as("nfkc"))
      .as[(Long, String, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (("caf\u00e9", "caf\u00e9")))
    assert(out(2L) === (("\u00c5", "\u00c5")))
    assert(out(3L) === (("plain ascii", "plain ascii")))
    assert(out(4L) === ((null, null)))
    assert(out(5L) === (("\uFB01nal", "final")))
    intercept[IllegalArgumentException](TextOps.normalizeUnicode($"s", "NFX"))
  }

  test("decontamination: planted benchmark leaks flagged with exact hit counts") {
    import graft.ops.Decontaminate
    val probe = docs.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 90000).as("pid"), $"text".as("ptext"))
    // corpus = all docs + exact copies of the probe texts under fresh ids
    val corpus = docs.select($"doc_id", $"text")
      .unionAll(probe.select($"pid" + 10000, $"ptext")).toDF("doc_id", "text")
    val hits = Decontaminate.ngramCollisions(
      corpus, "doc_id", "text", probe, "pid", "ptext", n = 3, minHits = 10L)
      .cache()
    // every planted copy collides with its source at hits = its distinct-shingle count
    val shingleCounts = probe
      .select($"pid", size(TextOps.shingles($"ptext", 3)).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val got = hits.as[(Long, Long, Long)].collect()
      .map { case (id, pid, h) => (id, pid) -> h }.toMap
    shingleCounts.foreach { case (pid, n) =>
      assert(got.get((pid + 10000, pid)).contains(n), s"planted copy of $pid")
    }
    // flaggedIds is exactly the colliding ids; the anti-join removes them, nothing else
    val flagged = hits.select($"id").distinct().as[Long].collect().toSet
    val flaggedIds = Decontaminate.flaggedIds(corpus, "doc_id", "text",
      Decontaminate.probeHashes(probe, "pid", "ptext", 3), n = 3, minHits = 10L)
    assert(flaggedIds.as[Long].collect().toSet === flagged)
    val kept = corpus.join(flaggedIds, Seq("doc_id"), "left_anti")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === corpus.select($"doc_id").as[Long].collect().toSet -- flagged)
    assert(shingleCounts.keySet.forall(pid => !kept.contains(pid + 10000)))
    hits.unpersist()
  }

  /** Driver-side union-find for cross-checking connectedComponents. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connected components: matches union-find; long chain converges in log rounds") {
    // triangle + 200-node chain + isolated edge; the chain would need 199
    // rounds of naive label propagation but large-star/small-star handles it
    // inside maxRounds=25 (O(log^2 n) bound)
    val chain = (0L until 199L).map(i => (1000L + i, 1000L + i + 1))
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 10L), (5000L, 4999L)) ++ chain
    val got = Components.connectedComponents(
      edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === ufComponents(edges))
    assert(got(1199L) === 1000L && got(10L) === 10L && got(5000L) === 4999L)
    // the small-graph driver path (default) and the distributed rounds
    // (forced with smallGraphEdges = 0) must agree exactly
    val distributed = Components.connectedComponents(
      edges.toDF("id_a", "id_b"), "id_a", "id_b", smallGraphEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed === got)
  }

  test("connected components: string ids work; non-convergence throws instead of silent partials") {
    val strEdges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val got = Components.connectedComponents(strEdges, "id_a", "id_b")
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      // smallGraphEdges = 0 forces the distributed rounds (the driver
      // union-find path cannot hit maxRounds by construction)
      Components.connectedComponents(chain, "id_a", "id_b", maxRounds = 1,
        smallGraphEdges = 0L)
    }
    // UTF-16 vs UTF-8 ordering divergence: U+10000 precedes U+FFFD in Java's
    // compareTo but follows it in UTF-8 byte order (what Spark's min() uses);
    // the driver path must agree with the distributed rounds
    val weird = Seq(("𐀀", "�")).toDF("id_a", "id_b")
    val drv = Components.connectedComponents(weird, "id_a", "id_b")
      .as[(String, String)].collect().toMap
    val dist = Components.connectedComponents(weird, "id_a", "id_b", smallGraphEdges = 0L)
      .as[(String, String)].collect().toMap
    assert(drv === dist)
    assert(drv.values.toSet === Set("�")) // UTF-8 byte order: U+FFFD < U+10000
  }

  test("near-dup groups + losers: planted dup clusters collapse to one representative") {
    val pairs = Dedup.minhashNearDups(dupDocs, "doc_id", "text", threshold = 0.8)
    val groups = Components.nearDupGroups(pairs)
    val expected = ufComponents(pairs.select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq)
    assert(groups.as[(Long, Long)].collect().toMap === expected)
    // every planted exact copy (doc_id%5==0 +10000) clusters with its original
    val comp = groups.as[(Long, Long)].collect().toMap
    docs.filter($"doc_id" % 5 === 0).select($"doc_id").as[Long].collect().foreach { id =>
      assert(comp.get(id + 10000).contains(comp.getOrElse(id, id)))
    }
    val deduped =
      dupDocs.join(Components.nearDupLosers(pairs, "doc_id"), Seq("doc_id"), "left_anti")
    // survivors: one representative per cluster + all unclustered docs
    val losers = expected.count { case (id, c) => id != c }
    assert(deduped.count() === dupDocs.count() - losers)
    // deterministic representative: the cluster minimum survives
    assert(deduped.join(groups.filter($"id" =!= $"component"),
      deduped("doc_id") === col("id"), "left_semi").count() === 0)
  }

  test("corpus line dedup: boilerplate lines scrubbed everywhere, unique lines and order preserved") {
    val banner = "accept all cookies to continue"
    val nav = "home | products | about"
    val bodies = (0 until 40).map(i => s"unique body line $i")
    // 40 docs: banner + unique + nav; plus one doc that is ALL boilerplate and
    // one boilerplate-free doc
    val docsL = bodies.zipWithIndex.map { case (b, i) => (i.toLong, s"$banner\n$b\n$nav") } ++
      Seq((100L, s"$banner\n$nav"), (101L, "entirely original\ntwo lines"))
    val df = docsL.toDF("doc_id", "text")
    val banned = Dedup.commonLineHashes(df, "text", maxFreq = 10L)
    assert(banned.count() === 2) // banner + nav; body lines are unique
    val out = Dedup.scrubCommonLines(df, "doc_id", "text", maxFreq = 10L)
      .as[(Long, String)].collect().toMap
    (0 until 40).foreach(i => assert(out(i.toLong) === s"unique body line $i"))
    assert(out(100L) === "")                              // all-boilerplate doc survives, empty
    assert(out(101L) === "entirely original\ntwo lines")  // untouched, order kept
    assert(out.size === docsL.size)                       // no document dropped
    // multi-line order preserved when several unique lines remain
    val df2 = Seq((1L, s"first\n$banner\nsecond\nthird"), (2L, banner), (3L, banner),
      (4L, banner), (5L, banner)).toDF("doc_id", "text")
    val out2 = Dedup.scrubCommonLines(df2, "doc_id", "text", maxFreq = 3L)
      .as[(Long, String)].collect().toMap
    assert(out2(1L) === "first\nsecond\nthird")
    // regex-meta separator is treated as a LITERAL: "|" must split only at
    // actual pipes (a regex "|" splits between every character) and the
    // rejoin must reuse the same literal, round-tripping untouched docs
    val df3 = (Seq((1L, "keep me|SPAM|also keep"), (2L, "a.b|c")) ++
      (3L to 7L).map(i => (i, "SPAM"))).toDF("doc_id", "text")
    val out3 = Dedup.scrubCommonLines(df3, "doc_id", "text", maxFreq = 4L, sep = "|")
      .as[(Long, String)].collect().toMap
    assert(out3(1L) === "keep me|also keep")
    assert(out3(2L) === "a.b|c") // untouched; dot stays, pipe rejoined literally
    // null text comes back as "" (documented behavior)
    val df4 = Seq((1L, null: String), (2L, "x")).toDF("doc_id", "text")
    val out4 = Dedup.scrubCommonLines(df4, "doc_id", "text", maxFreq = 10L)
      .as[(Long, String)].collect().toMap
    assert(out4(1L) === "" && out4(2L) === "x")
  }

  test("duplicated-span scrub: shared passages removed as whole spans, unique prose survives") {
    val passage = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val a = s"alpha beta gamma delta epsilon zeta eta theta $passage iota kappa lambda mu nu xi omicron pi"
    val b = s"one two three four five six seven eight $passage nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val c = "completely unique prose with no repeated passages anywhere at all in this corpus honestly"
    // within-doc repeat: the same 8-token run twice in ONE document
    val run = "red orange yellow green blue indigo violet ultraviolet" // 8 tokens
    val d = s"start $run middle filler words to separate them $run finish"
    val df = (Seq((1L, a), (2L, b), (3L, c), (4L, d),
      (5L, "tiny shared doc"), (6L, "tiny shared doc"), // < n tokens, identical
      (7L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, "doc_id", "text", n = 8, minCount = 2L)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size === 7) // every doc surfaces, including clean + null
    // 10-token shared passage => 3 interior 8-gram instances, 10 covered tokens
    val (_, totA, ngA, dupA, scrA) = out(1L)
    assert(totA === 26L && ngA === 3L && dupA === 10L)
    assert(scrA === "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi")
    val (_, _, ngB, dupB, scrB) = out(2L)
    assert(ngB === 3L && dupB === 10L && !scrB.contains("fox"))
    // clean doc: untouched (whitespace-normalized), zero dup counts
    assert(out(3L) === ((3L, 14L, 0L, 0L, c)))
    // within-doc repeat: both instances scrubbed
    val (_, _, ngD, dupD, scrD) = out(4L)
    assert(ngD === 2L && dupD === 16L && !scrD.contains("indigo"))
    assert(scrD === "start middle filler words to separate them finish")
    // identical short docs: whole-text fallback gram => fully scrubbed
    assert(out(5L) === ((5L, 3L, 1L, 3L, "")))
    assert(out(6L) === ((6L, 3L, 1L, 3L, "")))
    // null text: empty doc — its whole-text gram is "" which only collides
    // with other empty docs (none here)
    assert(out(7L) === ((7L, 0L, 0L, 0L, "")))
    // in-place wrapper keeps null-id rows (as "") — an inner join back would
    // silently delete them
    val withNullId = Seq((java.lang.Long.valueOf(8L), "some plain text here"),
      (null.asInstanceOf[java.lang.Long], "floating fragment")).toDF("doc_id", "text")
    val scr = Dedup.scrubDuplicatedSpans(withNullId, "doc_id", "text", n = 8)
    assert(scr.count() === 2)
    assert(scr.filter($"doc_id".isNull).select("text").as[String].head === "")
    assert(scr.filter($"doc_id" === 8L).select("text").as[String].head === "some plain text here")
  }

  test("delta dedup against a signature index: old wins, new-new keeps min id, equals brute force; index round-trips") {
    import graft.ops.Dedup.MinhashIndexParams
    val p = MinhashIndexParams(shingleN = 3, numHashes = 32, bands = 8, seed = 42L)
    val old = docs.select($"doc_id", $"text") // already-deduped corpus
    // delta: near-copies of old docs (one appended word), one brand-new
    // unique doc, and a new-new near-dup pair (both unseen in the corpus)
    val uniqueNew = "totally novel prose that matches nothing else in this little corpus at all honestly"
    // long enough that a one-word tail difference keeps est-jaccard >= 0.8
    val twinBase = (1 to 40).map(i => s"tw$i").mkString(" ")
    val delta = old.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 20000).as("doc_id"), concat($"text", lit(" zzzz")).as("text"))
      .unionAll(Seq(
        (30000L, uniqueNew),
        (31000L, s"$twinBase one"),
        (31001L, s"$twinBase two")).toDF("doc_id", "text"))
    val oldSigs = Dedup.minhashSignatures(old, "doc_id", "text", p)
    val pairs = Dedup.deltaNearDupsAudited(delta, "doc_id", "text", oldSigs, p, threshold = 0.8)
    val got = pairs.pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every near-copy pairs with its source; the unique doc pairs with nothing
    val expectedOldNew = old.filter($"doc_id" % 7 === 0)
      .select($"doc_id").as[Long].collect().map(i => (i, i + 20000)).toSet
    assert(expectedOldNew.subsetOf(got), s"missing: ${expectedOldNew -- got}")
    assert(got.contains((31000L, 31001L))) // new-new twins found
    assert(!got.exists(pr => pr._1 == 30000L || pr._2 == 30000L))
    assert(pairs.droppedBuckets === 0L)
    // brute force over the SAME estimate: signatures driver-side, pairs =
    // (>=1 band equal) && (matches >= ceil(0.8*32)); must match exactly
    val sigAll = Dedup.minhashSignatures(old, "doc_id", "text", p)
      .unionAll(Dedup.minhashSignatures(delta, "doc_id", "text", p))
      .as[(Long, Seq[Long])].collect()
    val isNew = delta.select($"doc_id").as[Long].collect().toSet
    val brute = (for {
      (ia, sa) <- sigAll; (ib, sb) <- sigAll
      if ia < ib && (isNew(ia) || isNew(ib))
      if (0 until p.bands).exists(bi =>
        sa.slice(bi * 4, bi * 4 + 4) == sb.slice(bi * 4, bi * 4 + 4))
      if sa.zip(sb).count { case (x, y) => x == y } >= p.minMatches(0.8)
    } yield (ia, ib)).toSet
    assert(got === brute)
    // deltaDedup: near-copies lose to their old sources, min-id twin survives
    val kept = Dedup.deltaDedup(delta, "doc_id", "text", oldSigs, p, threshold = 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.contains(30000L) && kept.contains(31000L))
    assert(!kept.contains(31001L))
    assert(!kept.exists(i => i > 20000L && i < 30000L))
    // persisted index round-trip: build -> load params -> indexed dedup equal
    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx").toString
    Dedup.minhashIndexBuild(old, "doc_id", "text", idx, p)
    val (loadedSigs, loadedP) = Dedup.minhashIndexLoad(spark, idx)
    assert(loadedP === p)
    val keptIdx = Dedup.deltaDedupIndexed(delta, "doc_id", "text", idx, threshold = 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptIdx === kept)
    // append survivors; the index now covers corpus + kept delta
    val before = loadedSigs.count()
    Dedup.minhashIndexAppend(delta.join(keptIdx.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"),
      "doc_id", "text", idx)
    assert(Dedup.minhashIndexLoad(spark, idx)._1.count() === before + keptIdx.size)
    // compaction: drop a corpus doc from the index => a new near-copy of it
    // now SURVIVES (stale signatures can no longer win); params untouched.
    // Pick a doc whose earlier near-copy paired ONLY with its source (some
    // docs also near-dup planted partners, which would still win).
    val partnersOf = got.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val someOld = expectedOldNew.collect {
      case (src, cp) if partnersOf(cp) == Set(src) => src
    }.min
    Dedup.minhashIndexCompact(
      old.filter($"doc_id" =!= someOld).select($"doc_id"), "doc_id", idx)
    assert(Dedup.minhashIndexLoad(spark, idx)._2 === p) // params survive the swap
    val reDelta = old.filter($"doc_id" === someOld)
      .select(($"doc_id" + 40000).as("doc_id"), concat($"text", lit(" zzzz")).as("text"))
    val keptAfter = Dedup.deltaDedupIndexed(reDelta, "doc_id", "text", idx, threshold = 0.8)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptAfter === Set(someOld + 40000))
    // crash-safe swap: a kill between delete(live) and rename leaves only
    // the committed sibling — the next load completes the swap; a kill
    // BEFORE the delete (both dirs present) keeps live and drops the sibling
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pth(s: String) = new org.apache.hadoop.fs.Path(s)
    val nBefore = Dedup.minhashIndexLoad(spark, idx)._1.count()
    // the compact above left graft's own commit marker in the live dir, so
    // the renamed sibling is "committed" even where _SUCCESS is disabled
    assert(fs.exists(pth(s"$idx/sigs/${Dedup.CommitMarker}")))
    assert(fs.rename(pth(s"$idx/sigs"), pth(s"$idx/sigs_compacting")))
    assert(Dedup.minhashIndexLoad(spark, idx)._1.count() === nBefore)
    fs.mkdirs(pth(s"$idx/sigs_compacting")) // uncommitted leftover (no marker)
    assert(Dedup.minhashIndexLoad(spark, idx)._1.count() === nBefore)
    assert(!fs.exists(pth(s"$idx/sigs_compacting")))
    // portable signatures: different values, same planted-pair recall
    val pp = p.copy(portable = true)
    val gotP = Dedup.deltaNearDups(delta, "doc_id", "text",
      Dedup.minhashSignatures(old, "doc_id", "text", pp), pp, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(expectedOldNew.subsetOf(gotP) && gotP.contains((31000L, 31001L)))
  }

  test("connected components with isolated vertices: edgeless nodes are singleton components") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Components.connectedComponentsWithIsolated(nodes, "id", edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L)))
  }

  test("pipeline: capped boilerplate bucket surfaces dropped counts in the report (no silent recall loss)") {
    // 30 near-identical boilerplate docs (shared 60-token body, unique tail):
    // most LSH band buckets hold all 30 => over maxBucket=10 => dropped from
    // pair generation, and the drop must reach PipelineReport
    val body = (1 to 60).map(i => s"w$i").mkString(" ")
    val boiler = (0 until 30).map(i => (50000L + i, s"$body tail$i"))
    val normal = docs.filter(!$"text".contains("dup"))
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val corpus = (normal ++ boiler).toDF("doc_id", "text")
    val res = TrainingPipeline.run(corpus, "doc_id", "text", maxBucket = 10)
    assert(res.report.nearDupDroppedBuckets > 0, res.report.toString)
    assert(res.report.nearDupDroppedIds >= 30L, res.report.toString)
    // the boilerplate docs SURVIVE (recall loss is audited, not silent)
    assert(res.corpus.filter($"doc_id" >= 50000L).count() === 30L)
    res.unpersist()
  }

  test("pipeline line scrub: downstream stages see scrubbed text; pre-scrub cache released") {
    // banner appears in >10 docs => scrubbed; docs 1 and 2 then become exact
    // dups ("alpha beta") — proving the exact-dedup digest reads the SCRUBBED
    // text, not the raw input
    spark.catalog.clearCache() // isolate the hygiene assertion from earlier tests' caches
    val banner = "accept cookies to continue"
    val filler = (0 until 12).map(i => (100L + i, s"$banner\nfiller body $i"))
    val corpus = (Seq((1L, s"alpha beta\n$banner"), (2L, "alpha beta")) ++ filler)
      .toDF("doc_id", "text")
    val res = TrainingPipeline.run(corpus, "doc_id", "text", maxLineFreq = Some(10L))
    assert(res.report.input === 14L)
    assert(res.report.exactDups === 1L, res.report.toString) // 1 vs 2 collapse post-scrub
    val out = res.corpus.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(out.keySet.min.min(2L)) === "alpha beta") // survivor carries scrubbed text
    assert((100L until 112L).forall(i => out.get(i).forall(!_.contains(banner))))
    res.unpersist()
    // the pre-scrub projection's cache was released inside run(), and
    // unpersist() dropped the rest: no Dataset cache entries remain
    assert(org.apache.spark.sql.graftbridge.noCachedPlans(spark))
  }

  test("pipeline span scrub: shared passages removed before dedup; scrub caches released") {
    spark.catalog.clearCache()
    val passage = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val a = s"alpha beta gamma delta epsilon zeta eta theta $passage iota kappa lambda mu nu xi omicron pi"
    val b = s"one two three four five six seven eight $passage nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val corpus = (Seq((1L, a), (2L, b)) ++
      (0 until 10).map(i => (100L + i, s"unique filler document number $i with several extra words appended here")))
      .toDF("doc_id", "text")
    val res = TrainingPipeline.run(corpus, "doc_id", "text", spanScrubN = Some(8))
    assert(res.report.input === 12L && res.report.output === 12L) // in-place edit, nothing dropped
    val out = res.corpus.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(!out(1L).contains("fox") && !out(2L).contains("fox")) // shared passage gone
    assert(out(1L).startsWith("alpha beta gamma"))               // unique prose survives
    assert(out(100L).contains("unique filler document number 0"))
    res.unpersist()
    assert(org.apache.spark.sql.graftbridge.noCachedPlans(spark))
    // resumable variant: same corpus text through the prepare checkpoint
    val work = java.nio.file.Files.createTempDirectory("graft-spanpipe").toString
    val res2 = TrainingPipeline.runResumable(corpus, "doc_id", "text", work,
      spanScrubN = Some(8))
    val out2 = res2.corpus.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out2 === out)
    res2.unpersist()
  }

  test("pipeline packing: composite (split, shard) key fans the window out; bins dense per pair") {
    val res = TrainingPipeline.run(docs.select($"doc_id", $"text"), "doc_id", "text",
      splits = Seq("train" -> 0.9, "val" -> 0.1), splitSalt = "pp",
      packBudget = Some(300L), packShards = 8)
    val out = res.corpus.select($"split", $"shard", $"doc_id", $"bin")
      .as[(String, Long, Long, Long)].collect()
    // >1 distinct shard per split: no split funnels through one window partition
    val shardsPerSplit = out.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).distinct.size }
    assert(shardsPerSplit.values.forall(_ > 1), shardsPerSplit.toString)
    // bins dense from 0 within each (split, shard)
    out.groupBy(r => (r._1, r._2)).foreach { case (_, rows) =>
      val bins = rows.map(_._4).distinct.sorted
      assert(bins.head === 0L && bins === (bins.head to bins.last))
    }
    res.unpersist()
  }

  test("stratified sample: per-stratum rates, value-stable, growth-stable, null key raises") {
    val df = docs.select($"doc_id", $"lang")
    val kept = Sharding.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 1.0, "es" -> 0.0), defaultFraction = 0.5, salt = "t")
    val byLang = kept.groupBy("lang").count().as[(String, Long)].collect().toMap
    val inLang = df.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === inLang("en"))          // fraction 1.0 keeps everything
    assert(!byLang.contains("es"))                 // fraction 0.0 drops the stratum
    val others = inLang.keySet - "en" - "es"
    others.foreach { l =>                          // default 0.5 within binomial bounds
      assert(byLang(l) > inLang(l) / 4 && byLang(l) < inLang(l) * 3 / 4 + inLang(l) / 4,
        s"$l: ${byLang(l)}/${inLang(l)}")
    }
    // verdicts keyed on the VALUE: repartitioning and corpus growth never flip a row
    val ids = kept.select("doc_id").as[Long].collect().toSet
    val ids2 = Sharding.stratifiedSample(df.repartition(13), "doc_id", "lang",
      Map("en" -> 1.0, "es" -> 0.0), 0.5, "t").select("doc_id").as[Long].collect().toSet
    assert(ids === ids2)
    val grown = Sharding.stratifiedSample(df.unionAll(df.select(($"doc_id" + 500000).as("doc_id"), $"lang")),
      "doc_id", "lang", Map("en" -> 1.0, "es" -> 0.0), 0.5, "t")
      .filter($"doc_id" < 500000).select("doc_id").as[Long].collect().toSet
    assert(ids === grown)
    intercept[Exception] {
      Sharding.stratifiedSample(Seq((Option.empty[Long], "en")).toDF("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 1.0)).collect()
    }
  }

  test("weighted mix: fractional repetition gives floor/ceil copies at the right rate; copy indexes dense") {
    val df = docs.select($"doc_id", $"source")
    val out = Sharding.sampleByWeights(df, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.0), defaultWeight = 1.0, salt = "w")
    val copies = out.groupBy("doc_id", "source").count().as[(Long, String, Long)].collect()
    assert(copies.filter(_._2 == "src0").forall(c => c._3 == 2L || c._3 == 3L))
    assert(copies.forall(_._2 != "src1"))          // weight 0 drops the stratum
    assert(copies.filter(c => c._2 != "src0").forall(_._3 == 1L))
    val n0 = copies.count(_._2 == "src0")
    val n3 = copies.count(c => c._2 == "src0" && c._3 == 3L)
    assert(n3 > n0 / 4 && n3 < n0 * 3 / 4, s"$n3/$n0") // ~half get the extra copy
    // copy column is a dense 0-based index per row
    val idx = out.filter($"source" === "src0").groupBy("doc_id")
      .agg(sort_array(collect_list($"copy")).as("c")).select("c")
      .as[Seq[Long]].collect()
    assert(idx.forall(c => c == (0L until c.length.toLong)))
  }

  test("pipeline mixing: copies share a split (no leakage), packing order stays unique, counts reconcile") {
    val res = TrainingPipeline.run(
      docs.filter(!$"text".contains("dup")).select($"doc_id", $"text", $"source"),
      "doc_id", "text",
      mixStrataCol = Some("source"), mixWeights = Map("src0" -> 2.0, "src1" -> 0.0),
      splits = Seq("train" -> 0.8, "val" -> 0.2), splitSalt = "mx",
      packBudget = Some(500L), packShards = 4)
    val out = res.corpus.select($"doc_id", $"source", $"split", $"shard", $"copy", $"bin")
      .as[(Long, String, String, Long, Long, Long)].collect()
    assert(out.forall(_._2 != "src1"))                         // weight 0 stratum dropped
    val bySrc0 = out.filter(_._2 == "src0").groupBy(_._1)
    assert(bySrc0.nonEmpty && bySrc0.values.forall(_.length === 2)) // integer weight 2 => exactly 2 copies
    // every copy of a document lands in the SAME split (no cross-split leakage)
    out.groupBy(_._1).values.foreach(cs => assert(cs.map(_._3).distinct.length === 1))
    assert(res.report.mixedRows === out.length.toLong)
    // exact accounting: +1 row per src0 doc (weight 2), -1 per src1 doc
    // (weight 0); this corpus slice has no exact/near dups, so kept == input
    val nSrc0 = bySrc0.size.toLong
    val nSrc1 = docs.filter(!$"text".contains("dup") && $"source" === "src1").count()
    assert(res.report.mixedRows === res.report.output + nSrc0 - nSrc1)
    // bins still dense from 0 per (split, shard) despite repeated ids
    out.groupBy(r => (r._3, r._4)).values.foreach { rows =>
      val bins = rows.map(_._6).distinct.sorted
      assert(bins.head === 0L && bins === (bins.head to bins.last))
    }
    res.unpersist()
    // fractional-weight decorrelation: the mix decision must NOT reuse the
    // split hash — with a shared salt every row kept at weight 0.5 has
    // unit-hash < 0.5 and would land entirely in the first split
    val res2 = TrainingPipeline.run(
      docs.filter(!$"text".contains("dup")).select($"doc_id", $"text", $"source"),
      "doc_id", "text",
      mixStrataCol = Some("source"), mixWeights = Map.empty, mixDefaultWeight = 0.5,
      splits = Seq("a" -> 0.5, "b" -> 0.5), splitSalt = "corr")
    val splitsSeen = res2.corpus.select($"split").distinct().as[String].collect().toSet
    assert(splitsSeen === Set("a", "b"), s"mixing correlated with split: $splitsSeen")
    res2.unpersist()
  }

  test("hash split: null key raises instead of silently landing in the last split") {
    val df = Seq(Some(1L), Some(2L), None).toDF("id")
    val e = intercept[Exception] {
      Sharding.hashSplit(df, "id", Seq("train" -> 0.8, "test" -> 0.2)).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("hashSplit: null key"), chain)
  }

  test("native lang_id is bit-identical to the Column-tree version incl. null/empty/tie cases") {
    val edge = Seq(
      (9001L, null.asInstanceOf[String]), (9002L, ""), (9003L, "   \t "),
      (9004L, "xyz abc qqq"),                    // zero evidence
      (9005L, "the el der le"),                  // 4-way tie -> earliest (en)
      (9006L, "el la de y the a of and un es"),  // es beats en 6-4
      (9007L, "THE The the"))                    // lowercasing applies
      .toDF("doc_id", "text")
    val all = docs.select($"doc_id", $"text").unionAll(edge)
    val cmp = all.select($"doc_id",
      TextOps.langId($"text").as("native"),
      TextOps.langIdColumnTree($"text").as("tree"))
      .filter(not($"native" <=> $"tree"))
    assert(cmp.count() === 0, cmp.collect().mkString(","))
  }

  test("redelivered-id pair flags are deterministic: the old-flagged copy wins (raw + indexed)") {
    // id 1 is resubmitted: present in the index AND the delta. Its pair with
    // delta-only id 3 (same text) forms twice — once against 1's index entry
    // (old) and once against 1's delta row (new). The per-pair collapse must
    // keep the OLD flag deterministically: an arbitrary both-new copy would
    // hide the old link from deltaLosers (under-dedup).
    val p = Dedup.MinhashIndexParams(numHashes = 32, bands = 8)
    val tA = (1 to 30).map(t => s"ra_$t").mkString(" ")
    val tB = (1 to 30).map(t => s"rb_$t").mkString(" ")
    val oldDocs = Seq((1L, tA), (2L, tB)).toDF("doc_id", "text")
    val delta = Seq((1L, tA), (3L, tA)).toDF("doc_id", "text")
    // every emitted ROW, not a deduplicating Map: the pair must appear
    // exactly once, though id 1 has two signatures (index entry + delta row)
    def rowsOf(pairs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Boolean, Boolean)] =
      pairs.select($"id_a", $"id_b", $"a_is_new", $"b_is_new")
        .as[(Long, Long, Boolean, Boolean)].collect().toSeq
    val raw = rowsOf(Dedup.deltaNearDups(delta, "doc_id", "text",
      Dedup.minhashSignatures(oldDocs, "doc_id", "text", p), p, threshold = 0.8))
    assert(raw === Seq((1L, 3L, false, true)), raw.toString)
    val idx = java.nio.file.Files.createTempDirectory("graft-flagdet").toString
    Dedup.minhashIndexBuild(oldDocs, "doc_id", "text", idx, p)
    val indexed = rowsOf(Dedup.deltaNearDupsIndexed(delta, "doc_id", "text", idx, threshold = 0.8))
    assert(indexed === Seq((1L, 3L, false, true)), indexed.toString)
    // changed-text resubmission: the index holds id 1 as tA plus one word.
    // The old-flagged copy wins the collapse, so both paths must score the
    // pair with THAT copy's signature — identical rows, matches included
    val editedOld = Seq((1L, s"$tA ra_31"), (2L, tB)).toDF("doc_id", "text")
    def scoredOf(pairs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Boolean, Boolean)] =
      pairs.select($"id_a", $"id_b", $"matches", $"a_is_new", $"b_is_new")
        .as[(Long, Long, Long, Boolean, Boolean)].collect().toSeq
    val rawEdited = scoredOf(Dedup.deltaNearDups(delta, "doc_id", "text",
      Dedup.minhashSignatures(editedOld, "doc_id", "text", p), p, threshold = 0.8))
    val idxEdited = java.nio.file.Files.createTempDirectory("graft-flagdet-edit").toString
    Dedup.minhashIndexBuild(editedOld, "doc_id", "text", idxEdited, p)
    val indexedEdited = scoredOf(
      Dedup.deltaNearDupsIndexed(delta, "doc_id", "text", idxEdited, threshold = 0.8))
    assert(rawEdited === indexedEdited, s"raw $rawEdited vs indexed $indexedEdited")
    assert(rawEdited.map(r => (r._1, r._2, r._4, r._5)) === Seq((1L, 3L, false, true)))
    // the edit is visible to the signature: scoring the delta copy instead
    // would read all numHashes positions as matching
    assert(rawEdited.head._3 < p.numHashes, rawEdited.toString)
  }

  test("corpus epoch survives a kill between delete and rename; an uncommitted tmp is dropped") {
    import graft.ops.TrainingPipeline
    val w = java.nio.file.Files.createTempDirectory("graft-epoch-swap").toString
    def doc(i: Long) = (i, (1 to 25).map(t => s"e${i}_$t").mkString(" "))
    def go(ids: Seq[Long], del: Option[Seq[Long]] = None) =
      TrainingPipeline.runDelta(ids.map(doc).toDF("doc_id", "text"), "doc_id", "text", w,
        deletions = del.map(_.toDF("doc_id")), minhashThreshold = 0.8)
    go(Seq(1L, 2L))
    go(Seq(3L), del = Some(Seq(2L))) // deletion pass: epoch 0 -> 1
    val hfs = new org.apache.hadoop.fs.Path(w)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$w/_corpus_epoch")
    val tmp = new org.apache.hadoop.fs.Path(s"$w/_corpus_epoch.tmp")
    def readLive(): String = {
      val in = hfs.open(live)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    }
    assert(readLive() === "1" && !hfs.exists(tmp))
    // kill landed between delete(live) and rename: only the committed tmp
    // remains — the next delta must recover epoch 1, not reset to 0
    assert(hfs.rename(live, tmp))
    go(Seq(4L))
    assert(readLive() === "1" && !hfs.exists(tmp))
    // an uncommitted tmp NEXT TO a live file (kill before the delete) is a
    // leftover — dropped, live stays authoritative, and a torn tmp can no
    // longer dead-end readCorpusEpoch in toLong
    val garbage = hfs.create(tmp, true); garbage.write("7".getBytes.take(0)); garbage.close()
    go(Seq(5L))
    assert(readLive() === "1" && !hfs.exists(tmp))
  }
}