package graft.ops

import graft.io.MetaFile
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-dup pairs plus the drop audit riding the SAME job: `audit` is an
  * `Observation` on the bucket aggregate (a CollectMetrics node — zero extra
  * passes, zero extra shuffles), resolved after any action on `pairs`.
  * dropped_buckets/dropped_ids report what the `maxBucket` cap excluded, so a
  * silent cap can never masquerade as full recall.
  *
  * AQE caveat: when NO bucket survives the cap (fully-degenerate corpora),
  * adaptive empty-relation propagation replaces the finished stage with an
  * empty scan and the CollectMetrics node — though it executed — drops out of
  * the final plan, so the observation resolves to an empty map. That is
  * exactly the case where the audit matters, so the accessors fall back to
  * `recompute` (one explicit aggregate pass over the bands) when the
  * observation came back empty ([[Dedup.observedLongs]]). */
final case class AuditedPairs(
    pairs: DataFrame, audit: Observation, recompute: () => (Long, Long)) {
  private lazy val resolved: (Long, Long) = Dedup.observedLongs(
    audit, ("dropped_buckets", "dropped_ids"), "dedup audit", "drop counts")(recompute())
  /** Buckets excluded by the cap (call AFTER an action on `pairs`). */
  def droppedBuckets: Long = resolved._1
  /** Total ids inside excluded buckets (call AFTER an action on `pairs`). */
  def droppedIds: Long = resolved._2
}

/** Deduplication operators for web-scale corpora. Scale model:
  *  - exact: one hash aggregate (map-side partial) on a digest, never on the
  *    raw text — the shuffle carries 32-byte keys, not documents.
  *  - MinHash+LSH: per-doc signatures are narrow (one pass, codegen'd HOFs);
  *    candidate generation shuffles (band_idx, band_hash) pairs only; exact
  *    Jaccard verification touches just the candidate pairs.
  *  - SimHash: 120-bit signature (one md5 per token); banding on maxHamming+1
  *    disjoint chunks (pigeonhole => recall 1.0), verify with bit_count(xor).
  * All candidate joins group by (band, hash) — skewed buckets (boilerplate
  * shingles) are capped by `maxBucket` with an explicit drop count available,
  * never a silent OOM.
  */
object Dedup {

  /** ONE shared default bucket cap for every LSH-bucketed path (candidate
    * generation, the oversize audit, simhash, embedding LSH) — an audit run at
    * a different cap than the dedup call would report buckets that were not
    * actually dropped, undermining the no-silent-caps contract.
    *
    * 1000, the conservative end: every pair path materializes a bucket's
    * C(n,2) pairs as one in-memory array before explode, so the cap bounds a
    * ~n^2 blow-up — 1000 caps it at ~500k pair structs per bucket (and for
    * the embedding path the structs carry vectors). Raise it per call for
    * corpora where bigger buckets are genuinely expected; the drop audit
    * reports whatever the cap excluded either way. */
  val DefaultMaxBucket: Int = 1000

  // --------------------------------------------------------------------------
  // Exact dedup (hash-groupBy on content digest)
  // --------------------------------------------------------------------------

  /** Groups of byte-identical documents: (digest, doc_count, keep_id, dup_ids). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), sha2(col(textCol), 256).as("digest"))
      .groupBy("digest")
      .agg(
        count(lit(1)).as("doc_count"),
        min(col("id")).as("keep_id"),
        sort_array(collect_list(col("id"))).as("ids"))
      .filter(col("doc_count") > 1)

  /** Input minus exact duplicates (keeps the smallest id per digest). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.select(col(idCol).as(idCol), sha2(col(textCol), 256).as("__digest"))
      .groupBy("__digest").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  // --------------------------------------------------------------------------
  // MinHash + LSH
  // --------------------------------------------------------------------------

  /** MinHash signature (k longs) over word n-gram shingles: a native codegen
    * Expression (graft.functions.MinHashSig) — tokenize, slide the n-gram
    * window, hash each shingle ONCE, fold all k permutation minima, in one
    * JITed pass inside whole-stage codegen. (History: the k-column
    * `array_min(transform(...))` shape re-evaluated the shingle pipeline k
    * times and measured ~40x slower; the round-1 single `aggregate` fold fixed
    * that but stayed CodegenFallback-interpreted — #2 bench line.) */
  def minhashSignature(text: Column, shingleN: Int, numHashes: Int, seed: Long = 42L): Column =
    graft.functions.MinHashSig(text, shingleN, numHashes, seed)

  /** LSH banding: (id, band_idx, band_hash) — `bands` bands of `rows` sig rows. */
  def lshBands(df: DataFrame, idCol: String, sigCol: Column, bands: Int, rows: Int): DataFrame = {
    val banded = (0 until bands).map { bi =>
      struct(lit(bi).as("band_idx"),
        xxhash64(concat_ws(",", slice(sigCol, bi * rows + 1, rows))).as("band_hash"))
    }
    df.select(col(idCol).as("id"), explode(array(banded: _*)).as("b"))
      .select(col("id"), col("b.band_idx"), col("b.band_hash"))
  }

  private val auditSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Observe dropped-bucket metrics on a per-bucket frame whose bucket size
    * is `bucketSize` (an array's `size`, or a per-cell count) — computed
    * DURING the pair job, not as a second pass. Returns (observed DF,
    * observation, explicit recompute for the AQE-pruned empty-result case —
    * see [[AuditedPairs]]). */
  private[ops] def observeDrops(grouped: DataFrame, bucketSize: Column,
      maxBucket: Int): (DataFrame, Observation, () => (Long, Long)) = {
    val over = bucketSize > maxBucket
    def aggs: Seq[Column] = Seq(
      coalesce(sum(when(over, 1L).otherwise(0L)), lit(0L)).as("dropped_buckets"),
      coalesce(sum(when(over, bucketSize.cast(LongType)).otherwise(0L)), lit(0L))
        .as("dropped_ids"))
    val obs = Observation(s"graft_dedup_audit_${auditSeq.incrementAndGet()}")
    val observed = grouped.observe(obs, aggs.head, aggs.tail: _*)
    val recompute = () => {
      val r = grouped.agg(aggs.head, aggs.tail: _*).collect().head
      (r.getLong(0), r.getLong(1))
    }
    (observed, obs, recompute)
  }

  /** The one bucket-pair expansion: every bucket of `grouped`'s sorted `xs`
    * array holding 2..`maxBucket` members emits each member pair (xs[i],
    * xs[j]), i < j, as the struct column `p` (fields `a`, `b`); `project` is
    * the call site's own projection and filter over it. Buckets beyond the
    * cap are EXCLUDED and counted in the audit riding the same job. The
    * upper triangle is an interpreted HOF (CodegenFallback). */
  private[ops] def bucketPairs(grouped: DataFrame, maxBucket: Int)(
      project: DataFrame => DataFrame): AuditedPairs = {
    val (observed, obs, recompute) = observeDrops(grouped, size(col("xs")), maxBucket)
    val pairs = observed
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(expr(
        "flatten(transform(xs, (x, i) -> transform(slice(xs, i+2, size(xs)), y -> struct(x AS a, y AS b))))"))
        .as("p"))
    AuditedPairs(project(pairs), obs, recompute)
  }

  /** Candidate pairs (id_a < id_b) from shared LSH buckets, with the dropped-
    * bucket audit attached to the same job. `maxBucket` caps pathological
    * buckets (boilerplate); those buckets are EXCLUDED from the pairs and
    * COUNTED in the audit. */
  def candidatePairsAudited(bands: DataFrame, maxBucket: Int = DefaultMaxBucket): AuditedPairs =
    bucketPairs(bands.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(col("id"))).as("xs")), maxBucket)(
      _.select(col("p.a").as("id_a"), col("p.b").as("id_b")).distinct())

  /** Exact n-gram Jaccard for given pairs: join shingle sets back, compute
    * |intersect| / |union|. Shingles are computed ONLY for documents that
    * appear in a candidate pair (semi-join first): the verify stage's cost is
    * ~candidates, never a second corpus-wide shingle pass.
    *
    * The per-doc sets are 8-byte gram HASHES ([[graft.functions.NgramHashes]]
    * — one JITed pass; distinct per doc, whole-text fallback under n tokens,
    * exactly [[TextOps.shingles]]' construction), not shingle strings: the
    * string pipeline is an interpreted HOF that measured ~1 ms/doc and ran
    * once per join side — the two verify stages were the slowest part of the
    * sf0.1 minhash line. Intersect/union cardinalities over the hash sets
    * equal the string sets' (a 2^-64 collision could at worst perturb one
    * pair's jaccard — the same accepted tradeoff as decontamination and the
    * span scrub), so the emitted jaccard values are unchanged. The sets
    * frame is eagerly checkpointed: it is joined twice (side a, side b), and
    * DataFrame reuse re-executes the semi-join + gram scan per reference. */
  def verifyJaccard(
      pairs: DataFrame, df: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame = {
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("__cid")).distinct()
    val candDocs = df.join(candIds, df(idCol) === candIds("__cid"), "left_semi")
    val sets = candDocs.select(col(idCol).as("id"),
      graft.functions.NgramHashes(col(textCol), shingleN).as("sh"))
      .localCheckpoint(true)
    val a = sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a"))
    val b = sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .select(col("id_a"), col("id_b"), (col("inter") / col("uni")).as("jaccard"))
  }

  /** End-to-end MinHash LSH near-dup detection with the drop audit:
    * shingle -> minhash -> band -> bucket-join -> exact-Jaccard verify. */
  def minhashNearDupsAudited(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.9, seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): AuditedPairs = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    // signature pass spread to the slot count (no-op at scale — see
    // minhashSignatures): the corpus hash scan must not run on one core
    // just because the input is one file/split
    val withSig = Adaptive.spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), minhashSignature(col("__text"), shingleN, numHashes, seed).as("sig"))
    val cand = candidatePairsAudited(lshBands(withSig, "id", col("sig"), bands, rows), maxBucket)
    // Materialize the candidate pairs ONCE before verification. The pairs are
    // a tiny projection (two ids/row) of an expensive pipeline (full-corpus
    // signature scan + banding shuffle), and verifyJaccard references them
    // twice (candidate-id semi-join side + pair-join side) — DataFrame reuse
    // re-executes the plan, so without this the signature pipeline ran three
    // times per action (measured 2.3 s of this query's 1.8 s sf0.1 line in
    // the verify stage alone). Eager localCheckpoint = the standard
    // candidate/verify stage boundary; it also fires the drop-audit
    // observation immediately, so the audit no longer depends on the caller
    // running an action first.
    val candPairs = cand.pairs.localCheckpoint(true)
    val verified = verifyJaccard(candPairs, df, idCol, textCol, shingleN)
      .filter(col("jaccard") >= threshold)
    cand.copy(pairs = verified)
  }

  /** [[minhashNearDupsAudited]]'s pairs. Kept as a plain entry point (the
    * other pair generators expose only their `*Audited` form) because
    * `graft.Bench`'s frozen timed regions call it. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.9, seed: Long = 42L): DataFrame =
    minhashNearDupsAudited(df, idCol, textCol, shingleN, numHashes, bands, threshold, seed).pairs

  /** Brute-force exact-Jaccard pairs (small inputs / oracle baseline). */
  def jaccardPairsBruteForce(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int, threshold: Double): DataFrame = {
    val sets = df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), shingleN).as("sh"))
    val a = sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a"))
    val b = sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // --------------------------------------------------------------------------
  // SimHash
  // --------------------------------------------------------------------------

  /** Default signature width: 120 bits as two 60-bit words, both derived from
    * ONE md5 per token (hex chars 1-15 and 16-30 parsed base-16). md5 (not
    * xxhash64) so any engine can reproduce the signature bit-for-bit — the
    * DuckDB oracle does. 60-bit words keep every value positive (no sign-bit
    * shifts). Every simhash entry point takes a `words` override for wider
    * signatures (graft.functions.SimHashSig documents the construction). */
  val SimhashWords: Int = graft.functions.SimHashSig.Words
  val SimhashBitsPerWord: Int = graft.functions.SimHashSig.BitsPerWord
  val SimhashBits: Int = graft.functions.SimHashSig.Bits

  /** 120-bit SimHash over whitespace tokens as array<long> of two 60-bit
    * words — a native codegen Expression (graft.functions.SimHashSig): one md5
    * per token, all 120 vote counters updated in one JITed loop. (The round-1
    * Column pipeline hashed every token 64x inside a per-bit HOF lambda; a
    * hash-once aggregate fold was still ~1.8 ms/row interpreted.) */
  def simhash(text: Column, words: Int = SimhashWords): Column =
    graft.functions.SimHashSig(text, words)

  /** Hamming distance between two multi-word signatures (array<long>). */
  def hammingDistance(a: Column, b: Column, words: Int = SimhashWords): Column =
    (1 to words).map(w =>
      bit_count(element_at(a, w).bitwiseXOR(element_at(b, w))).cast(LongType))
      .reduce(_ + _)

  /** Disjoint band chunks covering all signature bits: (word, offset, width).
    * Pigeonhole: `maxHamming+1` disjoint covering chunks guarantee that any
    * pair within `maxHamming` differing bits shares at least one untouched
    * chunk — recall 1.0 by construction, for ANY maxHamming (the round-1
    * 4x16-bit banding only guaranteed hamming <= 3 but was called with 8).
    * Scale note: chunk width = bits/(maxHamming+1); size the signature so
    * width >~ log2(corpus size) or buckets grow — 120 bits handles
    * maxHamming=8 at ~10^4 docs/bucket-value; pass words=4 (240 bits,
    * 26-bit chunks) for 10^9+ corpora. */
  private[ops] def simhashChunks(maxHamming: Int, words: Int = SimhashWords): Seq[(Int, Int, Int)] = {
    val bands = math.max(maxHamming + 1, words)
    // distribute bands over words as evenly as possible, each word >= 1 band
    val perWord = Array.fill(words)(bands / words)
    (0 until bands % words).foreach(perWord(_) += 1)
    (0 until words).flatMap { w =>
      val n = perWord(w)
      val base = SimhashBitsPerWord / n
      val rem = SimhashBitsPerWord % n
      val widths = (0 until n).map(i => base + (if (i < rem) 1 else 0))
      widths.scanLeft(0)(_ + _).zip(widths).map { case (off, width) => (w, off, width) }
    }
  }

  /** Banding rows for [[simhashNearDupsAudited]]: (id, sig, band_idx, band_hash).
    * The signature travels WITH the banding rows (16 bytes/row): it is
    * computed exactly once per doc and verified straight off the bucket —
    * joining a sigs DataFrame back would re-run the whole md5+vote pipeline
    * per join side (DataFrame reuse re-executes the plan). */
  def simhashBands(df: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      words: Int = SimhashWords): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol), words).as("sig"))
    val chunks = simhashChunks(maxHamming, words).zipWithIndex.map { case ((w, off, width), bi) =>
      val word = element_at(col("sig"), w + 1)
      struct(lit(bi).as("band_idx"),
        shiftright(word, off).bitwiseAND(lit((1L << width) - 1)).as("band_hash"))
    }
    sigs.select(col("id"), col("sig"), explode(array(chunks: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band_idx"), col("b.band_hash"))
  }

  /** SimHash near-dups with guaranteed recall and the drop audit: band into
    * maxHamming+1 disjoint chunks (pigeonhole), bucket-join, verify exact
    * hamming. Output is exactly { (a,b) : hamming(sig_a, sig_b) <= maxHamming }
    * for every bucket within `maxBucket`; buckets beyond the cap (degenerate
    * corpora — e.g. thousands of empty docs all at signature [0,0]) are
    * EXCLUDED, not OOM'd — and counted in the audit riding the same job. */
  def simhashNearDupsAudited(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 8,
      maxBucket: Int = DefaultMaxBucket, words: Int = SimhashWords): AuditedPairs = {
    val bands = simhashBands(df, idCol, textCol, maxHamming, words)
    bucketPairs(bands.groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("xs")), maxBucket)(
      _.select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        hammingDistance(col("p.a.sig"), col("p.b.sig"), words).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates("id_a", "id_b")
        .select("id_a", "id_b", "hamming"))
  }

  // --------------------------------------------------------------------------
  // Corpus-level exact LINE dedup (boilerplate-line removal)
  // --------------------------------------------------------------------------

  /** Hashes of lines occurring more than `maxFreq` times across the corpus:
    * (line_hash, freq). Scale model: the count is a partial+final hash
    * aggregate whose map side collapses each partition's repeats, so the
    * shuffle carries (8-byte hash, count) per DISTINCT line per partition —
    * and boilerplate lines are by definition the best-compressing keys. The
    * output is tiny (only above-threshold lines) and broadcastable into
    * [[scrubCommonLines]]'s anti-join. `sep` is a LITERAL separator (it is
    * regex-quoted before the split so it agrees with the literal rejoin in
    * [[scrubCommonLines]] — "." or "|" split where the text actually has
    * them, not everywhere). */
  def commonLineHashes(
      df: DataFrame, textCol: String, maxFreq: Long,
      sep: String = "\n"): DataFrame =
    df.select(explode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as("line"))
      .groupBy(xxhash64(col("line")).as("line_hash"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") > maxFreq)

  /** Removes every line occurring more than `maxFreq` times corpus-wide from
    * every document (the RefinedWeb/CCNet boilerplate-line pass: headers,
    * nav bars, cookie banners repeat verbatim across pages; documents
    * themselves are kept). Line order within a document is preserved; a
    * document whose every line was boilerplate keeps an empty `textCol`.
    *
    * Plan: explode lines with positions -> left-anti join on the (broadcast-
    * sized) banned hash set -> one groupBy(id) reassembly carrying the corpus
    * once (field extraction over the sorted struct array is codegen'd — no
    * lambda). Grouping by xxhash64, not the line text: the aggregation and
    * join shuffles carry 8 bytes per distinct line; a 64-bit collision
    * (~2^-64 per pair) could at worst scrub one innocent line.
    *
    * Preconditions/behavior (same convention as
    * [[graft.ops.Components.connectedComponentsWithIsolated]]): `idCol` MUST
    * be unique — the reassembly groups by it, so two documents sharing an id
    * would have their lines merged and the merged text fanned back to both.
    * `sep` is a LITERAL separator (regex-quoted on the split side so split
    * and `concat_ws` rejoin agree). A null `textCol` comes back as `""` (it
    * produces no line rows, so the left join misses and the coalesce fills
    * the empty string — same result as an all-boilerplate document). */
  def scrubCommonLines(
      df: DataFrame, idCol: String, textCol: String, maxFreq: Long,
      sep: String = "\n"): DataFrame = {
    val banned = commonLineHashes(df, textCol, maxFreq, sep)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__line")))
    val kept = lines.join(banned,
      xxhash64(col("__line")) === banned("line_hash"), "left_anti")
    val rebuilt = kept.groupBy(idCol).agg(
      concat_ws(sep,
        sort_array(collect_list(struct(col("__pos"), col("__line"))))
          .getField("__line")).as(textCol))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  // --------------------------------------------------------------------------
  // Duplicated-span scrub (exact substring dedup, token n-gram granularity)
  // --------------------------------------------------------------------------

  /** Duplicated-SPAN detection and scrub — the token-level shape of exact
    * substring dedup (Lee et al. 2022): an n-gram instance at token position
    * p is duplicated when its hash occurs >= `minCount` times corpus-wide
    * (within-document repeats count); a token is scrubbed when ANY duplicated
    * instance covers it, so runs of shared text are removed as whole spans
    * while each document's unique prose survives. Contrast [[scrubCommonLines]]
    * (needs exact LINE equality) and document-level near-dup (drops whole
    * docs): this catches shared passages embedded in otherwise-distinct
    * documents.
    *
    * Output: (id, total_tokens, dup_ngrams, dup_tokens, scrubbed) — one row
    * per input document; `scrubbed` re-joins surviving tokens with single
    * spaces (whitespace-normalizing, like every token-level operator here).
    * Documents shorter than n tokens participate as ONE whole-text gram
    * ([[graft.functions.NgramHashesAt]]'s fallback): a repeated short doc
    * scrubs to "".
    *
    * Scale model: positional gram hashing is a native codegen Expression
    * (one JITed pass per document); the global frequency pass is a
    * partial+final hash aggregate over 8-byte hashes (map-side combine
    * collapses each partition's repeats — boilerplate compresses best); the
    * duplicated-instance pass is a semi-join of gram rows against the
    * above-threshold hash set, output ∝ duplicated instances; reassembly is
    * one groupBy(id) of the small per-doc start lists plus a JITed scrub
    * ([[graft.functions.SpanScrub]]). The gram stream is (re)computed for the
    * count and semi-join passes rather than materialized — two narrow scans
    * beat persisting a token-scale intermediate. Deliberately NOT a single
    * collect_list-per-gram shuffle: a corpus-dominant gram ("all rights
    * reserved") would build one giant bucket; the count+semi-join shape has
    * no such hot key. 64-bit collisions (~2^-64/pair) can at worst scrub one
    * innocent span — the same accepted tradeoff as [[scrubCommonLines]] and
    * decontamination.
    *
    * `idCol` MUST be unique (reassembly groups by it — same precondition as
    * [[scrubCommonLines]]). Null `textCol` rows surface as empty documents
    * (0 tokens, ""). */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Long = 2L): DataFrame = {
    // one narrow (id, text) source, spread to the slot count (no-op at
    // scale): the positional gram hash runs for the count pass and the
    // semi-join pass, and the final scrub is another text pass — none of
    // them may run on one core just because the input is one file/split
    val src = Adaptive.spread(df.select(col(idCol).as("id"),
      coalesce(col(textCol), lit("")).as("__text")))
    val grams = src.select(col("id"),
      posexplode(graft.functions.NgramHashesAt(col("__text"), n))
        .as(Seq("pos", "h")))
    val dupHashes = grams.groupBy("h")
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
      .select("h")
    val dupStarts = grams.join(dupHashes, Seq("h"), "left_semi")
      .groupBy("id")
      .agg(collect_list(col("pos")).as("__starts"),
        count(lit(1)).as("dup_ngrams"))
    src
      .join(dupStarts, Seq("id"), "left")
      .withColumn("__s", graft.functions.SpanScrub(
        col("__text"),
        coalesce(col("__starts"), array().cast(ArrayType(IntegerType, containsNull = false))),
        n))
      .select(col("id"),
        col("__s.total_tokens").as("total_tokens"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        col("__s.dup_tokens").as("dup_tokens"),
        col("__s.scrubbed").as("scrubbed"))
  }

  /** [[duplicatedSpans]] applied IN PLACE: `df` with `textCol` replaced by
    * the span-scrubbed text (all other columns preserved; no document
    * removed). Like every token-level operator here, the scrub re-joins
    * surviving tokens with single spaces (whitespace-normalizing). The input
    * is read three times (gram count, duplicated-instance semi-join, final
    * doc join) — persist it across this call when its lineage is expensive,
    * the same contract as [[scrubCommonLines]]. */
  def scrubDuplicatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minCount: Long = 2L): DataFrame = {
    val scrubbed = duplicatedSpans(df, idCol, textCol, n, minCount)
      .select(col("id").as(idCol), col("scrubbed").as(textCol))
    // left join + coalesce, never inner: a null-id row can't equi-join back
    // to its scrub output and an inner join would silently DELETE the
    // document — null ids come back as "" instead, the same convention as
    // scrubCommonLines
    df.drop(textCol).join(scrubbed, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  // --------------------------------------------------------------------------
  // Incremental (delta) near-dup dedup against a persisted signature index
  // --------------------------------------------------------------------------
  //
  // The 100 TB reality: the corpus is already deduplicated; each round ADDS a
  // snapshot delta. Re-running full MinHash dedup re-reads and re-hashes the
  // whole corpus to ask a question about the delta. Instead, persist the
  // per-doc signatures once (~0.5 KB/doc — a 10^9-doc corpus is ~0.5 TB of
  // index vs ~100 TB of text, a 200x cheaper scan) and dedup each delta
  // against the INDEX: new-vs-old pairs verify on signature agreement
  // (the standard MinHash Jaccard estimate, matches/k — int/int, bit-stable
  // across engines), so the old documents' text is NEVER touched.

  /** Parameters of a persisted MinHash signature index. `portable = true`
    * derives the raw shingle hash from md5 (any engine reproduces the
    * signature bit-for-bit — the q_dedup_delta oracle does); the default
    * xxhash64 is faster and Spark-native. `numBuckets` is the index's
    * DIRECTORY fan-out: both layouts (`bands/` and `sigs/`) are
    * hash-partitioned into this many parquet partitions so a delta's reads
    * can prune whole directories; micro-deltas (streaming batches) touch a
    * handful of buckets, and even saturating deltas never pay more than the
    * full (thin) scan. More buckets = finer pruning but more files per
    * append — compaction merges them. */
  final case class MinhashIndexParams(
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
      portable: Boolean = false, numBuckets: Int = 64) {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(numBuckets > 0, "numBuckets must be positive")
    def rowsPerBand: Int = numHashes / bands
    /** Integer cut for `estimated jaccard >= threshold`: matches >= this. */
    def minMatches(threshold: Double): Int = math.ceil(threshold * numHashes).toInt
  }

  /** (id, sig) signature frame for `df` under `p` — the index's row shape.
    * The signature pass is the corpus-scan-bound stage of every MinHash
    * path, so the (id, text) projection is spread to the cluster's slot
    * count first (Adaptive.spread — a no-op whenever the input already
    * carries enough splits, i.e. at any production scale): a small or
    * single-file input would otherwise hash on one core. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String, p: MinhashIndexParams): DataFrame =
    Adaptive.spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        graft.functions.MinHashSig(col("__text"), p.shingleN, p.numHashes, p.seed, p.portable)
          .as("sig"))

  /** Positions where two equal-length signatures agree — the MinHash Jaccard
    * estimate's integer numerator (estimate = matches / numHashes). Unrolled
    * element_at comparisons, never a HOF lambda (codegen stays whole-stage). */
  def sigMatchCount(a: Column, b: Column, numHashes: Int): Column =
    (1 to numHashes).map(i =>
      when(element_at(a, i) === element_at(b, i), 1L).otherwise(0L))
      .reduce(_ + _)

  /** (id, sig, band_idx, band_hash) band rows of a signature frame — one row
    * per (document, band), the LSH bucketing the near-dup candidate search
    * keys on. Shared by the raw-frame delta path (which computes these on the
    * fly) and the persisted index (which stores them, so a delta never
    * re-bands the corpus). */
  private[ops] def bandRows(sigs: DataFrame, p: MinhashIndexParams): DataFrame = {
    val banded = (0 until p.bands).map { bi =>
      struct(lit(bi).as("band_idx"),
        xxhash64(concat_ws(",", slice(col("sig"), bi * p.rowsPerBand + 1, p.rowsPerBand)))
          .as("band_hash"))
    }
    sigs.select(col("id"), col("sig"), explode(array(banded: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band_idx"), col("b.band_hash"))
  }

  private def bandBucket(p: MinhashIndexParams): Column =
    pmod(col("band_hash"), lit(p.numBuckets.toLong)).cast(IntegerType)
  private def idBucket(p: MinhashIndexParams): Column =
    pmod(xxhash64(col("id")), lit(p.numBuckets.toLong)).cast(IntegerType)

  /** Read schema for `sigs/` — explicit so an EMPTY index (zero partition
    * dirs, e.g. a from-scratch stream) still reads as a typed empty frame
    * instead of failing parquet schema inference. */
  private def sigsSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType), StructField("sig", ArrayType(LongType)),
    StructField("id_bucket", IntegerType)))
  private def bandsSchema(idType: DataType): StructType = StructType(Seq(
    StructField("id", idType), StructField("band_idx", IntegerType),
    StructField("band_hash", LongType), StructField("band_bucket", IntegerType)))

  // per-write static overwrite: a caller's session-wide
  // partitionOverwriteMode=dynamic would make a whole-layout rebuild keep any
  // bucket partition absent from the new data — stale rows surviving an
  // "overwrite" silently (the CLAUDE.md staging bug, index edition)
  // one partition per bucket, spread over every core: an AQE-coalesced
  // exchange would funnel a small append into ONE task writing every bucket
  // file in turn; a fixed count equal to the bucket fan-out (capped at the
  // slot count) keeps exactly one file per bucket per write either way
  private def byBucket(df: DataFrame, bucketCol: String, p: MinhashIndexParams): DataFrame =
    df.repartition(math.min(p.numBuckets, df.sparkSession.sparkContext.defaultParallelism),
      col(bucketCol))

  /** Writes the signature rows; returns how many (counted on the write job). */
  private def writeSigs(sigs: DataFrame, dir: String, p: MinhashIndexParams,
      mode: String): Long =
    countingWrite(byBucket(sigs.withColumn("id_bucket", idBucket(p)), "id_bucket", p)
      .sortWithinPartitions("id_bucket", "id"))(
      _.write.mode(mode).option("partitionOverwriteMode", "static")
        .partitionBy("id_bucket").parquet(dir))

  private def writeBands(bands: DataFrame, dir: String, p: MinhashIndexParams,
      mode: String): Unit =
    byBucket(bands.select(col("id"), col("band_idx"), col("band_hash"))
      .withColumn("band_bucket", bandBucket(p)), "band_bucket", p)
      .sortWithinPartitions("band_bucket", "band_hash")
      .write.mode(mode).option("partitionOverwriteMode", "static")
      .partitionBy("band_bucket").parquet(dir)

  /** Build (overwrite) a signature index for `df` at `indexDir`. Layout:
    *  - `sigs/` (id, sig), hash-partitioned by `id_bucket` — the signature
    *    store, read partition-pruned when verifying candidate pairs;
    *  - `bands/` (id, band_idx, band_hash), hash-partitioned by
    *    `band_bucket` — the THIN banding store (~30 B/row, no signature
    *    payload) the candidate search scans, partition-pruned to the delta's
    *    band buckets. Persisting the band rows means a delta NEVER recomputes
    *    band hashes over the corpus, and the candidate scan never drags the
    *    ~`numHashes`×8 B signature column through the bucket join;
    *  - `_params` JSON sidecar, written on the driver (all
    *    MinhashIndexParams fields + the id column's type, so empty layouts
    *    read back typed).
    * Append later deltas with [[minhashIndexAppend]]; dedup deltas with
    * [[deltaDedupIndexed]]. */
  def minhashIndexBuild(
      df: DataFrame, idCol: String, textCol: String, indexDir: String,
      p: MinhashIndexParams = MinhashIndexParams(), epoch: Long = 0L): Unit = {
    val spark = df.sparkSession
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      // written twice (sigs + bands) — checkpoint so the signature scan of a
      // possibly-expensive input lineage runs once
      val sigs = minhashSignatures(df, idCol, textCol, p).localCheckpoint(true)
      val n = writeSigs(sigs, s"$indexDir/sigs", p, "overwrite")
      writeBands(bandRows(sigs, p), s"$indexDir/bands", p, "overwrite")
      MetaFile.writeJson(spark, s"$indexDir/_params", Map(
        "shingle_n" -> p.shingleN, "num_hashes" -> p.numHashes, "bands" -> p.bands,
        "seed" -> p.seed, "portable" -> p.portable, "num_buckets" -> p.numBuckets,
        "id_type" -> df.schema(idCol).dataType.sql))
      // pass `epoch` = the corpus manifest epoch when building under a corpus
      // that already saw deletion passes — a fresh index is NOT stale
      IndexVersions.record(spark, indexDir, epoch, "build", n)
    } finally releaseCheckpointsSince(spark.sparkContext, before)
  }

  /** (params, id column type) of a persisted index, read on the driver. */
  private def loadIndexMeta(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): (MinhashIndexParams, DataType) = {
    val m = MetaFile.readJson(spark, s"$indexDir/_params",
      s"rebuild the index at $indexDir with Dedup.minhashIndexBuild",
      classOf[com.fasterxml.jackson.databind.JsonNode])
      .getOrElse(throw new IllegalArgumentException(s"no MinHash index at $indexDir"))
    val p = MinhashIndexParams(m.get("shingle_n").intValue(), m.get("num_hashes").intValue(),
      m.get("bands").intValue(), m.get("seed").longValue(), m.get("portable").booleanValue(),
      m.get("num_buckets").intValue())
    (p, DataType.fromDDL(m.get("id_type").asText()))
  }

  private def recoverIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    completeSwap(spark, s"$indexDir/sigs", s"$indexDir/sigs_compacting")
    completeSwap(spark, s"$indexDir/bands", s"$indexDir/bands_compacting")
  }

  /** Load a signature index: (sigs (id, sig), params). Completes any
    * interrupted [[minhashIndexCompact]] swap first (see [[completeSwap]]). */
  def minhashIndexLoad(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): (DataFrame, MinhashIndexParams) = {
    recoverIndex(spark, indexDir)
    val (p, idType) = loadIndexMeta(spark, indexDir)
    val sigs = spark.read.schema(sigsSchema(idType)).parquet(s"$indexDir/sigs")
      .select(col("id"), col("sig"))
    (sigs, p)
  }

  /** Append `docs`' signatures to an existing index (call AFTER delta-dedup
    * decided which delta docs survive — append the KEPT ones). Uses the
    * index's own stored params, so an append can never fork the signature
    * construction. */
  def minhashIndexAppend(
      docs: DataFrame, idCol: String, textCol: String, indexDir: String): Unit = {
    val spark = docs.sparkSession
    recoverIndex(spark, indexDir)
    val (p, _) = loadIndexMeta(spark, indexDir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val sigs = minhashSignatures(docs, idCol, textCol, p).localCheckpoint(true)
      // sigs first, bands second: a kill in between leaves sig rows no band
      // row references — they are simply never found as candidates (bounded
      // under-dedup for ONE delta, healed when the at-least-once redelivery
      // re-appends; duplicate rows are collapsed at the delta's sig fetch
      // and compaction restores exactly-one on disk)
      val n = writeSigs(sigs, s"$indexDir/sigs", p, "append")
      writeBands(bandRows(sigs, p), s"$indexDir/bands", p, "append")
      IndexVersions.record(spark, indexDir,
        IndexVersions.epoch(spark, indexDir), "append", n)
    } finally releaseCheckpointsSince(spark.sparkContext, before)
  }

  /** Compact a signature index to the ids in `keepIds`: the index is
    * APPEND-ONLY, so documents later dropped from the corpus leave stale
    * signatures that would still WIN against future deltas (a new doc
    * near-dups a deleted one and is wrongly discarded). Run this after any
    * corpus deletion with the surviving id set. Writes the kept signatures
    * to a sibling directory and swaps it in (an in-place overwrite would
    * read its own input mid-write); the params sidecar is untouched. */
  def minhashIndexCompact(
      keepIds: DataFrame, idCol: String, indexDir: String,
      epoch: Option[Long] = None): Unit = {
    val spark = keepIds.sparkSession
    recoverIndex(spark, indexDir)
    // resolve the target epoch up front: a re-delivered compaction records
    // the SAME epoch again (idempotent max), a regression is refused
    val cur = IndexVersions.epoch(spark, indexDir)
    val target = epoch.getOrElse(cur + 1)
    require(target >= cur,
      s"compaction epoch $target would regress the index at $indexDir (currently $cur)")
    val (_, idType) = loadIndexMeta(spark, indexDir)
    val keep = keepIds.select(col(idCol).as("id"))
    // bands first, sigs second: between the two swaps, stale SIG rows may
    // outlive their band rows — they are never found as candidates, so a
    // deleted document can not win a delta in the window (the failure the
    // compact exists to prevent); the reverse order would leave stale BAND
    // rows whose candidates then silently drop at the sig join — also safe,
    // but this order keeps the dangerous direction impossible by design
    // dropDuplicates doubles as the REPAIR path for a crashed append that was
    // redelivered (at-least-once appends can leave duplicate rows per id —
    // harmless for dedup decisions, but compaction restores exactly-one)
    compactDir(spark, s"$indexDir/bands",
      spark.read.schema(bandsSchema(idType)).parquet(s"$indexDir/bands")
        .join(keep, Seq("id"), "left_semi")
        .dropDuplicates("id", "band_idx"), "band_bucket", "band_hash")
    val nSigs = compactDir(spark, s"$indexDir/sigs",
      spark.read.schema(sigsSchema(idType)).parquet(s"$indexDir/sigs")
        .join(keep, Seq("id"), "left_semi")
        .dropDuplicates("id"), "id_bucket", "id")
    IndexVersions.record(spark, indexDir, target, "compact", nSigs)
  }

  /** Rewrite `kept` into `<live>_compacting` (partitioned by `partCol`, the
    * already-present bucket column; `sortCol` keeps per-file min/max stats
    * tight), commit-mark it, and swap it in. */
  private def compactDir(
      spark: org.apache.spark.sql.SparkSession, liveDir: String,
      kept: DataFrame, partCol: String, sortCol: String): Long = {
    val tmp = s"${liveDir}_compacting"
    val n = countingWrite(
      kept.repartition(col(partCol)).sortWithinPartitions(partCol, sortCol))(
      _.write.mode("overwrite").partitionBy(partCol).parquet(tmp))
    val fs = new org.apache.hadoop.fs.Path(liveDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeCommitMarker(fs, tmp)
    val live = new org.apache.hadoop.fs.Path(liveDir)
    fs.delete(live, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), live),
      s"compact swap failed: could not rename $tmp to $live")
    n
  }

  /** Graft-owned commit marker for the compact swap. Recovery must NOT key
    * off Hadoop's `_SUCCESS`: deployments commonly disable it on object
    * stores (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false`), and a
    * crash between delete(live) and rename would then leave a fully-written
    * sibling that recovery DELETES — permanently losing the index. This
    * marker is written by graft itself after the compact write returns, so
    * its presence is independent of committer configuration. */
  private[graft] val CommitMarker = "_GRAFT_COMMITTED"

  private[graft] def writeCommitMarker(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit =
    fs.create(new org.apache.hadoop.fs.Path(dir, CommitMarker), true).close()

  /** The one resolver for two Long metrics riding a job as an
    * `Observation` (the AQE empty-metrics edge is handled HERE). Never blocks
    * on `Observation.get` (it waits indefinitely if no action ran yet): the
    * async listener gets a grace window (spark.graft.auditWaitSec, default 2
    * — raise on busy clusters whose listener bus lags), then `recompute`
    * runs — loudly, since it is a SECOND pass. AQE's empty-relation
    * propagation also lands there by design: it drops the executed
    * CollectMetrics node from the final plan, so the map comes back empty.
    * `what` names the observation and `recomputing` the metrics in that
    * stderr line. */
  private[graft] def observedLongs(obs: Observation, keys: (String, String), what: String,
      recomputing: String)(recompute: => (Long, Long)): (Long, Long) = {
    val waitSec = java.lang.Long.getLong("spark.graft.auditWaitSec", 2L)
    val completed =
      try { scala.concurrent.Await.ready(obs.future, scala.concurrent.duration.Duration(waitSec, "s")); true }
      catch { case _: java.util.concurrent.TimeoutException => false }
    val m = if (completed) obs.get else Map.empty[String, Any]
    if (m.contains(keys._1)) (m(keys._1).asInstanceOf[Long], m(keys._2).asInstanceOf[Long])
    else {
      System.err.println(
        s"[graft] $what observation not delivered within ${waitSec}s — " +
          s"recomputing $recomputing with an explicit aggregate pass")
      recompute
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
    val obs = org.apache.spark.sql.Observation(
      s"graft_write_count_${obsCountSeq.incrementAndGet()}")
    write(df.observe(obs, count(lit(1)).as("n")))
    obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  /** Unpersist every RDD that became persistent after `beforeIds` was
    * snapshotted. Eager `localCheckpoint(true)` blocks are NOT in the
    * CacheManager — `Dataset.unpersist` can't reach them, and the
    * ContextCleaner only frees them when the driver GCs the frame references.
    * Callers that loop (snapshot-delta loops, benchmark reps) should
    * snapshot `sc.getPersistentRDDs.keySet` before the dedup call and release
    * here once the batch's results are fully materialized — the checkpointed
    * data is unrecoverable afterwards (lineage was truncated). Only safe when
    * no CONCURRENT job is creating persistent RDDs on the same session. */
  private[graft] def releaseCheckpointsSince(
      sc: org.apache.spark.SparkContext, beforeIds: scala.collection.Set[Int]): Unit = {
    val current = sc.getPersistentRDDs
    (current.keySet -- beforeIds).foreach(id =>
      current.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Crash recovery for the compact swap, applied at every index read:
    *  - live missing + committed sibling present (a kill landed between the
    *    delete and the rename) -> finish the rename;
    *  - live present + sibling present (a kill landed before the delete) ->
    *    the compact never took effect; drop the sibling.
    * Either way the reader sees exactly one committed data directory.
    * "Committed" means graft's own [[CommitMarker]], not Hadoop's `_SUCCESS`
    * (which object-store deployments often disable — see [[CommitMarker]]). */
  private[ops] def completeSwap(
      spark: org.apache.spark.sql.SparkSession, liveDir: String, tmpDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(liveDir)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) {
      val tmpCommitted = fs.exists(new org.apache.hadoop.fs.Path(tmp, CommitMarker))
      if (!fs.exists(live) && tmpCommitted) {
        require(fs.rename(tmp, live), s"swap recovery failed: $tmpDir -> $liveDir")
        System.err.println(s"[graft] completed interrupted compact swap: $liveDir")
      } else fs.delete(tmp, true) // uncommitted, or the live dir still stands
    }
  }

  /** Near-dup pairs INVOLVING AT LEAST ONE NEW DOCUMENT, between `newDocs`
    * and an already-deduped corpus represented ONLY by its signature frame
    * `oldSigs` (id, sig): (id_a, id_b, matches, a_is_new, b_is_new) where
    * `matches >= p.minMatches(threshold)` (estimated jaccard cut, integer
    * compare). Old-old pairs are excluded by construction — that corpus is
    * already deduped.
    *
    * Runs the one lexical delta body ([[lexDeltaPairs]]) with `oldSigs` as
    * the old side: its band rows are derived on the fly and semi-joined
    * against the delta's bucket keys (broadcast when `broadcastNewKeys`), its
    * signatures are semi-joined against the candidates' old ids. The old
    * corpus text is never read. */
  def deltaNearDupsAudited(
      newDocs: DataFrame, idCol: String, textCol: String, oldSigs: DataFrame,
      p: MinhashIndexParams = MinhashIndexParams(), threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket, broadcastNewKeys: Boolean = true): AuditedPairs =
    // no stage checkpoints: the returned plan keeps the whole lineage
    // (PlanSpec pins the old-band broadcast semi-join in it), and each
    // consumer re-derives the candidate frame — the persisted index is the
    // path that stages
    lexDeltaPairs(newDocs, idCol, textCol, p, threshold, maxBucket, broadcastNewKeys,
      oldBands = _ => bandRows(oldSigs, p), oldSigsOf = _ => oldSigs, stage = identity)

  /** [[deltaNearDupsAudited]]'s pairs. Kept as a plain entry point because
    * `graft.Bench`'s frozen timed regions call it. */
  def deltaNearDups(
      newDocs: DataFrame, idCol: String, textCol: String, oldSigs: DataFrame,
      p: MinhashIndexParams = MinhashIndexParams(), threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket, broadcastNewKeys: Boolean = true): DataFrame =
    deltaNearDupsAudited(newDocs, idCol, textCol, oldSigs, p, threshold, maxBucket,
      broadcastNewKeys).pairs

  /** The delta documents that SURVIVE dedup against the indexed corpus:
    * old documents always win (a new doc near an old one is dropped); among
    * new-only clusters the minimum-id representative survives (transitive —
    * clusters come from the same connected components the batch dedup uses).
    * Returns `newDocs` minus losers; append the survivors' signatures with
    * [[minhashIndexAppend]] to complete the round. */
  def deltaDedup(
      newDocs: DataFrame, idCol: String, textCol: String, oldSigs: DataFrame,
      p: MinhashIndexParams = MinhashIndexParams(), threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket, broadcastNewKeys: Boolean = true): DataFrame =
    deltaSurvivors(newDocs, idCol, deltaNearDupsAudited(newDocs, idCol, textCol, oldSigs,
      p, threshold, maxBucket, broadcastNewKeys).pairs)

  /** `newDocs` minus the losing new ids of its delta pair set (id_a, id_b,
    * a_is_new, b_is_new) — the one survivors tail of every delta dedup,
    * lexical and semantic. The pairs are checkpointed here: the CC rounds
    * and the tag join both read them. */
  private[ops] def deltaSurvivors(
      newDocs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    newDocs.join(deltaLosers(pairs.localCheckpoint(true)).withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")

  /** Losing NEW ids of a materialized delta pair set: a new id loses when its
    * connected component contains any old id (old always wins) or it is not
    * the component's minimum new id. */
  private def deltaLosers(pairs: DataFrame): DataFrame = {
    val comp = Components.connectedComponents(pairs, "id_a", "id_b")
    val tags = pairs.select(col("id_a").as("id"), col("a_is_new").as("is_new"))
      .unionAll(pairs.select(col("id_b").as("id"), col("b_is_new").as("is_new")))
      .distinct()
    val labeled = comp.join(tags, Seq("id"))
    val perComp = labeled.groupBy("component").agg(
      max(when(!col("is_new"), lit(1)).otherwise(lit(0))).as("has_old"),
      min(when(col("is_new"), col("id"))).as("min_new"))
    labeled.join(perComp, Seq("component"))
      .filter(col("is_new") && (col("has_old") === 1 || col("id") =!= col("min_new")))
      .select(col("id"))
  }

  /** [[deltaNearDupsAudited]] against a PERSISTED index directory — the
    * index-native path, scan-bounded at 10^12 rows:
    *  - the old side's band rows are READ, never recomputed: the candidate
    *    scan is the THIN `bands/` layout (no signature bytes), partition-
    *    pruned to the band buckets the delta actually touches (a streaming
    *    micro-batch touching 20 of `numBuckets` directories reads 20; a
    *    saturating batch delta degrades to the full thin scan, with zero
    *    hash computation);
    *  - signatures are fetched ONLY for the old ids that appear in a
    *    candidate pair, from `sigs/` partition-pruned to those ids' buckets.
    * Both paths run the same [[lexDeltaPairs]] body; only the old side's
    * row source differs, so over the same corpus they emit the same
    * (id_a, id_b, matches, a_is_new, b_is_new) rows by construction. */
  def deltaNearDupsIndexedAudited(
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      threshold: Double = 0.8, maxBucket: Int = DefaultMaxBucket,
      broadcastNewKeys: Boolean = true, eagerCheckpoints: Boolean = true): AuditedPairs = {
    val spark = newDocs.sparkSession
    recoverIndex(spark, indexDir)
    val (p, idType) = loadIndexMeta(spark, indexDir)
    // directory prune: the buckets `keys`' rows hash to, ≤ numBuckets ints
    def pruned(layout: String, schema: StructType, bucketCol: String,
        keys: DataFrame): DataFrame = {
      val buckets = keys.distinct().collect().map(_.getInt(0)).toSeq
      val all = spark.read.schema(schema).parquet(s"$indexDir/$layout")
      if (buckets.isEmpty) all.filter(lit(false)) else all.filter(col(bucketCol).isin(buckets: _*))
    }
    // `eagerCheckpoints = false` is a PLAN-INSPECTION seam: checkpoints
    // truncate lineage to ExistingRDD leaves, hiding the partition-pruned
    // parquet scans from the final executed plan — tests disable them to pin
    // PartitionFilters, at the cost of re-executing the candidate scan per
    // downstream consumer. Leave true in production.
    lexDeltaPairs(newDocs, idCol, textCol, p, threshold, maxBucket, broadcastNewKeys,
      oldBands = nb => pruned("bands", bandsSchema(idType), "band_bucket",
        nb.select(bandBucket(p))),
      oldSigsOf = ids => pruned("sigs", sigsSchema(idType), "id_bucket",
        ids.select(idBucket(p))),
      stage = df => if (eagerCheckpoints) df.localCheckpoint(true) else df)
  }

  /** [[deltaNearDupsIndexedAudited]]'s pairs. Kept as a plain entry point
    * because `graft.Bench`'s frozen timed regions call it. */
  def deltaNearDupsIndexed(
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      threshold: Double = 0.8, maxBucket: Int = DefaultMaxBucket,
      broadcastNewKeys: Boolean = true): DataFrame =
    deltaNearDupsIndexedAudited(newDocs, idCol, textCol, indexDir, threshold,
      maxBucket, broadcastNewKeys).pairs

  /** [[deltaDedup]] against a PERSISTED index directory, via the partition-
    * pruned [[deltaNearDupsIndexedAudited]] path (the old corpus's band rows
    * are read, never recomputed). `broadcastNewKeys = false` for deltas too
    * large to broadcast their bucket-key set (the prune becomes a shuffle
    * semi-join). */
  def deltaDedupIndexed(
      newDocs: DataFrame, idCol: String, textCol: String, indexDir: String,
      threshold: Double = 0.8, maxBucket: Int = DefaultMaxBucket,
      broadcastNewKeys: Boolean = true): DataFrame =
    deltaSurvivors(newDocs, idCol, deltaNearDupsIndexedAudited(newDocs, idCol, textCol,
      indexDir, threshold, maxBucket, broadcastNewKeys).pairs)

  /** The one lexical delta body — candidate -> collapse -> verify. Callers
    * supply only where the OLD side's rows come from:
    *  - candidate: the delta's band rows meet the old band rows
    *    (`oldBands(newBands)`) that share one of its bucket keys — the key
    *    prune is applied here, broadcast when `broadcastNewKeys` (the usual
    *    case: |delta| x bands keys), so only old rows sharing a bucket with
    *    the delta ever shuffle. Buckets are THIN (id, is_new): no signature
    *    bytes ride the bucket shuffle. Buckets beyond `maxBucket` are
    *    excluded and counted in the audit ([[bucketPairs]]);
    *  - collapse: one row per (id_a, id_b). A resubmitted id makes the same
    *    pair appear with different flags; min = the old-flagged copy wins,
    *    deterministically (an arbitrary both-new copy could hide the old
    *    link from [[deltaLosers]] and keep a genuine dup of a corpus doc);
    *  - verify: each side is scored with the signature of exactly the copy
    *    its flag names — the join keys on (id, is_new), so a resubmitted id's
    *    delta and index signatures never both join. Old signatures are
    *    fetched for the candidates' old ids only (`oldSigsOf(oldIds)`; the
    *    id semi-join and the duplicate-row repair are applied here).
    * `stage` marks the candidate and signature boundaries: each frame is a
    * tiny projection of an expensive scan, read by several consumers. */
  private def lexDeltaPairs(
      newDocs: DataFrame, idCol: String, textCol: String, p: MinhashIndexParams,
      threshold: Double, maxBucket: Int, broadcastNewKeys: Boolean,
      oldBands: DataFrame => DataFrame, oldSigsOf: DataFrame => DataFrame,
      stage: DataFrame => DataFrame): AuditedPairs = {
    def bcast(df: DataFrame): DataFrame = if (broadcastNewKeys) broadcast(df) else df
    // tiny frame, read by the bucket keys, the banding union and the sig union
    val newSigs = minhashSignatures(newDocs, idCol, textCol, p).localCheckpoint(true)
    val newBands = bandRows(newSigs, p).withColumn("is_new", lit(true))
    val newKeys = bcast(newBands.select("band_idx", "band_hash").distinct())
    val oldPruned = oldBands(newBands)
      .join(newKeys, Seq("band_idx", "band_hash"), "left_semi")
      .select(col("id"), lit(false).as("is_new"), col("band_idx"), col("band_hash"))
    val grouped = oldPruned
      .unionAll(newBands.select(col("id"), col("is_new"), col("band_idx"), col("band_hash")))
      .groupBy("band_idx", "band_hash")
      .agg(sort_array(collect_list(struct(col("id"), col("is_new")))).as("xs"))
    val cand = bucketPairs(grouped, maxBucket)(
      _.filter(col("p.a.is_new") || col("p.b.is_new"))
        // a resubmitted id never pairs with its own index entry — an
        // at-least-once redelivery that recomputes this stage after its
        // survivors were appended must keep those survivors, not drop every
        // one as a dup of itself (same contract as the PQ path); a doc whose
        // only duplicate link ran THROUGH a dropped non-survivor may re-keep
        // — the conservative direction
        .filter(col("p.a.id") =!= col("p.b.id"))
        .select(col("p.a.id").as("id_a"), col("p.a.is_new").as("a_is_new"),
          col("p.b.id").as("id_b"), col("p.b.is_new").as("b_is_new"))
        .groupBy("id_a", "id_b")
        .agg(min(col("a_is_new")).as("a_is_new"), min(col("b_is_new")).as("b_is_new"))
        .select("id_a", "a_is_new", "id_b", "b_is_new"))
    val candPairs = stage(cand.pairs) // read by the old-id fetch AND the sig joins
    val oldIds = candPairs.filter(!col("a_is_new")).select(col("id_a").as("id"))
      .unionAll(candPairs.filter(!col("b_is_new")).select(col("id_b").as("id")))
      .distinct()
    val oldSigsNeeded = oldSigsOf(oldIds)
      // same escape hatch as the bucket-key prune: a delta too large to
      // broadcast its keys has a candidate old-id set of similar magnitude
      .join(bcast(oldIds), Seq("id"), "left_semi")
      // duplicate sig rows per id (a crashed-then-redelivered append) are
      // collapsed HERE, the smallest frame, or each would re-expand every
      // candidate pair after the sig join
      .dropDuplicates("id")
      .select(col("id"), col("sig"))
    val sigOf = stage(newSigs.select(col("id"), lit(true).as("is_new"), col("sig"))
      .unionAll(oldSigsNeeded.select(col("id"), lit(false).as("is_new"), col("sig"))))
    def side(s: String) = sigOf.select(col("id").as(s"id_$s"),
      col("is_new").as(s"${s}_is_new"), col("sig").as(s"sig_$s"))
    cand.copy(pairs = candPairs
      .join(side("a"), Seq("id_a", "a_is_new"))
      .join(side("b"), Seq("id_b", "b_is_new"))
      .select(col("id_a"), col("id_b"),
        sigMatchCount(col("sig_a"), col("sig_b"), p.numHashes).as("matches"),
        col("a_is_new"), col("b_is_new"))
      .filter(col("matches") >= p.minMatches(threshold)))
  }
}
