package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the standard LLM-pipeline check that training
  * documents do not leak evaluation data: flag any corpus document sharing at
  * least `minHits` distinct word n-grams with a probe (benchmark/test-set)
  * document. (The GPT-3 and Llama reports use 8-13-gram collision filters of
  * exactly this shape.)
  *
  * Scale model: each side explodes into (xxhash64(ngram), id) rows — the
  * shuffle carries 8-byte hashes and ids, never text — and the equi-join on
  * the hash feeds one partial+final count aggregate per colliding pair. The
  * probe side (a benchmark) is typically tiny next to the corpus: Spark's AQE
  * broadcasts it, making the whole check one corpus scan with no corpus-side
  * shuffle. n-grams are distinct per document ([[TextOps.shingles]]), so
  * `hits` counts distinct shared n-grams directly. Documents shorter than n
  * tokens fall back to a whole-text shingle and so only collide with equally
  * short identical text.
  */
object Decontaminate {

  // one JITed pass per document (graft.functions.NgramHashes) — the HOF
  // shingle pipeline (transform/slice interpreted per element) measured 6x
  // slower on this exact query shape; values are bit-identical to
  // xxhash64(explode(array_distinct(shingles))). The (id, text) projection
  // is spread to the slot count first (no-op at scale — Adaptive.spread):
  // the hash+explode pass must not run on one core for single-split inputs.
  private def hashedNgrams(df: DataFrame, id: String, text: String, idOut: String, n: Int) =
    Adaptive.spread(df.select(col(id).as(idOut), col(text).as("__t")))
      .select(col(idOut),
        explode(graft.functions.NgramHashes(col("__t"), n)).as("__h"))

  /** The probe side's hashed n-grams (probe_id, __h) — compute ONCE, and
    * persist when the same probe set screens a corpus more than once (the
    * batch pipeline counts the flagged set and then anti-joins it; without
    * this the benchmark set would re-shingle per use). */
  def probeHashes(probe: DataFrame, probeIdCol: String, probeTextCol: String, n: Int): DataFrame =
    hashedNgrams(probe, probeIdCol, probeTextCol, "probe_id", n)

  /** Collision pairs (id, probe_id, hits): corpus documents sharing >= minHits
    * distinct n-grams with a probe document. */
  def ngramCollisions(
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      probe: DataFrame, probeIdCol: String, probeTextCol: String,
      n: Int = 13, minHits: Long = 1L): DataFrame =
    ngramCollisionsAgainst(corpus, corpusIdCol, corpusTextCol,
      probeHashes(probe, probeIdCol, probeTextCol, n), n, minHits)

  /** [[ngramCollisions]] against a precomputed [[probeHashes]] frame.
    * `broadcastProbe` (default true) broadcasts the probe's hashed n-grams
    * explicitly — the probe is a benchmark/test set, small by this
    * operator's contract, and an explicit hint removes the planner's
    * exchanges on BOTH exploded sides (size estimates for exploded frames
    * are unreliable, so AQE otherwise plans a shuffle join first — guide
    * §3.1: hint when you know a side is small). Pass false for a
    * corpus-sized probe to fall back to the shuffle join. */
  def ngramCollisionsAgainst(
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      probeHashed: DataFrame, n: Int, minHits: Long,
      broadcastProbe: Boolean = true): DataFrame =
    hashedNgrams(corpus, corpusIdCol, corpusTextCol, "id", n)
      .join(if (broadcastProbe) broadcast(probeHashed) else probeHashed, "__h")
      .groupBy("id", "probe_id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)

  /** The distinct ids (one `corpusIdCol` column) of corpus documents
    * colliding with a precomputed [[probeHashes]] frame. The corpus minus
    * these is the decontaminated corpus: the anti-join ships the flagged-id
    * set only, never documents. */
  def flaggedIds(
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      probeHashed: DataFrame, n: Int, minHits: Long): DataFrame =
    ngramCollisionsAgainst(corpus, corpusIdCol, corpusTextCol, probeHashed, n, minHits)
      .select(col("id").as(corpusIdCol)).distinct()
}
