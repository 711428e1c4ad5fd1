package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Seeded training-corpus delta generator for `pipeline_deltas`. Every
  * document is planted in exactly one class, so the expected per-stage
  * counts and the surviving ids follow from the plan, not from the engine:
  *
  *  - regular: 50 random words, random embedding (survives);
  *  - boilerplate: one shared 36-word header plus 24 random words — jaccard
  *    about 0.4 with each other, so they share LSH buckets (one hot bucket
  *    per band) without being near-duplicates (survives);
  *  - hot-cell: embedding = a shared centre plus a unique pair of orthogonal
  *    offsets, pairwise cosine at most 0.9, so they crowd one IVF cell
  *    without being semantic twins (survives);
  *  - exact: a later-id byte copy of a regular doc of the same delta;
  *  - near: an earlier survivor's text with one space doubled — token-
  *    identical, so the pair is found with certainty (dropped, unless the
  *    original was withdrawn by this delta's deletions pass);
  *  - twin: fresh text with an earlier survivor's exact embedding;
  *  - contaminated: fresh text with a 20-word probe passage inside;
  *  - low-quality: one word repeated 25 times among 35 random words;
  *  - invalid: the required `lang` is null.
  *
  * Ids grow across deltas, so earlier documents win every cross-delta pair. */
final class Docs(seed: Long, sizes: Docs.Sizes) {
  import Docs._

  private val rng = new scala.util.Random(seed)
  private val vocab: IndexedSeq[String] = {
    val syl = for (c <- "bcdfghjklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val words = for (a <- syl; b <- syl; c <- Seq("", "n", "r", "s")) yield a + b + c
    rng.shuffle(words).take(6000).toIndexedSeq
  }
  private def words(n: Int): Seq[String] = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
  private def randomEmb(): Array[Double] = Array.fill(Dim)(rng.nextGaussian())

  private val boilerplate = words(36)
  private val hotCentre: Array[Double] = {
    val c = randomEmb()
    val n = math.sqrt(c.map(x => x * x).sum)
    c.map(_ / n)
  }
  /** Orthonormal directions orthogonal to the hot centre (Gram-Schmidt). */
  private val hotBasis: IndexedSeq[Array[Double]] = {
    val basis = mutable.ArrayBuffer(hotCentre)
    while (basis.size < Dim) {
      val v = randomEmb()
      basis.foreach { b =>
        val d = (v zip b).map { case (x, y) => x * y }.sum
        for (i <- v.indices) v(i) -= d * b(i)
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      basis += v.map(_ / n)
    }
    basis.tail.toIndexedSeq
  }
  private var hotUsed = 0
  private def hotEmb(): Array[Double] = {
    // combo -> (i < j, signs): distinct combos share at most one direction,
    // so pairwise cosine <= (1 + e^2/2) / (1 + e^2) = 0.9 at e = 0.5
    val pairs = for (i <- hotBasis.indices; j <- hotBasis.indices if i < j) yield (i, j)
    val (i, j) = pairs((hotUsed / 4) % pairs.size)
    val (si, sj) = (if (hotUsed % 2 == 0) 1.0 else -1.0, if ((hotUsed / 2) % 2 == 0) 1.0 else -1.0)
    require(hotUsed < pairs.size * 4, "hot-cell offsets exhausted")
    hotUsed += 1
    val e = 0.5 / math.sqrt(2.0)
    Array.tabulate(Dim)(k => hotCentre(k) + e * (si * hotBasis(i)(k) + sj * hotBasis(j)(k)))
  }

  val probe: Seq[(Long, String)] = (0 until 4).map(p => (900000000L + p, words(20).mkString(" ")))

  private final case class Doc(id: Long, text: String, emb: Array[Double], lang: String)
  /** Survivors that later deltas may copy: (id, text, emb). */
  private val pool = mutable.ArrayBuffer.empty[Doc]
  private val withdrawn = mutable.Set.empty[Long]
  private var next = 0

  /** The next delta's documents, its deletion ids and the expected result. */
  def nextDelta(withDeletions: Boolean): Delta = {
    val k = next
    next += 1
    var id = k.toLong * 10000000L
    def nid(): Long = { id += 1; id }
    def lang(): String = Langs(rng.nextInt(Langs.size))
    val s = sizes
    val regular = Seq.fill(s.regular)(Doc(nid(), words(50).mkString(" "), randomEmb(), lang()))
    val boiler = Seq.fill(s.boiler)(Doc(nid(), (boilerplate ++ words(24)).mkString(" "), randomEmb(), lang()))
    val hot = Seq.fill(s.hot)(Doc(nid(), words(50).mkString(" "), hotEmb(), lang()))
    val exact = rng.shuffle(regular).take(s.exact).map(d => d.copy(id = nid(), emb = randomEmb()))
    val live: Seq[Doc] = pool.filterNot(d => withdrawn(d.id)).toSeq
    val deleted: Seq[Doc] = if (withDeletions) rng.shuffle(live).take(s.deletions) else Nil
    val targets = rng.shuffle(live.filterNot(deleted.contains))
    val nearOf = if (k == 0) Nil else targets.take(s.near) ++ deleted
    def spaced(t: String): String = {
      val cut = t.indexOf(' ', t.length / 2)
      t.substring(0, cut) + " " + t.substring(cut)
    }
    val near = nearOf.map(d => Doc(nid(), spaced(d.text), randomEmb(), lang()))
    val twins = if (k == 0) Nil else targets.slice(s.near, s.near + s.twins)
      .map(d => Doc(nid(), words(50).mkString(" "), d.emb.clone(), lang()))
    val contam = Seq.fill(s.contaminated) {
      val w = words(40)
      Doc(nid(), (w.take(20) ++ probe(rng.nextInt(probe.size))._2.split(" ") ++ w.drop(20))
        .mkString(" "), randomEmb(), lang())
    }
    val lowq = Seq.fill(s.lowQuality) {
      val rep = vocab(rng.nextInt(vocab.size))
      Doc(nid(), rng.shuffle(Seq.fill(25)(rep) ++ words(35)).mkString(" "), randomEmb(), lang())
    }
    val invalid = Seq.fill(s.invalid)(Doc(nid(), words(50).mkString(" "), randomEmb(), null))

    val revived = near.takeRight(deleted.size)
    val survivors = regular ++ boiler ++ hot ++ revived
    pool ++= regular ++ revived
    withdrawn ++= deleted.map(_.id)
    val all = regular ++ boiler ++ hot ++ exact ++ near ++ twins ++ contam ++ lowq ++ invalid
    val rows = all.map(d => Row(d.id, d.text, d.emb.toSeq, d.lang))
    Delta(k, rows, deleted.map(_.id),
      Expected(input = all.size, invalid = invalid.size, exactDups = exact.size,
        nearDups = near.size - revived.size, contaminated = contam.size,
        lowQuality = lowq.size, semanticDups = twins.size, output = survivors.size,
        survivors = survivors.map(_.id).toSet))
  }

  def write(spark: SparkSession, rows: Seq[Row], path: String): Long = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, Schema).coalesce(1).write.parquet(path)
    Host.bytesUnder(path)
  }
}

object Docs {
  val Dim = 32
  val Langs = IndexedSeq("en", "de", "fr", "es")
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("lang", StringType, nullable = true)))

  final case class Sizes(regular: Int, boiler: Int, hot: Int, exact: Int, near: Int,
      twins: Int, contaminated: Int, lowQuality: Int, invalid: Int, deletions: Int)

  final case class Expected(input: Long, invalid: Long, exactDups: Long, nearDups: Long,
      contaminated: Long, lowQuality: Long, semanticDups: Long, output: Long,
      survivors: Set[Long])

  final case class Delta(index: Int, rows: Seq[Row], deletionIds: Seq[Long], expected: Expected)
}
