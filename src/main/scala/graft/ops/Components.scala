package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed connected components over an undirected edge list — the last
  * step of a near-dup pipeline: pair output (MinHash/SimHash/embedding LSH)
  * forms a graph whose components are the duplicate CLUSTERS; keeping one
  * representative per cluster is what actually shrinks the corpus.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
  * O(log^2 n) rounds on any graph (in practice 2-4 on near-dup graphs, whose
  * components are small and dense), against O(diameter) for naive label
  * propagation (a 10^6-long chain of boilerplate docs would need 10^6 joins).
  * Each half-round is one aggregate + one join on node ids — no collect_list
  * of neighbor sets, so a 10^8-member component cannot materialize a 10^8
  * array in one row; the min-neighbor aggregate is a partial+final
  * HashAggregate and the join shuffles (node, min) pairs only.
  *
  * Round-over-round lineage is truncated with `localCheckpoint` (the iterated
  * plan would otherwise double per round and stall the optimizer); on a real
  * cluster with dynamic executors, set a reliable `spark.checkpoint.dir` and
  * flip `reliableCheckpoint = true`.
  *
  * Convergence is detected by an order-insensitive edge-set checksum
  * (count + bit_xor of per-edge xxhash64) — at the fixpoint the edge set is a
  * star forest rooted at each component's minimum id. Non-convergence within
  * `maxRounds` throws (no silent partial components).
  */
object Components {

  private def canonical(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(
      least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()

  /** Large-star: every node u links its strictly-larger neighbors to
    * m = min(N(u) ∪ {u}). Input/output canonical (a < b). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // v > u >= m, so (m, v) is canonical; m == v impossible
    sym.join(m, "u").filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b")).distinct()
  }

  /** Small-star: on edges directed high->low (u > v), u links all smaller
    * neighbors AND itself to m = min(N(u)). Canonical in/out. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(col("b").as("u"), col("a").as("v")) // u > v by construction
    val m = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(m, "u").select(col("m").as("a"), col("v").as("b"))
      .union(m.select(col("m").as("a"), col("u").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Order-insensitive edge-set fingerprint: (edge count, xor of edge hashes).
    * bit_xor, not sum — sum(xxhash64) overflows under ANSI mode. */
  private def checksum(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("x")).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** Default edge-count cut for the driver union-find fast path: 2^20 edges
    * is ~16 MB of long pairs on the driver — far under any sane driver heap,
    * far over any near-dup pair set that SHOULD be finishing in
    * milliseconds. */
  val SmallGraphEdges: Long = 1L << 20

  /** The distributed rounds' id order, on the driver. */
  private[ops] def ltAny(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Long, b: Long) => a < b
    case (a: Int, b: Int) => a < b
    case (a: Short, b: Short) => a < b
    case (a: Byte, b: Byte) => a < b
    // UTF8String byte order, NOT Java compareTo: Spark's least()/min() in the
    // distributed rounds compare UTF-8 bytes (code-point order), and Java's
    // UTF-16 unit order disagrees for supplementary chars vs U+E000..U+FFFF —
    // the two paths must pick the same component minimum for every input
    case (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    case _ => throw new IllegalArgumentException(s"unorderable id type: ${x.getClass}")
  }

  /** Id types [[ltAny]] orders. */
  private[ops] def driverOrderable(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** The one driver union-find: every node of `edges` (pairs of non-null,
    * distinct ids) mapped to its component's minimum id under [[ltAny]] —
    * the same (id, component) the distributed rounds converge to. */
  private[ops] def unionFind(edges: Iterator[(Any, Any)]): Map[Any, Any] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      var p = parent.get(x)
      while (p != null && p != x) { x = p; p = parent.get(x) }
      // path compression
      var c = x0
      while (parent.get(c) != null && parent.get(c) != x) {
        val nxt = parent.get(c); parent.put(c, x); c = nxt
      }
      x
    }
    edges.foreach { case (a, b) =>
      if (parent.get(a) == null) parent.put(a, a)
      if (parent.get(b) == null) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // the smaller root wins, so every root is its component's minimum
        if (ltAny(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.iterator.map(id => id -> find(id)).toMap
  }

  /** Exact same (id, component-min) output as the distributed rounds, via
    * [[unionFind]] over an already-materialized small edge set. */
  private def driverComponents(e: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val t = e.schema.head.dataType
    val out = unionFind(e.collect().iterator.map(r => (r.get(0), r.get(1))))
      .map { case (id, c) => Row(id, c) }.toSeq
    e.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      StructField("id", t, nullable = false), StructField("component", t, nullable = false))))
  }

  /** Connected components of the graph given as an edge list.
    * Returns (id, component) for every node APPEARING IN AN EDGE — callers
    * union isolated vertices themselves (they are their own components).
    * `component` is the minimum node id of the component, so output is
    * deterministic and engine-independent. Id columns may be any orderable
    * type (long doc ids, string keys).
    *
    * When the canonical edge set — already materialized for the convergence
    * checksum — is at most `smallGraphEdges` (and the id type has a driver
    * ordering), the components come from the driver [[unionFind]] instead
    * of the distributed rounds: identical output, milliseconds instead of
    * 2x(rounds)x(eager-checkpoint + checksum) fixed job cost. Near-dup pair
    * graphs are tiny by construction (output ∝ duplicates); the distributed
    * path remains the unbounded-scale default and the only semantic
    * difference is that a small graph cannot hit maxRounds. Pass
    * `smallGraphEdges = 0` to force the distributed rounds. The delta
    * dedups resolve their survivors under the same cut without calling
    * this: `Dedup.deltaLosers` collects the pair rows once and runs the
    * same union-find over them. */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25, reliableCheckpoint: Boolean = false,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    def truncate(df: DataFrame): DataFrame =
      if (reliableCheckpoint) df.checkpoint(true) else df.localCheckpoint(true)

    var cur = truncate(canonical(edges, srcCol, dstCol))
    var sig = checksum(cur)
    if (sig._1 > 0 && sig._1 <= smallGraphEdges && driverOrderable(cur.schema.head.dataType))
      return driverComponents(cur)
    var converged = sig._1 == 0 // empty edge set: nothing to do
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val next = truncate(smallStar(largeStar(cur)))
      val nsig = checksum(next)
      converged = nsig == sig
      cur = next
      sig = nsig
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
          s"(${sig._1} edges at round $round) — raise maxRounds")
    // fixpoint edge set is a star forest (root=a=component min, member=b)
    cur.select(col("b").as("id"), col("a").as("component"))
      .union(cur.select(col("a").as("id"), col("a").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** [[connectedComponents]] plus every isolated vertex as its own singleton
    * component — the convenience that makes the documented edge-only caveat
    * impossible to forget: callers pass the full node table and get one output
    * row per node. `nodes` rows must be unique on `nodeCol` (doc ids). The
    * singleton side is a left-anti join shipping node ids only. */
  def connectedComponentsWithIsolated(
      nodes: DataFrame, nodeCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 25, reliableCheckpoint: Boolean = false): DataFrame = {
    val cc = connectedComponents(edges, srcCol, dstCol, maxRounds, reliableCheckpoint)
    val isolated = nodes.select(col(nodeCol).as("id"))
      .join(cc.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    cc.union(isolated)
  }

  /** Duplicate clusters from a near-dup pair DataFrame (id_a, id_b, ...):
    * (id, component) where component = min doc id of the cluster. */
  def nearDupGroups(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, "id_a", "id_b")

  /** The near-dup LOSERS of a pair DataFrame, as one `idCol` column: every
    * clustered id except its cluster's minimum-id representative. A corpus
    * anti-joined with this keeps one document per cluster plus every
    * document in no cluster, and the join ships only the loser-id set. */
  def nearDupLosers(pairs: DataFrame, idCol: String): DataFrame =
    nearDupGroups(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
}
