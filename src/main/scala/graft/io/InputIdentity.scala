package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UserDefinedExpression
import org.apache.spark.sql.catalyst.plans.logical.{AppendColumns, LeafNode, ObjectConsumer, ObjectProducer, TypedFilter}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** The identity of a frame's input, computed on the driver with no job: a
  * SHA-256 over the canonical optimized plan (printed untruncated), the
  * options of its file relations, the session time zone, and the sorted
  * (path, length, modification time) of every file those relations listed.
  * Two frames with one identity read the same files through the same plan,
  * so anything derived from one frame's rows holds for the other's.
  *
  * It is defined only for a deterministic plan whose every leaf is a listed
  * file relation and which runs no user code (UDFs, typed Dataset
  * functions); otherwise there is none, and the caller computes from the
  * rows. Contract: input files are immutable once listed, which is every
  * table format's contract. An in-place rewrite that keeps path, length and
  * modification time is not detected; any other change to the files or the
  * plan yields another identity.
  *
  * Two callers key derived state by it: the checkpoint runner's staging
  * record (a re-stage of an unchanged snapshot skips its input scan) and
  * the pipeline's content-fingerprint memo (a redelivered delta skips its
  * fingerprint scans).
  */
object InputIdentity {

  /** SHA-256 identity of `df`; None when its output could change while
    * its plan and its files stay the same. */
  def of(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.optimizedPlan
    val nodes = plan.collectWithSubqueries { case p => p }
    val userCode = nodes.exists {
      case _: ObjectProducer | _: ObjectConsumer | _: TypedFilter | _: AppendColumns => true
      case n => n.expressions.exists(_.exists(_.isInstanceOf[UserDefinedExpression]))
    }
    val relations = nodes.collect { case l: LeafNode => l }.map {
      case LogicalRelation(r: HadoopFsRelation, _, _, false, _) => r.location match {
        case index: PartitioningAwareFileIndex => Some(r -> index.allFiles())
        case _ => None
      }
      case _ => None
    }
    if (userCode || !nodes.forall(_.deterministic) || relations.contains(None)) None
    else {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = digest.update((s + "\n").getBytes("UTF-8"))
      // untruncated: a default treeString elides fields past 25 and would
      // let two plans differing only there share an identity
      add(plan.canonicalized.treeString(
        verbose = true, addSuffix = false, maxFields = Int.MaxValue, printOperatorId = false))
      add(df.sparkSession.conf.get("spark.sql.session.timeZone"))
      relations.flatten.map { case (r, _) => r.options.toSeq.sorted.mkString(",") }
        .sorted.foreach(add)
      relations.flatten.flatMap(_._2)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).distinct.sorted
        .foreach { case (p, len, mtime) => add(s"$p\t$len\t$mtime") }
      Some(digest.digest().map("%02x".format(_)).mkString)
    }
  }
}
