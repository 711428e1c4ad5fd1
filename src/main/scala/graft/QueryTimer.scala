package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time individual SparkEntry queries without the full Bench
  * battery. Usage: runMain graft.QueryTimer q_ann_ivf q_dedup_simhash
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS). */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror Bench's shuffle-dir choice: timings must reflect the bench's
      // conditions (RAM-backed local dirs), not /tmp's disk
      .config("spark.local.dir", sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench-local"
        else System.getProperty("java.io.tmpdir")))
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        // count() would let Catalyst PRUNE the expensive projections (CLAUDE.md
        // gotcha); the noop sink forces full computation of every column
        df.write.mode("overwrite").format("noop").save()
        ((System.nanoTime() - t0) / 1e9, df.count())
      }
      println(f"[timer] $name%-22s min=${secs.map(_._1).min}%.3fs rows=${secs.head._2}" +
        secs.map(s => f"${s._1}%.3f").mkString(" samples=", ",", ""))
    }
    spark.stop()
  }
}
