package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Deploy-path benchmark of graft's two CLI cores, `RunValidation.run` and
  * `RunPipeline.run`, driven the way a `spark-submit --master local[N]` user
  * drives them: one closed-loop client, one snapshot or delta per call, each
  * call submitted after the previous one returned.
  *
  * {{{
  * java -cp <classes>:<spark jars> graft.perfbench.Main \
  *   --workload code_table|pipeline_deltas \
  *   --seed 1 --seconds 12 --trace 0|1 [--scale full|smoke] \
  *   --work <scratch dir> --report <raw samples json>
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`, `failed`
  * and `metrics` (end-to-end metrics with `--trace 0`, per-layer counters
  * with `--trace 1`). Raw samples and host shape go to `--report`. */
object Main {

  final case class Opts(
      workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
      trace: Boolean = false, scale: String = "full", work: String = "",
      report: String = "")

  def parse(argv: Array[String]): Opts = {
    def loop(o: Opts, rest: List[String]): Opts = rest match {
      case "--workload" :: v :: t => loop(o.copy(workload = v), t)
      case "--seed" :: v :: t => loop(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => loop(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => loop(o.copy(trace = v == "1"), t)
      case "--scale" :: v :: t => loop(o.copy(scale = v), t)
      case "--work" :: v :: t => loop(o.copy(work = v), t)
      case "--report" :: v :: t => loop(o.copy(report = v), t)
      case Nil => o
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val o = loop(Opts(), argv.toList)
    require(Workloads.names.contains(o.workload),
      s"--workload must be one of ${Workloads.names.mkString(", ")}")
    require(Scale.byName.contains(o.scale), s"--scale must be one of ${Scale.byName.keys.mkString(", ")}")
    require(o.work.nonEmpty && o.report.nonEmpty, "--work and --report are required")
    o
  }

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val o = parse(argv)
    val spark = SparkSession.builder()
      .master(s"local[${Host.nproc}]")
      .appName(s"graft-perfbench-${o.workload}")
      // the one engine knob both CLI mains read, with their default
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val line =
      try {
        val b = new Bench(spark, o, Scale.byName(o.scale), startNs)
        Workloads.run(b)
        b.finish()
      } finally spark.stop()
    println(line)
  }
}

/** Input sizes. `full` is the measured configuration; `smoke` runs every
  * workload once at tiny scale. */
final case class Scale(
    codeRows: Long, buckets: Int, docs: Docs.Sizes, cells: Int)

object Scale {
  val byName: Map[String, Scale] = Map(
    "full" -> Scale(codeRows = 50000L, buckets = 16,
      docs = Docs.Sizes(regular = 300, boiler = 40, hot = 30, exact = 20, near = 20,
        twins = 10, contaminated = 10, lowQuality = 10, invalid = 10, deletions = 0),
      cells = 16),
    "smoke" -> Scale(codeRows = 2000L, buckets = 4,
      docs = Docs.Sizes(regular = 40, boiler = 8, hot = 8, exact = 4, near = 4,
        twins = 3, contaminated = 3, lowQuality = 3, invalid = 3, deletions = 2),
      cells = 4))
}
