package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** One benchmark run: set-up repetitions, the timed closed loop, the traced
  * loop, output checks per op, and the result line. */
final class Bench(val spark: SparkSession, val o: Main.Opts, val scale: Scale, startNs: Long) {
  import Bench._

  val nproc: Int = Host.nproc

  final case class Sample(phase: String, kind: String, wallS: Double, cpuS: Double,
      stealS: Double, rows: Long, problems: Seq[String], out: String)

  private val samples = mutable.ArrayBuffer.empty[Sample]
  private var setupS = 0.0
  private var setupTotalS = Double.NaN
  private var phase = "setup"
  private var tracer: Option[Tracer] = None
  private var tracedWallS = Double.NaN
  private var spanCounters: Seq[Tracer#Counters] = Nil
  private var unattributedJobs = 0L
  private val tallies = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val gauges = mutable.Map.empty[String, Double]
  private var storedRatio: Option[Double] = None

  def dir(name: String): String = s"${o.work}/$name"
  def tracing: Boolean = tracer.isDefined

  /** Set-up work, timed: input generation, the initial staging or index
    * bootstrap, and the warm-up calls. A workload may set up in several
    * blocks; `setup_s` is their sum. */
  def setup[S](body: => S): S = {
    val t0 = System.nanoTime()
    val state = body
    setupS += (System.nanoTime() - t0) / 1e9
    setupTotalS = (System.nanoTime() - startNs) / 1e9
    state
  }

  /** One CLI call: timed, then checked outside the timing. Returns the
    * call's summary JSON ("" when it threw). */
  def call(kind: String, rows: Long)(run: => String)(check: String => Seq[String]): String = {
    val (steal0, _) = Host.cpuTicks()
    val cpu0 = Host.processCpuNs()
    val t0 = System.nanoTime()
    val res = Try(run)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.processCpuNs() - cpu0) / 1e9
    val (steal1, _) = Host.cpuTicks()
    val problems = res match {
      case Success(j) =>
        Try(aside("bench.check")(check(j))) match {
          case Success(p) => p
          case Failure(e) => Seq(s"check threw: $e")
        }
      case Failure(e) => Seq(s"call threw: $e")
    }
    if (problems.nonEmpty)
      System.err.println(s"[perfbench] $phase $kind FAILED: ${problems.mkString("; ")}")
    samples += Sample(phase, kind, wall, cpu, (steal1 - steal0) / 100.0, rows, problems,
      res.getOrElse(""))
    res.getOrElse("")
  }

  /** Routes a CLI call: the CLI core itself, or its traced replay inside a
    * top-level `cli.*` span. The CLI's own stdout line goes to stderr. */
  def cli(name: String)(plain: => String)(traced: Tracer => String): String =
    tracer match {
      case Some(t) => t.span(s"cli.$name")(traced(t))
      case None => Console.withOut(System.err)(plain)
    }

  /** Benchmark-side work between calls (input writing, checks), spanned
    * when tracing so the top-level spans cover the traced wall. */
  def aside[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))

  /** Per-layer counts: a tally is summed over traced calls and reported per
    * call; a gauge is the last value set. Both are recorded only when
    * tracing. */
  def tally(name: String, v: Double): Unit = if (tracing) tallies(name) += v
  def gauge(name: String, v: Double): Unit = if (tracing) gauges(name) = v

  def stored(ratio: Double): Unit = if (storedRatio.isEmpty) storedRatio = Some(ratio)

  /** The closed loop: `step(i)` until the time is up and at least
    * `minSteps` steps ran. With tracing, the first half runs plain and the
    * second half traced, each at least half the steps. */
  def timed(minSteps: Int)(step: Int => Unit): Unit = {
    var i = 0
    def loop(seconds: Double): Unit = {
      val t0 = System.nanoTime()
      val least = if (o.trace) (minSteps + 1) / 2 else minSteps
      var n = 0
      while (n < least || (System.nanoTime() - t0) / 1e9 < seconds) {
        step(i); i += 1; n += 1
      }
    }
    phase = "timed"
    if (!o.trace) loop(o.seconds)
    else {
      loop(o.seconds / 2)
      val t = new Tracer(spark.sparkContext, nproc)
      spark.sparkContext.addSparkListener(t)
      tracer = Some(t)
      phase = "traced"
      val t0 = System.nanoTime()
      try loop(o.seconds / 2)
      finally {
        tracedWallS = (System.nanoTime() - t0) / 1e9
        tracer = None
        spanCounters = t.counters()
        unattributedJobs = t.unattributedJobs
        spark.sparkContext.removeSparkListener(t)
      }
    }
    phase = "check"
  }

  private def walls(ph: String, kind: String): Seq[Double] =
    samples.filter(s => s.phase == ph && s.kind == kind).map(_.wallS).toSeq

  private def isCall(s: Sample): Boolean = CallKinds.contains(s.kind)

  /** Rows per second of the heaviest call kind: full validations where the
    * workload has them, else new deltas. */
  private def rowsPerS(): Double = {
    val kind = if (samples.exists(_.kind == "full")) "full" else "delta"
    val timed = samples.filter(s => s.phase == "timed" && s.kind == kind).toSeq
    median(timed.map(_.rows.toDouble)) / median(timed.map(_.wallS))
  }

  private def endToEnd(): Map[String, (Double, String)] =
    Map(
      "setup_s" -> (setupS, "s"),
      "delta_s_p50" -> (median(walls("timed", "delta")), "s"),
      "replay_s_p50" -> (median(walls("timed", "replay")), "s"),
      "rows_per_s" -> (rowsPerS(), "rows/s"),
      "stored_bytes_per_input_byte" -> (storedRatio.getOrElse(Double.NaN), "ratio"))

  private def perLayer(): Map[String, (Double, String)] = {
    val calls = samples.count(s => s.phase == "traced" && isCall(s))
    require(calls > 0, "no traced calls")
    val byName = spanCounters.groupBy(_.name)
    val spans = LayerSpans.flatMap { n =>
      val cs = byName.getOrElse(n, Nil)
      val skews = cs.flatMap(_.skew)
      Seq(
        s"$n.wall_s" -> (cs.map(_.wallS).sum / calls, "s"),
        s"$n.driver_s" -> (cs.map(_.driverS).sum / calls, "s"),
        s"$n.jobs" -> (cs.map(_.jobs).sum.toDouble / calls, "count"),
        s"$n.exec_cpu_s" -> (cs.map(_.cpuS).sum / calls, "s"),
        s"$n.shuffle_mb" -> (cs.map(_.shuffleMb).sum / calls, "MB"),
        s"$n.task_skew" -> (if (skews.isEmpty) 0.0 else median(skews), "ratio"))
    }
    val top = spanCounters.filter(_.parent < 0)
    val counts = LayerCounts.map { case (n, unit) =>
      n -> (gauges.getOrElse(n, tallies(n) / calls), unit)
    }
    val overhead = median(walls("traced", "delta")) / median(walls("timed", "delta"))
    (spans ++ counts ++ Seq(
      "spark.tasks" -> (top.map(_.tasks).sum.toDouble / calls, "count"),
      "spark.exec_run_s" -> (top.map(_.runS).sum / calls, "s"),
      "spark.spill_mb" -> (top.map(_.spillMb).sum / calls, "MB"),
      "trace_overhead" -> (overhead, "ratio"),
      "trace.top_span_coverage" -> (top.map(_.wallS).sum / tracedWallS, "ratio"))).toMap
  }

  /** The human-readable table of the design's end-to-end metrics,
    * including the ones the result line leaves out (see NOTES.md). */
  private def table(e2e: Map[String, (Double, String)]): Seq[(String, Any, String)] = {
    val deltas = walls("timed", "delta").sorted
    val tail =
      if (deltas.size < 11) None
      else Some((deltas(deltas.size - 11), 100.0 * (deltas.size - 10) / deltas.size, deltas.size))
    val failed = samples.count(_.problems.nonEmpty)
    Seq(("setup_s", e2e("setup_s")._1, "s"),
      ("validate_rows_per_s",
        if (o.workload == "code_table") e2e("rows_per_s")._1 else "n/a", "rows/s"),
      ("rows_per_s", e2e("rows_per_s")._1, "rows/s"),
      ("delta_s_p50", e2e("delta_s_p50")._1, "s"),
      ("delta_s_tail", tail.fold[Any](s"n/a (${deltas.size} samples, need 11)")(t =>
        f"${t._1}%.4f at p${t._2}%.1f of ${t._3}"), "s"),
      ("replay_s_p50", e2e("replay_s_p50")._1, "s"),
      ("stored_bytes_per_input_byte", e2e("stored_bytes_per_input_byte")._1, "ratio"),
      ("ops_failed_frac", failed.toDouble / math.max(samples.size, 1), "ratio"))
  }

  /** The traced run's own check, one op: every job charged to a span, the
    * top-level spans covering the traced wall within `CoverageBound`, and
    * the CLI sources still the ones `TracedCli` replays. */
  private def checkTrace(): Unit = {
    val coverage = spanCounters.filter(_.parent < 0).map(_.wallS).sum / tracedWallS
    val problems =
      (if (unattributedJobs == 0) Nil else Seq(s"$unattributedJobs jobs outside every span")) ++
        (if (math.abs(coverage - 1.0) <= CoverageBound) Nil
         else Seq(f"top-level spans cover $coverage%.3f of the traced wall")) ++
        TracedCli.drift()
    if (problems.nonEmpty)
      System.err.println(s"[perfbench] trace check FAILED: ${problems.mkString("; ")}")
    samples += Sample("check", "trace_check", 0.0, 0.0, 0.0, 0L, problems, "")
  }

  def finish(): String = {
    if (o.trace) checkTrace()
    val attempted = samples.size
    val failed = samples.count(_.problems.nonEmpty)
    val e2e = if (o.trace) Map.empty[String, (Double, String)] else endToEnd()
    val metrics = if (o.trace) perLayer() else e2e
    val undefined = metrics.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    require(undefined.isEmpty, s"metrics left undefined: ${undefined.mkString(", ")}")
    val rows = if (o.trace) Nil else table(e2e)
    rows.foreach { case (n, v, u) => println(f"$n%-28s $v $u") }

    val sc = spark.sparkContext
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "scale" -> o.scale,
      "host" -> mutable.LinkedHashMap(
        "nproc" -> nproc, "mem_total_kb" -> Host.memTotalKb,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.toSeq,
        "spark_conf" -> sc.getConf.getAll.toSeq.sorted.toMap,
        "sql_conf_set" -> spark.conf.getAll.toSeq.sorted.toMap,
        "git_head" -> sys.env.getOrElse("PERFBENCH_GIT_HEAD", ""),
        "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", "")),
      "setup_s" -> setupS, "setup_total_s" -> setupTotalS,
      "traced_wall_s" -> tracedWallS, "unattributed_jobs" -> unattributedJobs,
      "samples" -> samples.toSeq.map(s => mutable.LinkedHashMap(
        "phase" -> s.phase, "kind" -> s.kind, "wall_s" -> s.wallS, "cpu_s" -> s.cpuS,
        "steal_s" -> s.stealS,
        "rows" -> s.rows, "problems" -> s.problems, "out" -> s.out)),
      "table" -> rows.map { case (n, v, u) => mutable.LinkedHashMap("name" -> n, "value" -> v, "unit" -> u) },
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> spanCounters.map(c => mutable.LinkedHashMap(
        "name" -> c.name, "parent" -> c.parent, "wall_s" -> c.wallS, "self_s" -> c.selfS,
        "driver_s" -> c.driverS, "jobs" -> c.jobs, "exec_cpu_s" -> c.cpuS,
        "exec_run_s" -> c.runS, "tasks" -> c.tasks, "shuffle_mb" -> c.shuffleMb,
        "spill_mb" -> c.spillMb, "task_skew" -> c.skew)))
    val out = java.nio.file.Paths.get(o.report)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, Host.json(report).getBytes("UTF-8"))

    Host.json(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }.to(mutable.LinkedHashMap)))
  }
}

object Bench {
  /** Spans that carry per-layer counters, in BENCHMARK.json order. */
  val LayerSpans: Seq[String] = Seq(
    "checkpoint.stage", "checkpoint.run", "checkpoint.incremental_run", "checkpoint.summary",
    "suite.profile", "suite.uniqueness", "suite.fd", "suite.referential",
    "ops.prepare", "ops.lexdedup", "ops.mhappend", "ops.decontam", "ops.quality",
    "ops.semdedup", "ops.semappend", "ops.load", "pipeline.write")

  /** How far the top-level spans' wall may fall from the traced wall: the
    * wall-time metrics' bound. */
  val CoverageBound = 0.25

  /** Sample kinds that are CLI calls of the timed loop. */
  val CallKinds: Set[String] = Set("full", "delta", "replay")

  val LayerCounts: Seq[(String, String)] = Seq(
    "checkpoint.buckets_processed" -> "count", "checkpoint.revalidated_row_frac" -> "ratio",
    "checkpoint.manifest_rows" -> "count", "ops.stages_loaded" -> "count",
    "ops.dropped_ids" -> "count", "ops.mhidx_mb" -> "MB", "ops.ivfidx_mb" -> "MB")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
