package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

/** Host shape, CPU steal, file sizes and a small JSON writer. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** CPU time of this JVM, all threads: in local mode the driver and the
    * executor task threads. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def memTotalKb: Long =
    readLines("/proc/meminfo").find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** (steal, total) jiffies from the aggregate `cpu` line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    readLines("/proc/stat").find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      case None => (0L, 0L)
    }

  private def readLines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  def bytesUnder(path: String): Long = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
