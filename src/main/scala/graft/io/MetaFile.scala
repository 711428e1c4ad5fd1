package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** graft's own small metadata files — stage commit records, index params and
  * quantizers, index lifecycle events, the corpus epoch — read and written on
  * the driver through the Hadoop `FileSystem`, never by a Spark job (a job
  * costs more than the delta-scale data such a file describes).
  *
  * [[write]] lands the content in `<name>.tmp` and renames it over the live
  * file, so a kill never leaves a torn live file. [[read]] completes the one
  * interrupted state that holds a full copy — live gone, tmp present (the
  * kill landed between delete and rename) — and drops a tmp found next to a
  * live file as an uncommitted leftover. The live file is the commit point,
  * independent of Hadoop's `_SUCCESS` (object stores often disable it).
  */
object MetaFile {

  /** JSON codec for structured metadata; Scala collections map to JSON. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpOf(path: Path) = new Path(path.getParent, path.getName + ".tmp")

  /** `path`'s content, None if never written. A directory there is a layout
    * from an earlier graft version (written by Spark): refused, naming
    * `rebuild` as the remedy. */
  def read(fs: FileSystem, path: Path, rebuild: => String): Option[String] = {
    val tmp = tmpOf(path)
    if (!fs.exists(path) && fs.exists(tmp))
      require(fs.rename(tmp, path), s"metadata swap recovery failed: $tmp -> $path")
    else if (fs.exists(tmp)) fs.delete(tmp, false)
    if (!fs.exists(path)) None
    else if (fs.getFileStatus(path).isDirectory)
      throw new PreChangeLayoutException(path.toString, rebuild)
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Replace whatever is at `path` (a pre-change directory included). */
  def write(fs: FileSystem, path: Path, content: String): Unit = {
    val tmp = tmpOf(path)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (fs.exists(path)) fs.delete(path, true)
    require(fs.rename(tmp, path), s"metadata rename failed: $tmp -> $path")
  }

  def readJson[T](spark: SparkSession, path: String, rebuild: => String, cls: Class[T]): Option[T] =
    read(fs(spark, path), new Path(path), rebuild).map(json.readValue(_, cls))

  def writeJson(spark: SparkSession, path: String, value: Any): Unit =
    write(fs(spark, path), new Path(path), json.writeValueAsString(value))
}

/** Metadata at `path` is in a layout this graft version no longer reads: a
  * Spark-written directory where graft now keeps one driver-written file. */
final class PreChangeLayoutException(val path: String, rebuild: String)
  extends IllegalStateException(
    s"$path was written by an earlier graft version (a Spark-written " +
      s"directory; graft now keeps this metadata in one file) — $rebuild")
