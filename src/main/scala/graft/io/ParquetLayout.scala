package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession, graftbridge}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Driver-side parquet reads: graft's partitioned layouts (index bands,
  * signatures, IVF cells), stage directories and the checkpoint runner's
  * manifests and staging footers, read without a Spark job.
  *
  * `spark.read.parquet(dir)` pays for the table's shape, not its data, in
  * two places: over more than 32 directories
  * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) the file
  * listing is a Spark job with one task per directory, and without a schema
  * the inference is another job that reads a footer. A delta-sized read
  * touches a few KB, so both jobs cost more than the read. Here the listing
  * is a `listStatus` walk on the driver into the touched directories only,
  * and schemas, row counts and small tables come from footers and records
  * read on the driver with parquet-hadoop. */
object ParquetLayout {

  /** Spark's listing rule: names starting with `_` (unless they hold a
    * `key=value` pair) or `.`, and in-flight copies, are not table data. */
  private[io] def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The rows of the `partCol=v` directories of `dir` with `v` in `values`,
    * read as `schema` (which names `partCol`, an int partition column):
    * the same rows, columns and partition filter as
    * `spark.read.schema(schema).parquet(dir).filter(col(partCol).isin(values))`.
    * The relation covers only the listed files of those directories, and
    * the filter stays in the plan as its `PartitionFilters`. */
  def readPartitions(spark: SparkSession, dir: String, schema: StructType,
      partCol: String, values: Set[Int]): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified, like the listed paths: partition discovery compares them
    val root = fs.makeQualified(new Path(dir))
    val wanted = values.map(v => s"$partCol=$v")
    val files =
      if (values.isEmpty || !fs.exists(root)) Vector.empty
      else fs.listStatus(root).iterator
        .filter(d => d.isDirectory && wanted(d.getPath.getName))
        .flatMap(d => walk(fs, d.getPath)).toVector
    if (files.isEmpty) empty(spark, schema)
    else relation(spark, Seq(root -> files.toArray), schema)
      .filter(col(partCol).isin(values.toSeq.sorted: _*))
  }

  /** The rows of `roots`' listed data files (each root a directory whose
    * files were listed on the driver, with no partition directories below
    * it) read as `schema`; an empty frame of `schema` when none is listed. */
  def readFiles(spark: SparkSession, roots: Seq[(Path, Array[FileStatus])],
      schema: StructType): DataFrame =
    if (roots.forall(_._2.isEmpty)) empty(spark, schema)
    else relation(spark, roots.filter(_._2.nonEmpty), schema)

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** A parquet relation over driver-listed files: the index asks its cache
    * for each root's leaf files before it lists, and this cache answers with
    * the driver listing, so the index lists nothing itself. */
  private def relation(spark: SparkSession, roots: Seq[(Path, Array[FileStatus])],
      schema: StructType): DataFrame = {
    val listed = roots.toMap
    val cache = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, roots.map(_._1), Map.empty, Some(schema), cache)
    val parts = index.partitionSchema.fieldNames.toSet
    val rel = HadoopFsRelation(index, index.partitionSchema,
      graftbridge.asNullable(StructType(schema.filterNot(f => parts(f.name)))),
      None, new ParquetFileFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(rel).select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** The data files under `dir` as Spark's reader lists them (hidden names
    * skipped, partition directories descended); none when `dir` is absent. */
  def dataFiles(conf: Configuration, dir: Path): Iterator[FileStatus] = {
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) walk(fs, dir) else Iterator.empty
  }

  /** [[dataFiles]]' walk, lazily with `listStatus` — the shape of Spark's
    * own driver-side listing. Not `listFiles`: it returns
    * `LocatedFileStatus`es, whose construction on the local file system
    * forks a `stat` per file for its permissions (~4 ms each: 0.48 s for
    * the 128 files of one index layout, measured). */
  private[io] def walk(fs: FileSystem, dir: Path): Iterator[FileStatus] =
    fs.listStatus(dir).iterator.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
      if (s.isDirectory) walk(fs, s.getPath) else Iterator(s)
    }

  def footer(conf: Configuration, file: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try reader.getFooter finally reader.close()
  }

  /** Rows of the data files under `dir`, from their footers. */
  def rowCount(conf: Configuration, dir: Path): Long =
    dataFiles(conf, dir).map(fileRows(conf, _)).sum

  private def fileRows(conf: Configuration, file: FileStatus): Long = {
    import scala.jdk.CollectionConverters._
    footer(conf, file).getBlocks.asScala.map(_.getRowCount).sum
  }

  /** Every record of one parquet file, as parquet-hadoop's example groups. */
  def readGroups(conf: Configuration, file: FileStatus): Seq[Group] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file.getPath).withConf(conf).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).toVector
    finally reader.close()
  }

  /** The Spark schema a data file under `dir` was written with (partition
    * columns excluded: they live in directory names; every field nullable,
    * as a file source reads it), from its footer on the driver — the schema
    * `spark.read.parquet(dir)` infers with a job. None when `dir` holds no
    * data file or the footer lacks Spark's schema. */
  def footerSchema(conf: Configuration, dir: Path): Option[StructType] =
    dataFiles(conf, dir).find(_.getLen > 0)
      .flatMap(f => Option(footer(conf, f).getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)))
      .map(json => graftbridge.asNullable(DataType.fromJson(json).asInstanceOf[StructType]))

  /** The non-null values of the one-column parquet table at `dir` (a stage's
    * id set) read on the driver, for a column of type `t` — Long, Int,
    * Short, Byte or String. None when `t` is another type or the footers
    * count more than `max` rows: then the caller joins against the table. */
  def readIds(conf: Configuration, dir: Path, t: DataType, max: Int): Option[Seq[Any]] = {
    val get: Group => Any = t match {
      case LongType => _.getLong(0, 0)
      case IntegerType => _.getInteger(0, 0)
      case ShortType => _.getInteger(0, 0).toShort
      case ByteType => _.getInteger(0, 0).toByte
      case StringType => _.getString(0, 0)
      case _ => return None
    }
    val files = dataFiles(conf, dir).filter(_.getLen > 0).toVector
    if (files.iterator.map(fileRows(conf, _)).sum > max) None
    else Some(files.flatMap(readGroups(conf, _)).filter(_.getFieldRepetitionCount(0) > 0).map(get))
  }
}
