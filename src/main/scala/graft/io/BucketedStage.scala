package graft.io

import org.apache.spark.sql.DataFrame

/** Bucketed staging: persist a snapshot as a catalog table hash-BUCKETED
  * (and sorted) on a key set, so every later keyed check on those columns —
  * uniqueness, keyed aggregates, co-located self-joins — satisfies its
  * distribution requirement straight off the scan and plans with NO shuffle.
  * At 10^12 rows the one-time bucketed write replaces a full shuffle in
  * EVERY subsequent keyed pass over the snapshot; this is the file-source
  * equivalent of an Iceberg table's bucket partition transform. Pass `path`
  * to keep the data outside the session warehouse (external table). */
object BucketedStage {
  def stage(df: DataFrame, keys: Seq[String], buckets: Int, table: String,
      path: Option[String] = None): Unit = {
    require(keys.nonEmpty, "bucketed staging needs at least one key column")
    val w0 = df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w0)(p => w0.option("path", p)).saveAsTable(table)
  }
}
