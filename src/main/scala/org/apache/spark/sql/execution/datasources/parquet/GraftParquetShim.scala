package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[parquet]` footer-to-schema conversion Spark's
  * own parquet schema inference applies to each footer it reads: the
  * Spark row metadata a Spark writer stores wins, else the parquet schema
  * is converted under this session's conf (`nanosAsLong`, int96, binary-
  * as-string, `timestamp_ntz` inference). Lives in Spark's package purely
  * for access; reads no data and contains no engine logic (its one
  * caller is the footer read behind [[graft.sources.FileFormats.readParquet]]
  * and `FileFormats.standingSchema`). */
object GraftParquetShim {
  def readSchema(footers: Seq[Footer], spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)
}
