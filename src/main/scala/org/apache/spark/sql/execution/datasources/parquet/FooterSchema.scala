package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[parquet] footer reader and converter: the
  * schema that inference would take from `file`, read on the calling
  * thread instead of in a one-task Spark job. The session's parquet
  * settings (binary-as-string, int96, NTZ inference, nanosAsLong) and the
  * Spark row-metadata key apply exactly as they do in inference. */
object FooterSchema {
  def read(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val state = castToImpl(spark).sessionState
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        state.newHadoopConf(), Seq(file), state.conf.ignoreCorruptFiles),
      spark)
  }
}
