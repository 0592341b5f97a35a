package org.apache.spark.sql.execution.datasources.parquet

import java.io.CharArrayWriter
import java.time.ZoneId

import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.RecordMaterializer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.types.StructType

/** Driver-side access to two of Spark's package-private row codecs, so
  * a point read served without a Spark job decodes and renders rows
  * exactly as a scan plus `to_json` would:
  *
  *  - [[materializer]]: Parquet records to `InternalRow` through
  *    `ParquetRecordMaterializer`, configured the way
  *    `ParquetFileFormat` configures its row reader (requested-schema
  *    clipping, INT96 time-zone conversion, datetime and INT96 rebase
  *    from the file's own metadata).
  *  - [[jsonWriter]]: `InternalRow` to a JSON object through
  *    `JacksonGenerator` under the `JSONOptions` that `to_json` builds
  *    (no options, the session time zone).
  */
object DriverRowCodecs {

  /** The clipped Parquet schema to request from a file with `footer`
    * and the materializer that turns its records into `schema` rows.
    * The materializer reuses one mutable row: copy what you keep. */
  def materializer(spark: SparkSession, footer: ParquetMetadata,
      schema: StructType): (MessageType, RecordMaterializer[InternalRow]) = {
    val sqlConf = spark.sessionState.conf
    val meta = footer.getFileMetaData
    val requested = ParquetReadSupport.getRequestedSchema(meta.getSchema,
      schema, spark.sparkContext.hadoopConfiguration, false)
    val options = new ParquetOptions(Map.empty[String, String], sqlConf)
    val kv = meta.getKeyValueMetaData
    val convertTz =
      if (sqlConf.isParquetINT96TimestampConversion &&
          !meta.getCreatedBy.startsWith("parquet-mr"))
        Some(ZoneId.of(sqlConf.sessionLocalTimeZone))
      else None
    (requested, new ParquetRecordMaterializer(requested,
      ParquetReadSupport.expandUDT(schema),
      new ParquetToSparkSchemaConverter(sqlConf), convertTz,
      DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
      DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead)))
  }

  /** Render rows of `schema` one JSON object each, as `to_json` over a
    * struct of those columns renders them (positional field names,
    * null fields dropped per the session's generator setting). */
  def jsonWriter(spark: SparkSession, schema: StructType): InternalRow => String = {
    val out = new CharArrayWriter()
    val gen = new JacksonGenerator(schema, out,
      new JSONOptions(Map.empty[String, String],
        spark.sessionState.conf.sessionLocalTimeZone))
    row => {
      gen.write(row)
      gen.flush()
      val s = out.toString
      out.reset()
      s
    }
  }
}
