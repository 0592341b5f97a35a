package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** TSV → typed DataFrame → partitioned parquet: the Spark replacement
  * for the reference's whole ingest machinery (pandas extract,
  * zip_ext_and_parq_store.py; Snowflake COPY INTO,
  * snowflake_raw_data_loader.py:233-239 and the dbt copy_into macros).
  *
  * Semantics preserved:
  *   - permissive per-value casts: unparseable numerics become null,
  *     matching pandas `errors='coerce'` (zip_ext_and_parq_store.py:140)
  *     and value-granular `ON_ERROR=CONTINUE`;
  *   - by-name, case-insensitive column matching
  *     (`MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE`): the header row decides
  *     the mapping, missing columns become null, extras are dropped;
  *   - a constant `source_file = "{year}Q{q}"` lineage column
  *     (zip_ext_and_parq_store.py:203);
  *   - snappy parquet sink partitioned by source_file — the reference's
  *     table-per-quarter naming becomes a partition column, so quarter
  *     selection is partition pruning instead of table-name dispatch.
  */
object SecIngest {

  /** Read a headered TSV as all-strings (schema applied by [[typed]] so
    * bad values null out instead of failing the row — column-granular
    * error tolerance like the reference's). */
  def readTsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Apply a declared schema by name, case-insensitively: cast matches
    * (null on cast failure — try_cast, since Spark 4's default ANSI
    * mode would throw, and the reference's coerce/ON_ERROR=CONTINUE
    * semantics demand value-granular tolerance), null-fill missing
    * fields, drop extras. */
  def typed(raw: DataFrame, schema: StructType): DataFrame = {
    val byLower = raw.columns.map(c => c.toLowerCase -> c).toMap
    raw.select(schema.fields.toIndexedSeq.map { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(src) => col(src).try_cast(f.dataType).as(f.name)
        case None      => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  /** Full ingest of one quarter's file: TSV → typed → lineage column. */
  def ingestQuarter(spark: SparkSession, path: String, schema: StructType,
                    sourceFile: String): DataFrame =
    typed(readTsv(spark, path), schema)
      .withColumn("source_file", lit(sourceFile))

  /** Headerless ticker lookup (reference
    * ext_zip_convert_into_json_store.py:66-73). */
  def readTicker(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .schema(SecSchemas.ticker)
      .csv(path)

  /** Parquet sink partitioned by the quarter lineage column — snappy
    * (dictionary encoding is on by default), matching the reference's
    * parquet writer options (zip_ext_and_parq_store.py:209-217). At
    * scale this is the layout every query prunes against. */
  def writePartitioned(df: DataFrame, dir: String): Unit =
    df.write
      .mode("overwrite")
      .option("compression", "snappy")
      .partitionBy("source_file")
      .parquet(dir)

  /** Load back with partition pruning available on source_file. The
    * data schema comes from a data file's footer on the driver, not
    * from Spark's schema-inference job; the source_file partition
    * column is still discovered from the directory names. */
  def readPartitioned(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(graft.operators.Maintenance.dataSchema(spark, dir))
      .parquet(dir)

  /** S11: schema-only empty table (the reference materializes empty
    * typed staging tables via `SELECT CAST(NULL AS T) ... WHERE FALSE`,
    * models/staging/raw_sub_table.sql:7-45). */
  def emptyTable(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  /** S13/O5: latest-quarter discovery. The reference lists S3 prefixes
    * and takes the lexicographic max (load_json_data_snowflake.py:30-59);
    * here the quarters are values of the partition column, so discovery
    * is a metadata-only max over the partition values. */
  def latestQuarter(spark: SparkSession, dir: String): Option[String] =
    readPartitioned(spark, dir)
      .select(max(col("source_file")).as("q"))
      .collect().headOption.flatMap(r => Option(r.getString(0)))

  /** S9: JSON document sink (reference writes one doc per submission to
    * JSON_Conversion/{Y}/q{q}/, ext_zip_convert_into_json_store.py:
    * 141-148 — here one JSONL part per partition, same documents). */
  def writeDocs(docs: DataFrame, dir: String): Unit =
    docs.write.mode("overwrite").json(dir)

  /** S10: JSON → typed load with pattern filter (reference
    * `COPY INTO ... PATTERN='.*\\.json'`,
    * load_json_data_snowflake.py:143-149): explicit schema on read —
    * never inferSchema — plus pathGlobFilter for the pattern. */
  def readDocs(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("pathGlobFilter", "*.json")
      .option("mode", "PERMISSIVE")
      .json(dir)
}
