package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.filter.{RecordFilter, UnboundRecordFilter}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{DriverRowCodecs, ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Table-maintenance toolkit — the operational jobs a 100 TB parquet
  * lake needs between queries:
  *
  *  - **Compaction**: streaming ingest and fine-grained partitioning
  *    produce many small files; scan cost is then dominated by
  *    per-file open/footer overhead and the scheduler drowns in
  *    splits. Rewriting to size-targeted files restores scan
  *    throughput.
  *  - **File-statistics manifest**: per-file min/max of chosen
  *    columns — the data-skipping index a pruning engine consults
  *    (and the measurement that proves a [[ZOrder]] layout tightened
  *    per-file ranges).
  *  - **Schema-evolution read**: a long-lived table accretes columns;
  *    `mergeSchema` unions file schemas, null-filling late columns in
  *    early files (covered in MaintenanceSpec).
  */
object Maintenance {

  /** Rewrite a parquet directory into ~`targetBytes`-sized files.
    * File count derives from the directory's actual on-disk size, so
    * the job is one read + one write with no sampling pass. Returns
    * the rewritten file count. Writes to `outDir` — compaction into a
    * NEW location plus an atomic swap is the safe production pattern
    * (in-place rewrites lose data on job failure). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): Long = {
    // Each path resolves its OWN filesystem (s3a://, hdfs://, file://
    // can all differ from the configured default fs — and a lake
    // compaction job routinely reads one store and writes another).
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val totalBytes = inPath.getFileSystem(conf)
      .getContentSummary(inPath).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    spark.read.parquet(inDir)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outDir)
    outPath.getFileSystem(conf).listStatus(outPath)
      .count(s => s.getPath.getName.endsWith(".parquet")).toLong
  }

  /** Copy-on-write MERGE (upsert) of a keyed `updates` frame into the
    * parquet table at `inDir`, producing the next snapshot at `outDir`
    * — the Delta/Iceberg MERGE shape on plain parquet. Semantics: base
    * rows whose `key` appears in `updates` are replaced, unmatched
    * update keys are appended, everything else passes through.
    *
    * The scale property is WHICH bytes move, and WHERE: only files
    * that contain a matched key are decoded and rewritten; every other
    * file is copied through byte-for-byte IN EXECUTOR TASKS — the
    * untouched-file list is parallelized across the cluster and each
    * task streams its files executor-to-store, so the driver never
    * carries data bytes (on a filesystem whose client implements
    * server-side copy the task degrades to a metadata call; plain
    * `FileUtil.copy` otherwise streams through the task, which is
    * still cluster-parallel, not driver-serial). The touched-file list
    * comes from one semi-join of the base scan against the (distinct)
    * update keys — with clustered keys (e.g. a [[ZOrder]] layout) the
    * usual case is a handful of touched files out of thousands. The
    * driver holds only the FILE LIST (metadata scale), never rows, and
    * the rewrite filter joins that list back as a BROADCAST semi-join
    * (constant-size plan regardless of touched-file count, where an
    * `isin` literal list would grow the expression tree linearly).
    *
    * Snapshot-to-new-directory keeps the operation crash-safe: readers
    * of `inDir` see the old table until a pointer swap, the same
    * pattern [[compact]] uses. Returns (rewrittenFiles, copiedFiles);
    * copiedFiles is read from a task-side accumulator, so it counts
    * copies that actually ran in executor tasks. */
  def copyOnWriteMerge(spark: SparkSession, inDir: String, outDir: String,
                       updates: DataFrame, key: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = spark.read.parquet(inDir)
    val cols = base.columns
    require(updates.columns.sameElements(cols),
      s"updates schema ${updates.columns.toSeq} must match base ${cols.toSeq}")
    val keys = updates.select(key).distinct()
    val tagged = base.withColumn("__cow_file", input_file_name())
    // compare by file NAME (unique within a directory): input_file_name
    // is a URI whose scheme/encoding differs from FileStatus paths
    val touched = tagged.join(keys, Seq(key), "left_semi")
      .select(element_at(split(col("__cow_file"), "/"), -1))
      .distinct().collect().map(_.getString(0)).toSet
    val touchedDf = {
      import spark.implicits._
      touched.toSeq.toDF("__cow_name")
    }
    val rewritten = tagged
      .withColumn("__cow_name",
        element_at(split(col("__cow_file"), "/"), -1))
      .join(broadcast(touchedDf), Seq("__cow_name"), "left_semi")
      .drop("__cow_name", "__cow_file")
      .join(updates.select(key), Seq(key), "left_anti")
      .select(cols.map(col): _*)
      .unionByName(updates)
    rewritten.write.mode("overwrite").parquet(outDir)
    // pass untouched files through as raw bytes, in executor tasks:
    // the driver parallelizes the (metadata-scale) path list and each
    // task opens source + destination filesystems itself
    val inPath = new Path(inDir)
    val fsIn = inPath.getFileSystem(conf)
    val untouched = fsIn.listStatus(inPath)
      .filter(s => s.getPath.getName.endsWith(".parquet"))
      .filter(s => !touched.contains(s.getPath.getName))
      .map(_.getPath.toString)
    val copied = spark.sparkContext.longAccumulator("cow_copied_files")
    if (untouched.nonEmpty) {
      val serConf = new SerializableConfiguration(conf)
      val outDirStr = outDir
      spark.sparkContext
        .parallelize(untouched.toSeq, math.max(1,
          math.min(untouched.length,
            spark.sparkContext.defaultParallelism)))
        .foreach { src =>
          val srcPath = new Path(src)
          val sFs = srcPath.getFileSystem(serConf.value)
          val dstPath =
            new Path(new Path(outDirStr), "copied-" + srcPath.getName)
          val dFs = dstPath.getFileSystem(serConf.value)
          // Speculative attempts run CONCURRENTLY with the original;
          // two FileUtil.copy writers on one destination can
          // interleave partial bytes on local/posix filesystems. So
          // each attempt streams to a task-attempt-unique DOT-prefixed
          // temp (invisible to parquet readers even if leaked) and
          // RENAMES into place — rename is atomic on the supported
          // filesystems, so the destination only ever holds complete
          // bytes. A losing attempt whose rename finds the
          // destination already present just drops its temp.
          val attempt = Option(org.apache.spark.TaskContext.get())
            .map(_.taskAttemptId()).getOrElse(0L)
          val tmpPath = new Path(new Path(outDirStr),
            s".copied-${srcPath.getName}.$attempt.tmp")
          org.apache.hadoop.fs.FileUtil.copy(sFs, srcPath, dFs, tmpPath,
            false, true, serConf.value)
          if (!dFs.rename(tmpPath, dstPath)) {
            if (dFs.exists(dstPath)) dFs.delete(tmpPath, false)
            else throw new java.io.IOException(
              s"rename $tmpPath -> $dstPath failed with no winner")
          }
          copied.add(1L)
        }
    }
    (touched.size.toLong, copied.value)
  }

  /** Per-file min/max manifest for `cols` over a parquet directory —
    * one narrow scan grouped by `input_file_name()`. At scale this is
    * the skipping index: a predicate outside a file's [min, max] never
    * opens the file. Kept as the VERIFICATION oracle for
    * [[fileStatsFromFooters]] (MaintenanceSpec asserts the two produce
    * identical manifests); production builds the manifest from footers,
    * which reads no row groups at all. */
  /** Merge-on-read DELETE via a deletion-vector sidecar — the
    * complement of [[copyOnWriteMerge]]: CoW pays the rewrite at
    * WRITE time (reads stay plain scans), a deletion vector pays at
    * READ time (writes cost O(deleted)). Rows matching `predicate`
    * are recorded as (file name, row position) pairs — the relational
    * encoding of the per-file position bitmaps Delta/Iceberg attach —
    * and NO data file is touched: deleting a million rows from a
    * 100 TB table writes a million positions, not terabytes. Position
    * comes from the parquet reader's `_metadata.row_index` (stable
    * for a fixed file), file identity from the name, the same
    * within-directory convention [[copyOnWriteMerge]] uses. Returns
    * the number of positions THIS CALL wrote (not the cumulative
    * sidecar size). Appending further vectors to the same sidecar
    * directory composes: [[readWithDeletes]] removes the UNION of all
    * recorded positions, and overlapping deletes are harmless
    * (anti-join semantics are idempotent). */
  def writeDeletionVector(spark: SparkSession, tableDir: String,
      dvDir: String, predicate: org.apache.spark.sql.Column): Long = {
    // localCheckpoint: the vector is both counted and written — one
    // predicate scan, and the count reflects this call only instead
    // of re-reading the whole (growing) sidecar
    val dv = spark.read.parquet(tableDir)
      .select(col("*"), col("_metadata.file_path").as("__dv_path"),
        col("_metadata.row_index").as("__dv_pos"))
      .filter(predicate)
      .select(element_at(split(col("__dv_path"), "/"), -1).as("__dv_name"),
        col("__dv_pos"))
      .localCheckpoint()
    dv.write.mode("append").parquet(dvDir)
    dv.count()
  }

  /** The logical table under its deletion vectors: the base scan
    * anti-joined against the sidecar positions. The join key is
    * (file, position) — DV rows are bounded by deleted-row count, so
    * at a sane delete rate the DV side broadcasts and the scan never
    * shuffles; readers needing zero-cost scans back run a minor
    * compaction (rewrite surviving rows, drop the sidecar — the
    * [[compact]] write path) and the equivalence is spec-pinned. */
  def readWithDeletes(spark: SparkSession, tableDir: String,
      dvDir: String): DataFrame = {
    val base = spark.read.parquet(tableDir)
    val cols = base.columns
    val dv = spark.read.parquet(dvDir)
    base
      .select(col("*"), col("_metadata.file_path").as("__dv_path"),
        col("_metadata.row_index").as("__dv_pos"))
      .withColumn("__dv_name",
        element_at(split(col("__dv_path"), "/"), -1))
      .join(broadcast(dv), Seq("__dv_name", "__dv_pos"), "left_anti")
      .select(cols.map(col): _*)
  }

  /** q158: the merge-on-read path driven to a checkable answer — a
    * deletion vector over urgent orders is written against the
    * UNMODIFIED base table (sidecar only; data files untouched), the
    * logical table is served through [[readWithDeletes]], and the
    * served rows are aggregated per status with the recorded delete
    * count carried alongside. The oracle computes the same aggregate
    * over `orders WHERE NOT predicate` — a hash match proves the
    * sidecar removes exactly the predicate's rows, nothing else. */
  def deletionVectorQuery(spark: SparkSession, dir: String): DataFrame = {
    val dvDir = graft.sources.Scratch.dir(spark, "q158_dv")
    val tableDir = s"$dir/orders.parquet"
    // the aggregate is status-cardinality rows — localCheckpoint it
    // eagerly so the per-call sidecar can be deleted before returning
    // (the q145/q149 cleanup discipline: repeated verify/bench runs
    // must not accumulate sidecars in temp space)
    try {
      val nDeleted = writeDeletionVector(spark, tableDir, dvDir,
        col("o_orderpriority") === "1-URGENT")
      readWithDeletes(spark, tableDir, dvDir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          OlapOps.decSumCents(col("o_totalprice")).as("cents"))
        .select(col("o_orderstatus"), col("n_orders"), col("cents"),
          lit(nDeleted).as("n_deleted"))
        .orderBy("o_orderstatus")
        .localCheckpoint()
    } finally graft.sources.Scratch.delete(spark, dvDir)
  }

  /** DuckDB oracle for [[deletionVectorQuery]]. */
  def deletionVectorOracleSql: String =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 2) * 100
              AS BIGINT) AS cents,
         (SELECT CAST(count(*) AS BIGINT) FROM orders
          WHERE o_orderpriority = '1-URGENT') AS n_deleted
       FROM orders WHERE o_orderpriority <> '1-URGENT'
       GROUP BY 1 ORDER BY 1"""

  def fileStats(spark: SparkSession, dir: String,
                cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The same manifest as [[fileStats]], built from PARQUET FOOTER
    * metadata only: the file list is distributed and each task reads
    * just the footer (column-chunk statistics + row counts) — no row
    * group is ever decoded, so building the skipping index for a
    * 100 TB table costs one metadata read per file instead of a full
    * table scan (the round-4 verdict's finding #3).
    *
    * Statistics are aggregated across a file's row groups; a column
    * chunk without statistics yields nulls for that file (exactly what
    * a pruning engine must assume: cannot skip). Supported column
    * types: integral, floating, string — the types parquet stores
    * min/max for directly. */
  def fileStatsFromFooters(spark: SparkSession, dir: String,
                           cols: Seq[String]): DataFrame = {
    val files = listDataFiles(spark, dir)
    footerStatsOf(spark, files, dataSchema(spark, dir, files), cols)
  }

  /** The Spark schema of one parquet data file, read from its footer
    * on the driver: the `org.apache.spark.sql.parquet.row.metadata`
    * schema Spark's writer stamps, else the converted parquet schema
    * — Spark's own footer rule (`ParquetFileFormat.readSchemaFromFooter`),
    * minus the inference job a schema-less `spark.read.parquet` runs
    * to read that same footer in a task. The read options come from
    * the session's Hadoop conf ([[withParquet]]): a reader built
    * without the caller's conf news up a default `Configuration`,
    * which re-reads and re-parses Hadoop's XML defaults from the
    * classpath on every open — a cost a keyed lookup would pay per
    * footer. */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    withParquet(spark.sparkContext.hadoopConfiguration, path)(
      footerSchemaOf(spark, path, _))
  }

  private def footerSchemaOf(spark: SparkSession, path: Path,
      reader: ParquetFileReader): StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** THE parquet opener of this engine: `path` opened with read options
    * built from `conf` (filters, decryption, allocation), the form
    * Spark's own `ParquetFooterReader` uses, and closed after `f`.
    * Every footer and sidecar read goes through it, so none pays for a
    * fresh default `Configuration`. */
  private[graft] def withParquet[A](conf: Configuration, path: Path)(
      f: ParquetFileReader => A): A = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
    try f(reader) finally reader.close()
  }

  /** The schema of a single-schema parquet directory (every layout
    * this engine writes): [[footerSchema]] of its first data file in
    * `files`. With no data file it is Spark's own inference, so an
    * empty directory fails exactly as a schema-less read of it does. */
  private[graft] def dataSchema(spark: SparkSession, dir: String,
      files: Seq[String]): StructType =
    files.headOption.fold(spark.read.parquet(dir).schema)(
      footerSchema(spark, _))

  private[graft] def dataSchema(spark: SparkSession, dir: String): StructType =
    dataSchema(spark, dir, listDataFiles(spark, dir))

  /** The parquet DATA files under `dir` — recursive (a
    * partition-directory `k=v` layout must yield the same file set
    * the scan-based manifest sees) with HIDDEN paths (any `_`/`.`
    * prefixed component, e.g. a `_skipindex` sidecar) excluded
    * exactly as Spark's own file listing excludes them. Shared by
    * every footer-manifest builder; without the hidden filter a
    * REBUILD on an indexed directory would capture the old index's
    * own parquet in the file list, then race the overwrite that
    * deletes it (self-indexing, writeSkipIndex's round-17 re-run
    * bug). */
  private[graft] def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val dirPath = new Path(dir)
    val fsDir = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualified base so the prefix strip matches FileStatus paths
    // (file:/… vs the caller's bare /…)
    val base = fsDir.makeQualified(dirPath).toString
    val it = fsDir.listFiles(dirPath, true)
    Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
      .filter { f =>
        val rel = f.stripPrefix(base).stripPrefix("/")
        !rel.split('/').exists(c => c.startsWith("_") || c.startsWith("."))
      }.toSeq
  }

  /** The footer-manifest core over an EXPLICIT file list — shared by
    * [[fileStatsFromFooters]] (whole-directory listing) and
    * [[refreshSkipIndex]] (only the files a merge rewrote). Reads
    * footers in executor tasks; decodes no row groups. */
  private def footerStatsOf(spark: SparkSession, files: Seq[String],
      dataSchema: StructType, cols: Seq[String]): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fields = cols.map(c => dataSchema(c))
    require(fields.forall(f => f.dataType match {
      case LongType | IntegerType | ShortType | ByteType |
           DoubleType | FloatType | StringType => true
      case _ => false
    }), s"footer stats support integral/floating/string columns, got $fields")
    val outSchema = StructType(
      StructField("file", StringType, nullable = false) +:
        fields.flatMap(f => Seq(
          StructField(s"min_${f.name}", f.dataType),
          StructField(s"max_${f.name}", f.dataType))) :+
        StructField("n_rows", LongType, nullable = false))
    val conf = new SerializableConfiguration(hadoopConf)
    val colNames = cols
    val types = fields.map(_.dataType)
    val rows = spark.sparkContext
      .parallelize(files, math.max(1,
        math.min(files.size, spark.sparkContext.defaultParallelism)))
      .map { f =>
        withParquet(conf.value, new Path(f)) { reader =>
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          val nRows = blocks.map(_.getRowCount).sum
          val stats = colNames.zip(types).flatMap { case (c, dt) =>
            // Per row group: this column's chunk statistics. A chunk
            // with NO statistics forces nulls ("cannot prune"); a
            // chunk whose stats record only nulls contributes no
            // values but is NOT missing — the scan manifest's
            // min/max ignore nulls too, so an all-null row group
            // must not wipe the bounds the other groups provide.
            val perBlock = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == c).map(_.getStatistics))
            val missing = perBlock.exists(o =>
              o.isEmpty || o.get == null || o.get.isEmpty)
            val withVals =
              if (missing) Seq.empty
              else perBlock.flatten.filter(_.hasNonNullValue)
            if (withVals.isEmpty) Seq(null, null)
            else Seq(
              withVals
                .map(s => statValue(s.genericGetMin.asInstanceOf[AnyRef], dt))
                .reduceLeft(lesserOf _),
              withVals
                .map(s => statValue(s.genericGetMax.asInstanceOf[AnyRef], dt))
                .reduceLeft(greaterOf _))
          }
          Row.fromSeq(f +: stats :+ nRows)
        }
      }
    spark.createDataFrame(rows, outSchema)
  }

  /** q57: the data-skipping manifest for TWO layouts of the event
    * stream over the same (event, time) dimensions — the query-surface
    * proof of [[ZOrder]]'s pruning claim, previously asserted only at
    * unit scale on written files.
    *
    * Each output row is one would-be file (a contiguous key range):
    * `linear` buckets a plain time-sorted layout (yd div 64), `zorder`
    * buckets the Morton order (z div 2^16) — 16 buckets each, so the
    * two layouts are compared file-for-file. The z-order rows keep
    * min/max of BOTH dimensions bounded (the top z-bits pin the high
    * bits of x AND y) while the linear rows leave the event dimension
    * at full width — visible directly in the manifest, and the whole
    * computation is exact integer arithmetic the oracle SQL recomputes
    * from the same interleave constants.
    *
    * Scale shape: one scan, a 2-way explode (row count ×2, columns
    * narrow), one grouped aggregation with map-side partial combine. */
  def layoutCompareQuery(spark: SparkSession, dir: String): DataFrame = {
    val bits = 10
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"),
        // clamp: Spark div truncates, DuckDB // floors; they agree
        // only for non-negative operands
        expr("greatest(unix_millis(ts), 0L) div 60000").as("tmin"))
      .withColumn("xd", col("event_id") % (1L << bits))
      .withColumn("yd", col("tmin") % (1L << bits))
      .withColumn("z", ZOrder.zkey(col("xd"), col("yd"), bits))
    ev.select(col("xd"), col("yd"), explode(array(
        struct(lit("linear").as("layout"), expr("yd div 64").as("bucket")),
        struct(lit("zorder").as("layout"), expr("z div 65536").as("bucket"))))
        .as("lb"))
      .select(col("xd"), col("yd"),
        col("lb.layout").as("layout"), col("lb.bucket").as("bucket"))
      .groupBy("layout", "bucket")
      .agg(count(lit(1)).as("n"),
        min(col("xd")).as("min_x"), max(col("xd")).as("max_x"),
        min(col("yd")).as("min_y"), max(col("yd")).as("max_y"))
      .select(col("layout"), col("bucket"), col("n").cast("long").as("n"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"))
      .orderBy("layout", "bucket")
  }

  /** DuckDB oracle for [[layoutCompareQuery]], generated from the same
    * interleave constants (see [[ZOrder.zkeySql]]). */
  def layoutCompareOracleSql: String = {
    val bits = 10
    val z = ZOrder.zkeySql("xd", "yd", bits)
    s"""WITH e AS (SELECT event_id % ${1L << bits} AS xd,
           ((greatest(CAST(epoch_ms(ts) AS BIGINT), 0) // 60000)
             % ${1L << bits}) AS yd
         FROM events),
       k AS (SELECT xd, yd, $z AS z FROM e),
       u AS (SELECT 'linear' AS layout, yd // 64 AS bucket, xd, yd FROM k
             UNION ALL
             SELECT 'zorder', z // 65536, xd, yd FROM k)
       SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n,
         min(xd) AS min_x, max(xd) AS max_x,
         min(yd) AS min_y, max(yd) AS max_y
       FROM u GROUP BY 1, 2 ORDER BY layout, bucket"""
  }

  /** q147: the z-order PRUNING claim proven at the query surface —
    * how many of each layout's files a selective predicate actually
    * reads, computed from the q57 manifest's min/max ranges (the
    * exact skipping decision a pruning engine makes: skip a file iff
    * the predicate box misses its [min, max] on some constrained
    * column). Three predicates over the same manifest:
    *
    *  - `x_only` (xd in [100, 131]): the case a time-sorted layout
    *    CANNOT prune — every linear file spans full x width, so
    *    files_read = all; z-buckets pin the top x-bits, so only the
    *    matching x-quarter's buckets read.
    *  - `y_only` (yd in [200, 263]): the linear layout's home turf —
    *    both layouts prune here.
    *  - `xy_box` (both): conjunctive pruning, either column's miss
    *    skips the file.
    *
    * One scan building the manifest (the q57 shape), then a 3-way
    * predicate explode over 32 metadata rows — the proof costs
    * nothing beyond q57 itself, and the oracle recomputes the same
    * overlap arithmetic from the same interleave constants. */
  def pruningProofQuery(spark: SparkSession, dir: String): DataFrame = {
    val m = layoutCompareQuery(spark, dir)
    val hitX = col("max_x") >= 100 && col("min_x") <= 131
    val hitY = col("max_y") >= 200 && col("min_y") <= 263
    m.select(col("layout"), col("n"), explode(array(
        struct(lit("x_only").as("pred"), hitX.as("hit")),
        struct(lit("xy_box").as("pred"), (hitX && hitY).as("hit")),
        struct(lit("y_only").as("pred"), hitY.as("hit")))).as("p"))
      .select(col("layout"), col("n"),
        col("p.pred").as("pred"), col("p.hit").as("hit"))
      .groupBy("layout", "pred")
      .agg(count(lit(1)).as("n_files"),
        sum(col("hit").cast("long")).as("files_read"),
        sum(when(col("hit"), col("n")).otherwise(lit(0L)))
          .as("rows_read"))
      .orderBy("layout", "pred")
  }

  /** DuckDB oracle for [[pruningProofQuery]] — the q57 manifest as a
    * subquery, the same overlap tests as UNION ALL branches. */
  def pruningProofOracleSql: String =
    s"""WITH m AS ($layoutCompareOracleSql),
       u AS (SELECT layout, 'x_only' AS pred, n,
               (max_x >= 100 AND min_x <= 131) AS hit FROM m
             UNION ALL
             SELECT layout, 'xy_box', n,
               (max_x >= 100 AND min_x <= 131
                AND max_y >= 200 AND min_y <= 263) FROM m
             UNION ALL
             SELECT layout, 'y_only', n,
               (max_y >= 200 AND min_y <= 263) FROM m)
     SELECT layout, pred, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS files_read,
       CAST(sum(CASE WHEN hit THEN n ELSE 0 END) AS BIGINT)
         AS rows_read
     FROM u GROUP BY 1, 2 ORDER BY layout, pred"""

  /** Order-invariant per-partition content digest — the
    * data-versioning primitive a 100 TB lake audits with: two table
    * snapshots have equal digests per partition iff (modulo the usual
    * multiset-hash caveats) the partition's content is unchanged, so
    * an incremental pipeline can detect WHICH day-partitions a load
    * touched without row-level diffing (q91's snapshot diff is the
    * row-level tool; this is its O(partitions)-output counterpart,
    * the idea behind snapshot validation in table formats and
    * rsync-style dirty detection).
    *
    * Digest = (row count, bit_xor of row hashes, sum of row hashes
    * mod 2^61-1). XOR alone is blind to even multiplicities and SUM
    * alone to reorderings of the same multiset sum; the triple closes
    * the cheap failure modes while every accumulator stays O(1),
    * commutative, and exactly portable. The row hash covers the
    * stable identity+content columns (id, user, type, epoch-ms) —
    * doubles are excluded because their string forms are not
    * engine-portable. Scale shape: one scan, one map-side-combinable
    * aggregation keyed by day; output rows = |days|. */
  def partitionDigest(events: DataFrame): DataFrame = {
    val h = graft.functions.TextFunctions.portableHash60(
      concat_ws("|", col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts"))))
    events
      .select(expr("year(ts) * 10000 + month(ts) * 100 + day(ts)")
        .cast("long").as("day"), h.as("h"))
      .groupBy("day")
      .agg(count(lit(1)).cast("long").as("n"),
        expr("bit_xor(h)").as("xor_digest"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 2305843009213693951" +
          " AS BIGINT)").as("sum_digest"))
      .orderBy("day")
  }

  /** q189: the digest table of events by day. */
  def partitionDigestQuery(spark: SparkSession, dir: String): DataFrame =
    partitionDigest(graft.sources.Tables.events(spark, dir))

  /** DuckDB oracle for [[partitionDigestQuery]]. */
  def partitionDigestOracleSql: String =
    "WITH " + digestCtes("events", "r", "d") +
    " SELECT day, n, xor_digest, sum_digest FROM d ORDER BY day"

  /** The two digest CTEs (row hash, per-day accumulators) over `rel`,
    * with caller-chosen CTE names so two snapshots can coexist in one
    * WITH clause. */
  private def digestCtes(rel: String, rName: String,
                         dName: String): String =
    s"""$rName AS (SELECT
           CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS BIGINT)
             AS day,
           CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id,
             event_type, epoch_ms(ts))), 1, 15)) AS BIGINT) AS h
         FROM $rel),
       $dName AS (SELECT day, CAST(count(*) AS BIGINT) AS n,
           CAST(bit_xor(h) AS BIGINT) AS xor_digest,
           CAST(sum(h) % 2305843009213693951 AS BIGINT) AS sum_digest
         FROM $rName GROUP BY 1)"""

  /** q190: partition drift detection between two snapshots — the
    * "before" snapshot drops a deterministic slice (event_id ≡ 0
    * mod 997, a stand-in for the rows an incremental load appended),
    * and comparing per-day digests flags exactly the day-partitions
    * the load touched. A downstream job then reprocesses ONLY those —
    * digest comparison is how that reprocess set is found without a
    * row-level diff of the whole table. Full-outer on day so
    * partitions present in only one snapshot still report. */
  def partitionDriftQuery(spark: SparkSession, dir: String): DataFrame = {
    val full = graft.sources.Tables.events(spark, dir)
    val before = full.filter(pmod(col("event_id"), lit(997L)) =!= 0)
    val a = partitionDigest(before).withColumnRenamed("n", "n_before")
      .withColumnRenamed("xor_digest", "xa")
      .withColumnRenamed("sum_digest", "sa")
    val b = partitionDigest(full).withColumnRenamed("n", "n_after")
      .withColumnRenamed("xor_digest", "xb")
      .withColumnRenamed("sum_digest", "sb")
    a.join(b, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        when(col("xa") <=> col("xb") && col("sa") <=> col("sb") &&
          col("n_before") <=> col("n_after"), 0).otherwise(1)
          .cast("int").as("changed"))
      .orderBy("day")
  }

  /** DuckDB oracle for [[partitionDriftQuery]]. */
  def partitionDriftOracleSql: String = {
    val ctes =
      digestCtes("(SELECT * FROM events WHERE event_id % 997 <> 0)",
        "ra", "da") + ",\n" + digestCtes("events", "rb", "db")
    s"""WITH $ctes
     SELECT coalesce(da.day, db.day) AS day,
       CAST(coalesce(da.n, 0) AS BIGINT) AS n_before,
       CAST(coalesce(db.n, 0) AS BIGINT) AS n_after,
       CAST(CASE WHEN da.xor_digest IS NOT DISTINCT FROM db.xor_digest
           AND da.sum_digest IS NOT DISTINCT FROM db.sum_digest
           AND da.n IS NOT DISTINCT FROM db.n
         THEN 0 ELSE 1 END AS INT) AS changed
     FROM da FULL OUTER JOIN db ON da.day = db.day
     ORDER BY day"""
  }

  /** Parquet statistics value → Spark external type. Parquet stores
    * smallint/tinyint columns as INT32, so their stats come back as
    * java.lang.Integer and must narrow to the declared Short/Byte
    * (createDataFrame rejects an Integer for a ShortType field). */
  private def statValue(v: AnyRef, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      b.toStringUsingUTF8
    case (x: java.lang.Integer, ShortType) => x.shortValue()
    case (x: java.lang.Integer, ByteType) => x.byteValue()
    case (x, _) => x
  }

  /** Cross-row-group ordering. Strings compare in UTF-8 unsigned byte
    * order — the order parquet binary statistics and Spark's
    * UTF8String min/max use; java String.compareTo (UTF-16 code
    * units) disagrees for supplementary-plane characters, which would
    * let the footer manifest pick a different file min/max than the
    * scan-based oracle. */
  private def cmpStat(a: Any, b: Any): Int = (a, b) match {
    case (x: String, y: String) =>
      val xa = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ya = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(xa.length, ya.length)
      var d = 0
      while (i < n && d == 0) {
        d = (xa(i) & 0xff) - (ya(i) & 0xff)
        i += 1
      }
      if (d != 0) d else xa.length - ya.length
    case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  private def lesserOf(a: Any, b: Any): Any =
    if (cmpStat(a, b) <= 0) a else b

  private def greaterOf(a: Any, b: Any): Any =
    if (cmpStat(a, b) >= 0) a else b

  /** Incremental maintenance of a GROUPED AGGREGATE (the IVM pattern
    * q65 runs for dedup, applied to the metric rollup every serving
    * table actually is): the per-user activity aggregate is
    * materialized over the base window, then a DELTA window arrives
    * and only ITS rows are aggregated — the refresh is
    * base-table ⊎ delta-partials merged by key (sum/sum/max are all
    * commutative monoids, so partial + partial = total), never a
    * rescan of the base events. At 100 TB the refresh cost is
    * O(delta + touched groups): the delta aggregates map-side, the
    * merge joins two group-cardinality tables on their key. The split
    * is the fixture's last 7 days (the nightly-load shape); the
    * oracle recomputes the FULL aggregate from scratch, so the hash
    * match certifies the merge loses nothing — multiplicity, sums,
    * and the max over both windows. */
  def incrementalAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        col("value"))
    val (basePartials, delta) = splitPartials(ev)
    // the materialized base table — written and read back (the
    // refresh job reads a TABLE, not a plan; skipping the round-trip
    // would let Spark collapse base+delta into one scan and prove
    // nothing about the merge)
    val baseDir = graft.sources.Scratch.dirOutliving(spark, "q263_base")
    basePartials.write.mode("overwrite").parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    incrementalMerge(base, delta)
  }

  /** q263's PRE-merge stages, factored so the plan audits can inspect
    * them over a stub events frame: the 7-day broadcast-cutoff split
    * and the per-window partial aggregates. The partials carry the
    * UNROUNDED decimal sum — rounding each window to cents before
    * merging could disagree with the oracle's single grand-sum round;
    * cents materialize only after the merge (partial sums of decimals
    * are exact, so partial + partial = total holds to the last
    * digit). Input must carry (user_id, ms, value). */
  private[graft] def splitPartials(ev: DataFrame)
      : (DataFrame, DataFrame) = {
    val cutoff = ev.agg((max(col("ms")) - lit(7L * 86400000L)).as("c"))
    val split = ev.crossJoin(broadcast(cutoff))
    def aggOf(rows: DataFrame): DataFrame = rows.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,10)")).as("value_sum"),
        max(col("ms")).as("last_ms"))
    (aggOf(split.filter(col("ms") <= col("c"))),
      aggOf(split.filter(col("ms") > col("c"))))
  }

  /** q263's REFRESH stage alone: the keyed monoid merge — union the
    * two partial tables, re-aggregate per key (2 group-sized inputs —
    * one small shuffle, no base events rescan anywhere in this
    * stage's lineage). Factored so the plan audits can inspect the
    * refresh over a stub base table without executing the base
    * write. */
  def incrementalMerge(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy("user_id")
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        (round(sum(col("value_sum")), 2) * 100).cast("long")
          .as("value_cents"),
        max(col("last_ms")).cast("long").as("last_ms"))
      .orderBy("user_id")

  /** Rows the q263 base table holds (the partial-aggregate layout the
    * refresh merges). Registered with the read-back so WindowAuditSpec
    * plans the merge against a footer-only stub instead of invoking
    * the registered function (which eagerly writes the base table). */
  val incrementalAggSinkSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("n_events", LongType, nullable = false),
      StructField("value_sum", DecimalType(38, 10)),
      StructField("last_ms", LongType)))
  }

  /** Audit read-back for q263: the refresh merge planned over the
    * stubbed base table, with the DELTA side planned through the real
    * pre-merge stages ([[splitPartials]] — cutoff crossJoin + partial
    * aggregates) over an empty events-shaped frame. One frame covers
    * every stage the live refresh plans: a future unpartitioned
    * window added upstream of the merge cannot dodge the audit. */
  def incrementalAggReadBack(spark: SparkSession, baseDir: String): DataFrame = {
    val base = spark.read.parquet(baseDir)
    val evStub = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("ms", LongType), StructField("value", DoubleType))))
    incrementalMerge(base, splitPartials(evStub)._2)
  }

  /** DuckDB oracle for [[incrementalAggQuery]] — the from-scratch
    * full-window aggregate. */
  def incrementalAggOracleSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) * 100
           AS BIGINT) AS value_cents,
         CAST(max(epoch_ms(ts)) AS BIGINT) AS last_ms
       FROM events GROUP BY 1 ORDER BY user_id"""

  /** The columns [[tableStatsQuery]] profiles (name -> the exact
    * integer rendering both engines compute). */
  private val StatsCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity_cents", "l_extendedprice_cents")

  /** q267: the ANALYZE-style COLUMN STATS MANIFEST — exact row count,
    * null count, NDV, min, and max per column, the statistics that
    * drive broadcast-vs-shuffle decisions, file skipping, and CBO
    * join ordering (the reference outsources this to the warehouse's
    * automatic stats; an engine must compute its own). Exact NDV, not
    * the HLL estimate — this is the nightly stats JOB, where exactness
    * is worth one shuffle; the HLL family (q152/q215) is the serving-
    * time path.
    *
    * Scale shape: the wide table MELTS via the built-in unpivot — ONE
    * Expand over the 6-column projection, no self-joins — then one
    * (column, value) aggregation computes every statistic. Money
    * columns are profiled in exact integer cents, so min/max/NDV are
    * engine-independent. */
  def tableStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    val cents = (c: String) =>
      (round(col(c).cast("decimal(38,10)"), 2) * 100).cast("long")
    val li = graft.sources.Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("long").as("l_orderkey"),
      col("l_partkey").cast("long").as("l_partkey"),
      col("l_suppkey").cast("long").as("l_suppkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      cents("l_quantity").as("l_quantity_cents"),
      cents("l_extendedprice").as("l_extendedprice_cents"))
    columnProfile(li, StatsCols)
  }

  /** [[tableStatsQuery]]'s core: profile the given LONG columns of any
    * frame (the composable/null-testable form). */
  def columnProfile(rows: DataFrame, cols: Seq[String]): DataFrame =
    rows.unpivot(Array.empty, cols.map(col).toArray, "column", "v")
      .groupBy("column")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        (count(lit(1)) - count(col("v"))).cast("long").as("n_nulls"),
        count_distinct(col("v")).cast("long").as("n_distinct"),
        min(col("v")).cast("long").as("min_v"),
        max(col("v")).cast("long").as("max_v"))
      .orderBy("column")

  /** DuckDB oracle for [[tableStatsQuery]] — per-column exact stats,
    * unioned. */
  def tableStatsOracleSql: String = {
    val expr = Map(
      "l_orderkey" -> "l_orderkey",
      "l_partkey" -> "l_partkey",
      "l_suppkey" -> "l_suppkey",
      "l_linenumber" -> "l_linenumber",
      "l_quantity_cents" ->
        "CAST(round(CAST(l_quantity AS DECIMAL(38,10)), 2) * 100 AS BIGINT)",
      "l_extendedprice_cents" ->
        "CAST(round(CAST(l_extendedprice AS DECIMAL(38,10)), 2) * 100 AS BIGINT)")
    StatsCols.map { c =>
      val e = expr(c)
      s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
            CAST(count(*) - count($e) AS BIGINT) AS n_nulls,
            CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
            CAST(min($e) AS BIGINT) AS min_v,
            CAST(max($e) AS BIGINT) AS max_v
          FROM lineitem"""
    }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
  }

  // --------------------------------------------------------------------
  // MERGE with AUTOMATIC SCHEMA EVOLUTION (q289) — Delta's
  // mergeSchema-on-MERGE on plain parquet.
  // --------------------------------------------------------------------

  /** [[copyOnWriteMerge]] with AUTOMATIC SCHEMA EVOLUTION: the column
    * sets of base and updates may differ in both directions — columns
    * the updates ADD widen the table (surviving base rows null-fill
    * them), columns the updates MISS null-fill in the update rows (a
    * late producer that predates the column). The key column must
    * exist on both sides.
    *
    * The scale decision is WHICH path a widening merge takes: it
    * rewrites EVERY surviving base file instead of byte-copying
    * untouched ones. Byte-copy would leave one snapshot holding two
    * file schemas, pushing mergeSchema (schema union + per-file
    * reconciliation, and a footer read of every file before planning)
    * onto every future reader of every future snapshot — a permanent
    * read tax to save one write. Schema changes are rare and reads
    * are not, so the boundary batch pays once and every snapshot
    * stays single-schema, plain-readable. The widening rewrite
    * repartitions BY RANGE on the key so the post-evolution layout
    * keeps key-clustered files — which is what lets every LATER merge
    * take [[copyOnWriteMerge]]'s touched-files-only fast path again
    * (the returned (rewritten, copied) counts prove which path ran:
    * widening returns (allBaseFiles, 0); non-widening delegates and
    * byte-copies its untouched files). */
  def evolveMerge(spark: SparkSession, inDir: String, outDir: String,
                  updates: DataFrame, key: String): (Long, Long) = {
    val base = spark.read.parquet(inDir)
    require(base.columns.contains(key) && updates.columns.contains(key),
      s"key '$key' must exist on both sides")
    val added = updates.schema.fields
      .filterNot(f => base.columns.contains(f.name))
    val missing = base.schema.fields
      .filterNot(f => updates.columns.contains(f.name))
    // null-fill the direction that's always safe: update rows that
    // predate a base column
    val updFull = missing.foldLeft(updates)((d, f) =>
      d.withColumn(f.name, lit(null).cast(f.dataType)))
    if (added.isEmpty) {
      copyOnWriteMerge(spark, inDir, outDir,
        updFull.select(base.columns.map(col): _*), key)
    } else {
      val inPath = new Path(inDir)
      val fsIn = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nBaseFiles = fsIn.listStatus(inPath)
        .count(_.getPath.getName.endsWith(".parquet"))
      val widened = base.columns ++ added.map(_.name)
      val baseFull = added.foldLeft(base)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
      baseFull
        .join(updates.select(key), Seq(key), "left_anti")
        .unionByName(updFull.select(widened.map(col): _*))
        .repartitionByRange(math.max(1, nBaseFiles), col(key))
        .write.mode("overwrite").parquet(outDir)
      (nBaseFiles.toLong, 0L)
    }
  }

  /** q289: schema evolution THROUGH the merge chain — q178 covers the
    * mergeSchema SCAN (two epochs read together); this covers the
    * lakehouse WRITE side: a keyed upsert whose updates carry a new
    * column lands via [[evolveMerge]], widening the table (old rows
    * null-fill) in one single-schema snapshot, and the very next
    * merge — updates now carrying the widened schema — is back on the
    * touched-files-only fast path. Three-step chain over the shared
    * wave split:
    *
    *   v0: waves 0–1's latest-per-key (the pre-evolution table),
    *       written key-range-clustered;
    *   v1: wave 2's latest-per-key + a NEW `channel` column merged in
    *       — the widening merge (asserted: every base file rewritten,
    *       zero byte-copies, single widened schema);
    *   v2: a narrow key-range slice of v1 re-merged IDENTICALLY — the
    *       post-evolution fast path (asserted: byte-copies ran, i.e.
    *       the evolution did not permanently degrade merges; identical
    *       rows keep the oracle the v1 state).
    *
    * Oracle: per user the wave≤1 argmax full-outer-joined with the
    * wave-2 argmax — updated users carry ver/type/channel from wave 2,
    * untouched users keep their old row with a NULL channel. */
  def evolveMergeQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val drop = graft.streaming.UpsertStream.stageUpsertWaves(spark, dir)
    // latest-per-key over the named wave files (explicit paths — a
    // glob would draw FileStreamSink's noisy metadata probe)
    def wave(ks: Seq[Int]): DataFrame =
      spark.read.schema(graft.streaming.DocStream.docSchema)
        .json(ks.map(k => s"$drop/wave$k.json"): _*)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("ts").desc)))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), unix_millis(col("ts")).as("ver"),
          col("text"))
    val v0 = graft.sources.Scratch.dir(spark, "q289_v0")
    val v1 = graft.sources.Scratch.dir(spark, "q289_v1")
    val v2 = graft.sources.Scratch.dir(spark, "q289_v2")
    try {
      wave(Seq(0, 1)).repartitionByRange(8, col("doc_id"))
        .write.mode("overwrite").parquet(v0)
      // the WIDENING merge: wave 2's rows arrive with a new column
      val updates = wave(Seq(2))
        .withColumn("channel", upper(col("text")))
      val (rw, cp) = evolveMerge(spark, v0, v1, updates, "doc_id")
      val nV0Files = {
        val p = new Path(v0)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
      }
      require(rw == nV0Files && cp == 0L,
        s"q289 widening merge must rewrite all $nV0Files base files " +
          s"(saw rewritten=$rw copied=$cp)")
      val widened = spark.read.parquet(v1)
      require(widened.columns.toSeq ==
        Seq("doc_id", "ver", "text", "channel"),
        s"q289 widened schema is ${widened.columns.toSeq}")
      // the post-evolution FAST PATH: re-merge a narrow key slice of
      // v1 verbatim — identical rows, so the state (and the oracle)
      // is unchanged, but the counts prove touched-files-only ran
      val bounds = widened.agg(min("doc_id"), max("doc_id")).head
      val cut = bounds.getLong(0) +
        (bounds.getLong(1) - bounds.getLong(0)) / 16
      val slice = widened.filter(col("doc_id") <= cut).localCheckpoint()
      val (rw2, cp2) = evolveMerge(spark, v1, v2, slice, "doc_id")
      require(cp2 > 0L,
        s"q289 post-evolution merge byte-copied nothing (rewritten=" +
          s"$rw2) — evolution must not evict the fast path")
      // pin the answer before the finally-block deletes the per-call
      // snapshot dirs (the q158 cleanup discipline)
      evolveMergeReadBack(spark, v2).localCheckpoint()
    } finally {
      graft.sources.Scratch.delete(spark, v0)
      graft.sources.Scratch.delete(spark, v1)
      graft.sources.Scratch.delete(spark, v2)
    }
  }

  /** q289's read-back over the final snapshot directory. */
  def evolveMergeReadBack(spark: SparkSession, snapshot: String): DataFrame =
    spark.read.parquet(snapshot)
      .select(col("doc_id").cast("long").as("user_id"),
        col("ver").cast("long").as("ver"),
        col("text").as("latest_type"), col("channel"))
      .orderBy("user_id")

  /** Rows a q289 snapshot holds (the widened doc layout). */
  val evolveMergeSinkSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ver", LongType),
    StructField("text", StringType),
    StructField("channel", StringType)))

  // --------------------------------------------------------------------
  // SKIPPING INDEX + KEYED POINT LOOKUP (q290) — the serving-edge read
  // the manifest family exists for.
  // --------------------------------------------------------------------

  /** Materialize the data-skipping index of `dir` for `cols` as a
    * parquet sidecar at `dir/_skipindex` — built once from footers
    * ([[fileStatsFromFooters]], no row groups read), consulted on
    * every lookup. The leading underscore keeps it INVISIBLE to plain
    * parquet readers of the table (the `_spark_metadata` convention),
    * so serving a table with an index and serving one without are the
    * same read path. Returns the indexed file count. RE-RUNNABLE: the
    * manifest excludes hidden paths, so a rebuild on an
    * already-indexed directory never captures (or self-indexes) the
    * old sidecar it is about to overwrite. At 100 TB the
    * index is file-count rows (metadata scale) while the table is
    * data scale — this is the separation that makes a keyed read
    * O(matching files), not O(table). */
  def writeSkipIndex(spark: SparkSession, dir: String,
                     cols: Seq[String]): Long = {
    // ZERO-ROW files are excluded: they can never hold a probe, but
    // their (null, null) stats would make them unprunable candidates
    // that every lookup opens for nothing (a shuffle writing fewer
    // non-empty partitions than tasks leaves such files routinely)
    val idx = fileStatsFromFooters(spark, dir, cols)
      .filter(col("n_rows") > 0)
    idx.coalesce(1).write.mode("overwrite").parquet(s"$dir/_skipindex")
    idx.count()
  }

  /** The most candidate row-group bytes (compressed, as the footers
    * state them) a [[pointLookup]] decodes on the driver before it
    * declines. Above it the read belongs on cancellable Spark jobs. */
  val PointLookupMaxBytes: Long = 16L << 20

  /** What a driver-side [[pointLookup]] found: the rows whose key
    * equals the probe (copies, in file order), the candidate files
    * opened, the files the index covers, and the row groups decoded. */
  final case class PointRows(rows: IndexedSeq[InternalRow], opened: Long,
      total: Long, groupsRead: Int)

  /** Keyed POINT LOOKUP on the skipping index of `dir`, whose data
    * files are `files`, served on the driver with no Spark job. The
    * `_skipindex` rows ([[skipIndexRows]], read once) pick the
    * candidate files by the shared rule ([[candidateFiles]]); in each
    * candidate, a row group whose key-column chunk statistics exclude
    * `value` is skipped (a chunk without statistics is read, an
    * all-null chunk never matches), and the rest are read through
    * [[withParquet]]: the key column picks the records whose key
    * equals `value` (a null key never matches) and only those are
    * decoded, by Spark's own Parquet row converter under `schema`, so
    * INT96 and rebase rules are exactly a scan's ([[DriverRowCodecs]]).
    * Files with missing stats cannot be pruned and stay candidates —
    * absence of evidence never drops data — and on a key-clustered
    * layout a lookup opens ~1 file whatever the table's size.
    *
    * Left when it declines: the files a Spark scan filtered on the key
    * must open instead. Those are the candidates when their admitted
    * row groups exceed `maxBytes` (files are decoded as they are
    * opened, so at most `maxBytes` are read before the decline), and
    * every data file, `files`, when `key` is not a bigint column of
    * `schema` or no index covers it. No metadata is cached: a sidecar
    * can be rewritten on a committed snapshot. */
  def pointLookup(spark: SparkSession, dir: String, files: Seq[String],
      key: String, value: Long, schema: StructType,
      maxBytes: Long): Either[Seq[String], PointRows] = {
    if (!schema.find(_.name == key).exists(_.dataType == LongType))
      return Left(files)
    val idx = skipIndexRows(spark, dir, key) match {
      case Some(i) => i
      case None => return Left(files)
    }
    val cand = candidateFiles(idx, value)
    val conf = spark.sparkContext.hadoopConfiguration
    var bytes = 0L
    var groups = 0
    val rows = IndexedSeq.newBuilder[InternalRow]
    val fits = cand.forall { file =>
      withParquet(conf, new Path(file)) { reader =>
        val footer = reader.getFooter
        val admitted = reader.getRowGroups.asScala.zipWithIndex.collect {
          case (b, i) if admits(b, key, value) => (b, i)
        }
        bytes += admitted.map(_._1.getCompressedSize).sum
        bytes <= maxBytes && {
          val (requested, mat) = DriverRowCodecs.materializer(spark, footer, schema)
          reader.setRequestedSchema(requested)
          val io = new ColumnIOFactory(footer.getFileMetaData.getCreatedBy)
            .getColumnIO(requested, footer.getFileMetaData.getSchema, true)
          admitted.foreach { case (_, i) =>
            val records = io.getRecordReader(reader.readRowGroup(i), mat,
              keyEquals(key, value))
            Iterator.continually(records.read()).takeWhile(_ != null)
              .foreach(rows += _.copy())
            groups += 1
          }
          true
        }
      }
    }
    if (fits) Right(PointRows(rows.result(), cand.length.toLong,
      idx.length.toLong, groups))
    else Left(cand)
  }

  /** A record filter passing only the records whose top-level bigint
    * `key` equals `value`. It reads the key column alone, so the
    * records it rejects are skipped without being assembled into
    * rows; a null key is rejected before its value is read. */
  private def keyEquals(key: String, value: Long): FilterCompat.Filter =
    FilterCompat.get(new UnboundRecordFilter {
      def bind(readers: java.lang.Iterable[ColumnReader]): RecordFilter = {
        val c = readers.asScala.find(_.getDescriptor.getPath.sameElements(
          Array(key))).get
        val defined = c.getDescriptor.getMaxDefinitionLevel
        () => c.getCurrentDefinitionLevel == defined && c.getLong == value
      }
    })

  /** Whether row group `b` may hold `value` in bigint column `key`:
    * its chunk statistics admit it, or it has none to go by. */
  private def admits(b: org.apache.parquet.hadoop.metadata.BlockMetaData,
      key: String, value: Long): Boolean =
    b.getColumns.asScala.find(_.getPath.toDotString == key)
      .map(_.getStatistics).forall {
        case s: LongStatistics if !s.isEmpty =>
          s.hasNonNullValue && s.getMin <= value && value <= s.getMax
        case _ => true
      }

  /** The `_skipindex` rows of `dir` for `key`, shaped (file, min_key,
    * max_key) for [[candidateFiles]], read on the driver through
    * [[withParquet]] — no Spark job, and one open per part file: the
    * first part's footer decides coverage and the same open reads its
    * rows. None when the sidecar has no part file (absent, or a torn
    * write) or its footer does not carry `min_key`/`max_key` as bigint
    * columns: the index does not cover the key, and [[pointLookup]]
    * names every data file for the scan. */
  private[graft] def skipIndexRows(spark: SparkSession, dir: String,
      key: String): Option[IndexedSeq[Row]] = {
    val idxDir = new Path(s"$dir/_skipindex")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = idxDir.getFileSystem(conf)
    val parts =
      if (!fs.exists(idxDir)) Seq.empty
      else fs.listStatus(idxDir).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq
    val (lo, hi) = (s"min_$key", s"max_$key")
    def bound(g: Group, c: String): Any =
      if (g.getFieldRepetitionCount(c) == 0) null else g.getLong(c, 0)
    def rows(reader: ParquetFileReader): IndexedSeq[Row] =
      groupsOf(reader)
        .map(g => Row(g.getString("file", 0), bound(g, lo), bound(g, hi)))
        .toIndexedSeq
    parts.headOption.flatMap { head =>
      withParquet(conf, head) { reader =>
        val s = footerSchemaOf(spark, head, reader)
        Option.when(Seq(lo, hi).forall(c =>
          s.find(_.name == c).exists(_.dataType == LongType)))(rows(reader))
      }
    }.map(_ ++ parts.tail.flatMap(withParquet(conf, _)(rows)))
  }

  /** Every record of an open parquet file as an example `Group`, row
    * group by row group, under the file's own schema — what
    * parquet-mr's `GroupReadSupport` reader yields, without opening the
    * file a second time. Consume it before the reader closes. */
  private def groupsOf(reader: ParquetFileReader): Iterator[Group] = {
    val schema = reader.getFooter.getFileMetaData.getSchema
    val io = new ColumnIOFactory().getColumnIO(schema)
    Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
      .flatMap { store =>
        val records = io.getRecordReader(store, new GroupRecordConverter(schema))
        Iterator.fill(store.getRowCount.toInt)(records.read())
      }
  }

  /** THE candidate-selection rule of the skipping index, defined once
    * over collected index rows shaped (file, min, max): a file whose
    * [min, max] admits the probe stays, and a file with missing stats
    * CANNOT be pruned — absence of evidence never drops data. Shared
    * by the serving primitive ([[pointLookup]], whose driver read and
    * whose over-cap scan both open exactly these files) and the probe
    * proof loop so they cannot drift (a duplicated predicate would be
    * a latent divergence); pinned by MaintenanceSpec's
    * candidate-parity case. */
  private[graft] def candidateFiles(idx: Seq[Row], key: Long): Seq[String] =
    idx.filter(r => r.isNullAt(1) || r.isNullAt(2) ||
      (r.getLong(1) <= key && r.getLong(2) >= key)).map(_.getString(0))

  /** INCREMENTAL skip-index maintenance through a
    * [[copyOnWriteMerge]]: build `newDir/_skipindex` from `oldDir`'s
    * index plus footers of ONLY the files the merge rewrote. The
    * merge byte-copies untouched files as `copied-<oldname>` —
    * byte-identical, so their footer stats are byte-identical too and
    * the old index rows are INHERITED with just the path rewritten;
    * only the genuinely new part files pay a footer read. Returns
    * (inherited, reRead). At 100 TB this is the difference between
    * index maintenance costing O(changed files) per merge and
    * re-reading every footer of a million-file table: the metadata
    * stays as incremental as the data. A copied file missing from the
    * old index (it was built before that file existed, or never
    * built) degrades to a footer read, never a gap. */
  def refreshSkipIndex(spark: SparkSession, oldDir: String,
      newDir: String, cols: Seq[String]): (Long, Long) = {
    val expected = "file" +:
      cols.flatMap(c => Seq(s"min_$c", s"max_$c")) :+ "n_rows"
    // same listing as the rebuild path (recursive, hidden-filtered):
    // refresh ≡ rebuild must hold on every layout writeSkipIndex
    // supports, including partition-directory (k=v) trees
    val newFiles = listDataFiles(spark, newDir).map(new Path(_))
    val oldIdxPath = new Path(s"$oldDir/_skipindex")
    val fsOld = oldIdxPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a never-indexed oldDir degrades to "nothing inherited" — every
    // file is footer-read, exactly the documented no-gap contract
    val oldByName: Map[String, Row] =
      if (!fsOld.exists(oldIdxPath)) Map.empty
      else {
        val old = spark.read.parquet(oldIdxPath.toString)
        require(old.columns.toSeq == expected,
          s"old index covers ${old.columns.toSeq}, refresh asked for " +
            s"$expected — rebuild instead of refreshing across a " +
            "column-set change")
        old.collect() // file-count rows: driver metadata
          .map(r => r.getString(0).split('/').last -> r).toMap
      }
    val (inherited, toRead) = newFiles.partition { p =>
      p.getName.startsWith("copied-") &&
        oldByName.contains(p.getName.stripPrefix("copied-"))
    }
    val inheritedRows = inherited.map { p =>
      val o = oldByName(p.getName.stripPrefix("copied-"))
      Row.fromSeq(p.toString +: o.toSeq.tail)
    }
    // zero-row rewritten files are excluded exactly as writeSkipIndex
    // excludes them (refresh ≡ rebuild must hold row-for-row); the
    // inherited side can't carry any — the old index never indexed one
    val fresh = footerStatsOf(spark, toRead.map(_.toString),
      dataSchema(spark, newDir, newFiles.map(_.toString)), cols)
      .filter(col("n_rows") > 0)
    val idx = fresh.unionByName(
      spark.createDataFrame(
        spark.sparkContext.parallelize(inheritedRows, 1), fresh.schema))
    idx.coalesce(1).write.mode("overwrite")
      .parquet(s"$newDir/_skipindex")
    (inherited.size.toLong, toRead.size.toLong)
  }

  /** The probe discipline the lookup family shares (q290/q292): the
    * 12 smallest user ids divisible by 7 (a rule the oracles
    * recompute), each answered by a Spark scan of exactly its
    * [[candidateFiles]] — the files the serving route's scan opens —
    * with the pruning bound asserted ON THE REAL READS — at most 2 files per
    * probe (range clustering keeps each key's admissible range to one
    * file, two on a boundary) and exactly one row back. Returns the
    * probed rows; `expectTotal` pins the index's file coverage when
    * the caller knows it. */
  private def probeThroughIndex(spark: SparkSession, table: String,
      tag: String, expectTotal: Option[Long] = None): Seq[Row] = {
    val schema = dataSchema(spark, table)
    val probes = spark.read.schema(schema).parquet(table)
      .filter(pmod(col("doc_id"), lit(7L)) === 0)
      .select("doc_id").orderBy("doc_id").limit(12)
      .collect().map(_.getLong(0))
    require(probes.nonEmpty, s"$tag found no probe keys (doc_id % 7 == 0)")
    // The sidecar is read ONCE for the whole probe set, on the driver
    // by the same reader pointLookup uses ([[skipIndexRows]]);
    // candidate selection and the pruning bound stay PER PROBE.
    val idx = skipIndexRows(spark, table, "doc_id").getOrElse(
      throw new IllegalArgumentException(
        s"$tag has no skip index over doc_id"))
    val total = idx.length.toLong
    expectTotal.foreach(n => require(total == n,
      s"$tag index covers $total of $n files"))
    val cands: Seq[(Long, Seq[String])] = probes.toIndexedSeq.map { k =>
      // THE SAME candidate rule as the serving primitive — shared code
      // ([[candidateFiles]]), not a re-implementation, so the proof
      // and pointLookup cannot drift
      val cand = candidateFiles(idx, k)
      require(cand.length <= 2,
        s"$tag probe $k opened ${cand.length} of $total files — the " +
          "clustered layout must keep a point read to ~1 file")
      (k, cand.toIndexedSeq)
    }
    // ONE action over the union of the pruned scans: each probe's
    // subtree still reads ONLY its candidate files (the real-read
    // claim is per subtree), but the 12 collect() round-trips fold
    // into a single job.
    val tagged = cands.map { case (k, cand) =>
      spark.read.schema(schema).parquet(cand: _*)
        .filter(col("doc_id") === k)
        .withColumn("__probe", lit(k))
    }.reduce(_.unionByName(_))
    val byProbe = tagged.collect().groupBy(_.getAs[Long]("__probe"))
    probes.toIndexedSeq.map { k =>
      val got = byProbe.getOrElse(k, Array.empty[Row])
      require(got.length == 1,
        s"$tag probe $k returned ${got.length} rows, expected 1")
      Row.fromSeq(got.head.toSeq.dropRight(1))
    }
  }

  /** q290: the keyed serving read end to end — latest-per-user doc
    * state written KEY-RANGE CLUSTERED (16 files), a footer-built
    * skipping index next to it, then every probe key (the 12 smallest
    * user ids divisible by 7 — a rule the oracle recomputes) answered
    * through [[probeThroughIndex]]. Asserted live, per probe: exactly one
    * row comes back and AT MOST 2 of the 16 files were opened (range
    * clustering keeps each key's admissible range to one file, two on
    * a boundary) — the pruning is measured on the real reads, not
    * inferred from the manifest. The probes' union must equal the
    * plain filtered scan row-for-row, so the oracle certifies that
    * skipping never changed an answer. */
  def pointLookupQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val table = graft.sources.Scratch.dirOutliving(spark, "q290_table")
    graft.sources.Tables.events(spark, dir)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("event_id").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id").as("doc_id"),
        col("event_id").cast("long").as("ver"),
        col("event_type").as("text"))
      .repartitionByRange(16, col("doc_id"))
      .write.mode("overwrite").parquet(table)
    val nFiles = writeSkipIndex(spark, table, Seq("doc_id"))
    val looked = probeThroughIndex(spark, table, "q290", Some(nFiles))
    // the pruned reads must agree with the plain scan, row-for-row
    val viaIndex = spark.createDataFrame(
      spark.sparkContext.parallelize(looked.toIndexedSeq),
      dataSchema(spark, table))
    val disagree = graft.FrameCheck.disagreements(
      viaIndex,
      pointLookupReadBack(spark, table)
        .select(col("user_id").as("doc_id"), col("ver"),
          col("latest_type").as("text")),
      keys = Seq("doc_id"), vals = Seq("ver", "text"))
    require(disagree == 0,
      s"q290 indexed lookups disagree with the plain scan on " +
        s"$disagree keys")
    pointLookupReadBack(spark, table)
  }

  /** q290's read-back: the plain (unindexed) answer over the doc
    * table — what the pruned reads must equal. */
  def pointLookupReadBack(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(table)
      .filter(pmod(col("doc_id"), lit(7L)) === 0)
      .orderBy("doc_id").limit(12)
      .select(col("doc_id").cast("long").as("user_id"),
        col("ver").cast("long").as("ver"),
        col("text").as("latest_type"))
      .orderBy("user_id")

  /** Rows a q290 table holds (the doc-state layout). */
  val pointLookupSinkSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ver", LongType),
    StructField("text", StringType)))

  /** q292: the skip-index LIFECYCLE — built once, then maintained
    * INCREMENTALLY through a copy-on-write merge instead of rebuilt.
    * The chain: the q290-style clustered doc table + index; a merge
    * that uppercases a narrow key-range slice (so only the files
    * holding that range rewrite — everything else byte-copies);
    * [[refreshSkipIndex]] inheriting the copied files' stats and
    * footer-reading only the rewritten ones. Asserted live:
    *
    *   1. INCREMENTAL COST: inherited > 0 and reRead < total — the
    *      refresh touched O(changed files) footers, not the table.
    *   2. REFRESH ≡ REBUILD: the refreshed index equals a from-scratch
    *      [[writeSkipIndex]] of the merged table row-for-row (file,
    *      bounds, row counts) — inheriting stats is exact because
    *      byte-copied files have byte-identical footers.
    *   3. METADATA-ONLY AGGREGATES: Σn_rows / min(min) / max(max)
    *      over the refreshed index equal count/min/max scanned from
    *      the table — the index answers the classic metadata queries
    *      without opening a data file.
    *
    * Output: the q290 probe reads served through the REFRESHED index
    * (≤2 files per probe still holds — copied files keep their
    * clustered ranges). Oracle: the probed users' argmax rows with
    * the slice's type uppercased by the merge. */
  def indexRefreshQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v0 = graft.sources.Scratch.dir(spark, "q292_v0")
    val v1 = graft.sources.Scratch.dirOutliving(spark, "q292_v1")
    try {
      graft.sources.Tables.events(spark, dir)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id").as("doc_id"),
          col("event_id").cast("long").as("ver"),
          col("event_type").as("text"))
        .repartitionByRange(16, col("doc_id"))
        .write.mode("overwrite").parquet(v0)
      val nFiles = writeSkipIndex(spark, v0, Seq("doc_id"))
      // the merge: uppercase the narrow head slice of the key range —
      // range-clustered, so only the file(s) holding it rewrite
      val t0 = spark.read.parquet(v0)
      val bounds = t0.agg(min("doc_id"), max("doc_id")).head
      val cut = bounds.getLong(0) +
        (bounds.getLong(1) - bounds.getLong(0)) / 16
      val updates = t0.filter(col("doc_id") <= cut)
        .withColumn("text", upper(col("text")))
        .localCheckpoint()
      copyOnWriteMerge(spark, v0, v1, updates, "doc_id")
      val (inherited, reRead) =
        refreshSkipIndex(spark, v0, v1, Seq("doc_id"))
      // claim 1: the refresh cost is the change, not the table
      require(inherited > 0 && reRead < nFiles,
        s"q292 refresh inherited=$inherited reRead=$reRead of $nFiles " +
          "— must be incremental")
      // the probe reads, through the REFRESHED index (before the
      // claim-2 rebuild overwrites the sidecar) — q290's discipline
      probeThroughIndex(spark, v1, "q292")
      // claim 3: metadata-only count/min/max == scanned count/min/max
      val refreshed = spark.read.parquet(s"$v1/_skipindex")
        .localCheckpoint()
      val meta = refreshed.agg(sum("n_rows"), min("min_doc_id"),
        max("max_doc_id")).head
      val scanned = spark.read.parquet(v1).agg(count(lit(1)),
        min("doc_id"), max("doc_id")).head
      require(meta.getLong(0) == scanned.getLong(0) &&
        meta.getLong(1) == scanned.getLong(1) &&
        meta.getLong(2) == scanned.getLong(2),
        s"q292 metadata aggregates $meta disagree with the scan $scanned")
      // claim 2: refresh ≡ rebuild, row-for-row (null-safe: min/max
      // are legitimately null for a file with no column statistics)
      writeSkipIndex(spark, v1, Seq("doc_id"))
      val rebuilt = spark.read.parquet(s"$v1/_skipindex")
      val idxDisagree = graft.FrameCheck.disagreementsNullSafe(
        refreshed, rebuilt, keys = Seq("file"),
        vals = Seq("min_doc_id", "max_doc_id", "n_rows"))
      require(idxDisagree == 0,
        s"q292 refreshed index disagrees with a rebuild on " +
          s"$idxDisagree files")
      indexRefreshReadBack(spark, v1).localCheckpoint()
    } finally graft.sources.Scratch.delete(spark, v0)
  }

  /** q292's read-back: the probed users' rows over the merged table —
    * q290's projection verbatim ([[pointLookupReadBack]]). */
  def indexRefreshReadBack(spark: SparkSession, table: String): DataFrame =
    pointLookupReadBack(spark, table)

  /** Rows a q292 table holds (the doc-state layout). */
  val indexRefreshSinkSchema: StructType = pointLookupSinkSchema

  /** DuckDB oracle for [[indexRefreshQuery]] — q290's probe rule over
    * the merged state: the head-slice users' type uppercased by the
    * merge, everyone else unchanged. */
  def indexRefreshOracleSql: String =
    """WITH r AS (SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
             ORDER BY event_id DESC) AS rn FROM events),
       s AS (SELECT user_id, event_id AS ver, event_type
         FROM r WHERE rn = 1),
       c AS (SELECT min(user_id) + (max(user_id) - min(user_id)) // 16
           AS cut FROM s)
     SELECT user_id, CAST(ver AS BIGINT) AS ver,
       CASE WHEN user_id <= (SELECT cut FROM c)
         THEN upper(event_type) ELSE event_type END AS latest_type
     FROM s WHERE user_id % 7 = 0 ORDER BY user_id LIMIT 12"""

  /** DuckDB oracle for [[pointLookupQuery]] — the per-user argmax
    * filtered to the same probe rule (12 smallest ids divisible by
    * 7). */
  def pointLookupOracleSql: String =
    """WITH r AS (SELECT user_id, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
             ORDER BY event_id DESC) AS rn FROM events),
       s AS (SELECT user_id, event_id AS ver, event_type AS latest_type
         FROM r WHERE rn = 1)
     SELECT user_id, CAST(ver AS BIGINT) AS ver, latest_type
     FROM s WHERE user_id % 7 = 0 ORDER BY user_id LIMIT 12"""

  /** DuckDB oracle for [[evolveMergeQuery]] — wave≤1 argmax
    * full-outer-joined with the wave-2 argmax (same ntile split as
    * the shared staging): updates win, untouched rows keep a NULL
    * channel. */
  def evolveMergeOracleSql: String =
    """WITH w AS (SELECT user_id, event_id, event_type,
           ntile(3) OVER (ORDER BY event_id, user_id) - 1 AS wave
         FROM events),
       b AS (SELECT user_id, event_id AS ver, event_type FROM
         (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY event_id DESC) AS rn FROM w WHERE wave <= 1)
         WHERE rn = 1),
       u AS (SELECT user_id, event_id AS ver, event_type,
           upper(event_type) AS channel FROM
         (SELECT *, row_number() OVER (PARTITION BY user_id
            ORDER BY event_id DESC) AS rn FROM w WHERE wave = 2)
         WHERE rn = 1)
     SELECT coalesce(u.user_id, b.user_id) AS user_id,
       CAST(coalesce(u.ver, b.ver) AS BIGINT) AS ver,
       coalesce(u.event_type, b.event_type) AS latest_type,
       u.channel AS channel
     FROM b FULL OUTER JOIN u ON b.user_id = u.user_id
     ORDER BY user_id"""
}
