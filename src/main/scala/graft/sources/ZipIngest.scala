package graft.sources

import java.io.{BufferedReader, IOException, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.zip.ZipFile
import org.apache.commons.compress.utils.SeekableInMemoryByteChannel
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S2: quarter-ZIP entry extraction (reference
  * airflow/dags/zip_ext_and_parq_store.py:161-199 — download a quarter
  * ZIP, open the four TSV entries `sub.txt`/`pre.txt`/`tag.txt`/
  * `num.txt`, parse each with pandas, drop duplicated columns).
  *
  * Spark-first formulation: the ZIPs are read through the built-in
  * `binaryFile` source, so a directory of quarter ZIPs becomes a
  * DataFrame of (path, bytes) and EXTRACTION ITSELF DISTRIBUTES — one
  * task per ZIP, executors decompress in parallel, no driver-side I/O.
  * At 100 TB (hundreds of quarters × entries) this is the difference
  * between a scalable ingest and a driver bottleneck. Decompression is
  * genuine per-file imperative logic, which is the one sanctioned use
  * of a typed flatMap over built-in operators. The quarter ingest
  * lists the archives once and stamps the `source_file` lineage once
  * per archive, not once per extracted row.
  *
  * Each archive is opened as a random-access ZIP (its central
  * directory, as Python's `zipfile.ZipFile` reads it), so extracting
  * an entry inflates that entry only: no earlier entry is inflated to
  * reach it, and a damaged entry elsewhere in the archive does not
  * stop its neighbours. An archive whose central directory cannot be
  * read fails with its path in the message.
  *
  * Memory: `binaryFile` materializes one whole ZIP per row (Spark
  * caps rows at 2 GB); SEC quarter ZIPs are ~50-100 MB, so a task
  * holds the archive plus one inflated entry stream — the wanted
  * entry's, read line by line — which is bounded.
  *
  * Parsing matches the reference's pandas read: header row from the
  * entry itself, `\t` separator with no quoting, duplicate header
  * names resolved to the FIRST occurrence (pandas
  * `~df.columns.duplicated()`, zip_ext_and_parq_store.py:199-201 — S6),
  * missing trailing fields null. Values stay strings here;
  * [[SecIngest.typed]] applies the declared schema with try_cast
  * tolerance downstream, exactly as for pre-extracted TSVs.
  */
object ZipIngest {

  /** The four statement entries of a quarter ZIP. */
  val entryNames: Seq[String] = Seq("sub.txt", "pre.txt", "tag.txt", "num.txt")

  /** Read one named TSV entry out of every ZIP matched by `zipGlob`
    * into a string-typed DataFrame with `columns` plus a `source_zip`
    * lineage column (the archive's path). Column matching against the
    * entry's own header is case-insensitive, first-occurrence-wins. */
  def readZipTsv(spark: SparkSession, zipGlob: String, entry: String,
                 columns: Seq[String]): DataFrame =
    entryRows(spark.read.format("binaryFile").load(zipGlob)
      .select(col("path").as("source_zip"), col("content"), col("path")),
      entry, columns)

  /** The rows of `entry` in every archive of `archives`, a frame of
    * (lineage string, ZIP bytes, archive path): `columns` plus the
    * lineage column, named as in `archives` and carried unchanged onto
    * each row. */
  private def entryRows(archives: DataFrame, entry: String,
                        columns: Seq[String]): DataFrame = {
    val outSchema = StructType(
      columns.map(StructField(_, StringType, nullable = true)) :+
        StructField(archives.columns.head, StringType, nullable = true))
    val colsIdx = columns.toIndexedSeq
    archives.flatMap { row =>
      val lineage = row.getString(0)
      val zip =
        try ZipFile.builder().setSeekableByteChannel(
          new SeekableInMemoryByteChannel(row.getAs[Array[Byte]](1))).get()
        catch {
          case e: IOException => throw new IOException(
            s"cannot read the ZIP central directory of ${row.getString(2)}", e)
        }
      zip.getEntriesInPhysicalOrder(entry).asScala
        .find(!_.isDirectory) match {
        case None => zip.close(); Iterator.empty
        case Some(e) =>
          val reader = new BufferedReader(
            new InputStreamReader(zip.getInputStream(e), StandardCharsets.UTF_8))
          val header = Option(reader.readLine()).getOrElse("")
            .split("\t", -1)
          // first occurrence wins for duplicated header names (S6)
          val idx = scala.collection.mutable.Map.empty[String, Int]
          header.zipWithIndex.foreach { case (h, i) =>
            val k = h.trim.toLowerCase
            if (!idx.contains(k)) idx(k) = i
          }
          val lookup = colsIdx.map(c => idx.get(c.toLowerCase))
          // the archive closes once its entry's last line is read
          Iterator.continually(reader.readLine())
            .takeWhile { l => if (l == null) zip.close(); l != null }
            .filter(_.nonEmpty)
            .map { line =>
              val parts = line.split("\t", -1)
              val vals = lookup.map {
                case Some(i) if i < parts.length =>
                  val v = parts(i); if (v.isEmpty) null else v
                case _ => null
              }
              Row.fromSeq(vals :+ lineage)
            }
      }
    }(Encoders.row(outSchema))
  }

  /** Full S2→P1 ingest of the four entries across every quarter ZIP in
    * `zipGlob`: extract, apply the declared schema (permissive casts),
    * stamp the `source_file` lineage from the ZIP filename — the same
    * contract [[SecIngest.ingestQuarter]] provides for pre-extracted
    * TSVs (reference stamps `source_id = f"{year}Q{quarter}"`).
    * The four frames share one `binaryFile` relation, so the glob is
    * listed once; the file stem is matched once per archive against
    * its `path` (`""` when the name does not end in `.zip`) and
    * carried onto each of its rows. */
  def ingestQuarterZips(spark: SparkSession,
                        zipGlob: String): Map[String, DataFrame] = {
    val schemas = Map(
      "sub" -> SecSchemas.sub, "pre" -> SecSchemas.pre,
      "tag" -> SecSchemas.tag, "num" -> SecSchemas.num)
    val archives = spark.read.format("binaryFile").load(zipGlob)
      .select(regexp_extract(col("path"), "([^/]+)\\.zip$", 1).as("source_file"),
        col("content"), col("path"))
    schemas.map { case (name, schema) =>
      val raw = entryRows(archives, s"$name.txt", schema.fields.map(_.name).toSeq)
      val withLineage = StructType(schema.fields :+
        StructField("source_file", StringType, nullable = true))
      name -> SecIngest.typed(raw, withLineage)
    }
  }
}
