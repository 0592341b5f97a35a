package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameFilter] — the optional comma-separated
    // prefix filter is a local-iteration convenience; the driver always
    // passes exactly two args and gets every registered query.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    val spark = BenchSession.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(ps => ps.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      // queries are independent: the previous query's parquet dump
      // completed, so nothing lazy still reads its pinned blocks or
      // outliving scratch dirs (q145's monitor sink, q149's sunk table)
      BenchSession.dropPinnedBlocks(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the oracle SQL would otherwise make a consumer's
    // json.load fail and silently zero the correctness check.
    def q(s: String): String = "\"" + Bench.escJson(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.streaming.StagedDrops.cleanup(spark)
    graft.sources.Scratch.sweep(spark)
    spark.stop()
  }
}
