package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // The scan-parallelism floor (Tables.fillCores) is inactive at the
    // driver's correctness SF — sf0.01/documents.parquet is 65 KB, under
    // the 256 KB default minBytes guard — so without this the oracle
    // would only ever cover the UNfloored plan while the bench times the
    // floored one (the r18 verification gap). Forcing the byte bar to 1
    // makes every dump here execute the repartitioned plan end-to-end;
    // results are layout-independent by spec (TablesFillCoresSpec pins
    // floor-on == floor-off), and the dump is not timed.
    val spark = Harness.session(Harness.cores, "spark.graft.scan.fillCores.minBytes" -> "1")
    new java.io.File(outDir).mkdirs()
    // cleared after each dump, as runQuery does: a later query (d6 over
    // d1/d2's relations) must not be answered from an earlier one's pins
    Harness.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
