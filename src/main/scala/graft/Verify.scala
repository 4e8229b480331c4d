package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). Runs on the
  * library session ([[Tables.session]]): correctness is split-size-independent. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Tables.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Optional subset (same contract as Bench's SPARK_GRAFT_BENCH_ONLY):
    // builder-side targeted oracle checks after touching one operator. The
    // driver's gate runs without the env var and always dumps everything.
    val only = Bench.subset("SPARK_GRAFT_VERIFY_ONLY")
    SparkEntry.queries
      .filter { case (name, _) => Bench.kept(only)(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
    }
    // Failure marker: a query that throws must surface as an explicit err
    // row in the driver's correctness artifact, not silently vanish from
    // the output dir (round 10 shrank 92→60 rows with nothing flagging it).
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      graft.sources.MiniYaml.toJson(failures.toMap))
    // Shared JSON renderer (escapes backslash, quote, and ALL control chars —
    // a tab or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness).
    val json = graft.sources.MiniYaml.toJson(SparkEntry.oracleSql)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
