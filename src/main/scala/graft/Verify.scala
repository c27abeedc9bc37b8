package graft
import graft.ingest.Fs
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check.py`). `outDir`
  * may be any Hadoop path. Each query's jobs carry its name as their job
  * description. Exits non-zero, naming them, when any query throws. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt, cpus, "graft-verify", "WARN")
    Fs.mkdirs(outDir)
    // a failing query must not hide the others' results: every query
    // runs, and the failures fail the process once everything is written
    val failed = SparkEntry.queries.flatMap { case (name, fn) =>
      spark.sparkContext.setJobDescription(name)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // FlatJson escapes quotes, backslashes and ALL control chars (<0x20):
    // a tab or CR in the SQL would otherwise fail the checker's json.load
    Fs.replace(s"$outDir/oracle_sql.json", graft.index.FlatJson.render(SparkEntry.oracleSql))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
