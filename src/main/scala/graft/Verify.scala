package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is printed to stderr and named in failures.json (query → message,
  * `{}` when every query ran); the run carries on and the exit code does
  * not change. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional: restrict to named queries
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
      Measure.releaseResiduals(spark) // the same block release as Bench
    }
    def jsonMap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${JsonEscape(k)}: ${JsonEscape(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonMap(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonMap(failures))
    spark.stop()
  }
}
