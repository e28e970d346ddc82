package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracle.py).
  *
  * A query that throws is logged and skipped (the loop continues, the
  * exit code stays 0), but never silently: `failures.json` maps each
  * failed query to the first line of its error, and the last stdout line
  * is `[verify] <ok> ok, <failed> failed`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter (local iteration)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"); name -> None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name -> Some(Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          .getOrElse(e.getClass.getName))
      }
    }
    val failures = ran.collect { case (name, Some(err)) => name -> err }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    println(s"[verify] ${ran.size - failures.size} ok, ${failures.size} failed")
    spark.stop()
  }
}
