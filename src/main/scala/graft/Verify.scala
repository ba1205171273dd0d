package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional: names beyond the first two args restrict the run (local
    // iteration); the driver always runs the full map
    val only = args.drop(2).toSet
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // a failing query leaves no result behind (an earlier run's matching
    // one would pass the oracle compare) and a line in verify_failures.txt
    val failures = Paths.get(s"$outDir/verify_failures.txt")
    Files.deleteIfExists(failures)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = String.valueOf(e.getMessage).replaceAll("\\s+", " ")
          System.err.println(s"[verify] $name failed: $msg")
          val res = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          res.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(res, true)
          Files.writeString(failures, s"$name\t$msg\n",
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
      }
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
