package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/verify_local.py
  * verify). A query that throws is named with its stack trace on stderr;
  * oracle_sql.json is still written, then the run exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q_a,q_b narrows the dump for focused iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed:")
          e.printStackTrace()
          Some(s"$name (${e.getClass.getName})")
        }
      // this loop runs every query in ONE JVM: without a release the
      // persisted blocks and memory-sink views of every preceding query
      // stay resident for the whole dump
      Session.release(spark)
      failure
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
