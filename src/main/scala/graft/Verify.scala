package graft
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.execution.window.WindowExec

import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these queries (local iteration; the
    // driver always passes exactly two args -> full run). Unknown names
    // fail fast — a typo'd subset would otherwise run zero queries and
    // read as a false-green verification.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local("graft-verify", defaultCpus = 4)
    // the _serial_oracle twins' global windows are deliberate: mute their warning
    Configurator.setLevel(classOf[WindowExec].getName, Level.ERROR)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop any persist() a query registered (e.g. the upsert's merge)
      spark.catalog.clearCache()
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
    // the checker's expected-set contract (r12): a query that FAILED
    // above leaves no output dir, and the checker must count it as a
    // failure rather than silently narrowing the checked set — so the
    // run records exactly which queries it was asked for (subset runs
    // list the subset; full runs list the whole registry)
    val asked = (if (only.isEmpty) SparkEntry.queries.keySet else only)
      .toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/requested.json"),
      asked.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
