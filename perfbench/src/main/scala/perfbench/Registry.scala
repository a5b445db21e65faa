package perfbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.collection.mutable

/** `registry_scan` and `registry_build`: each listed query is built and
  * then executed once, cold, through the `noop` sink, in the list's order.
  * An op is one query's build plus execution. After each op, outside its
  * timing, the query's output is checked against its golden row count
  * and order-insensitive hash; a mismatch fails the op. */
final class Registry(names: Seq[String], sfDir: String,
    golden: Map[String, (Long, String)], tables: Seq[String]) extends Workload {

  private val queries = SparkEntry.queries
  private val seen = mutable.LinkedHashMap.empty[String, (Long, String)]

  def setup(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)

  def run(spark: SparkSession, tracer: Tracer, afterOp: () => Unit): Seq[OpResult] =
    names.zipWithIndex.map { case (name, i) =>
      val op = i + 1
      var df: DataFrame = null
      var error = ""
      val (_, secs) = Workload.timed {
        tracer.span("op", op, name) {
          try {
            df = tracer.span("build", op, name) { queries(name)(spark, sfDir) }
            tracer.span("exec", op, name) {
              df.write.format("noop").mode("overwrite").save()
            }
          } catch { case e: Throwable => error = Workload.describe(e) }
        }
      }
      // checked before the next query runs: some queries leave session
      // state (a catalog root) that a later query replaces
      if (error.isEmpty) Workload.check(spark) {
        try error = verify(name, Registry.fingerprint(df))
        catch { case e: Throwable => error = Workload.describe(e) }
      }
      spark.catalog.clearCache()
      afterOp()
      OpResult(op, name, secs, error.isEmpty, error)
    }

  private def verify(name: String, fp: (Long, String)): String = {
    seen(name) = fp
    golden.get(name) match {
      case Some(g) if g == fp => ""
      case Some(g) => s"golden mismatch: expected rows=${g._1} hash=${g._2}, got rows=${fp._1} hash=${fp._2}"
      case None => "no golden recorded for this query"
    }
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val module = Registry.moduleOf
    val perModule = Registry.modules.flatMap { case (m, _) =>
      Seq(s"queries.$m.build_s" -> tracer.seconds("build", module.get(_).contains(m)),
        s"queries.$m.exec_s" -> tracer.seconds("exec", module.get(_).contains(m)))
    }
    Map(
      "queries.build_s" -> tracer.seconds("build"),
      "queries.exec_s" -> tracer.seconds("exec"),
      "streaming.build_s" -> tracer.seconds("build", _.startsWith("q_snapshot_")),
    ) ++ perModule
  }

  override def record: Map[String, Any] = Map(
    "order" -> names,
    "fingerprints" -> seen.map { case (k, (n, h)) => k -> Map("rows" -> n, "hash" -> h) })
}

object Registry {
  /** The registry modules, with membership taken from each `.all`. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "CoreQueries" -> CoreQueries.all, "FsmQueries" -> FsmQueries.all,
    "AdvisoryQueries" -> AdvisoryQueries.all, "DataOpsQueries" -> DataOpsQueries.all,
    "AnnQueries" -> AnnQueries.all, "AnalyticsQueries" -> AnalyticsQueries.all,
    "CorpusQueries" -> CorpusQueries.all, "SqlBreadthQueries" -> SqlBreadthQueries.all,
    "ClassifierQueries" -> ClassifierQueries.all)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** Row count and an order-insensitive hash: the exact sum of the
    * 64-bit hashes of each row's JSON form. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.toJSON.select(xxhash64(col("value")).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
