package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the product mains: [[Bench]], [[Verify]],
  * [[graft.pipeline.AdvisoryPipelineApp]] and
  * [[graft.pipeline.CorpusPipelineApp]]. A setting only one main needs
  * is set at that main's call site.
  */
object Sessions {

  /** What every main's session runs with on `cpus` local cores: one
    * shuffle partition per core (AQE coalesces from there) and UTC
    * session time. The codegen cache holds 5000 entries (Spark's
    * default is 100): the registry's queries compile several codegen
    * units each, and at 100 a query revisited later in the run would
    * recompile classes already evicted. */
  def settings(appName: String, cpus: Int): Map[String, String] = Map(
    "spark.app.name" -> appName,
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
  )

  /** A session under [[settings]] with `SPARK_GRAFT_CPUS` cores (else
    * `defaultCpus`), logging at WARN. `SPARK_GRAFT_MASTER` replaces the
    * local master, e.g. to run on a cluster. The Spark UI stays on here;
    * `build.sbt` turns it off for runs under sbt. */
  def local(appName: String, defaultCpus: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCpus)(_.toInt)
    val conf = settings(appName, cpus) ++
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _)
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
