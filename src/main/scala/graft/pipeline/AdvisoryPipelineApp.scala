package graft.pipeline

import graft.Sessions
import graft.enrichment.{JdkHttpTransport, NvdConfig}
import graft.io.TableIO
import graft.schemas.AdvisorySchemas

import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}

/** Runnable driver for the full advisory pipeline against live sources
  * (reference: run.py:29-74). Usage:
  *
  *   runMain graft.pipeline.AdvisoryPipelineApp <basePath> <advisoryUrl>
  *     [jdbcUrl jdbcTable]
  *
  * Overrides come from PostgreSQL when JDBC args are given, else an
  * empty table (TableIO's missing-input tolerance makes the first run
  * work with nothing in place).
  */
object AdvisoryPipelineApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <basePath> <advisoryUrl> [jdbcUrl jdbcTable]")
    val Array(basePath, advisoryUrl) = args.take(2)
    val spark = Sessions.local("advisory-pipeline", defaultCpus = 32)

    val runId = ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val config = PipelineConfig.fromDefaults(runId, basePath)
    Pipelines.configure(spark, config)
    val transport = new JdkHttpTransport()
    val overrides =
      if (args.length >= 4) {
        val props = new java.util.Properties()
        sys.env.get("PGUSER").foreach(props.setProperty("user", _))
        sys.env.get("PGPASSWORD").foreach(props.setProperty("password", _))
        props.setProperty("driver", "org.postgresql.Driver")
        TableIO.readJdbc(spark, args(2), args(3),
          AdvisorySchemas.notApplicableCves, props)
      } else TableIO.emptyTable(spark, AdvisorySchemas.notApplicableCves)

    val prod = Pipelines.run(spark, config, transport,
      NvdConfig(apiKey = sys.env.get("NVD_API_KEY")), advisoryUrl, overrides)
    println(s"[pipeline] run_id=$runId prod rows=${prod.count()}")
    spark.stop()
  }
}
