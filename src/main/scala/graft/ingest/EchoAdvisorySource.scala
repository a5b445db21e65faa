package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import graft.enrichment.HttpTransport
import graft.io.TableIO
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Echo advisory HTTP JSON feed ingest (reference:
  * src/advisory_pipeline/ingest/fetch/echo_advisory/fetch.py:16-98).
  *
  * The feed shape is `{package: {"CVE-...": {"fixed_version": v}}}`.
  * Two flatten paths are provided:
  *
  *   - [[flattenDriverSide]] — the reference's shape: parse + flatten on
  *     the driver, `createDataFrame`. Right for feeds that fit in driver
  *     memory (the real feed is 40k rows).
  *   - [[flattenDistributed]] — the 100 TB posture: the raw JSON text
  *     goes into a Dataset and is flattened with `from_json` into a
  *     nested MapType + two `explode`s, entirely on executors. Use when
  *     the feed is a directory of large JSON documents.
  */
object EchoAdvisorySource {

  private val mapper = new ObjectMapper()

  /** Driver-side flatten with the reference's skip rules: non-object
    * package values are skipped, and only keys starting with "CVE-"
    * count; fixed_version comes from the nested object if present. */
  def flattenDriverSide(jsonText: String): Seq[(String, String, Option[String])] = {
    val root = mapper.readTree(jsonText)
    root.properties().asScala.toSeq.flatMap { e =>
      val (packageName, cves) = (e.getKey, e.getValue)
      if (!cves.isObject) Seq.empty
      else cves.properties().asScala.toSeq.collect {
        case c if c.getKey.startsWith("CVE-") =>
          val fixed = Option(c.getValue)
            .filter(_.isObject)
            .map(_.path("fixed_version").asText(null))
            .flatMap(Option(_))
          (packageName, c.getKey, fixed)
      }
    }
  }

  /** Executor-side flatten: each input row is one JSON feed document,
    * flattened in parallel with the exact same skip rules as the
    * driver-side path (it IS the same function, applied per partition).
    * A `from_json`(MapType)+explode pipeline was rejected: PERMISSIVE
    * mode nulls the WHOLE document when any package value is a
    * non-object, silently dropping valid rows. */
  def flattenDistributed(spark: SparkSession, jsonTexts: DataFrame): DataFrame = {
    import spark.implicits._
    jsonTexts.select(col("value")).as[String]
      .flatMap(flattenDriverSide _)
      .toDF("package_name", "cve_id", "fixed_version")
  }

  /** Full ingest: fetch `{url}/{tableName}.json`, flatten, write one
    * file (the reference's `partitions=1`) to run-isolated staging, read
    * back, register the global temp view. */
  def ingest(
      spark: SparkSession,
      transport: HttpTransport,
      url: String,
      stagingPath: String,
      runId: String,
      tableName: String = "data",
  ): DataFrame = {
    val (code, body) = transport.get(s"$url/$tableName.json", Map.empty)
    require(code == 200, s"advisory feed returned HTTP $code")
    val rows = flattenDriverSide(body).map { case (p, c, f) => Row(p, c, f.orNull) }
    val df = spark.createDataFrame(rows.asJava, AdvisorySchemas.echoAdvisory)
    val outputPath = s"$stagingPath/run_id=$runId/sources/$tableName"
    TableIO.writeTable(df, outputPath, AdvisorySchemas.echoAdvisory,
      partitions = 1)
    val back = TableIO.readTable(spark, outputPath, AdvisorySchemas.echoAdvisory)
    back.createOrReplaceGlobalTempView(tableName)
    back
  }
}
