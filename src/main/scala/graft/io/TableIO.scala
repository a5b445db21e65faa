package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, shiftright, when}
import org.apache.spark.sql.types.StructType

/** Schema-enforced table I/O.
  *
  * Spark-native re-expression of the reference's universal reader/writer
  * (reference: src/advisory_pipeline/pipeline_libs/spark/
  * spark_utils.py:17-277), with the three load-bearing behaviors kept:
  *
  *   1. **Cast-projection** on both read and write — every DataFrame is
  *      reduced to exactly the declared schema's columns, each cast to
  *      the declared type (spark_utils.py:50,116,259).
  *   2. **Missing-input tolerance** — a nonexistent path or JDBC table
  *      yields an EMPTY DataFrame with the declared schema rather than
  *      an error (spark_utils.py:158-161,266-271); this bootstraps the
  *      first run (no prod state, no cache).
  *   3. **Partition-aware reads** via `basePath` so `run_id=` /
  *      `source_name=` directory reads keep their partition column.
  *
  * Scale departures from the reference (deliberate): `repartition(1)` is
  * never used — the partition count is a parameter ([[withPartitions]]),
  * `1` coalescing without an exchange and `0` meaning "leave Spark's
  * planning alone" (AQE coalescing decides); writers use dynamic
  * partition overwrite so a 1000-executor cluster overwrites only the
  * partitions it touched.
  */
object TableIO {

  sealed trait Format
  case object Parquet extends Format
  case object Orc extends Format
  case object Json extends Format
  final case class Csv(header: Boolean) extends Format

  /** Project to exactly `schema`'s columns, each cast to the declared
    * type — the universal schema-enforcement idiom. */
  def castToSchema(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)

  /** The partition-count rule of every n-file writer. 1: `coalesce(1)`,
    * no exchange; n > 1: round-robin `repartition(n)`; 0: the plan is
    * left alone.
    *
    * The trade-off of 1: whatever runs after the plan's last exchange
    * (or the whole plan, if it has none) runs in the single output task
    * instead of in parallel ahead of a shuffle. For the advisory writes
    * that is a scan, a few broadcast-hash-join probes and projections;
    * a plan whose tail is expensive should be repartitioned first. */
  def withPartitions(df: DataFrame, partitions: Int): DataFrame =
    if (partitions == 1) df.coalesce(1)
    else if (partitions > 1) df.repartition(partitions)
    else df

  def emptyTable(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Schema-applied read with empty-DataFrame fallback on missing paths. */
  def readTable(
      spark: SparkSession,
      path: String,
      schema: StructType,
      format: Format = Parquet,
      basePath: Option[String] = None,
  ): DataFrame =
    try {
      var reader = spark.read.schema(schema)
      basePath.foreach(bp => reader = reader.option("basePath", bp))
      val df = format match {
        case Parquet => reader.parquet(path)
        case Orc => reader.orc(path)
        case Json => reader.json(path)
        case Csv(header) => reader.option("header", header.toString).csv(path)
      }
      // Parquet is lazy about missing paths; force path resolution now so
      // the fallback triggers here, not at first action.
      df.queryExecution.analyzed
      df
    } catch {
      case e: AnalysisException if isMissingInput(e) => emptyTable(spark, schema)
    }

  /** Union-of-paths read (one scan over several partition dirs),
    * mirrors read_table_multipath (spark_utils.py:175-215). */
  def readTableMultipath(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType,
      basePath: Option[String] = None,
  ): DataFrame = {
    val existing = paths.filter(p =>
      try { spark.read.schema(schema).parquet(p).queryExecution.analyzed; true }
      catch { case e: AnalysisException if isMissingInput(e) => false })
    if (existing.isEmpty) emptyTable(spark, schema)
    else {
      var reader = spark.read.schema(schema)
      basePath.foreach(bp => reader = reader.option("basePath", bp))
      reader.parquet(existing: _*)
    }
  }

  private def isMissingInput(e: AnalysisException): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    e.getErrorClass == "PATH_NOT_FOUND" ||
    e.getErrorClass == "TABLE_OR_VIEW_NOT_FOUND" ||
    m.contains("Path does not exist") || m.contains("PATH_NOT_FOUND")
  }

  /** JDBC read with empty-DataFrame fallback when the table is missing
    * (spark_utils.py:218-277). `numPartitions`/bounds enable parallel
    * reads at scale (the reference read single-threaded). */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      schema: StructType,
      properties: java.util.Properties = new java.util.Properties(),
      partitionColumn: Option[String] = None,
      numPartitions: Int = 1,
      lowerBound: Long = 0L,
      upperBound: Long = 0L,
  ): DataFrame =
    try {
      var reader = spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
      properties.stringPropertyNames().forEach { k =>
        reader = reader.option(k, properties.getProperty(k))
      }
      partitionColumn.foreach { pc =>
        reader = reader
          .option("partitionColumn", pc)
          .option("numPartitions", numPartitions.toString)
          .option("lowerBound", lowerBound.toString)
          .option("upperBound", upperBound.toString)
      }
      castToSchema(reader.load(), schema)
    } catch {
      // Only TABLE-missing errors become an empty table (the first-run
      // bootstrap case, spark_utils.py:266-271). Auth, network, and
      // driver failures RETHROW — silently returning empty here would
      // classify every prod row as `new` downstream.
      case e: Exception if isMissingJdbcTable(e) => emptyTable(spark, schema)
    }

  /** Table/relation-not-found detection across common JDBC dialects
    * (Spark analysis, Postgres, Derby, SQLite, MySQL), checked down the
    * cause chain. Matches the reference's narrow catch. Prefers the
    * standard SQLState 42S02 when the cause is a
    * [[java.sql.SQLException]]; message heuristics cover engines that
    * report table-missing without the standard state (and note MySQL's
    * message uses the contraction "doesn't exist", not "does not"). */
  private[io] def isMissingJdbcTable(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
    chain.exists { t =>
      // SQLState 42S02 is the cross-dialect "base table not found"
      // class (MySQL, MariaDB, SQL Server). Deliberately NOT matching
      // bare vendor code 1146: vendor codes are dialect-scoped, and a
      // non-MySQL engine's unrelated 1146 would silently bootstrap an
      // empty table (MySQL's 1146 always carries 42S02 and the
      // "doesn't exist" message anyway).
      val sqlStateHit = t match {
        case s: java.sql.SQLException => s.getSQLState == "42S02"
        case _ => false
      }
      val m = Option(t.getMessage).getOrElse("").toLowerCase
      sqlStateHit ||
      m.contains("table or view not found") ||
      m.contains("no such table") ||
      ((m.contains("does not exist") || m.contains("doesn't exist")) &&
        (m.contains("relation") || m.contains("table") || m.contains("view")))
    }
  }

  /** Schema-enforced table writer (parquet by default; ORC/JSON/CSV via
    * `format` — real corpora arrive in all of them). Avro is
    * deliberately absent: this Spark distribution does not bundle the
    * external `spark-avro` module and the build adds no dependencies,
    * so `format("avro")` cannot resolve here; ORC covers the
    * second-columnar-format role.
    *
    * @param partitions  n > 0: exactly n output files (reference
    *                    behavior with n = 1), by [[withPartitions]]: one
    *                    file is a `coalesce(1)`, no exchange, so the
    *                    plan's tail runs in the writer task; 0: keep the
    *                    plan's partitioning (scale default).
    * @param sortBy      row order of the written files (default: none).
    *                    n = 1: no exchange, `coalesce(1)` plus a local
    *                    sort, so the single file is in order; n > 1:
    *                    range-partitioned then locally sorted, file by
    *                    file; 0: a global `orderBy`. Unsorted single
    *                    files keep the input's partition order.
    */
  def writeTable(
      df: DataFrame,
      path: String,
      schema: StructType,
      mode: SaveMode = SaveMode.Overwrite,
      partitionKeys: Seq[String] = Seq.empty,
      partitions: Int = 0,
      format: Format = Parquet,
      options: Map[String, String] = Map.empty,
      sortBy: Seq[Column] = Nil,
  ): Unit = {
    val cast = castToSchema(df, schema)
    val sized =
      if (sortBy.isEmpty) withPartitions(cast, partitions)
      else if (partitions == 1) withPartitions(cast, 1).sortWithinPartitions(sortBy: _*)
      else if (partitions > 1)
        cast.repartitionByRange(partitions, sortBy: _*).sortWithinPartitions(sortBy: _*)
      else cast.orderBy(sortBy: _*)
    val w = sized.write.mode(mode).partitionBy(partitionKeys: _*)
      .options(options)
    format match {
      case Parquet => w.parquet(path)
      case Orc => w.orc(path)
      case Json => w.json(path)
      case Csv(header) => w.option("header", header.toString).csv(path)
    }
  }

  /** Bucketed managed-table write: co-locates rows by `bucketCols` so
    * equi-joins/aggregations between tables bucketed the same way need
    * NO shuffle at read time — the per-query Exchange is paid once at
    * write. The scale replacement for repeated repartition-joins on
    * the same key (e.g. `(cve_id, package)` across merge runs). */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Seq.empty,
      mode: SaveMode = SaveMode.Overwrite,
  ): Unit = {
    var w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }

  /** Range-layout write: range-partition by `sortCols` and sort
    * within each partition before writing parquet. Files come out
    * RANGE-DISJOINT on the sort key, so parquet row-group min/max
    * statistics prune file scans for range predicates (time filters
    * on an events table, id lookups) — on a 100 TB table the
    * difference between touching every file and touching the few that
    * can match. Costs one range exchange (sampled boundaries) + a
    * local sort at write time; reads pay nothing. */
  def writeRangeLayout(
      df: DataFrame,
      path: String,
      sortCols: Seq[String],
      partitions: Int,
      mode: SaveMode = SaveMode.Overwrite,
  ): Unit = {
    require(sortCols.nonEmpty && partitions > 0,
      "range layout needs sort columns and a partition count")
    writeTable(df, path, df.schema, mode, partitions = partitions,
      sortBy = sortCols.map(col))
  }

  /** Z-ORDER (Morton-curve) layout write: the MULTI-column complement
    * of [[writeRangeLayout]]. A linear sort layout gives tight
    * per-file min/max stats on its leading column only — a predicate
    * on any other column still touches every file. Z-ordering
    * interleaves the bits of rank-quantized column values, so files
    * (contiguous z-ranges) cover small rectangles of the value space
    * and row-group min/max statistics prune scans on EVERY z-column.
    *
    * Quantization uses approxQuantile boundaries (`bits` per column,
    * so 2^bits rank buckets each) — like GlobalRank, boundary quality
    * affects only balance: the layout is a storage optimization and
    * never changes query results. Cost at write: one sketch pass per
    * column + one range exchange + local sort; reads pay nothing.
    * This is the same technique Delta/Iceberg `OPTIMIZE ZORDER BY`
    * applies, expressed as plain Spark expressions. */
  def writeZOrderLayout(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      partitions: Int,
      bits: Int = 8,
      mode: SaveMode = SaveMode.Overwrite,
  ): Unit = {
    require(zCols.size >= 2, "z-ordering needs >= 2 columns (use writeRangeLayout for 1)")
    require(partitions > 0 && bits >= 1 && bits <= 16, "bad partitions/bits")
    val nb = (1 << bits) - 1 // boundaries per column
    val buckets: Seq[Column] = zCols.map { c =>
      val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
      val bs = df.stat.approxQuantile(c, probs, 0.01).distinct.sorted
      // rank bucket in [0, 2^bits): #boundaries <= v; NULLs sort first
      when(col(c).isNull, lit(0))
        .otherwise(bs.map(b => when(col(c).cast("double") >= lit(b), 1).otherwise(0))
          .foldLeft(lit(0): Column)(_ + _))
    }
    // interleave: bit j of column i lands at position j*nCols + i
    val n = zCols.size
    val z = (0 until bits).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        (shiftright(b, j).bitwiseAND(lit(1)).cast("long") * (1L << (j * n + i)))
      }
    }.reduce(_ + _)
    df.withColumn("__z", z)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files. Streaming sinks and incremental ingests
    * accrete small files; at 100 TB each scan then pays per-file open
    * + footer-read + scheduling overhead (and the NameNode/listing
    * pays with it), so periodic compaction is table hygiene, not an
    * optimization. Sizing uses the CURRENT on-disk bytes (so the
    * output matches the actual compression ratio), the rewrite goes to
    * a temp dir first and swaps in via [[swapIn]]. Returns the output
    * file count. */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
  ): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(hPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = path + "__compact_tmp"
    spark.read.parquet(path).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapIn(spark, tmp, path)
    n
  }

  /** Publish the directory `staged` as `target` by rename: the current
    * `target` (if any) moves aside to `target__old`, `staged` takes its
    * place, and the old copy is deleted. A reader sees the old or the
    * new directory, never a half-written one. If `staged` is missing or
    * cannot be moved in, the old directory stays (or is moved back) and
    * the call raises. A `target__old` left by an interrupted swap is
    * deleted when `target` exists; when `target` is missing it holds the
    * last published copy, so the call raises instead of dropping it. */
  def swapIn(spark: SparkSession, staged: String, target: String): Unit = {
    val src = new Path(staged)
    val dst = new Path(target)
    val bak = new Path(target + "__old")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) sys.error(s"swap: staged directory $staged does not exist")
    val hadOld = fs.exists(dst)
    if (fs.exists(bak)) {
      if (!hadOld) sys.error(s"swap: $target is missing and $bak holds an " +
        "interrupted swap's copy; move it back first")
      fs.delete(bak, true)
    }
    if (hadOld) { if (!fs.rename(dst, bak)) sys.error(s"swap: cannot move $target aside") }
    else fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst)) {
      if (hadOld) fs.rename(bak, dst)
      sys.error(s"swap: cannot move $staged into $target")
    }
    if (hadOld) fs.delete(bak, true)
  }

  /** Execute SQL then write — the state-machine stage's primary path
    * (spark_utils.py:46-47). */
  def writeSql(
      spark: SparkSession,
      sql: String,
      path: String,
      schema: StructType,
      mode: SaveMode = SaveMode.Overwrite,
      partitionKeys: Seq[String] = Seq.empty,
      partitions: Int = 0,
  ): Unit = writeTable(spark.sql(sql), path, schema, mode, partitionKeys, partitions)
}
