package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Clustered-write layout for the snapshot table: how a staged
  * bucket's rows are ORDERED inside their files, and how large a
  * single staged file may grow.
  *
  * Two layouts, declared per table through the props the manifest
  * already carries (so every writer — merge, delta append, compaction,
  * split, rebucket — lays out identically without coordination):
  *
  *   - `linear` (default): lexicographic sort by the declared
  *     clustering columns ([[SnapshotUpsert.ClusterColsProp]]).
  *     Optimal for ONE range dimension; a second column only orders
  *     ties of the first, so its recorded per-file range stays wide.
  *   - `zorder`: sort by the INTERLEAVED bit order of all clustering
  *     columns' rank codes (Morton order). Each file then covers a
  *     small hyper-rectangle of the multi-column space instead of a
  *     thin first-column stripe, so a correlated two-dimension box
  *     predicate (time x tenant, day x severity) prunes on BOTH
  *     per-file ranges at once — the classic multi-dimensional
  *     clustering trade: each single dimension's ranges widen a
  *     little, every combined box narrows a lot.
  *
  * Rank codes are equi-depth: per column, up to 2^bits-1 boundary
  * values are drawn from ONE bounded deterministic sample of the
  * batch being written (a TakeOrdered over a hash order — no full
  * sort, no extra shuffle), and a row's code is its boundary-array
  * rank. Equi-depth (not min/max scaling) keeps skewed columns from
  * collapsing onto a handful of codes. The codes exist ONLY as a
  * transient sort key: files carry the real column stats, readers
  * prune with the ordinary range machinery, and a table can switch
  * layouts at any commit without rewriting history (old files keep
  * their recorded stats; mixed layouts are merely differently-sorted
  * files).
  *
  * File sizing: [[MaxFileRowsProp]] caps rows per staged file
  * (Spark's own `maxRecordsPerFile`), so one bucket's rewrite lands
  * as SEVERAL consecutive runs of the layout order instead of one
  * wide-range file — that is what turns the sort into FILE-level
  * skipping (each run records a narrow slice of the layout space in
  * the manifest) rather than only row-group pushdown inside a single
  * file. Unset = one file per bucket.
  */
object ClusterLayout {

  /** Table prop choosing the clustered-write order: `linear`
    * (default) or `zorder`. Carried in the manifest like every prop. */
  val LayoutProp = "graft.cluster.layout"

  /** Table prop capping rows per staged file on clustered writes
    * (positive int). Splits a bucket's rewrite into consecutive runs
    * of the layout order — narrow per-file stats, real file skipping. */
  val MaxFileRowsProp = "graft.cluster.maxFileRows"

  /** Bits per dimension for the z-order rank codes (boundaries per
    * column = 2^bits - 1). 8 gives 256 equi-depth slices per
    * dimension — far finer than any realistic files-per-bucket count —
    * while keeping up to 7 dimensions inside one long. */
  val BitsPerDim = 8

  /** Rows in the deterministic boundary sample. */
  private val SampleRows = 1 << 15

  /** `df` ordered for a clustered staging write: rows already live in
    * their final bucket (a `kb` column), and each write partition is
    * sorted by (kb, layout order). No-op without clustering columns.
    *
    * The z key is MATERIALIZED as a column before the sort and
    * projected away after (a project above a sort preserves the
    * within-partition order): SortExec re-evaluates non-attribute
    * ordering expressions per row COMPARISON, and the Morton key is a
    * few hundred array ops per evaluation — inlined in the ordering it
    * turns an O(n log n) comparator into billions of array traversals
    * (measured 40x the linear build before this materialization;
    * ~2x after, the honest price of the boundary sample pass). */
  def sorted(df: DataFrame, cluster: Seq[String],
      props: Map[String, String]): DataFrame = {
    // loud validation, not silent degradation: a typo'd layout value
    // ('ZOrder', 'z-order') or a zorder declaration with fewer than
    // two clustering columns would otherwise fall back to the linear
    // sort while the user believes multi-dimension pruning applies
    props.get(LayoutProp).foreach { l =>
      require(l == "linear" || l == "zorder",
        s"$LayoutProp must be 'linear' or 'zorder', got '$l'")
      require(l != "zorder" || cluster.size >= 2,
        s"$LayoutProp=zorder needs >= 2 clustering columns " +
          s"(${SnapshotUpsert.ClusterColsProp} has ${cluster.size}) — " +
          "a one-column interleave IS the linear sort; declare that")
    }
    if (cluster.isEmpty) df
    else if (props.get(LayoutProp).contains("zorder")) {
      val zCol = "__graft_z"
      require(!df.columns.contains(zCol), s"column name $zCol is reserved")
      df.withColumn(zCol, zValue(df, cluster))
        .sortWithinPartitions(col("kb"), col(zCol))
        .drop(zCol)
    } else df.sortWithinPartitions(("kb" +: cluster).map(col): _*)
  }

  /** Writer options for a clustered staging write (file-size cap). */
  def writerOptions(props: Map[String, String]): Map[String, String] =
    props.get(MaxFileRowsProp) match {
      case Some(n) =>
        require(n.toLongOption.exists(_ > 0),
          s"$MaxFileRowsProp must be a positive integer, got '$n'")
        Map("maxRecordsPerFile" -> n)
      case None => Map.empty
    }

  /** The Morton (z-order) sort key for `cols` over `df`'s data: each
    * column's equi-depth rank code (boundaries sampled from `df`
    * itself), bit-interleaved so that code bit `i` of column `j`
    * lands at position `i * ncols + j`. Null ranks lowest (code 0),
    * matching the linear sort's nulls-first. The returned column is
    * pure codegen-friendly integer arithmetic over array literals —
    * usable directly as a sort expression, never materialized. */
  private[streaming] def zValue(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.size >= 2, "zValue needs at least two columns")
    val bits = math.min(BitsPerDim, 63 / cols.size)
    val nBounds = (1 << bits) - 1
    // ONE bounded pass: deterministic pseudo-random order via the
    // columns' own hash (TakeOrdered keeps a SampleRows-heap per
    // partition — no shuffle of the data itself)
    val sample = df.select(cols.map(col): _*)
      .orderBy(xxhash64(cols.map(col): _*))
      .limit(SampleRows).collect()
    val ranks = cols.zipWithIndex.map { case (c, j) =>
      val dt = df.schema(c).dataType
      val values = sample.iterator.map(_.get(j)).filter(_ != null).toArray
      val bounds = equiDepthBounds(values, nBounds)
      if (bounds.isEmpty) lit(0L)
      else {
        // rank = boundaries STRICTLY below the value (0-based, so a
        // dense domain yields dense codes and file runs align with
        // Morton tiles); null -> the lambda predicate is null for
        // every element -> rank 0, tying the minimum
        val arr = array(bounds.map(v => lit(v).cast(dt)): _*)
        size(filter(arr, b => col(c) > b)).cast(LongType)
      }
    }
    // interleave: z = OR over (bit i of rank j) << (i*ncols + j)
    val terms = for {
      (r, j) <- ranks.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(r, i).bitwiseAND(lit(1L)), i * cols.size + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** Up to `n` equi-depth boundary values from a driver-side sample.
    * All supported clustering types are java.lang.Comparable, so one
    * natural-order sort covers numerics, strings, dates, timestamps. */
  private def equiDepthBounds(values: Array[Any], n: Int): Seq[Any] = {
    if (values.isEmpty) return Seq.empty
    val sorted = values.sortWith { (a, b) =>
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    (1 to n).iterator
      .map(i => sorted(((i.toLong * sorted.length) / (n + 1)).toInt
        .min(sorted.length - 1)))
      .distinct.toSeq
  }
}
