package graft.streaming

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationShim
import org.apache.spark.sql.types.{DataType, StructType}

/** The snapshot table as a FIRST-CLASS Spark SQL relation: a
  * manifest-backed [[FileIndex]] handed to Spark's own parquet scan,
  * so a plain `WHERE` clause — written in SQL or the DataFrame API,
  * with no knowledge of the table layout — gets the same file-level
  * skipping the bespoke [[SnapshotUpsert.readKeys]] /
  * [[SnapshotUpsert.readRange]] APIs perform:
  *
  *   - **bucket pruning**: equality / IN predicates covering the
  *     table's recorded bucket columns are hashed through the SAME
  *     column expression the writer buckets by
  *     ([[SnapshotUpsert.bucketOfLayout]], split-layout aware), and only
  *     the hit buckets' files are listed to the scan;
  *   - **range pruning**: comparison predicates on the declared
  *     clustering columns ([[SnapshotUpsert.ClusterColsProp]]) are
  *     checked against the manifest's per-file min/max stats
  *     (`S` lines) and provably-disjoint files never reach the scan —
  *     no footer is opened for them;
  *   - **value-set pruning**: equality / IN predicates on the declared
  *     low-cardinality columns ([[SnapshotUpsert.ValueSetColsProp]])
  *     skip every file whose recorded exact distinct set (`V` lines)
  *     lacks all candidate values — the categorical complement of the
  *     ranges (`WHERE lang = 'de'` opens only files holding German
  *     rows, whatever bucket or range they sit in).
  *
  * This is the lakehouse integration pattern (Delta Lake's
  * `TahoeLogFileIndex`): the table format contributes ONLY the file
  * listing decision, and everything downstream is stock Spark —
  * vectorized parquet reads, row-group predicate pushdown UNDER the
  * file skipping, column pruning, whole-stage codegen, AQE. Catalyst
  * also sees an honest `sizeInBytes` from the index, so a
  * small-after-pruning snapshot side of a join is broadcast like any
  * other small relation.
  *
  * Pruning here is best-effort and CONSERVATIVE by construction: a
  * predicate shape the extractor does not recognize, a bucket-key
  * cross product past [[SnapshotFileIndex.MaxEnumeratedKeys]], or a
  * file with no recorded stats all degrade to READING, never to a
  * wrong answer — Spark re-applies every predicate on the rows the
  * scan returns, so skipping is purely a performance decision. At
  * 100 TB that asymmetry is the point: the worst case is the scan you
  * would have done anyway; the common case (point lookup on the key,
  * time-range on the clustering column) opens a handful of files
  * chosen from one manifest read.
  *
  * Merge-on-read delta layers compose transparently: buckets without
  * layers are served through the pruned file-level relation, and
  * layered buckets — a slice the compaction policy bounds — fold
  * through the layer's exact replay ([[SnapshotUpsert]] foldDeltas)
  * and union in. Predicates still push into BOTH branches (Catalyst
  * moves filters through the union); only the file-skipping decision
  * is limited to the relation side, mirroring `readRange`'s
  * all-or-nothing rule for layered buckets. A fully-compacted table is
  * one clean scan. Like every reader here the relation pins ONE
  * committed manifest: concurrent commits never tear the view, and a
  * pinned version stays readable until retention drops it.
  */
object SnapshotRelation {

  /** The table (current version; `version` for version-pinned time
    * travel; `asOfMs` for wall-clock time travel — the newest version
    * committed at or before that instant, readAsOf's rule) as a
    * SQL-ready DataFrame relation with manifest-driven file skipping.
    * The resolved version is pinned at call time — re-call to see
    * later commits. */
  def readSql(spark: SparkSession, targetDir: String,
      version: Option[Long] = None,
      asOfMs: Option[Long] = None): DataFrame = {
    require(version.isEmpty || asOfMs.isEmpty,
      "snapshot relation: pass version OR asOfMs, not both")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = (version, asOfMs) match {
      case (Some(v), _) => SnapshotUpsert.readManifest(fs, root, v)
      case (_, Some(ts)) =>
        val snaps = SnapshotUpsert.readRetained(fs, root)
        require(snaps.nonEmpty,
          s"snapshot relation: no committed version at $targetDir")
        snaps.filter(_.commitTsMs <= ts).lastOption.getOrElse(sys.error(
          s"snapshot relation: no retained version at or before $ts — " +
            s"oldest retained commit is ${snaps.head.commitTsMs}"))
      case _ => SnapshotUpsert.currentSnapshot(fs, root).getOrElse(
        sys.error(s"snapshot relation: no committed version at $targetDir"))
    }
    // layered buckets cannot be served file-level wholesale (a listing
    // cannot fold row versions): their key-OVERLAPPING base files and
    // layers union in through the exact fold. But base files provably
    // key-disjoint from every layer in their bucket pass through the
    // fold unchanged for EVERY query, so those stay in the relation —
    // where a pushed predicate gets the full file-skipping stack
    // (bucket hash, range stats, value sets, blooms) instead of the
    // fold branch's read-everything
    val layered = snap.deltas.keySet
    val passThrough =
      if (layered.isEmpty) Set.empty[String]
      else SnapshotUpsert.passThroughBase(snap)
    val baseSnap =
      if (layered.isEmpty) snap
      else snap.copy(files = snap.files.flatMap { case (b, fs0) =>
        val keep = if (layered(b)) fs0.filter(passThrough) else fs0
        if (keep.isEmpty) None else Some(b -> keep)
      })
    val index = new SnapshotFileIndex(spark, root, baseSnap)
    val relDf = RelationShim.parquetRelation(spark, index, snap.schema)
    if (layered.isEmpty) relDf
    else relDf.unionByName(SnapshotUpsert.foldDeltas(
      spark, root, snap, layered.toSeq.sorted, snap.schema,
      dropBaseRels = passThrough))
  }

  /** Register the table under `name` for `spark.sql` queries; returns
    * the underlying relation. Same version-pinning contract as
    * [[readSql]]. */
  def registerSqlView(spark: SparkSession, name: String, targetDir: String,
      version: Option[Long] = None,
      asOfMs: Option[Long] = None): DataFrame = {
    val df = readSql(spark, targetDir, version, asOfMs)
    df.createOrReplaceTempView(name)
    df
  }

  /** Audit: base files the current version references — the
    * denominator for pruning measurements (layers excluded). */
  def totalFiles(spark: SparkSession, targetDir: String): Int = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotUpsert.currentSnapshot(fs, root).getOrElse(
      sys.error(s"totalFiles: no committed version at $targetDir"))
      .files.valuesIterator.map(_.size).sum
  }

  /** Audit: (kept files, total base files) the relation would open for
    * an equality/IN probe of `values` on `column` — the file-skipping
    * decision alone (bucket hash, range stats, value sets, bloom
    * sidecars), no data read. What scale rehearsals and operators use
    * to check a declared skipping column actually prunes. */
  def equalityKept(spark: SparkSession, targetDir: String,
      column: String, values: Seq[Any]): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{In => CatalystIn}
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = SnapshotUpsert.currentSnapshot(fs, root).getOrElse(
      sys.error(s"equalityKept: no committed version at $targetDir"))
    require(snap.schema.fieldNames.contains(column),
      s"equalityKept: no column '$column' in the table")
    val dt = snap.schema(column).dataType
    val attr = org.apache.spark.sql.catalyst.expressions
      .AttributeReference(column, dt)()
    val lits = values.map(v =>
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt))
    val index = new SnapshotFileIndex(spark, root, snap)
    val kept = index.keptRels(Seq(CatalystIn(attr, lits)))
    (kept.size, snap.files.valuesIterator.map(_.size).sum)
  }
}

/** Manifest-backed file index over one committed snapshot version.
  * All listing decisions come from the manifest (file set, bucket
  * layout + split depths, clustering stats, file lengths); planning
  * never touches storage (bloom sidecars aside). */
final class SnapshotFileIndex private[streaming] (
    spark: SparkSession, root: Path, snap: SnapshotUpsert.Snapshot)
  extends FileIndex {

  import SnapshotFileIndex.MaxEnumeratedKeys

  /** (bucket, relative path) of every base file the version references. */
  private val relsByBucket: Seq[(Int, String)] =
    snap.files.toSeq.sortBy(_._1).flatMap { case (b, fs0) => fs0.map(b -> _) }

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = new StructType()
  /** A committed manifest is immutable — there is nothing to refresh.
    * (A NEW readSql call pins the then-current version.) */
  override def refresh(): Unit = ()
  override def inputFiles: Array[String] =
    relsByBucket.map { case (_, rel) => new Path(root, rel).toString }.toArray

  /** File statuses for planning, synthesized from the manifest: every
    * referenced file's byte length is recorded (`L` lines), so planning
    * touches storage ZERO times (the mod-time is the version's commit
    * stamp; parquet reads use only path + length). */
  private lazy val statusByRel: Map[String, FileStatus] =
    relsByBucket.iterator.map { case (_, rel) =>
      rel -> new FileStatus(snap.lens(rel), false, 1, 128L << 20,
        snap.commitTsMs, new Path(root, rel))
    }.toMap

  override lazy val sizeInBytes: Long = statusByRel.valuesIterator.map(_.getLen).sum

  // listFiles is called more than once per query (plan stats, then
  // execution); memoize the decision by the filters' canonical form so
  // the bucket-hash routing job runs once, not per call
  private val keptMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val memoKey = dataFilters.map(_.canonicalized.toString).sorted
      .mkString("\u0000")
    val kept = keptMemo.computeIfAbsent(memoKey, _ => keptRels(dataFilters))
    Seq(PartitionDirectory(InternalRow.empty, kept.map(statusByRel).toArray))
  }

  /** The file-skipping decision, exposed for specs and audits: which
    * relative paths survive the given pushed-down conjuncts — bucket
    * hash, then clustering/key-range stats, then categorical value
    * sets, then bloom sidecars (the high-cardinality tier, consulted
    * LAST so its per-file sidecar reads are paid only for files the
    * cheaper zero-IO tiers could not already dismiss). */
  private[streaming] def keptRels(dataFilters: Seq[Expression]): Seq[String] = {
    val afterBucket: Seq[(Int, String)] = bucketCandidates(dataFilters) match {
      case Some(keep) => relsByBucket.filter { case (b, _) => keep(b) }
      case None => relsByBucket
    }
    val bounds = rangeBounds(dataFilters)
    val afterRange =
      if (bounds.isEmpty) afterBucket.map(_._2)
      else afterBucket.map(_._2).filterNot { rel =>
        bounds.exists { case (c, dt, los, his) =>
          snap.stats.get(rel).flatMap(_.get(c)).exists { case (mn, mx) =>
            los.exists(lo =>
              SnapshotUpsert.statCompare(dt, mx, lo) < 0) ||
              his.exists(hi => SnapshotUpsert.statCompare(dt, mn, hi) > 0)
          }
        }
      }
    val vsCands = valueCandidates(dataFilters, snap.valueSetCols)
    val afterValues =
      if (vsCands.isEmpty) afterRange
      else afterRange.filterNot { rel =>
        vsCands.exists { case (c, cands) =>
          // recorded set present AND disjoint from the candidates =
          // provably no matching row in the file; no record = keep
          snap.valueSets.get(rel).flatMap(_.get(c))
            .exists(_.intersect(cands).isEmpty)
        }
      }
    bloomPrune(dataFilters, afterValues)
  }

  /** Bloom-sidecar pruning: equality/IN candidates on the declared
    * [[SnapshotUpsert.BloomColsProp]] columns drop every file whose
    * recorded bloom contains NONE of the candidate values. Consulted
    * only below [[SnapshotFileIndex.MaxBloomProbeFiles]] surviving
    * files: each probe is one sidecar GET, and past that count the
    * predicate no longer looks like a point lookup — reading the data
    * is the honest plan, exactly the MaxEnumeratedKeys rationale.
    * Sidecars load in one bounded parallel fan-out, memoized for the
    * index's lifetime; a missing/unreadable sidecar keeps its file
    * (conservative, like every tier here). */
  private def bloomPrune(filters: Seq[Expression],
      rels: Seq[String]): Seq[String] = {
    val cols = snap.bloomCols.filter(snap.schema.fieldNames.contains)
    if (cols.isEmpty || rels.isEmpty ||
      rels.size > SnapshotFileIndex.MaxBloomProbeFiles) return rels
    val cands = valueCandidates(filters, cols)
    if (cands.isEmpty) return rels
    // only files with a recorded bloom for some candidate column can
    // prune; load exactly those sidecars
    val needed: Seq[(String, String, String)] = rels.flatMap { rel =>
      cands.flatMap { case (c, _) =>
        snap.blooms.get(rel).flatMap(_.get(c)).map(side => (rel, c, side))
      }
    }
    if (needed.isEmpty) return rels
    val loaded = loadBlooms(needed.map(_._3).distinct)
    rels.filterNot { rel =>
      cands.exists { case (c, vs) =>
        snap.blooms.get(rel).flatMap(_.get(c)).exists { side =>
          loaded.get(side).exists(bf =>
            // an EMPTY candidate set (contradictory equalities) prunes
            // every bloom-recorded file, like the value-set tier
            vs.forall(v => !bf.mightContainString(v)))
        }
      }
    }
  }

  private val bloomMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Option[org.apache.spark.util.sketch.BloomFilter]]()

  private def loadBlooms(sides: Seq[String])
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = sides.map { side =>
      Future {
        side -> bloomMemo.computeIfAbsent(side, _ =>
          scala.concurrent.blocking {
            try {
              val in = fs.open(new Path(root, side))
              try Some(
                org.apache.spark.util.sketch.BloomFilter.readFrom(in))
              finally in.close()
            } catch { case _: java.io.IOException => None }
          })
      }
    }
    try Await.result(Future.sequence(futs), Duration(5, "min"))
      .collect { case (s, Some(bf)) => s -> bf }.toMap
    catch {
      // planning must not wedge on a hung sidecar GET: no blooms, no
      // pruning — the scan reads what the cheaper tiers kept
      case _: java.util.concurrent.TimeoutException => Map.empty
    }
  }

  /** Canonical-string equality candidates on the given columns (the
    * declared value-set or bloom columns). A null candidate (null-safe
    * probe) declines pruning for its column — recorded sets/blooms
    * exclude NULLs, so neither can prove the absence of a null row. An
    * EMPTY candidate set is kept: contradictory equalities prune every
    * recorded file. */
  private def valueCandidates(filters: Seq[Expression],
      declared: Seq[String]): Seq[(String, Set[String])] = {
    val cols = declared.filter(snap.schema.fieldNames.contains)
    if (cols.isEmpty) return Seq.empty
    val raw = cols.flatMap { c =>
      equalityCandidates(c, filters) match {
        case Some(vs) if !vs.contains(null) => Some((c, vs))
        case _ => None
      }
    }
    if (raw.isEmpty) return Seq.empty
    // canonicalize through the engine's own canonical form — the exact
    // path that produced the recorded sets and bloom insertions
    // (timezone-pinned for timestamps, plain cast otherwise)
    val exprs = raw.flatMap { case (c, vs) =>
      val dt = snap.schema(c).dataType
      vs.toSeq.map(v =>
        SnapshotUpsert.canonicalValue(lit(v).cast(dt), dt))
    }
    if (exprs.isEmpty) return raw.map { case (c, _) => (c, Set.empty[String]) }
    val row = spark.range(1)
      .select(exprs.zipWithIndex.map { case (e, i) => e.as(s"v$i") }: _*)
      .head()
    var i = -1
    raw.map { case (c, vs) =>
      c -> vs.toSeq.flatMap { _ => i += 1; Option(row.getString(i)) }.toSet
    }
  }

  /** Bucket ids the pushed equality predicates can possibly hit, or
    * None when the filters don't pin every bucket column to a small
    * finite candidate set. The ids come from evaluating the WRITER'S
    * bucket expression over the candidate tuples (one driver-local
    * job) — consistent with the written layout by construction,
    * including split depths, exactly like readKeys routes probes. */
  private def bucketCandidates(filters: Seq[Expression]): Option[Set[Int]] =
    Some(snap.bucketCols).filter(_.forall(snap.schema.fieldNames.contains))
      .flatMap { bc =>
      val perCol = bc.map(c => equalityCandidates(c, filters))
      if (perCol.exists(_.isEmpty)) None
      else {
        val lists: Seq[Seq[Any]] = perCol.map(_.get.toSeq)
        if (lists.exists(_.isEmpty)) Some(Set.empty)
        else {
          val count = lists.foldLeft(1L)((n, l) => n * l.size)
          if (count > MaxEnumeratedKeys) None
          else {
            val tuples = lists.foldLeft(Seq(Seq.empty[Any])) { (acc, l) =>
              for { t <- acc; v <- l } yield t :+ v
            }
            Some(bucketsFor(bc, tuples))
          }
        }
      }
    }

  /** Candidate values for `c` implied by the conjuncts: None =
    * unconstrained, Some(set) = rows matching ALL conjuncts can only
    * carry these values (an empty set = provably no row matches).
    * Only literals of the column's exact recorded type count — the
    * bucket hash is type-sensitive, and Catalyst wraps cross-type
    * comparisons in casts we deliberately don't see through. */
  private def equalityCandidates(c: String,
      filters: Seq[Expression]): Option[Set[Any]] = {
    val dt = snap.schema(c).dataType
    val conv = CatalystTypeConverters.createToScalaConverter(dt)
    def attrIs(e: Expression): Boolean = e match {
      case a: Attribute => a.name == c
      case _ => false
    }
    def typedLit(e: Expression): Option[Literal] = e match {
      case l: Literal
        if DataType.equalsStructurally(l.dataType, dt,
          ignoreNullability = true) => Some(l)
      case _ => None
    }
    var out: Option[Set[Any]] = None
    def and(s: Set[Any]): Unit = out = Some(out.fold(s)(_ intersect s))
    filters.foreach {
      case EqualTo(a, r) if attrIs(a) => typedLit(r).foreach { l =>
        // `= NULL` matches nothing: the empty candidate set is exact
        and(if (l.value == null) Set.empty else Set(conv(l.value)))
      }
      case EqualTo(r, a) if attrIs(a) => typedLit(r).foreach { l =>
        and(if (l.value == null) Set.empty else Set(conv(l.value)))
      }
      // null-safe equality DOES match a null key (a real key to the
      // bucket hash, same as the merge groups it)
      case EqualNullSafe(a, r) if attrIs(a) =>
        typedLit(r).foreach(l => and(Set(conv(l.value))))
      case EqualNullSafe(r, a) if attrIs(a) =>
        typedLit(r).foreach(l => and(Set(conv(l.value))))
      case In(a, vs) if attrIs(a) && vs.forall(_.isInstanceOf[Literal]) =>
        val ls = vs.map(_.asInstanceOf[Literal])
        if (ls.forall(l => DataType.equalsStructurally(l.dataType, dt,
          ignoreNullability = true)))
          // IN's null element matches nothing (SQL three-valued logic)
          and(ls.iterator.filter(_.value != null).map(l => conv(l.value)).toSet)
      case InSet(a: Attribute, vs) if a.name == c =>
        and(vs.iterator.filter(_ != null).map(conv).toSet)
      case _ =>
    }
    out
  }

  private def bucketsFor(bc: Seq[String], tuples: Seq[Seq[Any]]): Set[Int] = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(bc.map(c => snap.schema(c).copy(nullable = true)))
    val rows: java.util.List[Row] = tuples.map(Row.fromSeq).asJava
    spark.createDataFrame(rows, schema)
      .select(SnapshotUpsert.bucketOfLayout(bc, snap.nBuckets, snap.depths)
        .as("kb"))
      .collect().map(_.getInt(0)).toSet
  }

  /** Per clustering column: every lower and upper bound the conjuncts
    * state, canonicalized to the stats' string form through the SAME
    * cast path that produced them (readRange's rule). Strict bounds
    * are treated as inclusive — conservative, never wrong. */
  private def rangeBounds(filters: Seq[Expression])
      : Seq[(String, DataType, Seq[String], Seq[String])] = {
    val cols = snap.clusterCols.filter(c =>
      snap.schema.fieldNames.contains(c) &&
        SnapshotUpsert.statsComparable(snap.schema(c).dataType))
    if (cols.isEmpty) return Seq.empty
    val raw: Seq[(String, DataType, Seq[Any], Seq[Any])] = cols.map { c =>
      val dt = snap.schema(c).dataType
      def attrIs(e: Expression): Boolean = e match {
        case a: Attribute => a.name == c
        case _ => false
      }
      def v(e: Expression): Option[Any] = e match {
        case l: Literal if l.value != null &&
          DataType.equalsStructurally(l.dataType, dt,
            ignoreNullability = true) => Some(l.value)
        case _ => None
      }
      val los = Seq.newBuilder[Any]
      val his = Seq.newBuilder[Any]
      filters.foreach {
        case GreaterThan(a, r) if attrIs(a) => v(r).foreach(los += _)
        case GreaterThanOrEqual(a, r) if attrIs(a) => v(r).foreach(los += _)
        case LessThan(a, r) if attrIs(a) => v(r).foreach(his += _)
        case LessThanOrEqual(a, r) if attrIs(a) => v(r).foreach(his += _)
        case GreaterThan(r, a) if attrIs(a) => v(r).foreach(his += _)
        case GreaterThanOrEqual(r, a) if attrIs(a) => v(r).foreach(his += _)
        case LessThan(r, a) if attrIs(a) => v(r).foreach(los += _)
        case LessThanOrEqual(r, a) if attrIs(a) => v(r).foreach(los += _)
        case EqualTo(a, r) if attrIs(a) =>
          v(r).foreach { x => los += x; his += x }
        case EqualTo(r, a) if attrIs(a) =>
          v(r).foreach { x => los += x; his += x }
        case _ =>
      }
      (c, dt, los.result(), his.result())
    }
    val constrained = raw.filter(r => r._3.nonEmpty || r._4.nonEmpty)
    if (constrained.isEmpty) return Seq.empty
    // canonicalize every bound in ONE tiny local job (mirrors
    // readRange: canonicalValue over lit(v).cast(dt) is the exact path
    // the recorded stats took — timezone-pinned for timestamps)
    val exprs = constrained.flatMap { case (_, dt, los, his) =>
      val conv = CatalystTypeConverters.createToScalaConverter(dt)
      (los ++ his).map(x =>
        SnapshotUpsert.canonicalValue(lit(conv(x)).cast(dt), dt))
    }
    val row = spark.range(1)
      .select(exprs.zipWithIndex.map { case (e, i) => e.as(s"b$i") }: _*)
      .head()
    var i = -1
    def next(): Option[String] = { i += 1; Option(row.getString(i)) }
    constrained.map { case (c, dt, los, his) =>
      (c, dt, los.flatMap(_ => next()), his.flatMap(_ => next()))
    }
  }
}

object SnapshotFileIndex {
  /** Cap on the bucket-key tuples enumerated from IN-lists: past this
    * the equality set no longer looks like a point lookup and pruning
    * is declined (reading everything is correct; hashing thousands of
    * candidates buys little once most buckets are hit anyway). */
  val MaxEnumeratedKeys = 1024

  /** Cap on the files whose bloom sidecars one plan will fetch: each
    * probe is a storage GET, and a candidate set still spanning more
    * files than this after the zero-IO tiers is not a point lookup —
    * scanning is the honest plan. Overridable for specs via the
    * `graft.bloom.maxProbeFiles` system property. */
  def MaxBloomProbeFiles: Int =
    sys.props.get("graft.bloom.maxProbeFiles").map(_.toInt)
      .getOrElse(4096)
}
