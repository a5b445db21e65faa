package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.SortedMap

/** Keyed latest-state table maintained from successive batches of row
  * versions — the incremental form of the reference's advisory upsert
  * (reference: src/advisory_pipeline/state_machine/pipeline.py:120-145,
  * which rewrites the whole prod table per batch run). Each batch
  * commits by ATOMIC MANIFEST CREATION — the lakehouse table-format
  * idea (immutable data files + a versioned manifest), reduced to what
  * a latest-state table needs. The registry's `q_snapshot_*` entries
  * oracle-check what the tables read back; the commit protocol itself
  * is verified by spec (I/O is not DuckDB-expressible).
  *
  * Merge rule ([[selectWinners]]): per key, the row with the highest
  * `orderCol` wins; on an exact `orderCol` tie the INCOMING row beats
  * the existing one (an upsert re-stating a row must take effect), and
  * ties inside one batch break on a deterministic whole-row hash, so a
  * replayed batch reproduces the identical table. The table is
  * hash-bucketed by the key (`kb = pmod(xxhash64(keys), nBuckets)`, see
  * [[bucketOf]]), so one batch rewrites only the buckets its keys touch.
  *
  * Why a manifest and not an in-place bucket overwrite: a dynamic
  * partition overwrite has two honest caveats at 100 TB. Inside the
  * per-partition overwrite there is a delete-before-rename window in
  * which a bucket's prior rows exist nowhere durable (data loss on a
  * store without atomic rename), and a reader racing the rewrite can
  * see a torn snapshot (some buckets pre-batch, some post). Here data
  * files are IMMUTABLE — each merge writes its output to a fresh
  * `batches/v{N}` directory and never deletes a live file — and
  * the only mutation readers observe is the appearance of a manifest
  * file listing exactly which files make up version N. Readers pin a
  * manifest and get a consistent point-in-time snapshot regardless of
  * concurrent commits; old versions stay readable (time travel) until
  * retention ages them out.
  *
  * Layout under `targetDir`:
  *   - `batches/v{N}-{attempt}/kb={b}/part-*.parquet` — the buckets
  *     version N rewrote (untouched buckets are carried forward BY
  *     REFERENCE in the manifest, so incremental merges write only the
  *     touched slice); the attempt suffix is unique per commit attempt
  *   - `_manifests/v{N}.txt` — required header lines `#format=`
  *     ([[ManifestFormat]]), `#nbuckets=`, `#ts=` (commit wall-clock),
  *     `#schema=` (data schema), `#bucketcols=`, `#keys=` and
  *     `#ordercol=` (layout and merge contract), plus `#prop.<key>=`
  *     table properties and `#depths=` on split tables — so rebucket,
  *     splits and additive schema evolution commit atomically with
  *     their files; then `<bucket>\t<relative file path>` base lines,
  *     `<bucket>\tD\t<rel>` delta lines, per-file `S`/`V`/`L`/`B` lines
  *     (every live file has an `L` length line) and a final `#eof`
  *     trailer. The create-exclusive WRITE of this file IS the commit
  *     point, and the trailer makes a torn write (writer killed
  *     mid-commit) detectable instead of readable
  * Do NOT read `targetDir` with a bare `spark.read.parquet` — it would
  * mix every retained version; go through [[readSnapshot]] /
  * [[readVersion]], which read the manifest's file list.
  *
  * Commit exclusivity: the manifest is written through a pluggable
  * [[CommitPrimitive]] whose default is `fs.create(target, overwrite =
  * false)` — atomic create-exclusive on HDFS-class stores, so a second
  * writer racing the same version number LOSES cleanly instead of
  * silently replacing a committed manifest (an exists-check + rename
  * would leave a check-then-act window). Object stores without atomic
  * create plug in their own conditional write (S3 `If-None-Match: *`, GCS
  * `ifGenerationMatch=0`) via the `commit` parameter. On local
  * filesystems the default primitive bypasses the Hadoop connector's
  * check-then-open create and writes through NIO `CREATE_NEW` (true
  * `O_EXCL`), so exclusivity holds across PROCESSES there too; the
  * in-process lock additionally serializes commits across the one
  * driver JVM — where accidental dual writers (two jobs against one
  * table) most often appear — keeping their collisions on the cheap
  * clean-loss path.
  *
  * Every writer commits through ONE optimistic path ([[publish]]): read
  * the head version, re-check the caller's `expectProps` against it,
  * stage the next version against that head, and create its manifest
  * exclusively. The path, not the writer, numbers the version, keeps
  * `#ts` monotone, prunes per-file metadata to the live files, and runs
  * GC. A writer that loses the version race re-stages against the new
  * head: upserts, delta appends, [[mergeInto]], [[compactDeltas]] and
  * [[restore]] try up to `maxCommitAttempts` times, so two independent
  * ingest pipelines sharing one table both land, in some serial order;
  * [[rebucket]], [[splitBucket]] and [[setProps]] make one attempt and
  * surface [[ConcurrentCommitException]] — re-run them. A lost
  * attempt's staging directory is unreferenced debris [[vacuum]]
  * sweeps (staging dirs are unique per attempt, so no attempt can ever
  * delete files another may yet commit). Sustained multi-writer
  * contention still deserves one writer per table — each retry re-reads
  * the touched buckets and re-runs the merge — but a scheduled-job
  * overlap or a failover double-start converges instead of erroring.
  *
  * Crash contract (single writer, e.g. one scheduled job): a crash
  * BEFORE the manifest write leaves readers on the old version and the
  * replayed batch recomputes the same version number and redoes it in a
  * fresh staging directory — convergent; the crashed attempt's
  * directory is unreferenced debris that [[vacuum]] sweeps (staging
  * dirs are unique per attempt, so a replay — or a racing writer —
  * can never delete files another attempt may yet commit). A
  * crash DURING the manifest write leaves a torn manifest (no `#eof`):
  * readers skip it (the version never committed) and the replaying
  * writer reclaims it at its own commit point. A crash AFTER the write means the
  * batch is durably applied and the replay re-merges it idempotently as
  * version N+1 with identical logical content. There is no state in
  * which a reader can observe a half-committed batch, and no point
  * where a live file is deleted before its replacement is referenced —
  * neither overwrite failure mode can occur, at the cost of a GC pass
  * (bounded by the dropped versions' touched buckets, computed from
  * manifest diffs — never a full table listing).
  */
object SnapshotUpsert {

  private val ManifestDir = "_manifests"
  private val BatchesDir = "batches"
  private val Eof = "#eof"

  /** Layer metadata stored IN delta files (never in base files, never
    * in batches): the commit version that wrote the layer (fold order)
    * and the normalized tombstone flag (a delta must STATE a delete —
    * unlike the CoW merge it cannot apply one at write time). */
  private val DeltaVCol = "__dv"
  private val DeltaTombCol = "__tomb"

  /** Deterministic hash bucket of the key columns. */
  def bucketOf(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** Layout-aware bucket routing under LINEAR-HASHING splits
    * ([[splitBucket]]): an active bucket of depth `d` holds the keys
    * with `pmod(xxhash64(keys), nBuckets * 2^d) == id`. `depths` maps
    * bucket id -> depth for every active bucket deeper than 0 (ids stay
    * plain ints: among ACTIVE buckets an id value is unique across
    * depths — a value active at depth d makes its shallower ancestor of
    * the same value split, hence inactive). Routing evaluates the
    * residue at each populated depth and picks the one matching an
    * active id; the conditions are mutually exclusive (a key whose
    * depth-0 residue is active cannot also hit a deeper active id — that
    * id's ancestor would be the depth-0 residue itself, which would then
    * be split, not active), so the CASE order is immaterial. With no
    * splits this IS [[bucketOf]] — the single-pmod fast path. Heavy
    * splitting grows the IN lists (one per depth); past a few hundred
    * splits, graduate the table to [[rebucket]]. */
  def bucketOfLayout(keys: Seq[String], nBuckets: Int,
      depths: Map[Int, Int]): Column = {
    if (depths.isEmpty) return bucketOf(keys, nBuckets)
    val h = xxhash64(keys.map(col): _*)
    val maxD = depths.valuesIterator.max
    val byDepth: Seq[(Int, Seq[Int])] = (0 to maxD).map { d =>
      d -> (if (d == 0)
        (0 until nBuckets).filterNot(v => depths.contains(v))
      else depths.collect { case (v, dd) if dd == d => v }.toSeq.sorted)
    }
    val cases = byDepth.collect { case (d, vals) if vals.nonEmpty =>
      val rd = pmod(h, lit(nBuckets.toLong << d))
      (rd.isin(vals.map(_.toLong): _*), rd)
    }
    cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (acc, (cond, v)) => acc.when(cond, v)
    }.cast("int")
  }

  /** Table property declaring the clustering columns: staged files are
    * sorted by them within each bucket (tight parquet row-group stats
    * for the scan's own pushdown) and their per-file min/max ranges
    * are recorded in the manifest (`S` lines), which [[readRange]]
    * prunes by BEFORE any footer is opened. Set it once on any commit
    * (`props = Map(SnapshotUpsert.ClusterColsProp -> "ts")`); it
    * carries forward like every property. */
  val ClusterColsProp = "graft.cluster.cols"

  /** Table property declaring LOW-CARDINALITY columns whose exact
    * per-file distinct values are recorded in the manifest (`V` lines,
    * capped at [[MaxValueSetSize]] values per file — a file past the
    * cap records nothing and is never pruned by the column). The
    * categorical complement of [[ClusterColsProp]]'s ranges: an
    * equality/IN predicate on the column (through the SQL relation)
    * skips every file whose recorded set lacks the value — `WHERE
    * lang = 'de'` opens only the files that contain German rows,
    * whatever bucket or range they sit in. */
  val ValueSetColsProp = "graft.valueset.cols"

  /** Per-file distinct-value cap for [[ValueSetColsProp]] recording:
    * past this the column is not low-cardinality IN THAT FILE and
    * exact sets stop paying for their manifest bytes. */
  val MaxValueSetSize = 32

  /** Table property declaring HIGH-CARDINALITY columns whose per-file
    * membership is recorded as a BLOOM FILTER sidecar (manifest `B`
    * lines referencing `_blooms/` files written at commit) — the
    * skipping tier above [[ValueSetColsProp]]'s exact 32-value sets:
    * a point predicate on a non-bucket id/url column opens only the
    * files whose bloom might contain the value. False positives read
    * extra files (never wrong answers); sizing via
    * [[BloomNdvProp]]/[[BloomFppProp]]. */
  val BloomColsProp = "graft.bloom.cols"

  /** Expected distinct values PER FILE used to size bloom sidecars
    * (default 100000, ~110 KB/file/column at the default fpp). A file
    * holding more distinct values than this degrades the false-positive
    * rate — extra reads, never wrong answers. */
  val BloomNdvProp = "graft.bloom.ndv"

  /** Target false-positive rate for bloom sidecars (default 0.03). */
  val BloomFppProp = "graft.bloom.fpp"

  /** The manifest format revision this engine writes, and the ONLY one
    * it reads (one-version reader gate, as in Delta Lake's protocol
    * versioning). A manifest of this format carries every required
    * header (see the object doc), an `L` length line for every live
    * file, and stats in the [[canonicalValue]] form. Readers refuse any
    * other manifest — unstamped, older or newer, or missing part of the
    * contract — with an error naming the table, instead of guessing at
    * its content; a new header or body line kind bumps the number.
    * History: 1 = bucket file lines only; 2 = S/L/V stat lines and the
    * contract headers, unstamped; 3 = the `#format` stamp, B bloom
    * lines and zone-independent timestamp stats, but its writers
    * carried older stats and length-less files forward under the
    * stamp; 4 = the same layout, written only by engines that never
    * carried them. */
  val ManifestFormat = 4

  /** Serializes manifest creation within this JVM (see object doc:
    * cross-process exclusivity comes from create-exclusive — atomic on
    * HDFS-class stores, NIO `O_EXCL` on local filesystems). */
  private val commitLock = new Object

  /** The ONE shared mutable point of the commit protocol, made
    * pluggable: atomically create `target` holding exactly `bytes` IF
    * AND ONLY IF no object exists there. Returns true when this call
    * created it; false when an object already exists (this writer lost
    * the version race — the caller retries against the new current
    * version). Any other failure propagates. Implementations must not
    * tear on the false path (the loser leaves no file); a crash
    * mid-create MAY leave a torn file, which the `#eof` trailer makes
    * detectable and reclaimable.
    *
    * [[CreateExclusive]] is the default (HDFS-class atomic create). An
    * object-store deployment plugs in its conditional write — S3 `PUT`
    * with `If-None-Match: *`, GCS `ifGenerationMatch=0`, ABFS lease —
    * where a precondition failure maps to `false`. */
  trait CommitPrimitive extends Serializable {
    def createExclusive(fs: FileSystem, target: Path,
        bytes: Array[Byte]): Boolean
  }

  /** Default [[CommitPrimitive]]: Hadoop `create(overwrite = false)`,
    * atomic create-exclusive on HDFS-class stores. On LOCAL filesystems
    * (scheme `file`, where the Hadoop connector's create is
    * check-then-open) the write goes through NIO `CREATE_NEW` instead —
    * `O_EXCL` at the OS level — so the CREATE is exclusive ACROSS
    * PROCESSES too, not just across this JVM's commit lock (two drivers
    * pointed at one local table race safely on the create itself; the
    * torn-manifest reclaim in [[commitManifest]] remains in-JVM-only,
    * see its doc). A manifest written this way carries no `.crc`
    * sidecar, which the checksummed local reader accepts (it verifies
    * only when a sidecar exists). */
  object CreateExclusive extends CommitPrimitive {
    override def createExclusive(fs: FileSystem, target: Path,
        bytes: Array[Byte]): Boolean = {
      // `getScheme` is optional in the FileSystem contract (the base
      // class throws) — a connector without it takes the Hadoop path
      val isLocal =
        try fs.getScheme == "file"
        catch { case _: UnsupportedOperationException => false }
      if (isLocal) {
        // COMPLETE-OR-ABSENT local commit: the bytes are written to a
        // private temp file first and HARD-LINKED into place — link(2)
        // is atomic and fails if the target exists, so this is O_EXCL
        // on a file that is already complete when it first becomes
        // visible. A torn manifest can therefore never APPEAR at the
        // target on a local store (a crash leaves only temp debris,
        // swept by vacuum's unreferenced-file pass), which also removes
        // the reclaim's cross-process race for local tables — there is
        // never an in-flight manifest at the target to misjudge.
        val p = java.nio.file.Paths.get(target.toUri.getPath)
        java.nio.file.Files.createDirectories(p.getParent)
        val tmp = p.getParent.resolve(
          s".${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
        val out = java.nio.file.Files.newOutputStream(tmp,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        try out.write(bytes) finally out.close()
        try {
          java.nio.file.Files.createLink(p, tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            // no hard links on this local store: CREATE_NEW write, the
            // exclusive-create-but-tearable fallback (#eof still guards)
            val o2 =
              try java.nio.file.Files.newOutputStream(p,
                java.nio.file.StandardOpenOption.CREATE_NEW,
                java.nio.file.StandardOpenOption.WRITE)
              catch {
                case _: java.nio.file.FileAlreadyExistsException =>
                  return false
              }
            try o2.write(bytes) finally o2.close()
            true
        } finally java.nio.file.Files.deleteIfExists(tmp)
      } else {
        val out =
          try fs.create(target, false)
          catch {
            case e: java.io.IOException =>
              if (fs.exists(target)) return false else throw e
          }
        try out.write(bytes) finally out.close()
        true
      }
    }
  }

  /** A commit lost the version race: another writer created this
    * version's manifest first. Retrying writers re-stage against the new
    * head until `maxCommitAttempts` is spent and then surface it;
    * [[rebucket]], [[splitBucket]] and [[setProps]] surface it on the
    * first loss — re-run them. */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** An `expectProps` precondition failed: the table's current
    * properties no longer match what the writer's batch was computed
    * against (another writer advanced a transactional cursor in the
    * meantime). NOT retried by the optimistic loop — unlike a lost
    * version race, re-merging the same batch would be wrong; the caller
    * must recompute against the current state (an incremental refresher
    * simply re-runs). */
  final class StalePropsException(msg: String)
    extends RuntimeException(msg)

  private def checkExpectProps(cur: Option[Snapshot], root: Path,
      expectProps: Map[String, String]): Unit =
    expectProps.foreach { case (k, v) =>
      val got = cur.flatMap(_.props.get(k))
      if (!got.contains(v))
        throw new StalePropsException(
          s"commit to $root expects prop '$k'='$v' but the table has " +
            s"${got.fold("no such prop")(g => s"'$k'='$g'")} — another " +
            "writer advanced the table since this batch was computed; " +
            "recompute against the current state and retry")
    }

  /** A committed version: its bucket layout, its commit wall-clock, its
    * DATA schema (without the `kb` layout column), and bucket ->
    * relative file paths. Layout and schema travel IN the manifest so a
    * [[rebucket]] or an additive schema evolution changes them and the
    * file set in the same atomic commit — a side marker could disagree
    * with the file set after a crash between two writes. Files written
    * before an evolution lack the newer columns; readers apply the
    * version's recorded schema, so those columns surface as NULL. The
    * bucket columns and the merge contract (`mergeKeys`, `orderCol`;
    * "" = arrival order) are recorded by every version. */
  case class Snapshot(version: Long, nBuckets: Int, commitTsMs: Long,
      schema: org.apache.spark.sql.types.StructType,
      files: Map[Int, Seq[String]],
      bucketCols: Seq[String],
      mergeKeys: Seq[String],
      orderCol: String,
      depths: Map[Int, Int] = Map.empty,
      props: Map[String, String] = Map.empty,
      deltas: Map[Int, Seq[String]] = Map.empty,
      stats: Map[String, Map[String, (String, String)]] = Map.empty,
      lens: Map[String, Long] = Map.empty,
      valueSets: Map[String, Map[String, Set[String]]] = Map.empty,
      blooms: Map[String, Map[String, String]] = Map.empty) {
    /** Every file this version references (base + delta data files,
      * plus bloom sidecars) — the reference set GC and vacuum must
      * protect. */
    def allRefs: Iterator[String] =
      files.valuesIterator.flatten ++ deltas.valuesIterator.flatten ++
        blooms.valuesIterator.flatMap(_.valuesIterator)
    /** Declared clustering columns (the `graft.cluster.cols` table
      * property): staged files sort by them within each bucket and
      * record per-file min/max in the manifest for range pruning. */
    def clusterCols: Seq[String] =
      props.get(ClusterColsProp).map(_.split(",", -1).toSeq)
        .getOrElse(Seq.empty)
    /** Declared low-cardinality columns ([[ValueSetColsProp]]): staged
      * files record their exact per-file distinct values (capped) for
      * categorical file skipping. */
    def valueSetCols: Seq[String] =
      props.get(ValueSetColsProp).map(_.split(",", -1).toSeq)
        .getOrElse(Seq.empty)
    /** Declared bloom-sidecar columns ([[BloomColsProp]]). */
    def bloomCols: Seq[String] =
      props.get(BloomColsProp).map(_.split(",", -1).toSeq)
        .getOrElse(Seq.empty)
  }

  /** A manifest file that exists but lacks the `#eof` trailer: its
    * writer died mid-commit, so the version never became readable. */
  private final class TornManifestException(msg: String)
    extends RuntimeException(msg)

  private def manifestPath(root: Path, v: Long): Path =
    new Path(root, f"$ManifestDir/v$v%012d.txt")

  /** Committed versions, ascending (empty for a fresh table). A torn
    * trailing manifest (crashed writer) is NOT listed — it never
    * committed. */
  def versions(spark: SparkSession, targetDir: String): Seq[Long] = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedVersions(fs, root)
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) return Seq.empty
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toLong
      }.toSeq.sorted
  }

  /** Listed versions minus a torn TAIL entry. Only the newest manifest
    * can be torn under the single-writer contract (earlier ones were
    * complete when their successor committed), so one integrity check
    * bounds the cost. */
  private def committedVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val all = listVersions(fs, root)
    all.lastOption match {
      case Some(last) =>
        try { readManifest(fs, root, last); all }
        catch { case _: TornManifestException => all.dropRight(1) }
      case None => all
    }
  }

  private[streaming] def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream(4096)
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Atomic-replace write of a small file (tmp + Rename.OVERWRITE): a
    * delete-then-rename pair would leave a crash window with no file at
    * all. */
  private def writeFileAtomic(fs: FileSystem, target: Path,
      content: String): Unit = {
    val parent = target.getParent
    fs.mkdirs(parent)
    val tmp = new Path(parent, s".${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, fs.getConf)
      .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private[streaming] def readManifest(fs: FileSystem, root: Path, v: Long): Snapshot =
    readManifestAt(fs, root, manifestPath(root, v), v)

  private def readManifestAt(fs: FileSystem, root: Path, path: Path,
      v: Long): Snapshot = {
    val lines = readFully(fs, path).split("\n", -1).toVector
      .filterNot(_.isEmpty)
    if (!lines.lastOption.contains(Eof))
      throw new TornManifestException(s"manifest v$v at $root is torn " +
        "(no #eof trailer — its writer died mid-commit); the version never " +
        "committed. A replaying writer reclaims it; `vacuum` sweeps it.")
    // drop the verified trailer BEFORE splitting headers from rows: a
    // manifest can legitimately list zero files (every key tombstoned),
    // and #eof must not parse as a header then
    val content = lines.dropRight(1)
    val headers = content.takeWhile(_.startsWith("#"))
      .map { h => val Array(k, rest) = h.stripPrefix("#").split("=", 2); k -> rest }
      .toMap
    // the one-version gate: only a manifest stamped with THIS engine's
    // format and carrying the whole contract is read; anything else is
    // refused, never guessed at (see ManifestFormat)
    val found = headers.getOrElse("format", "none")
    def refuse(what: String): Nothing = sys.error(
      s"manifest v$v at $root (format $found) $what; this engine reads " +
        s"only format $ManifestFormat manifests — rewrite the table with " +
        "this engine")
    if (found != ManifestFormat.toString) refuse("is in another format")
    Seq("nbuckets", "ts", "schema", "bucketcols", "keys", "ordercol")
      .find(h => !headers.contains(h))
      .foreach(h => refuse(s"lacks the required #$h header"))
    // file lines: `<bucket>\t<rel>` is a BASE file (≤1 row per key per
    // bucket — the CoW invariant), `<bucket>\tD\t<rel>` a DELTA file
    // (r11 merge-on-read: batch-sized row-version layers readers fold
    // over the base; the literal `D` can never be a path — every rel
    // starts with `batches/`)
    val bodyLines = content.dropWhile(_.startsWith("#"))
    // `S` lines (r11 range stats): `S\t<rel>\t<col>\t<b64min>\t<b64max>`
    // — per-file min/max of a clustering column, base64 over the
    // value's canonical string form (the manifest is line/tab-oriented
    // and string values may contain both)
    def deB64(s: String): String = new String(
      java.util.Base64.getDecoder.decode(s), "UTF-8")
    val stats: Map[String, Map[String, (String, String)]] = bodyLines
      .collect { case l if l.startsWith("S\t") =>
        l.split('\t') match {
          case Array(_, rel, c, mn, mx) => (rel, c, deB64(mn), deB64(mx))
          case other => sys.error(s"malformed manifest v$v at $root: " +
            s"unparseable stats line '${other.mkString("\\t")}'")
        }
      }
      .groupBy(_._1).map { case (rel, rows) =>
        rel -> rows.map(r => r._2 -> (r._3, r._4)).toMap
      }
    // `V` lines (r11 value sets): `V\t<rel>\t<col>\t<b64v1,b64v2,...>`
    // — a file's exact distinct values of a declared low-cardinality
    // column (each value base64 over its canonical string form; the
    // list may be EMPTY: an all-null file, prunable by any non-null
    // equality). Absent = not recorded (cardinality cap) = never
    // pruned.
    val valueSets: Map[String, Map[String, Set[String]]] = bodyLines
      .collect { case l if l.startsWith("V\t") =>
        l.split('\t') match {
          case Array(_, rel, c, vs) => (rel, c,
            vs.split(",", -1).toSeq.filter(_.nonEmpty).map(deB64).toSet)
          case Array(_, rel, c) => (rel, c, Set.empty[String])
          case other => sys.error(s"malformed manifest v$v at $root: " +
            s"unparseable value-set line '${other.mkString("\\t")}'")
        }
      }
      .groupBy(_._1).map { case (rel, rows) =>
        rel -> rows.map(r => r._2 -> r._3).toMap
      }
    // `L` lines (r11 file lengths): `L\t<rel>\t<bytes>` — the staged
    // listing's sizes travel in the manifest, so a reader can plan
    // splits (the SQL relation's FileIndex) without ANY storage round
    // trip; every live file has one
    val lens: Map[String, Long] = bodyLines
      .collect { case l if l.startsWith("L\t") =>
        l.split('\t') match {
          case Array(_, rel, n) => rel -> n.toLong
          case other => sys.error(s"malformed manifest v$v at $root: " +
            s"unparseable length line '${other.mkString("\\t")}'")
        }
      }.toMap
    // `B` lines (r12 bloom sidecars): `B\t<rel>\t<col>\t<sidecarRel>` —
    // a data file's per-column membership bloom, stored as its own
    // sidecar file under `_blooms/` (FP-sized filters are tens-to-
    // hundreds of KB each; inlining them would balloon a production
    // manifest to GBs). Absent = not recorded = never pruned.
    val blooms: Map[String, Map[String, String]] = bodyLines
      .collect { case l if l.startsWith("B\t") =>
        l.split('\t') match {
          case Array(_, rel, c, side) => (rel, c, side)
          case other => sys.error(s"malformed manifest v$v at $root: " +
            s"unparseable bloom line '${other.mkString("\\t")}'")
        }
      }
      .groupBy(_._1).map { case (rel, rows) =>
        rel -> rows.map(r => r._2 -> r._3).toMap
      }
    val fileLines = bodyLines
      .filterNot(l => l.startsWith("S\t") || l.startsWith("L\t") ||
        l.startsWith("V\t") || l.startsWith("B\t"))
      .map(line => line.split('\t') match {
        case Array(b, rel) => (b.toInt, rel, false)
        case Array(b, "D", rel) => (b.toInt, rel, true)
        case other => sys.error(s"malformed manifest v$v at $root: " +
          s"unparseable file line '${other.mkString("\\t")}'")
      })
    val files = fileLines.filterNot(_._3)
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2).toSeq }
    val deltas = fileLines.filter(_._3)
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2).toSeq }
    (files.valuesIterator.flatten ++ deltas.valuesIterator.flatten)
      .find(rel => !lens.contains(rel))
      .foreach(rel => refuse(s"lists $rel without its L length line"))
    // #depths: active split buckets as `id.depth` pairs, absent on
    // unsplit tables
    val depths: Map[Int, Int] = headers.get("depths")
      .map(_.split(",").iterator.map { e =>
        val Array(id, d) = e.split("\\.")
        id.toInt -> d.toInt
      }.toMap).getOrElse(Map.empty)
    // #prop.<key>: user-level table properties — committed atomically
    // with the version like everything else in the header, and carried
    // forward by every later commit
    val props: Map[String, String] = headers.collect {
      case (k, v) if k.startsWith("prop.") => k.stripPrefix("prop.") -> v
    }
    Snapshot(v, headers("nbuckets").toInt, headers("ts").toLong,
      org.apache.spark.sql.types.StructType.fromDDL(headers("schema")), files,
      headers("bucketcols").split(",", -1).toSeq,
      // #keys / #ordercol: the merge contract readers need to FOLD delta
      // layers (group-by columns and precedence)
      headers("keys").split(",", -1).toSeq, headers("ordercol"),
      depths, props, deltas, stats, lens, valueSets, blooms)
  }

  /** Create-exclusive write of a manifest file — THE commit point of
    * every snapshot operation (see object doc for the exclusivity and
    * torn-write contracts). A torn manifest left at the target by a
    * writer killed mid-commit is reclaimed first: it never committed
    * (readers skip it), and without the reclaim a replaying writer
    * would report a spurious concurrent-commit error forever. The
    * reclaim (exists -> torn-check -> delete) is serialized only by the
    * in-JVM lock: on a store where a writer's in-flight manifest is
    * VISIBLE at the target (HDFS-class create), a FOREIGN process
    * replaying the same torn version can read it mid-write (no `#eof`
    * yet), judge it torn, and delete it out from under the open stream —
    * so there the create primitive's exclusivity does NOT extend to
    * concurrent cross-process replays of one torn version. On local
    * stores the default primitive's link-commit makes manifests
    * COMPLETE-OR-ABSENT at the target, so this race cannot arise. */
  private[streaming] def commitManifest(fs: FileSystem, root: Path,
      next: Snapshot, commit: CommitPrimitive = CreateExclusive): Unit = {
    require(next.deltas.valuesIterator.forall(_.nonEmpty),
      "commitManifest: a bucket must not record an empty delta list")
    require(next.mergeKeys.nonEmpty &&
      next.mergeKeys.forall(c => !c.contains(",") && !c.contains("\n")),
      "merge key names must be non-empty with no ',' or newlines: " +
        next.mergeKeys)
    require(!next.orderCol.contains("\n") && !next.orderCol.contains(","),
      s"orderCol must not contain ',' or newlines: '${next.orderCol}'")
    // a prefix-bucketed layout is recorded IN the manifest (like
    // nBuckets): a later merge must restate it or its rows would land
    // in buckets the prefix layout never reads
    require(next.bucketCols.forall(c => !c.contains(",") && !c.contains("\n")),
      s"bucketCols names must not contain ',' or newlines: ${next.bucketCols}")
    // prop keys parse as `prop.<key>=<value>` split on the FIRST '='
    // (values may contain '='; keys may not) and the manifest is
    // line-oriented, so neither side may contain a newline
    next.props.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains("=") && !k.contains("\n"),
        s"table property key '$k' must be non-empty with no '=' or newline")
      require(!v.contains("\n"),
        s"table property '$k' value must not contain a newline")
    }
    // stat values are b64 over canonical strings: the manifest is
    // line/tab/comma oriented and values may contain all three
    def b64(s: String): String = java.util.Base64.getEncoder
      .encodeToString(s.getBytes("UTF-8"))
    fs.mkdirs(new Path(root, ManifestDir))
    val target = manifestPath(root, next.version)
    val body = (Iterator(s"#format=$ManifestFormat",
      s"#nbuckets=${next.nBuckets}", s"#ts=${next.commitTsMs}",
      s"#schema=${next.schema.toDDL}",
      s"#bucketcols=${next.bucketCols.mkString(",")}",
      // the merge contract: keys and precedence recorded like the
      // bucket layout, so delta folds and later merges validate against
      // the manifest, not the caller's memory
      s"#keys=${next.mergeKeys.mkString(",")}",
      s"#ordercol=${next.orderCol}") ++
      SortedMap.from(next.props).iterator
        .map { case (k, v) => s"#prop.$k=$v" } ++
      // split layout travels WITH the file set (like nBuckets): a split
      // and its bucket rewrites commit atomically or not at all
      (if (next.depths.nonEmpty)
        Iterator(s"#depths=${SortedMap.from(next.depths).iterator
          .map { case (id, d) => s"$id.$d" }.mkString(",")}")
      else Iterator.empty) ++
      SortedMap.from(next.files).iterator.flatMap { case (b, fs0) =>
        fs0.map(f => s"$b\t$f")
      } ++
      SortedMap.from(next.deltas).iterator.flatMap { case (b, fs0) =>
        fs0.map(f => s"$b\tD\t$f")
      } ++
      SortedMap.from(next.stats).iterator.flatMap { case (rel, cols) =>
        SortedMap.from(cols).iterator.map { case (c, (mn, mx)) =>
          s"S\t$rel\t$c\t${b64(mn)}\t${b64(mx)}"
        }
      } ++
      SortedMap.from(next.valueSets).iterator.flatMap { case (rel, cols) =>
        SortedMap.from(cols).iterator.map { case (c, vs) =>
          s"V\t$rel\t$c\t${vs.toSeq.sorted.map(b64).mkString(",")}"
        }
      } ++
      SortedMap.from(next.lens).iterator
        .map { case (rel, n) => s"L\t$rel\t$n" } ++
      SortedMap.from(next.blooms).iterator.flatMap { case (rel, cols) =>
        SortedMap.from(cols).iterator.map { case (c, side) =>
          s"B\t$rel\t$c\t$side"
        }
      } ++ Iterator(Eof)).mkString("\n")
    commitLock.synchronized {
      if (fs.exists(target)) {
        try readManifest(fs, root, next.version)
        catch { case _: TornManifestException => fs.delete(target, false) }
      }
      if (!commit.createExclusive(fs, target, body.getBytes("UTF-8")))
        throw new ConcurrentCommitException(
          s"snapshot commit: manifest v${next.version} already exists — " +
            "another writer committed concurrently; this commit is NOT " +
            "applied (retrying writers re-stage against the new head; " +
            "re-run rebucket, splitBucket or setProps)")
    }
  }

  private def nextVersion(head: Option[Snapshot]): Long =
    head.fold(1L)(_.version + 1)

  /** THE commit path of every writer: optimistic concurrency shaped as
    * `publish(root, expect)(stage)`. Reads the head, re-checks `expect`
    * against it (a [[StalePropsException]] is never retried), and asks
    * `stage` for the next version's content given that head — None
    * means there is nothing to commit. The published version is then
    * numbered `head + 1` and stamped `max(nowMs, head's #ts)`: `#ts`
    * must stay MONOTONE, because [[readAsOf]] resolves "newest ts <=
    * target" and age-based GC drops a prefix, and a retried attempt or a
    * lagging clock can carry a `nowMs` older than the head. Per-file
    * stats, value sets, lengths and blooms are pruned to the version's
    * live files, so its [[Snapshot.allRefs]] is exactly what GC must
    * protect. A lost version race re-runs `stage` from the new head,
    * `attempts` tries in all; the last loss surfaces as
    * [[ConcurrentCommitException]]. Returns the committed snapshot, or
    * None when `stage` had nothing to commit. */
  private def publish(fs: FileSystem, root: Path,
      expect: Map[String, String], commit: CommitPrimitive, attempts: Int,
      keepVersions: Int, keepAgeMs: Option[Long], nowMs: Long)(
      stage: Option[Snapshot] => Option[Snapshot]): Option[Snapshot] = {
    require(attempts >= 1, "maxCommitAttempts must be >= 1")
    require(keepVersions >= 2,
      "keepVersions must be >= 2: the next commit's GC must not delete " +
        "files a reader pinned to the current version may still be scanning")
    @scala.annotation.tailrec
    def attempt(n: Int): Option[Snapshot] = {
      val head = currentSnapshot(fs, root)
      checkExpectProps(head, root, expect)
      stage(head) match {
        case None => None
        case Some(s) =>
          val live = s.files.valuesIterator.flatten.toSet ++
            s.deltas.valuesIterator.flatten
          def prune[V](m: Map[String, V]) =
            m.filter { case (rel, _) => live(rel) }
          val next = s.copy(version = nextVersion(head),
            commitTsMs = head.fold(nowMs)(h => math.max(nowMs, h.commitTsMs)),
            stats = prune(s.stats), lens = prune(s.lens),
            valueSets = prune(s.valueSets), blooms = prune(s.blooms))
          val lost =
            try { commitManifest(fs, root, next, commit); false }
            catch { case _: ConcurrentCommitException if n < attempts => true }
          if (lost) attempt(n + 1)
          else {
            gc(fs, root, next, head, keepVersions, keepAgeMs, nowMs)
            Some(next)
          }
      }
    }
    attempt(1)
  }

  /** Enumerate the bucket files a just-written staging directory holds
    * (authoritative for the manifest entry). The per-bucket listings
    * run in PARALLEL: a worst-case commit stages thousands of bucket
    * directories, and fanning the listings out serially puts thousands
    * of sequential round-trips (an RPC each on an object store) inside
    * the one serial section of the commit. FileSystem instances are
    * thread-safe (Spark lists through them concurrently all the time). */
  /** The staged listing, name-keyed for the manifest entry plus the
    * byte lengths the same listing returned for free — recorded as
    * manifest `L` lines so readers never re-stat. */
  private[streaming] case class Staged(files: Map[Int, Seq[String]],
      lens: Map[String, Long]) {
    def isEmpty: Boolean = files.isEmpty
  }

  private def stagedFiles(fs: FileSystem, versionDir: Path): Staged = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dirs = fs.listStatus(versionDir)
      .filter(_.getPath.getName.startsWith("kb=")).toSeq
    val listed = Future.traverse(dirs) { d => Future {
      val b = d.getPath.getName.stripPrefix("kb=").toInt
      // blocking{}: these are IO round-trips, and without the marker
      // the global pool caps concurrency at the CPU-core count — the
      // exact serialization this fan-out exists to avoid on a small
      // driver facing thousands of buckets
      b -> scala.concurrent.blocking {
        fs.listStatus(d.getPath).iterator
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st =>
            (s"$BatchesDir/${versionDir.getName}/kb=$b/${st.getPath.getName}",
              st.getLen))
          .toSeq
      }
    }}
    // unbounded await is deliberate: the commit cannot proceed without
    // the listing, and the store's own RPC timeouts bound a stuck call
    val byBucket = Await.result(listed, Duration.Inf)
    Staged(byBucket.map { case (b, fs0) => b -> fs0.map(_._1) }.toMap,
      byBucket.iterator.flatMap(_._2).toMap)
  }

  /** Types whose CANONICAL STRING form we can compare correctly on the
    * driver for range pruning: integrals parse to Long; booleans to
    * Boolean; string/date/timestamp canonical forms order
    * lexicographically (ISO date/time layouts; variable-length
    * fraction digits still compare correctly digit-wise). Floats are
    * deliberately excluded — their string round-trip ordering is not
    * worth the risk of a false prune. Unsupported clustering columns
    * still get SORTED files (type-generic); they just record no stats
    * and never prune. */
  private[streaming] def statsComparable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
        DateType | TimestampType | BooleanType => true
      case _ => false
    }
  }

  /** The engine's ONE canonical string form for recorded stats, value
    * sets, bloom probes, AND the read-side candidates compared against
    * them. For TimestampType the form is the instant's epoch MICROS as
    * a decimal string — the internal UTC value, independent of
    * `spark.sql.session.timeZone`. A plain cast-to-string renders a
    * timestamp IN the session zone, so a table written under one zone
    * and read under another would canonicalize the same instant to two
    * different strings and file skipping would FALSELY prune files
    * that do hold matching rows (r12, advisor finding). Every other
    * stats-comparable type casts zone-independently (DateType is a
    * local day count; integrals/booleans/strings are untouched). */
  private[streaming] def canonicalValue(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.TimestampType =>
      unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** Three-way comparison of two canonical strings of `dt` (the form
    * [[canonicalValue]] records and every reader canonicalizes to). */
  private[streaming] def statCompare(
      dt: org.apache.spark.sql.types.DataType, a: String, b: String): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType =>
        java.lang.Long.compare(a.toLong, b.toLong)
      case BooleanType => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
      case _ => a.compareTo(b)
    }
  }

  /** Per-file min/max of the supported clustering columns over a
    * just-staged version directory — ONE column-pruned re-read of the
    * staged slice, grouped by file. Files whose column is all-NULL
    * record nothing for it (and are therefore never pruned by it);
    * rows with NULL in the column never match a range predicate, so
    * min/max over the non-null values is exactly the prunable range. */
  private def computeStats(spark: SparkSession, versionDir: Path,
      cols: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : Map[String, Map[String, (String, String)]] = {
    val usable = cols.filter(c => schema.fields.find(_.name == c)
      .exists(f => statsComparable(f.dataType)))
    if (usable.isEmpty) return Map.empty
    // min/max run over the NATIVE type, then canonicalize (min of the
    // canonical strings would order "10" < "9"); for timestamps the
    // canonical form commutes with min/max (unix_micros is monotone)
    val aggs = usable.flatMap { c =>
      val dt = schema(c).dataType
      Seq(canonicalValue(min(col(c)), dt).as(s"__mn_$c"),
        canonicalValue(max(col(c)), dt).as(s"__mx_$c"))
    }
    val marker = s"$BatchesDir/${versionDir.getName}/"
    spark.read.schema(
        org.apache.spark.sql.types.StructType(
          schema.fields.filter(f => usable.contains(f.name))))
      .parquet(versionDir.toString)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .flatMap { r =>
        val f = r.getString(0)
        val i = f.indexOf(marker)
        if (i < 0) None
        else Some(f.substring(i) -> usable.flatMap { c =>
          val mn = r.getAs[String](s"__mn_$c")
          val mx = r.getAs[String](s"__mx_$c")
          if (mn == null || mx == null) None else Some(c -> (mn, mx))
        }.toMap)
      }
      .filter(_._2.nonEmpty).toMap
  }

  /** Per-file exact distinct values of the declared low-cardinality
    * columns over a just-staged version directory — same file-grouped
    * re-read shape as [[computeStats]]. A file whose distinct count
    * exceeds [[MaxValueSetSize]] records nothing for the column (not
    * low-cardinality THERE; never pruned by it), and NULLs are
    * excluded (equality never matches them; a null-safe probe declines
    * value-set pruning).
    *
    * BOUNDED in two passes (r12, advisor finding): an exact
    * collect_set buffers each file's FULL distinct set before any cap
    * applies, so a mistakenly-declared high-cardinality column (an id)
    * would materialize millions of strings per aggregation buffer. A
    * first constant-memory pass (per-file approx_count_distinct)
    * disqualifies such files; the exact collect then runs only over
    * rows of files that plausibly fit (approx <= 2*cap — the 5% rsd
    * sketch cannot miss a 100x blowout by that margin), masked
    * per-(file, column) so a file qualifying for one column never
    * buffers another column's large set. The exact cap still applies
    * after the exact collect, as before. */
  private def computeValueSets(spark: SparkSession, versionDir: Path,
      cols: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : Map[String, Map[String, Set[String]]] = {
    val usable = cols.filter(schema.fieldNames.contains)
    if (usable.isEmpty) return Map.empty
    val marker = s"$BatchesDir/${versionDir.getName}/"
    val staged = spark.read.schema(
        org.apache.spark.sql.types.StructType(
          schema.fields.filter(f => usable.contains(f.name))))
      .parquet(versionDir.toString)
    // pass 1: constant-memory per-file cardinality screen
    val approxAggs = usable.map(c =>
      approx_count_distinct(col(c)).as(s"__ac_$c"))
    val approx = staged.groupBy(input_file_name().as("__f"))
      .agg(approxAggs.head, approxAggs.tail: _*).collect()
    val qualifying: Map[String, Set[String]] = usable.map { c =>
      c -> approx.iterator.filter(r =>
        r.getLong(r.fieldIndex(s"__ac_$c")) <= 2L * MaxValueSetSize)
        .map(_.getString(0)).toSet
    }.toMap
    if (qualifying.valuesIterator.forall(_.isEmpty)) return Map.empty
    val allFiles = approx.map(_.getString(0)).toSet
    // pass 2: exact sets, masked to qualifying files per column
    val aggs = usable.map { c =>
      val dt = schema(c).dataType
      val q = qualifying(c)
      val v =
        if (q == allFiles) canonicalValue(col(c), dt)
        else when(input_file_name().isin(q.toSeq: _*),
          canonicalValue(col(c), dt))
      collect_set(v).as(s"__vs_$c")
    }
    staged.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
      .flatMap { r =>
        val f = r.getString(0)
        val i = f.indexOf(marker)
        if (i < 0) None
        else Some(f.substring(i) -> usable.flatMap { c =>
          val vs = r.getSeq[String](r.fieldIndex(s"__vs_$c")).toSet
          if (qualifying(c).contains(f) && vs.size <= MaxValueSetSize)
            Some(c -> vs)
          else None
        }.toMap)
      }
      .filter(_._2.nonEmpty).toMap
  }

  /** Build per-file bloom sidecars for the declared [[BloomColsProp]]
    * columns of a just-staged version directory, write them under
    * `<versionDir>/_blooms/` (underscore-prefixed: invisible to every
    * parquet listing), and return the manifest references. The build
    * is distributed and CONSTANT-MEMORY per task — each partition
    * inserts its rows' canonical strings into fixed-size filters (no
    * value buffering, unlike a collect_set), partial filters merge by
    * (file, column), and only the finished filters (one per staged
    * file x column, tens of KB each) reach the driver, which writes
    * each as its own sidecar. Sizing comes from [[BloomNdvProp]] /
    * [[BloomFppProp]]: a file holding more distinct values than the
    * declared NDV degrades the false-positive rate — extra reads,
    * never wrong answers. Values are inserted in the engine's ONE
    * canonical string form ([[canonicalValue]]), the same form the
    * read side probes with, so timestamp blooms are session-timezone
    * independent by construction. */
  private def computeBlooms(spark: SparkSession, root: Path,
      versionDir: Path, cols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      ndv: Long, fpp: Double): Map[String, Map[String, String]] = {
    val usable = cols.filter(schema.fieldNames.contains)
    if (usable.isEmpty) return Map.empty
    val marker = s"$BatchesDir/${versionDir.getName}/"
    val sel = input_file_name().as("__f") +:
      usable.map(c => canonicalValue(col(c), schema(c).dataType).as(c))
    val staged = spark.read.schema(
        org.apache.spark.sql.types.StructType(
          schema.fields.filter(f => usable.contains(f.name))))
      .parquet(versionDir.toString)
      .select(sel: _*)
    val nCols = usable.size
    val built = staged.rdd
      .mapPartitions { rows =>
        import org.apache.spark.util.sketch.BloomFilter
        val acc = scala.collection.mutable.HashMap
          .empty[(String, String), BloomFilter]
        rows.foreach { r =>
          val f = r.getString(0)
          var i = 0
          while (i < nCols) {
            if (!r.isNullAt(i + 1)) {
              acc.getOrElseUpdate((f, usable(i)),
                BloomFilter.create(ndv, fpp)).putString(r.getString(i + 1))
            }
            i += 1
          }
        }
        acc.iterator.map { case (k, bf) =>
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          k -> out.toByteArray
        }
      }
      .reduceByKey { (a, b) =>
        import org.apache.spark.util.sketch.BloomFilter
        val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
        fa.mergeInPlace(
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
        val out = new java.io.ByteArrayOutputStream()
        fa.writeTo(out)
        out.toByteArray
      }
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // STREAM the finished filters to the driver (toLocalIterator pulls
    // one partition at a time — memory stays one partition's blooms,
    // not the whole commit's) and fan each chunk's sidecar PUTs out in
    // parallel like every other driver-side storage round in the
    // commit path
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val refs = scala.collection.mutable.ArrayBuffer
      .empty[(String, (String, String))]
    built.toLocalIterator.grouped(256).foreach { chunk =>
      val written = Await.result(Future.traverse(chunk) {
        case ((f, c), bytes) => Future {
          val i = f.indexOf(marker)
          if (i < 0) None
          else scala.concurrent.blocking {
            val dataRel = f.substring(i)
            // batches/vN-x/kb=3/part-*.parquet
            //   -> batches/vN-x/_blooms/kb=3__part-*.parquet.<col>.bloom
            val name = dataRel.stripPrefix(marker).replace("/", "__")
            val sideRel = s"${marker}_blooms/$name.$c.bloom"
            val out = fs.create(new Path(root, sideRel), true)
            try out.write(bytes) finally out.close()
            Some(dataRel -> (c, sideRel))
          }
        }
      }, Duration.Inf)
      refs ++= written.flatten
    }
    refs.groupBy(_._1).map { case (rel, rows) =>
      rel -> rows.map(_._2).toMap
    }
  }

  /** The one staged write: `rows` (data columns plus `kb`) sorted by
    * `next`'s clustering columns and written `partitionBy("kb")` into a
    * fresh staging directory for the version after `head`, then listed
    * and measured under `next`'s declared columns — min/max over the
    * clustering ++ bucket columns (bucket-column ranges prove the key
    * disjointness [[rangePlan]] relies on), value sets, bloom sidecars.
    * Returns the staged bucket files and `next` with their lengths and
    * skipping metadata merged over its carried maps; the caller places
    * the files as base files or delta layers. */
  private def stageSlice(root: Path, head: Option[Snapshot], rows: DataFrame,
      next: Snapshot): (Map[Int, Seq[String]], Snapshot) = {
    val spark = rows.sparkSession
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    next.clusterCols.foreach(c => require(next.schema.fieldNames.contains(c),
      s"clustering column '$c' ($ClusterColsProp) is not a table column"))
    val dir = newVersionDir(root, nextVersion(head))
    ClusterLayout.sorted(rows, next.clusterCols, next.props)
      .write.options(ClusterLayout.writerOptions(next.props))
      .partitionBy("kb").parquet(dir.toString)
    val staged = stagedFiles(fs, dir)
    if (staged.isEmpty) return (Map.empty, next)
    (staged.files, next.copy(
      stats = next.stats ++ computeStats(spark, dir,
        (next.clusterCols ++ next.bucketCols).distinct, next.schema),
      lens = next.lens ++ staged.lens,
      valueSets = next.valueSets ++
        computeValueSets(spark, dir, next.valueSetCols, next.schema),
      blooms = next.blooms ++ computeBlooms(spark, root, dir, next.bloomCols,
        next.schema,
        next.props.get(BloomNdvProp).map(_.toLong).getOrElse(100000L),
        next.props.get(BloomFppProp).map(_.toDouble).getOrElse(0.03))))
  }

  /** Range-pruning plan over the CURRENT manifest: (kept base files of
    * UNLAYERED buckets, kept LAYERED bucket ids, droppable base files
    * WITHIN kept layered buckets). Per-file pruning is sound only
    * where each row lives in exactly one referenced file — unlayered
    * buckets; a layered bucket is all-or-nothing, because dropping
    * just its base could flip a fold. Concretely (why "apply the range
    * skipping inside the fold" is NOT sound in general): base row
    * (K, x=3, order=100) and delta row (K, x=20, order=50) — the true
    * fold keeps the base row (higher order), which the `x > 10`
    * predicate then drops, so K is absent from the result; a fold that
    * skipped the base file (its max(x)=5 is provably out of range)
    * would emit the stale delta row, which IS in range and would
    * wrongly survive.
    *
    * The sound refinement (r12): a layered bucket's base file may be
    * dropped from the fold when it is BOTH predicate-disjoint AND
    * provably key-disjoint from every one of the bucket's layer files
    * — then no key in the file can participate in any fold decision,
    * so its rows only ever pass through unchanged and the predicate
    * would discard them anyway. Key-disjointness is proved from the
    * recorded min/max range of the table's FIRST bucket column (a full
    * key match implies equality on the bucket prefix): recorded for
    * both base and layer files since r12. This fires in the
    * append-mostly shape — layers inserting NEW key ranges (time- or
    * id-ordered) never overlap old base files — and degrades to the
    * all-or-nothing fold wherever stats are missing or ranges overlap.
    * A file with no recorded stats for the column is never pruned, so
    * missing stats degrade to reading, not to wrong answers. */
  private[streaming] def rangePlan(cur: Snapshot, column: String,
      loS: String, hiS: String): (Seq[String], Seq[Int], Set[String]) = {
    val dt = cur.schema(column).dataType
    def disjoint(rel: String): Boolean = cur.stats.get(rel)
      .flatMap(_.get(column)).exists { case (mn, mx) =>
        statCompare(dt, mx, loS) < 0 || statCompare(dt, mn, hiS) > 0
      }
    val allB = (cur.files.keySet ++ cur.deltas.keySet).toSeq.sorted
    val plainKept = allB.filterNot(cur.deltas.contains)
      .flatMap(b => cur.files.getOrElse(b, Seq.empty)).filterNot(disjoint)
    val layeredKept = allB.filter(cur.deltas.contains).filter { b =>
      !(cur.files.getOrElse(b, Seq.empty) ++ cur.deltas(b)).forall(disjoint)
    }
    // within kept layered buckets: base files droppable by the
    // predicate-disjoint AND key-disjoint-from-every-layer rule
    val passThrough = passThroughBase(cur)
    val foldDroppable: Set[String] = layeredKept.iterator.flatMap { b =>
      cur.files.getOrElse(b, Seq.empty)
        .filter(rel => disjoint(rel) && passThrough(rel))
    }.toSet
    (plainKept, layeredKept, foldDroppable)
  }

  /** Base files of `snap`'s LAYERED buckets provably key-disjoint from
    * every one of their bucket's delta layers — proved from the
    * recorded min/max of the table's first bucket column, exactly
    * [[rangePlan]]'s rule. No key in such a file can participate in
    * any fold decision (no replace, no tombstone), so its rows pass
    * through the fold UNCHANGED for every query: a reader may serve
    * these files outside the fold — through the file-skipping SQL
    * relation, say — without changing any result. Missing stats mean
    * a file is never claimed pass-through (conservative). */
  private[streaming] def passThroughBase(snap: Snapshot): Set[String] = {
    if (snap.deltas.isEmpty) return Set.empty
    val keyCol = snap.bucketCols.headOption.filter(c =>
      snap.schema.fieldNames.contains(c) &&
        statsComparable(snap.schema(c).dataType))
    if (keyCol.isEmpty) return Set.empty
    val kdt = snap.schema(keyCol.get).dataType
    def keyRange(rel: String): Option[(String, String)] =
      snap.stats.get(rel).flatMap(_.get(keyCol.get))
    def keyDisjoint(a: (String, String), b: (String, String)): Boolean =
      statCompare(kdt, a._2, b._1) < 0 || statCompare(kdt, b._2, a._1) < 0
    snap.deltas.keysIterator.flatMap { b =>
      val layerRanges = snap.deltas(b).map(keyRange)
      snap.files.getOrElse(b, Seq.empty).filter { rel =>
        keyRange(rel).exists(fr =>
          layerRanges.forall(_.exists(lr => keyDisjoint(fr, lr))))
      }
    }.toSet
  }

  /** (kept file count, total file count) a [[readRange]] with these
    * bounds would read — the pruning decision exposed for audits and
    * specs, one manifest read, no data access. */
  private[streaming] def rangeKept(spark: SparkSession, targetDir: String,
      column: String, loS: String, hiS: String): (Int, Int) = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(
      sys.error(s"rangeKept: no committed version at $targetDir"))
    val (plainKept, layeredKept, foldDrop) = rangePlan(cur, column, loS, hiS)
    val kept = plainKept.size + layeredKept.map(b =>
      cur.files.getOrElse(b, Seq.empty).count(!foldDrop(_)) +
        cur.deltas(b).size).sum
    (kept, (cur.files.valuesIterator.flatten ++
      cur.deltas.valuesIterator.flatten).size)
  }

  /** The current table restricted to `column BETWEEN lo AND hi`
    * (inclusive), reading ONLY the files whose manifest-recorded
    * min/max range can intersect — file-level data skipping from the
    * manifest alone, no footer opened for a pruned file. Requires the
    * table to have declared the column in [[ClusterColsProp]] for the
    * stats to exist (reads stay CORRECT without them — every unstated
    * file is kept, and the exact predicate is always applied after
    * pruning). At 100 TB this is the difference between "scan the
    * table for last week" and "open last week's files": commit-ordered
    * data clusters naturally by time, so a time-ranged read touches
    * the few files whose range overlaps. */
  def readRange(spark: SparkSession, targetDir: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(
      sys.error(s"readRange: no committed version at $targetDir"))
    require(cur.schema.fieldNames.contains(column),
      s"readRange: no column '$column' in the table (names are exact)")
    val dt = cur.schema(column).dataType
    // canonicalize the bounds through the engine's own canonical form —
    // the same path that produced the recorded stats strings
    val b = spark.range(1).select(
      canonicalValue(lit(lo).cast(dt), dt).as("lo"),
      canonicalValue(lit(hi).cast(dt), dt).as("hi")).head()
    require(!b.isNullAt(0) && !b.isNullAt(1),
      s"readRange: bounds ($lo, $hi) must cast non-null to ${dt.simpleString}")
    val (plainKept, layeredKept, foldDrop) = rangePlan(cur, column,
      b.getString(0), b.getString(1))
    val plain = readImage(spark, cur.schema,
      plainKept.map(rel => s"$root/$rel"))
    val img =
      if (layeredKept.isEmpty) plain
      else plain.unionByName(
        foldDeltas(spark, root, cur, layeredKept, cur.schema,
          dropBaseRels = foldDrop))
    img.where(col(column) >= lit(lo).cast(dt) && col(column) <= lit(hi).cast(dt))
  }

  /** A fresh staging directory UNIQUE to this commit attempt
    * (`batches/v{N}-{suffix}`). Uniqueness is what makes a same-version
    * race safe by construction: two writers never stage into — or
    * reclaim — each other's directory, so the only shared mutable point
    * is the create-exclusive manifest, where exactly one wins and the
    * winner's referenced files are untouchable by the loser. The cost:
    * a crashed attempt's directory is no longer reclaimed by the replay
    * (the replay cannot tell its own predecessor's debris from a live
    * concurrent writer's staging) — [[vacuum]] sweeps it instead, and
    * nothing ever references it, so it is disk debris, never a
    * correctness issue. */
  private def newVersionDir(root: Path, version: Long): Path =
    new Path(root,
      s"$BatchesDir/v$version-${java.util.UUID.randomUUID.toString.take(8)}")

  /** Newest committed snapshot with ONE manifest read in the steady
    * state (going through committedVersions would parse the newest
    * manifest for the torn check, discard it, and re-read it). */
  private[streaming] def currentSnapshot(fs: FileSystem, root: Path): Option[Snapshot] = {
    val all = listVersions(fs, root)
    all.lastOption.flatMap { last =>
      try Some(readManifest(fs, root, last))
      catch { case _: TornManifestException =>
        all.dropRight(1).lastOption.map(readManifest(fs, root, _))
      }
    }
  }

  /** Deep-nullable normalization: recorded schemas must admit the
    * NULLs that pre-evolution files produce for appended columns, and
    * the manifest DDL round-trip loses container nullability anyway
    * (ARRAY<BIGINT> containsNull=false comes back true from fromDDL) —
    * so schemas are normalized before recording AND before comparing,
    * or a same-typed batch would be refused as "type changed" forever
    * after its first commit. */
  private def nullableTop(s: org.apache.spark.sql.types.StructType) =
    org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(dataType = deepNullable(f.dataType),
        nullable = true)))

  private def deepNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case a: ArrayType =>
        a.copy(elementType = deepNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = deepNullable(m.keyType),
        valueType = deepNullable(m.valueType), valueContainsNull = true)
      case s: StructType => nullableTop(s)
      case other => other
    }
  }

  /** Column names the keyed writers own: `kb` (layout), `__src`/`__rn`
    * (merge internals), `__old`/`_change` (change-feed internals —
    * reserved so a table is always feed-compatible), `__dv`/`__tomb`
    * (delta-layer metadata). */
  private val Reserved =
    Seq("kb", "__src", "__rn", "__old", "_change", DeltaVCol, DeltaTombCol)

  /** Full batch validation, run once per call BEFORE any side effect, so
    * a rejected first batch leaves no trace. The reserved-name check is
    * case-INSENSITIVE like Spark's own resolution — `withColumn("kb")`
    * would silently REPLACE a case-variant `KB` data column with bucket
    * ids before any later duplicate-column error surfaced. An optional
    * tombstone marker column must be in the batch, BOOLEAN, and not a
    * key (the marker is merge metadata, never stored in the table). */
  private def validateBatch(batch: DataFrame, keys: Seq[String],
      tombstoneCol: Option[String]): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val clash = batch.columns.toSeq
      .filter(c => Reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"batch must not carry reserved columns ${Reserved.mkString("/")} " +
        s"(any case); found: ${clash.mkString(",")}")
    tombstoneCol.foreach { t =>
      val f = batch.schema.fields.find(_.name == t).getOrElse(
        sys.error(s"upsert: tombstone column '$t' is not in the batch"))
      require(f.dataType == org.apache.spark.sql.types.BooleanType,
        s"upsert: tombstone column '$t' must be BOOLEAN, got " +
          f.dataType.simpleString)
      require(!keys.contains(t), s"upsert: tombstone column '$t' cannot be a key")
    }
  }

  /** Shared batch preamble of the keyed writers (the caller has already
    * run [[validateBatch]]): runs `use` on the bucket-stamped batch under
    * the single-evaluation rule — once the table holds rows
    * (`populatedTable`), the batch is materialized eagerly so the
    * touched-bucket collect and the write see ONE evaluation (a
    * re-evaluated non-deterministic batch could emit a row into a bucket
    * absent from `touched`, which the commit then replaces without
    * having merged its existing rows). Incremental batches are the small
    * side by design, so the snapshot is cheap. A FIRST write has no
    * existing rows to lose — every emitted row lands whether or not its
    * bucket was pre-collected — so the seed batch (the one table-sized
    * input a keyed table ever sees) stays lazy: its extra collect pass
    * column-prunes to the keys, measured ~2x cheaper than materializing
    * every column (seed of 100M rows: 70.5 s snapshotted vs 34-40 s
    * lazy). */
  private def withPreparedBatch[T](batch: DataFrame, nBuckets: Int,
      populatedTable: Boolean, bucketCols: Seq[String],
      depths: Map[Int, Int])(use: DataFrame => T): T = {
    val withBucket0 =
      batch.withColumn("kb", bucketOfLayout(bucketCols, nBuckets, depths))
    val withBucket =
      if (populatedTable) withBucket0.localCheckpoint(true) else withBucket0
    try use(withBucket)
    finally if (populatedTable) withBucket.unpersist(false)
  }

  /** The merge rule: per key the highest `orderCol` wins, incoming
    * (`__src`=1) beats existing on an exact tie, in-batch ties break on
    * a deterministic whole-row hash. `orderCol = ""` selects ARRIVAL
    * order: no data column ranks the versions, the incoming row always
    * replaces the existing one (the reference's prod upsert semantics,
    * upsert_data.py:18-86). Both inputs carry `dataCols` plus `kb`;
    * `existing` rows are live by definition, so when a `tombstoneCol` is
    * in play only `incoming` carries it (normalized NULL->false) and a
    * key whose WINNING version is a tombstone is dropped from the output
    * — deletion is applied at merge time and the marker itself is never
    * stored, so a later upsert with a higher (or arrival-later) order
    * resurrects the key as a fresh insert.
    *
    * `keepTombstones` (merge-on-read staging): instead of APPLYING a
    * winning tombstone (dropping the key), emit it — the output keeps
    * one row per key including tombstone winners, with the normalized
    * marker appended as `__tomb` (false when no `tombstoneCol` is in
    * play). A delta layer cannot apply a delete at write time — it
    * never sees the existing rows — so it must STATE it for the
    * read-time fold. */
  private def selectWinners(existing: DataFrame,
      incoming: DataFrame, dataCols: Seq[String], keys: Seq[String],
      orderCol: String, tombstoneCol: Option[String] = None,
      keepTombstones: Boolean = false): DataFrame = {
    // the tie-break hash covers the tombstone flag too: a delete and a
    // re-statement of the same row in ONE batch must resolve
    // deterministically, not by partition-local row order
    val hashCols = dataCols ++ tombstoneCol
    val ordering =
      (if (orderCol.nonEmpty) Seq(col(orderCol).desc) else Seq.empty) ++
        Seq(col("__src").desc, xxhash64(struct(hashCols.map(col): _*)).asc)
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ordering: _*)
    val ex = tombstoneCol.foldLeft(existing.withColumn("__src", lit(0)))(
      (d, t) => d.withColumn(t, lit(false)))
    val in = tombstoneCol.foldLeft(incoming.withColumn("__src", lit(1)))(
      (d, t) => d.withColumn(t, coalesce(col(t), lit(false))))
    val winners = ex.unionByName(in)
      .withColumn("__rn", row_number().over(rank))
      .where(col("__rn") === 1)
    if (keepTombstones)
      winners
        .withColumn(DeltaTombCol,
          tombstoneCol.map(col).getOrElse(lit(false)))
        .select((dataCols :+ "kb" :+ DeltaTombCol).map(col): _*)
    else
      tombstoneCol.foldLeft(winners)((d, t) => d.where(!col(t)))
        .select((dataCols :+ "kb").map(col): _*)
  }

  /** Merge one batch of row versions as a new committed version (see the
    * object doc for the merge rule and the commit protocol). Retention:
    * `keepVersions` >= 2 controls how many committed versions stay
    * readable; a version is garbage-collected
    * only when it is BOTH beyond the count window AND (when `keepAgeMs`
    * is set) older than that age — "keep 7 days" composes with "keep N
    * versions". The count minimum is 2 because a reader pinned to the
    * CURRENT version must survive the next commit's GC — retention of 1
    * would let that GC delete files out from under an in-flight scan,
    * re-introducing the torn-read race this commit protocol exists to
    * remove. A `tombstoneCol` (boolean, NULL = false, not stored) marks
    * deletions: a key whose winning row is a tombstone is dropped from
    * its bucket's rewrite, and [[changesBetween]] can report it as a
    * `_change='delete'`.
    *
    * `bucketCols` (default: the keys) buckets the table by a PREFIX of
    * the key — e.g. a postings table keyed `(term, doc_id)` bucketed by
    * `term` alone, so [[readKeys]] probed with terms prunes to exactly
    * those terms' buckets (the inverted-index fetch). Merge correctness
    * is unaffected: every row of a key shares the key's prefix, so old
    * and new versions of a key always land in the same bucket. Like
    * `keys` and `nBuckets`, `bucketCols` is part of the caller's table
    * contract — every merge against a table must restate the same
    * prefix (a different one would strand keys in buckets the merge
    * neither reads nor rewrites).
    *
    * Concurrency: a commit that loses the version race to another
    * writer RE-MERGES against the new current version and retries, up
    * to `maxCommitAttempts` (optimistic concurrency — both writers'
    * batches land, serialized; see the object doc). `commit` is the
    * pluggable exclusivity primitive ([[CreateExclusive]] by default;
    * an object-store conditional put in deployments whose create is
    * not atomic). */
  def upsertBatchSnapshot(batch: DataFrame, targetDir: String,
      keys: Seq[String], orderCol: String, nBuckets: Int = 64,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      tombstoneCol: Option[String] = None,
      nowMs: Long = System.currentTimeMillis(),
      bucketCols: Seq[String] = Seq.empty,
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive,
      props: Map[String, String] = Map.empty,
      expectProps: Map[String, String] = Map.empty): Unit = {
    require(bucketCols.forall(keys.contains),
      s"upsert: bucketCols (${bucketCols.mkString(",")}) must be a subset " +
        s"of the keys (${keys.mkString(",")}) — bucketing by a non-key " +
        "column would scatter a key's versions across buckets")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    // FULL validation before any side effect
    validateBatch(batch, keys, tombstoneCol)
    // each attempt stages into its own directory and evaluates the batch
    // ONCE (re-checkpointed per attempt for a populated table), so
    // whichever attempt commits is internally consistent
    publish(fs, root, expectProps, commit, maxCommitAttempts, keepVersions,
        keepAgeMs, nowMs) { head =>
      val next = batchHeader(root, head, batch, keys, orderCol, nBuckets,
        tombstoneCol, bucketCols, props)
      withPreparedBatch(batch, nBuckets,
        populatedTable = head.exists(_.files.nonEmpty),
        bucketCols = next.bucketCols, depths = next.depths) { withBucket =>
        rewriteTouched(root, head, withBucket, next,
          selectWinners(_, _, next.schema.fieldNames.toSeq, keys,
            orderCol, tombstoneCol))
      }
    }
  }

  /** Merge one batch as a DELTA commit (merge-on-read): instead of
    * rewriting every touched bucket (copy-on-write write amplification
    * — a batch touching K buckets rewrites K full buckets however few
    * rows changed), the batch's per-key winners are APPENDED as one
    * batch-sized layer file per touched bucket and the manifest
    * records them as delta layers. Write cost is proportional to the
    * BATCH, never to the buckets it lands in — the high-frequency
    * ingest shape at 100 TB, where a copy-on-write commit per
    * small batch would rewrite the table many times over per day.
    *
    * The price moves to the read: a delta-bearing bucket's readers
    * fold its layers over the base (see [[foldDeltas]] — the fold
    * replays the exact CoW merge rule in commit order, so
    * readSnapshot/readKeys/changesBetween results are BIT-IDENTICAL to
    * the copy-on-write sequence; pinned by DeltaSnapshotSpec and the
    * `q_snapshot_mor` oracle gate). [[compactDeltas]] folds layers
    * back into base files; `compactAt` > 0 runs that inline whenever a
    * bucket's layer count reaches the threshold, bounding read
    * amplification by construction. A CoW [[upsertBatchSnapshot]]
    * touching a delta-bearing bucket also compacts it in passing.
    *
    * Deletes: a winning tombstone row is STORED in the layer (flagged,
    * marker column dropped) rather than applied — the fold applies it
    * at read time, and [[changesBetween]] reports it as a delete like
    * any CoW delete. Same schema-evolution, retention, optimistic
    * retry-merge, `props`/`expectProps` CAS, and layout contracts as
    * the CoW path; the merge contract (`keys`, `orderCol`) is
    * additionally RECORDED in the manifest, because readers need it to
    * fold, and is frozen while any layer is pending. */
  def appendDeltaSnapshot(batch: DataFrame, targetDir: String,
      keys: Seq[String], orderCol: String, nBuckets: Int = 64,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      tombstoneCol: Option[String] = None,
      nowMs: Long = System.currentTimeMillis(),
      bucketCols: Seq[String] = Seq.empty,
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive,
      props: Map[String, String] = Map.empty,
      expectProps: Map[String, String] = Map.empty,
      compactAt: Int = 0): Unit = {
    require(bucketCols.forall(keys.contains),
      s"delta append: bucketCols (${bucketCols.mkString(",")}) must be a " +
        "subset of the keys")
    require(compactAt >= 0, "compactAt must be >= 0 (0 = never inline)")
    val spark = batch.sparkSession
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    validateBatch(batch, keys, tombstoneCol)
    publish(fs, root, expectProps, commit, maxCommitAttempts, keepVersions,
        keepAgeMs, nowMs) { head =>
      val next = batchHeader(root, head, batch, keys, orderCol, nBuckets,
        tombstoneCol, bucketCols, props)
      // ONE action (the staging write), so the batch needs no pinning
      // snapshot — a single evaluation per attempt by construction
      withPreparedBatch(batch, nBuckets, populatedTable = false,
        bucketCols = next.bucketCols, depths = next.depths) { withBucket =>
        // in-batch winners ONLY (the existing rows are never read — that
        // is the whole point); tombstone winners are kept and STATED in
        // the layer for the read-time fold
        val layer = selectWinners(emptyWithKb(spark, next.schema),
            withBucket, next.schema.fieldNames.toSeq, keys, orderCol,
            tombstoneCol, keepTombstones = true)
          .withColumn(DeltaVCol, lit(nextVersion(head)))
          .repartition(col("kb"))
        val (staged, n) = stageSlice(root, head, layer, next)
        if (staged.isEmpty) None // empty batch: nothing to commit
        else Some(n.copy(deltas = staged.foldLeft(n.deltas) {
          case (acc, (b, fs0)) =>
            acc.updated(b, acc.getOrElse(b, Seq.empty) ++ fs0)
        }))
      }
    }
    if (compactAt > 0)
      compactDeltas(spark, targetDir, minLayers = compactAt,
        keepVersions = keepVersions, keepAgeMs = keepAgeMs, nowMs = nowMs,
        maxCommitAttempts = maxCommitAttempts, commit = commit)
  }

  /** The next version's header for a keyed batch commit (upsert or
    * delta append) against `head`: the layout validated against the
    * head (a fresh table takes the caller's), the schema evolved additively
    * by the batch's data columns, the bucket columns and merge contract
    * recorded, `props` merged over the carried ones. Files and metadata
    * carry from the head. */
  private def batchHeader(root: Path, head: Option[Snapshot],
      batch: DataFrame, keys: Seq[String], orderCol: String, nBuckets: Int,
      tombstoneCol: Option[String], bucketCols: Seq[String],
      props: Map[String, String]): Snapshot = {
    head.foreach(checkLayout(_, root, nBuckets, keys, orderCol, bucketCols))
    val schema = evolvedSchema(head, org.apache.spark.sql.types.StructType(
      batch.schema.fields.filterNot(f => tombstoneCol.contains(f.name))))
    val bc = if (bucketCols.isEmpty) keys else bucketCols
    val base = head.getOrElse(
      Snapshot(0L, nBuckets, 0L, schema, Map.empty, bc, keys, orderCol))
    base.copy(nBuckets = nBuckets, schema = schema, bucketCols = bc,
      mergeKeys = keys, orderCol = orderCol, props = base.props ++ props)
  }

  /** An empty frame of `schema` plus the `kb` bucket column. */
  private def emptyWithKb(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    readImage(spark, schema.add("kb", org.apache.spark.sql.types.IntegerType),
      Seq.empty)

  /** Fold delta layers back into base files — the maintenance half of
    * merge-on-read. Every bucket holding at least `minLayers` layers
    * (capped at `maxBuckets` per call, deepest-stacked first) is
    * rewritten as a fresh clustered base file via the same fold the
    * readers apply, and its layers are dropped from the manifest —
    * content-identical by construction ([[changesBetween]] across a
    * compaction commit reports an EMPTY feed; pinned by spec). Cost is
    * the selected buckets' bases + layers — slice-sized, never the
    * table. Retries on a lost version race with a full re-read (a
    * concurrent delta append may have stacked new layers meanwhile).
    * Returns the compacted bucket ids (empty when nothing qualified). */
  def compactDeltas(spark: SparkSession, targetDir: String,
      minLayers: Int = 1, maxBuckets: Int = Int.MaxValue,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive): Seq[Int] = {
    require(minLayers >= 1, "compactDeltas: minLayers must be >= 1")
    require(maxBuckets >= 1, "compactDeltas: maxBuckets must be >= 1")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // re-selected per attempt: a racing delta append may stack new layers
    var compacted = Seq.empty[Int]
    publish(fs, root, Map.empty, commit, maxCommitAttempts, keepVersions,
        keepAgeMs, nowMs) { head =>
      val cur = head.getOrElse(
        sys.error(s"compactDeltas: no committed version at $targetDir"))
      compacted = cur.deltas.toSeq.filter(_._2.size >= minLayers)
        .sortBy { case (b, ls) => (-ls.size, b) }
        .take(maxBuckets).map(_._1)
      if (compacted.isEmpty) None
      else {
        val folded = readMergedImage(spark, root, cur, Some(compacted))
          .withColumn("kb",
            bucketOfLayout(cur.bucketCols, cur.nBuckets, cur.depths))
          .repartition(compacted.length, col("kb"))
        // a compacted bucket whose every key was tombstoned by its
        // layers stages NO file and correctly vanishes from the manifest
        val (staged, n) = stageSlice(root, head, folded, cur.copy(
          files = cur.files -- compacted, deltas = cur.deltas -- compacted))
        Some(n.copy(files = n.files ++ staged))
      }
    }
    compacted.sorted
  }

  /** SQL `MERGE INTO` semantics against the snapshot table: per key,
    * WHEN MATCHED [AND updateCond] THEN UPDATE SET (the `updateSet`
    * expressions), WHEN MATCHED AND deleteCond THEN DELETE, WHEN NOT
    * MATCHED [AND insertCond] THEN INSERT the source row — the general
    * conditional-DML shape [[upsertBatchSnapshot]]'s whole-row
    * latest-state rule cannot express (e.g. `SET cnt = t.cnt + s.cnt`,
    * the increment merge; delete-if-condition; insert-only loads).
    *
    * Expressions reference the two sides as STRUCT columns `t` (the
    * target's current row) and `s` (the source row): `col("t.cnt") +
    * col("s.cnt")`. Delete wins over update when both conditions hold
    * (stated rule, pinned by spec); a matched row with no applicable
    * action — `updateSet` empty or `updateCond` false — is carried
    * UNCHANGED. `updateAll = true` is the convenience whole-row
    * replacement (`SET c = s.c` for every non-key column). Key columns
    * cannot be assigned (a key rewrite would move the row's bucket;
    * MERGE-matched keys are equal by definition anyway).
    *
    * Contract mirrors SQL MERGE: the SOURCE must be key-unique — a key
    * with two source rows is refused (one job, checked once per call),
    * exactly the standard MERGE cardinality violation. The source
    * carries the table's full data schema (additive evolution applies,
    * like every commit path). The TARGET must exist — seed with
    * [[upsertBatchSnapshot]]; target rows are unique per key by the
    * CoW invariant.
    *
    * Scale shape = the CoW merge's: the source is bucketed by the
    * table's recorded layout, ONLY the touched buckets' current rows
    * are read (manifest-pruned, delta layers folded — the rewrite
    * doubles as their compaction) and rewritten clustered; untouched
    * buckets carry by reference. Same atomic manifest commit, same
    * optimistic retry on a lost version race (the re-merge recomputes
    * every action against the winner's rows), same retention/GC,
    * `props`/`expectProps` CAS, and change-feed visibility (a deleted
    * key surfaces as `_change='delete'` like any CoW delete). */
  def mergeInto(source: DataFrame, targetDir: String, keys: Seq[String],
      updateSet: Map[String, Column] = Map.empty,
      updateAll: Boolean = false,
      updateCond: Option[Column] = None,
      deleteCond: Option[Column] = None,
      insert: Boolean = true,
      insertCond: Option[Column] = None,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive,
      props: Map[String, String] = Map.empty,
      expectProps: Map[String, String] = Map.empty): Unit = {
    require(!(updateAll && updateSet.nonEmpty),
      "mergeInto: updateAll replaces every non-key column from the " +
        "source; it cannot be combined with explicit updateSet entries")
    require(!updateSet.keySet.exists(keys.contains),
      s"mergeInto: key columns ${updateSet.keySet.filter(keys.contains)
        .mkString(",")} cannot be assigned — a key rewrite would move " +
        "the row out of its bucket (and matched keys are equal anyway)")
    val spark = source.sparkSession
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    validateBatch(source, keys, None)
    updateSet.keys.foreach(c => require(source.columns.contains(c),
      s"mergeInto: updateSet assigns unknown column '$c'"))
    // SQL MERGE's cardinality rule: two source rows for one key would
    // make the action result order-dependent — refuse, like the
    // standard's "cannot update the same row twice"
    val dup = source.groupBy(keys.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    require(dup == 0,
      "mergeInto: the source has more than one row for some key — " +
        "MERGE requires a key-unique source (the SQL cardinality rule); " +
        "pre-aggregate the source")
    publish(fs, root, expectProps, commit, maxCommitAttempts, keepVersions,
        keepAgeMs, nowMs) { head =>
      val cur = head.getOrElse(sys.error(
        s"mergeInto: no committed version at $root — MERGE needs an " +
          "existing target; seed the table with upsertBatchSnapshot"))
      // layout + frozen-contract validation exactly like a CoW merge;
      // the table's own recorded precedence satisfies the delta check
      // (a MERGE rewrite folds and compacts touched layered buckets)
      checkLayout(cur, root, cur.nBuckets, keys, cur.orderCol, cur.bucketCols)
      val dataSchema = evolvedSchema(head, source.schema)
      val effectiveSet =
        if (updateAll)
          dataSchema.fieldNames.filterNot(keys.contains)
            .map(c => c -> col(s"s.$c")).toMap
        else updateSet
      withPreparedBatch(source, cur.nBuckets,
        populatedTable = cur.files.nonEmpty, bucketCols = cur.bucketCols,
        depths = cur.depths) { withBucket =>
        rewriteTouched(root, head, withBucket, cur.copy(schema = dataSchema,
            props = cur.props ++ props, mergeKeys = keys),
          mergeActionRule(dataSchema, keys, effectiveSet, updateCond,
            deleteCond, insert, insertCond))
      }
    }
  }

  /** Predicate-based row-level DELETE: remove every current row
    * matching `cond`, as one atomic commit. Sugar over [[mergeInto]]
    * (source = the matching rows, always-delete, no insert), with the
    * matching set planned through the SQL relation
    * ([[SnapshotRelation.readSql]]) — a predicate the relation's
    * file-skipping recognizes (key equality, clustered range) reads
    * only the overlapping files to FIND its rows, so `DELETE WHERE
    * day = X` costs the day's slice, not a table scan. The predicate
    * is evaluated ONCE against the call-time snapshot (the relation
    * pins its manifest): if a concurrent writer commits mid-retry, the
    * keys that matched THEN are deleted even where their rows changed
    * — the same single-evaluation contract as readKeys' probe. */
  def deleteWhere(spark: SparkSession, targetDir: String, cond: Column,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive): Unit = {
    val (rows, keys) = matchingRows(spark, targetDir, cond)
    mergeInto(rows, targetDir, keys,
      deleteCond = Some(lit(true)), insert = false,
      keepVersions = keepVersions, keepAgeMs = keepAgeMs, nowMs = nowMs,
      maxCommitAttempts = maxCommitAttempts, commit = commit)
  }

  /** Predicate-based row-level UPDATE: apply `set` (expressions over
    * the `t` struct, e.g. `Map("status" -> lower(col("t.status")))`)
    * to every current row matching `cond`, one atomic commit. Same
    * planning and single-evaluation contract as [[deleteWhere]]. */
  def updateWhere(spark: SparkSession, targetDir: String, cond: Column,
      set: Map[String, Column],
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      maxCommitAttempts: Int = 5,
      commit: CommitPrimitive = CreateExclusive): Unit = {
    require(set.nonEmpty, "updateWhere: set must assign at least one column")
    val (rows, keys) = matchingRows(spark, targetDir, cond)
    mergeInto(rows, targetDir, keys, updateSet = set, insert = false,
      keepVersions = keepVersions, keepAgeMs = keepAgeMs, nowMs = nowMs,
      maxCommitAttempts = maxCommitAttempts, commit = commit)
  }

  /** The rows `cond` selects from the current snapshot (via the SQL
    * relation, so recognizable predicates file-skip) plus the table's
    * recorded merge keys — the source a predicate-DML merge needs.
    * The matches are MATERIALIZED (eager localCheckpoint) before the
    * merge's optimistic retry loop: the relation pins the pre-DML
    * version, and on a lost version race the WINNING commit's GC (at
    * the default keepVersions=2) may drop that version's files — a
    * retry re-evaluating the pinned plan against deleted files would
    * die with FileNotFoundException instead of retrying cleanly. */
  private def matchingRows(spark: SparkSession, targetDir: String,
      cond: Column): (DataFrame, Seq[String]) = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(sys.error(
      s"predicate DML: no committed version at $targetDir"))
    val rows = SnapshotRelation.readSql(spark, targetDir).where(cond)
      .localCheckpoint(true)
    (rows, cur.mergeKeys)
  }

  /** The MERGE action decision as one row rule over (existing rows of
    * the touched buckets) FULL OUTER JOIN (source), null-safe on the
    * keys. Output rows REPLACE the touched buckets, so "no action"
    * must carry the target row through — only an applicable DELETE
    * (or a non-inserted source-only row) drops one. */
  private def mergeActionRule(
      dataSchema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      updateSet: Map[String, Column], updateCond: Option[Column],
      deleteCond: Option[Column], insert: Boolean,
      insertCond: Option[Column])
      : (DataFrame, DataFrame) => DataFrame = { (existing, incoming) =>
    val dataCols = dataSchema.fieldNames.toSeq
    val t = existing.select(struct(dataCols.map(col): _*).as("t"),
      col("kb").as("__tkb"))
    val s = incoming.select(struct(dataCols.map(col): _*).as("s"),
      col("kb").as("__skb"))
    val on = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val j = t.join(s, on, "full_outer")
    val matched = col("__tkb").isNotNull && col("__skb").isNotNull
    val uRow = struct(dataCols.map(c =>
      updateSet.getOrElse(c, col(s"t.$c")).as(c)): _*)
    // a NULL condition is SQL-false for its action
    val del = coalesce(deleteCond.getOrElse(lit(false)), lit(false))
    val upd = coalesce(updateCond.getOrElse(lit(true)), lit(false))
    val ins =
      if (insert) coalesce(insertCond.getOrElse(lit(true)), lit(false))
      else lit(false)
    val out = when(matched && del, lit(null)) // DELETE outranks UPDATE
      .when(matched && upd,
        if (updateSet.isEmpty) col("t") else uRow)
      .when(matched, col("t")) // matched, no applicable action: carry
      .when(col("__skb").isNotNull && ins, col("s"))
      .when(col("__skb").isNotNull, lit(null)) // not matched, no insert
      .otherwise(col("t")) // target-only row in a touched bucket
    j.select(out.as("__r"),
        coalesce(col("__tkb"), col("__skb")).as("kb"))
      .where(col("__r").isNotNull)
      // assignment cast to the RECORDED column type (SQL MERGE's rule):
      // an update expression of a wider type would otherwise widen the
      // whole output column through when-branch coercion, and the
      // staged parquet would no longer match the table's schema
      .select(dataCols.map(c =>
        col(s"__r.$c").cast(dataSchema(c).dataType).as(c)) :+ col("kb"): _*)
  }

  /** Rewrite the table into a new bucket layout as one committed
    * version — the growth path when the table has outgrown the bucket
    * count it was created with (each bucket should stay a comfortable
    * single-file rewrite unit). Every row is re-hashed and every bucket
    * staged fresh, so the commit is table-sized (like a seed), atomic
    * (layout and files swap together in the manifest), and old versions
    * remain time-travel-readable in their own layout.
    *
    * rebucket IS a writer, and a table-sized one: it does NOT auto-
    * retry on a lost version race (re-running a whole-table rewrite
    * behind the caller's back would hide real money) — a concurrent
    * merge makes it fail with [[ConcurrentCommitException]]; pause the
    * table's writers, then re-run. The create-exclusive manifest commit
    * is the backstop that makes the race an error instead of a lost
    * update. For growing ONE overfull
    * bucket without a table rewrite, see [[splitBucket]]. */
  def rebucket(spark: SparkSession, targetDir: String, newBuckets: Int,
      keys: Seq[String], keepVersions: Int = 2,
      keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      bucketCols: Seq[String] = Seq.empty,
      commit: CommitPrimitive = CreateExclusive): Unit = {
    require(newBuckets > 0, s"rebucket: newBuckets must be > 0, got $newBuckets")
    require(bucketCols.forall(keys.contains),
      s"rebucket: bucketCols (${bucketCols.mkString(",")}) must be a " +
        s"subset of the keys (${keys.mkString(",")})")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bc = if (bucketCols.isEmpty) keys else bucketCols
    publish(fs, root, Map.empty, commit, 1, keepVersions, keepAgeMs,
        nowMs) { head =>
      val cur = head.getOrElse(
        sys.error(s"rebucket: no committed version at $targetDir"))
      // read under the recorded schema: files from before a schema
      // evolution lack the newer columns (null-filled here); pending
      // delta layers fold in, so the rewrite doubles as a full compaction
      val rebucketed = readMergedImage(spark, root, cur)
        .withColumn("kb", bucketOf(bc, newBuckets))
        .repartition(newBuckets min 4096, col("kb"))
      // nothing is carried: the new layout's manifest is exactly the
      // staged set, and the header flips the layout in the same commit
      val (staged, n) = stageSlice(root, head, rebucketed,
        Snapshot(0L, newBuckets, 0L, cur.schema, Map.empty, bc, keys,
          cur.orderCol, props = cur.props))
      Some(n.copy(files = staged))
    }
  }

  /** Split ONE overfull bucket into two children WITHOUT a table
    * rewrite — the linear-hashing growth path that removes the layer's
    * one table-sized maintenance event ([[rebucket]]): a bucket at
    * depth `d` (holding keys with `hash mod nBuckets*2^d == id`) is
    * rewritten as two depth-`d+1` children (`id` and
    * `id + nBuckets*2^d`), every OTHER bucket is carried forward by
    * reference, and the per-bucket depth map commits atomically with
    * the files in the manifest's `#depths` header. Readers route by
    * the recorded depths ([[bucketOfLayout]]); bucket ids
    * stay plain ints because an id value is unique among ACTIVE
    * buckets (a deeper active id makes its same-valued ancestor split,
    * hence inactive). Cost: one bucket's read + two children's write —
    * slice-sized however large the table. A child that receives no
    * keys simply stages no file (it materializes on its first merge).
    *
    * Like [[rebucket]], a split IS a writer and does not auto-retry on
    * a lost version race (re-run it); unlike rebucket it composes with
    * live ingest cheaply — schedule it between merges. Splitting a
    * child again deepens it further; past a few hundred splits the
    * routing CASE grows (see bucketOfLayout), at which point graduate
    * to a rebucket. */
  def splitBucket(spark: SparkSession, targetDir: String, bucket: Int,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      commit: CommitPrimitive = CreateExclusive): Unit = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publish(fs, root, Map.empty, commit, 1, keepVersions, keepAgeMs,
        nowMs) { head =>
      val cur = head.getOrElse(
        sys.error(s"splitBucket: no committed version at $targetDir"))
      require(cur.files.contains(bucket) || cur.deltas.contains(bucket),
        s"splitBucket: bucket $bucket holds no files at $targetDir " +
          "(unknown id, or empty — nothing to split)")
      val d = cur.depths.getOrElse(bucket, 0)
      val m = cur.nBuckets.toLong << d
      require(bucket + m <= Int.MaxValue,
        s"splitBucket: bucket $bucket at depth $d cannot split further " +
          "(id overflow); rebucket the table instead")
      val sibling = (bucket + m).toInt
      val newDepths = cur.depths + (bucket -> (d + 1)) + (sibling -> (d + 1))
      // read ONLY the split bucket (its base files plus any pending delta
      // layers, folded — the split doubles as that bucket's compaction);
      // the new depth map routes its rows onto the two children (all
      // other rows are untouched and their buckets carried by reference)
      val splitImg = readMergedImage(spark, root, cur, Some(Seq(bucket)))
        .withColumn("kb",
          bucketOfLayout(cur.bucketCols, cur.nBuckets, newDepths))
        .repartition(2, col("kb"))
      val (staged, n) = stageSlice(root, head, splitImg, cur.copy(
        files = cur.files - bucket, deltas = cur.deltas - bucket,
        depths = newDepths))
      Some(n.copy(files = n.files ++ staged))
    }
  }

  /** One maintenance pass of [[splitBucket]]: split every bucket whose
    * live bytes (summed from the manifest's recorded file lengths — no
    * data read, no storage call) exceed `maxBucketBytes`. Single pass
    * over the CURRENT manifest: freshly-created children are not
    * re-examined in the same call (a scheduled caller re-runs; a single
    * hot KEY that alone exceeds the budget is key skew a layout cannot
    * fix — salt the key or raise the budget). Returns the split bucket
    * ids. */
  def splitOverfull(spark: SparkSession, targetDir: String,
      maxBucketBytes: Long, keepVersions: Int = 2,
      keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      commit: CommitPrimitive = CreateExclusive): Seq[Int] = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(
      sys.error(s"splitOverfull: no committed version at $targetDir"))
    // bucket sizes from the manifest's recorded file lengths: a
    // maintenance pass that reads no data makes no storage call either
    val sizes: Map[Int, Long] =
      (cur.files.keySet ++ cur.deltas.keySet).iterator.map(b =>
        b -> (cur.files.getOrElse(b, Seq.empty) ++
          cur.deltas.getOrElse(b, Seq.empty)).map(cur.lens).sum).toMap
    val overfull = sizes.iterator
      .filter(_._2 > maxBucketBytes).map(_._1).toSeq.sorted
    overfull.foreach(b => splitBucket(spark, targetDir, b, keepVersions,
      keepAgeMs, nowMs, commit))
    overfull
  }

  /** One table's maintenance knobs, composed for [[maintain]]:
    * zero/None disables a step. Defaults compact eagerly-enough for
    * read amplification (4 layers), split nothing (bucket budgets are
    * table-specific), and sweep debris older than a week. */
  case class MaintenancePolicy(
      compactMinLayers: Int = 4,
      compactMaxBuckets: Int = 64,
      maxBucketBytes: Option[Long] = None,
      vacuumOlderThanMs: Option[Long] = Some(7L * 24 * 3600 * 1000),
      keepVersions: Int = 2,
      keepAgeMs: Option[Long] = None)

  case class MaintenanceReport(compacted: Seq[Int], split: Seq[Int],
      vacuumed: Seq[String])

  /** ONE scheduled maintenance pass per table: fold overdue delta
    * layers back into base files ([[compactDeltas]]), split buckets
    * past their byte budget ([[splitBucket]] via [[splitOverfull]]),
    * and sweep unreferenced debris ([[vacuum]]) — in that order
    * (compaction first, so the split pass measures post-fold bytes;
    * vacuum last, so it sees whatever the first two dropped). Each
    * step is the same slice-sized operation operators previously
    * scheduled separately; the policy object is what a per-table cron
    * entry carries. Returns what happened, for observability. */
  def maintain(spark: SparkSession, targetDir: String,
      policy: MaintenancePolicy = MaintenancePolicy(),
      nowMs: Long = System.currentTimeMillis()): MaintenanceReport = {
    val compacted =
      if (policy.compactMinLayers > 0)
        compactDeltas(spark, targetDir, minLayers = policy.compactMinLayers,
          maxBuckets = policy.compactMaxBuckets,
          keepVersions = policy.keepVersions, keepAgeMs = policy.keepAgeMs,
          nowMs = nowMs)
      else Seq.empty
    val split = policy.maxBucketBytes.map(b =>
      splitOverfull(spark, targetDir, b, policy.keepVersions,
        policy.keepAgeMs, nowMs)).getOrElse(Seq.empty)
    val vacuumed = policy.vacuumOlderThanMs.map(h =>
      vacuum(spark, targetDir, h, nowMs)).getOrElse(Seq.empty)
    MaintenanceReport(compacted, split, vacuumed)
  }

  /** RESTORE the table to an earlier committed `version` — as a NEW
    * commit that re-publishes that version's manifest content (file
    * set, schema, layout, props, stats, deltas, blooms) at the head,
    * never by deleting history: readers pinned to intermediate
    * versions keep working, the change feed reports the restore as an
    * ordinary version step, and a second restore can undo the first.
    * Zero data movement — the old files are re-referenced, not
    * rewritten (they still exist because restore only reaches
    * versions inside the retention window; beyond it GC has swept
    * them, checked here with an actionable error).
    *
    * Same optimistic commit discipline as every writer: the head is
    * re-read per attempt, so a restore racing an ingest lands after
    * it (last writer wins the version sequence, as with any two
    * writers). Restoring to the current head is a no-op. */
  def restore(spark: SparkSession, targetDir: String, version: Long,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      commit: CommitPrimitive = CreateExclusive,
      maxCommitAttempts: Int = 5): Unit = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publish(fs, root, Map.empty, commit, maxCommitAttempts, keepVersions,
        keepAgeMs, nowMs) { head =>
      val cur = head.getOrElse(sys.error(
        s"restore: no committed version at $targetDir"))
      if (cur.version == version) None
      else {
        val target =
          try readManifest(fs, root, version)
          catch {
            case _: java.io.FileNotFoundException =>
              sys.error(s"restore: version $version does not exist at " +
                s"$targetDir (committed: ${committedVersions(fs, root)
                  .mkString(", ")}) — it was never committed or GC " +
                "already dropped it; raise keepVersions/keepAgeMs to " +
                "widen the restore window")
          }
        // retention races: the manifest can outlive some of its files
        // only transiently (a parked partial delete), and a restore
        // must never publish a head with holes. One listStatus per
        // PARENT DIRECTORY, not one exists() per file — the refs of a
        // version concentrate in a few bucket/version directories and
        // a per-file HEAD would be O(files) serial RPCs per attempt
        val missing = target.allRefs.toSeq
          .groupBy(rel => new Path(root, rel).getParent)
          .iterator.flatMap { case (dir, rels) =>
            val present: Set[String] =
              try fs.listStatus(dir).iterator
                .map(_.getPath.getName).toSet
              catch { case _: java.io.FileNotFoundException => Set.empty }
            rels.filterNot(r => present(new Path(root, r).getName))
          }.take(3).toSeq
        require(missing.isEmpty,
          s"restore: version $version references files GC already " +
            s"removed (e.g. ${missing.mkString(", ")}); the version is " +
            "outside the effective retention window")
        Some(target)
      }
    }
  }

  /** Layout + merge-contract validation against the CURRENT manifest's
    * header (the layout authority — it changes atomically with the
    * file set on rebucket), shared by the CoW and delta commit paths. */
  private def checkLayout(c: Snapshot, root: Path, nBuckets: Int,
      keys: Seq[String], orderCol: String, bucketCols: Seq[String]): Unit = {
    require(c.nBuckets == nBuckets,
      s"upsert: table at $root is laid out with nBuckets=${c.nBuckets}; " +
        s"merging with nBuckets=$nBuckets would strand rows in stale " +
        "buckets (use rebucket to change the layout)")
    // the bucket-column layout is recorded in the manifest like
    // nBuckets: a merge restating a different prefix (or forgetting
    // the recorded one) would bucket the batch into buckets the
    // table's layout never reads — silent duplicate keys
    val effectiveBc = if (bucketCols.isEmpty) keys else bucketCols
    require(effectiveBc == c.bucketCols,
      s"upsert: table at $root is bucketed by " +
        s"(${c.bucketCols.mkString(",")}); merging bucketed by " +
        s"(${effectiveBc.mkString(",")}) would " +
        "strand rows in stale buckets (use rebucket to change the layout)")
    // while delta layers are PENDING the merge contract is frozen:
    // this commit's keys/orderCol are recorded table-wide, and a
    // different contract would silently change how every untouched
    // bucket's layers fold on the next read
    if (c.deltas.nonEmpty) {
      require(keys == c.mergeKeys,
        s"upsert: table at $root has pending delta layers recorded " +
          s"under keys (${c.mergeKeys.mkString(",")}); merging with keys " +
          s"(${keys.mkString(",")}) would re-fold them under a " +
          "different contract — compact first")
      require(orderCol == c.orderCol,
        s"upsert: table at $root has pending delta layers recorded " +
          s"under orderCol '${c.orderCol}'; merging with orderCol " +
          s"'$orderCol' would re-fold them under a different contract — " +
          "compact first")
    }
  }

  /** ADDITIVE schema evolution, shared by the CoW and delta commit
    * paths: a batch must carry every existing data column with its
    * recorded type (rows are FULL upserts — a partial row would
    * silently null a column the table has values for) and may APPEND
    * new columns, which read back as NULL on pre-evolution rows. The
    * evolved schema commits atomically in the same manifest as the
    * files that introduce it. */
  private def evolvedSchema(cur: Option[Snapshot],
      batchData: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = cur match {
    case Some(c) =>
      // name matching is case-INSENSITIVE like Spark's default
      // resolution: a case-variant name must be refused here with a
      // clear message, not appended as a duplicate that later dies
      // in analysis with "Found duplicate column(s)"
      c.schema.fields.foreach { f =>
        val b = batchData.fields
          .find(_.name.equalsIgnoreCase(f.name)).getOrElse(
            sys.error(s"upsert: batch is missing existing column " +
              s"'${f.name}' — rows are full upserts; additive evolution " +
              "only appends columns"))
        require(b.name == f.name,
          s"upsert: batch column '${b.name}' differs only by case from " +
            s"existing column '${f.name}'")
        require(deepNullable(b.dataType) == deepNullable(f.dataType),
          s"upsert: column '${f.name}' type changed " +
            s"${f.dataType.simpleString} -> ${b.dataType.simpleString}; " +
            "type changes are not supported")
      }
      val known = c.schema.fieldNames.map(_.toLowerCase).toSet
      nullableTop(org.apache.spark.sql.types.StructType(
        c.schema.fields ++ batchData.fields.filterNot(f =>
          known(f.name.toLowerCase))))
    case None => nullableTop(batchData)
  }

  /** The copy-on-write rewrite shared by [[upsertBatchSnapshot]] and
    * [[mergeInto]]: the buckets `withBucket` touches are rewritten from
    * `rule(existing rows of those buckets, batch)` as one clustered file
    * each, and every other bucket carries by reference. `next` is the
    * version's header with the head's files. None when the batch
    * touches no bucket. */
  private def rewriteTouched(root: Path, head: Option[Snapshot],
      withBucket: DataFrame, next: Snapshot,
      rule: (DataFrame, DataFrame) => DataFrame): Option[Snapshot] = {
    val spark = withBucket.sparkSession
    val touched = withBucket.select("kb").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return None
    // existing rows of the touched buckets, by explicit manifest paths
    // (structural pruning: no directory discovery at all), read under
    // the EVOLVED schema (pre-evolution files simply lack the newer
    // columns, which parquet surfaces as NULL) with any pending DELTA
    // layers folded in — a CoW rewrite of a delta-bearing bucket is
    // its compaction; kb is not stored in the files (partitionBy
    // strips it) but is a pure function of the keys, so re-derive it
    val presentTouched = touched.filter(b =>
      next.files.contains(b) || next.deltas.contains(b))
    val existing =
      if (presentTouched.nonEmpty)
        readMergedImage(spark, root, head.get, Some(presentTouched),
            Some(next.schema))
          .withColumn("kb", bucketOfLayout(next.bucketCols,
            next.nBuckets, next.depths))
      else emptyWithKb(spark, next.schema)
    // the carry set excludes every TOUCHED bucket, not just the staged
    // ones — a touched bucket can legitimately stage NO file when
    // tombstones removed its every key, and carrying its old file
    // forward would resurrect them; its delta layers are folded into
    // the rewrite, so they are dropped too
    val (staged, n) = stageSlice(root, head,
      rule(existing, withBucket).repartition(touched.length, col("kb")),
      next.copy(files = next.files -- touched, deltas = next.deltas -- touched))
    Some(n.copy(files = n.files ++ staged))
  }

  /** Drop versions outside the retention bounds and delete the files
    * only they referenced. Everything is computed from manifest
    * CONTENTS — cost is bounded by the dropped versions' touched
    * buckets, never by a table listing. A version is dropped only when
    * it is beyond the count window AND older than `keepAgeMs` (when
    * set); commit timestamps are monotone, so the dropped set is always
    * a prefix and the retained versions stay dense. If any stale-file
    * delete fails transiently, the dropped version's manifest is PARKED
    * (renamed to `.v{N}.gcretry`) so the next commit's GC retries —
    * deleting it outright would orphan the remaining files forever (no
    * surviving manifest references them and GC never revisits
    * unreferenced files), while leaving it listed would present a
    * partially-deleted version as readable/retained to time travel and
    * the cursor's age-out check. `next` is the just-committed version;
    * its [[Snapshot.allRefs]] (data files plus their bloom sidecars —
    * a sidecar first written by a dropped version but carried forward
    * must survive) are protected. */
  private def gcRetryPath(root: Path, v: Long): Path =
    new Path(root, f"$ManifestDir/.v$v%012d.gcretry")

  private def gc(fs: FileSystem, root: Path, next: Snapshot,
      prev: Option[Snapshot],
      keepVersions: Int, keepAgeMs: Option[Long], nowMs: Long): Unit = {
    val oldestByCount = next.version - keepVersions + 1
    val all = listVersions(fs, root)
    // memoized: with age-based retention many versions sit beyond the
    // count window for a long time, and each is consulted here by the
    // dropped filter, the kept set, AND the delete loop — without the
    // memo that is several manifest reads per version per commit (a
    // GET each on an object store) inside the serial commit section.
    // A manifest can legitimately VANISH between the listing and the
    // read (concurrent writers both run gc after their commits,
    // and the other writer's reap may win the race) — None here, and
    // each consumer below decides: a missing DROPPED manifest is
    // already-reaped work, a missing RETAINED manifest aborts this gc
    // (the commit itself is durable; the next commit's gc retries with
    // a fresh listing). Without this, a writer whose COMMIT SUCCEEDED
    // would report failure because its cleanup lost a harmless race.
    val memo = scala.collection.mutable.Map.empty[Long, Option[Snapshot]]
    def manifestOf(v: Long): Option[Snapshot] =
      prev.filter(_.version == v).map(Option(_)).getOrElse(
        memo.getOrElseUpdate(v,
          try Some(readManifest(fs, root, v))
          catch { case _: java.io.FileNotFoundException => None }))
    // manifests PARKED by an earlier partial delete failure (renamed to
    // .v{N}.gcretry so the version no longer lists as readable — some
    // of its files are already gone) are retried every gc
    val mdir = new Path(root, ManifestDir)
    val parked: Seq[Long] =
      if (!fs.exists(mdir)) Seq.empty
      else fs.listStatus(mdir).iterator.map(_.getPath.getName)
        .collect { case n if n.startsWith(".v") && n.endsWith(".gcretry") =>
          n.stripPrefix(".v").stripSuffix(".gcretry").toLong
        }.toSeq.sorted
    val dropped = all.filter(v => v < oldestByCount &&
      // a manifest missing by read time was already reaped by a racing
      // gc — keep it in the dropped set; its reap below no-ops
      keepAgeMs.forall(a => manifestOf(v).forall(_.commitTsMs <= nowMs - a)))
    if (dropped.isEmpty && parked.isEmpty) return
    val droppedSet = dropped.toSet
    val retained = all.filterNot(droppedSet).filter(_ != next.version)
      .map(v => manifestOf(v))
    // a RETAINED manifest vanished between listing and read: another
    // writer is concurrently mutating retention state and the kept-set
    // cannot be trusted — abort THIS gc (never delete on a stale view);
    // the commit is already durable and the next commit's gc retries
    if (retained.exists(_.isEmpty)) return
    val kept: Set[String] =
      retained.flatMap(_.get.allRefs).toSet ++ next.allRefs
    def reap(d: Long, manifest: Path, park: Boolean): Unit = {
      val snap =
        try readManifestAt(fs, root, manifest, d)
        catch { case _: java.io.FileNotFoundException => return }
      val stale = snap.allRefs.filterNot(kept).toSeq
      val allGone = stale.map { rel =>
        val p = new Path(root, rel)
        try fs.delete(p, false) || !fs.exists(p)
        catch { case _: java.io.IOException => false }
      }.forall(identity)
      // drop now-empty bucket/version directories the stale files lived
      // in (per-directory FNF tolerance: a racing gc may remove a dir
      // between the exists check and the listing)
      stale.map(rel => new Path(root, rel).getParent).distinct.foreach { d =>
        try {
          if (fs.exists(d) && fs.listStatus(d).forall(
              _.getPath.getName.startsWith("_")))
            fs.delete(d, true)
          val vdir = d.getParent
          if (fs.exists(vdir) && fs.listStatus(vdir).forall(
              _.getPath.getName.startsWith("_")))
            fs.delete(vdir, true)
        } catch { case _: java.io.FileNotFoundException => () }
      }
      if (allGone) fs.delete(manifest, false)
      else if (park)
        // keep the bookkeeping for retry, but OUT of the readable
        // version list: readVersion/drainChanges must not treat a
        // partially-deleted version as retained
        fs.rename(manifest, gcRetryPath(root, d))
    }
    dropped.foreach(d => reap(d, manifestPath(root, d), park = true))
    parked.foreach(d => reap(d, gcRetryPath(root, d), park = false))
  }

  /** Sweep crash debris that the commit-path reclaim never revisits: a
    * `batches/v{N}` staging directory whose version has no manifest (its
    * writer died before commit and was never replayed), torn manifests,
    * and leftover `.v*.tmp` files from the pre-create-exclusive format.
    * Only items older than `olderThanMs` are touched — the horizon is
    * what keeps a LIVE writer's in-flight staging safe — and a file
    * still referenced by any existing manifest is never deleted (a
    * retained manifest may carry files whose own version's manifest was
    * GC'd long ago). Returns the deleted paths (relative to the table
    * root) for observability. */
  def vacuum(spark: SparkSession, targetDir: String, olderThanMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val horizon = nowMs - olderThanMs
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    // listStatus returns SCHEME-QUALIFIED paths (file:/..., hdfs://...);
    // relativize against the equally-qualified root or no listed file
    // would ever match the manifests' relative references — which would
    // turn the referenced-set guard into pure mtime protection and let
    // an old-enough LIVE file be swept as debris
    val rootStr = fs.makeQualified(root).toString
    def rel(p: Path): String =
      p.toString.stripPrefix(rootStr).stripPrefix("/")
    // manifest debris: pre-format tmp files and torn manifests
    val mdir = new Path(root, ManifestDir)
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val n = st.getPath.getName
      val oldEnough = st.getModificationTime < horizon
      if (n.startsWith(".v") && n.endsWith(".tmp") && oldEnough) {
        if (fs.delete(st.getPath, false)) deleted += rel(st.getPath)
      } else if (n.startsWith("v") && n.endsWith(".txt")) {
        val v = n.stripPrefix("v").stripSuffix(".txt").toLong
        try readManifest(fs, root, v)
        catch {
          case _: TornManifestException if oldEnough =>
            if (fs.delete(st.getPath, false)) deleted += rel(st.getPath)
          case _: TornManifestException => () // too fresh: writer may be live
        }
      }
    }
    // staging-dir debris: every file under batches/ that no manifest
    // references and that is older than the horizon. The referenced-set
    // guard (not a manifest-per-version check) is what makes this safe:
    // a GC'd version's directory legitimately persists while newer
    // manifests still carry some of its files, and a RACE LOSER's
    // abandoned staging dir shares its version number with the winner's
    // committed manifest. The horizon protects a live writer's
    // in-flight staging and the live table's own fresh files.
    val referenced: Set[String] = listVersions(fs, root).flatMap { v =>
      try readManifest(fs, root, v).allRefs.toSeq
      catch { case _: TornManifestException => Seq.empty }
    }.toSet
    val bdir = new Path(root, BatchesDir)
    if (fs.exists(bdir)) fs.listStatus(bdir).foreach { st =>
      if (st.isDirectory) {
        // PRE-walk directory mtimes: the horizon must judge the dir as
        // it stood before this vacuum's own file deletions bump it
        val dirMtime = scala.collection.mutable.Map.empty[Path, Long]
        def record(p: Path): Unit = {
          dirMtime(p) = fs.getFileStatus(p).getModificationTime
          fs.listStatus(p).filter(_.isDirectory).foreach(s => record(s.getPath))
        }
        record(st.getPath)
        def walk(p: Path): Unit = fs.listStatus(p).foreach { s =>
          val name = s.getPath.getName
          if (s.isDirectory) walk(s.getPath)
          else if (!name.startsWith("_") && !name.startsWith(".") &&
              !referenced.contains(rel(s.getPath)) &&
              s.getModificationTime < horizon) {
            if (fs.delete(s.getPath, false)) deleted += rel(s.getPath)
          }
        }
        walk(st.getPath)
        // a directory left holding only stale marker files (_SUCCESS,
        // checksums) is gone debris; one with any data file survives.
        // The directory's OWN (pre-walk) mtime must also be past the
        // horizon: an empty listing is vacuously "all stale", but a
        // live writer's just-created (momentarily empty) staging
        // subtree is exactly what the horizon promises to protect —
        // adding an entry bumps the parent dir's mtime, so an active
        // dir always reads fresh.
        def prune(p: Path): Unit = {
          fs.listStatus(p).filter(_.isDirectory).foreach(s => prune(s.getPath))
          val remaining = fs.listStatus(p)
          if (dirMtime.getOrElse(p, Long.MaxValue) < horizon &&
              remaining.forall(s => !s.isDirectory &&
                (s.getPath.getName.startsWith("_") ||
                  s.getPath.getName.startsWith(".")) &&
                s.getModificationTime < horizon))
            fs.delete(p, true)
        }
        prune(st.getPath)
      }
    }
    deleted.toSeq
  }

  /** The table as of a committed `version` — a consistent point-in-time
    * snapshot (time travel within the retention window). */
  def readVersion(spark: SparkSession, targetDir: String,
      version: Long): DataFrame = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = readManifest(fs, root, version)
    // the version's RECORDED schema: pre-evolution files lack newer
    // columns (read as NULL), and each version keeps its own schema;
    // delta layers (merge-on-read) fold transparently
    readMergedImage(spark, root, snap)
  }

  private def readImage(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame =
    if (paths.nonEmpty) spark.read.schema(schema).parquet(paths: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The table image of `snap` restricted to `buckets` (None = every
    * bucket), MERGE-ON-READ aware: buckets with no delta layers stream
    * straight off their base files (the pre-delta fast path — zero
    * overhead for a fully-compacted table), and buckets with deltas
    * are folded by [[foldDeltas]]. `schema` lets [[changesBetween]]
    * read an older version under the newer side's (grown) schema. */
  private def readMergedImage(spark: SparkSession, root: Path,
      snap: Snapshot, buckets: Option[Seq[Int]] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val sch = schema.getOrElse(snap.schema)
    val bs: Seq[Int] = buckets.getOrElse(
      (snap.files.keySet ++ snap.deltas.keySet).toSeq)
    val deltaBs = bs.distinct.filter(snap.deltas.contains)
    val plainBs = bs.distinct.filterNot(snap.deltas.contains)
    val plain = readImage(spark, sch, plainBs.filter(snap.files.contains)
      .flatMap(snap.files).map(rel => s"$root/$rel"))
    if (deltaBs.isEmpty) plain
    else plain.unionByName(foldDeltas(spark, root, snap, deltaBs, sch))
  }

  /** Fold a delta-bearing bucket set into the exact image the
    * equivalent copy-on-write merge sequence would have produced. Per
    * key the layers (base row at `__dv`=0, then one row-version per
    * delta commit, each stamped with its commit version) are replayed
    * IN COMMIT ORDER through the same rule [[selectWinners]]
    * applies batch-by-batch: a layer replaces the current winner when
    * its order value is >= (later commit wins exact ties, like
    * `__src`), and a REPLACING tombstone erases the key — after which
    * any later layer lands unconditionally. This sequential replay is
    * deliberately NOT a single argmax over all layers: the CoW merge
    * discards a winning tombstone's marker, so a later row with a
    * LOWER order value still resurrects the key — only the fold
    * reproduces that (pinned by DeltaSnapshotSpec against the real CoW
    * path). `orderCol = ""` is arrival order: every later layer
    * replaces the current winner unconditionally.
    *
    * Scale shape: the group-by shuffles ONLY the delta-bearing
    * buckets' rows (a slice the compaction policy bounds), keyed by
    * the table's keys; in-batch ties were already resolved at append
    * time, so each key folds a handful of single-row layers. */
  private[streaming] def foldDeltas(spark: SparkSession, root: Path, snap: Snapshot,
      deltaBs: Seq[Int],
      sch: org.apache.spark.sql.types.StructType,
      dropBaseRels: Set[String] = Set.empty): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType,
      BooleanType}
    val keys = snap.mergeKeys
    val orderCol = snap.orderCol
    // dropBaseRels: base files proved key-disjoint from every layer in
    // their bucket — excluding them cannot change any fold decision (no
    // shared keys with any layer), so the caller either proved their
    // pass-through rows predicate-disjoint too (readRange via
    // rangePlan) or serves them through another branch (readSql's
    // file-skipping relation)
    val base = readImage(spark, sch, deltaBs.filter(snap.files.contains)
        .flatMap(snap.files).filterNot(dropBaseRels)
        .map(rel => s"$root/$rel"))
      .withColumn(DeltaVCol, lit(0L)).withColumn(DeltaTombCol, lit(false))
    val deltaRels = deltaBs.flatMap(snap.deltas)
    val layers = spark.read
      .schema(StructType(sch.fields ++ Seq(
        StructField(DeltaVCol, LongType), StructField(DeltaTombCol,
          BooleanType))))
      .parquet(deltaRels.map(rel => s"$root/$rel"): _*)
    val dataCols = sch.fieldNames.toSeq
    // PLAN SHAPE: the naive fold shuffles every base row of a layered
    // bucket through the group-by — at a production bucket size that
    // prices a whole-bucket shuffle onto every read for however few
    // keys the layers actually touch. When the layers are small (the
    // design case: batch-sized commits, compaction bounding the
    // stack), BROADCAST their key set instead: untouched base rows
    // stream through shuffle-free (left_anti against the broadcast),
    // and only the affected keys (base left_semi + the layers — a
    // layer-sized set) enter the fold. Decided from the manifest's
    // recorded delta file lengths (no storage call); above the
    // threshold the full fold is the honest plan — a layer set that
    // big means compaction is overdue anyway.
    val layerBytes = deltaRels.map(snap.lens).sum
    val all =
      if (layerBytes <= FoldBroadcastMaxBytes) {
        val lk = layers.select(keys.map(col): _*).distinct()
        val cond = keys.map(k => base(k) <=> lk(k)).reduce(_ && _)
        val untouched = base.join(broadcast(lk), cond, "left_anti")
        val affected = base.join(broadcast(lk), cond, "left_semi")
        return untouched.select(dataCols.map(col): _*)
          .unionByName(foldRows(affected.unionByName(layers), keys,
            orderCol, dataCols))
      } else base.unionByName(layers)
    foldRows(all, keys, orderCol, dataCols)
  }

  /** Layer stack bytes above which [[foldDeltas]] stops broadcasting
    * the layer key set and falls back to the full group-by fold.
    * Consulted per read (a def) so tests can pin both plans. */
  private def FoldBroadcastMaxBytes: Long =
    sys.props.get("graft.mor.broadcastMaxBytes").map(_.toLong)
      .getOrElse(64L << 20)

  /** The sequential commit-order replay of [[foldDeltas]] over an
    * already-assembled (base rows at `__dv`=0 + layer rows) frame. */
  private def foldRows(all: DataFrame, keys: Seq[String], orderCol: String,
      dataCols: Seq[String]): DataFrame = {
    val rowsC = freshPrefix("__rows", dataCols.toSet)
    val accC = freshPrefix("__acc", dataCols.toSet + rowsC)
    val elem = struct(col(DeltaVCol).as("_v"),
      (if (orderCol.isEmpty) lit(0) else col(orderCol)).as("_o"),
      col(DeltaTombCol).as("_t"), struct(dataCols.map(col): _*).as("_r"))
    val elemType = all.select(elem.as("_e")).schema("_e").dataType
    val nullElem = lit(null).cast(elemType)
    // sort by the commit version alone: a comparator touching only _v
    // keeps non-orderable payload types (maps) legal, and versions are
    // unique per key (one winner per delta commit, base at 0)
    val grouped = all.groupBy(keys.map(col): _*)
      .agg(collect_list(elem).as(rowsC))
    val sortedRows = array_sort(col(rowsC), (l, r) =>
      when(l("_v") < r("_v"), -1).when(l("_v") > r("_v"), 1).otherwise(0))
    val folded = aggregate(sortedRows, nullElem, (acc, x) => {
      val take =
        if (orderCol.isEmpty) lit(true)
        // null orders lose to non-null (desc NULLS LAST, like the CoW
        // window); two nulls tie, and the later commit wins a tie
        else acc.isNull || coalesce(x("_o") >= acc("_o"), acc("_o").isNull)
      when(take && x("_t"), nullElem).when(take, x).otherwise(acc)
    })
    grouped.select(folded.as(accC))
      .where(col(accC).isNotNull)
      .select(dataCols.map(c => col(accC)("_r")(c).as(c)): _*)
  }

  /** Every retained version's manifest, parsed ONCE, tolerant of a
    * concurrent writer's GC racing the scan: a version listed a moment
    * ago may have been deleted (or parked as `.gcretry`) by the time
    * its manifest is read — it just left the retention window, so it
    * is skipped rather than crashing a read-only API. The NEWEST
    * manifest is never GC'd, so the current-state guarantee is
    * unaffected. */
  private[streaming] def readRetained(fs: FileSystem, root: Path): Seq[Snapshot] =
    listVersions(fs, root).flatMap { v =>
      try Some(readManifest(fs, root, v))
      catch {
        case _: TornManifestException => None
        case _: java.io.FileNotFoundException => None
      }
    }

  /** Resolve a reader's version pin the way [[SnapshotRelation.readSql]]
    * does — newest committed version, an explicit version, or the
    * newest version committed at or before `asOfMs` — and return it
    * with that version's recorded data schema. None = no committed
    * version satisfies the pin (fresh table, or an asOf before the
    * oldest retained commit). The public face the SQL catalog
    * ([[graft.catalog.GraftCatalog]]) resolves names through. */
  def resolvePin(spark: SparkSession, targetDir: String,
      version: Option[Long] = None, asOfMs: Option[Long] = None)
      : Option[(Long, org.apache.spark.sql.types.StructType)] = {
    require(version.isEmpty || asOfMs.isEmpty,
      "resolvePin: pass version OR asOfMs, not both")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (version, asOfMs) match {
      case (Some(v), _) =>
        try { val m = readManifest(fs, root, v); Some((m.version, m.schema)) }
        catch { case _: java.io.FileNotFoundException => None }
      case (_, Some(ts)) =>
        readRetained(fs, root).filter(_.commitTsMs <= ts).lastOption
          .map(m => (m.version, m.schema))
      case _ => currentSnapshot(fs, root).map(m => (m.version, m.schema))
    }
  }

  /** Observability: one committed version's recorded layout, merge
    * contract, file counts, and table properties as a flat string map
    * (props under their own keys, layout under `graft.*`) — what a
    * catalog's `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED` surfaces. */
  def describeVersion(spark: SparkSession, targetDir: String,
      version: Long): Map[String, String] = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(fs, root, version)
    m.props ++ Map(
      "graft.nBuckets" -> m.nBuckets.toString,
      "graft.commitTsMs" -> m.commitTsMs.toString,
      "graft.nFiles" -> m.files.valuesIterator.map(_.size).sum.toString,
      "graft.nDeltaFiles" ->
        m.deltas.valuesIterator.map(_.size).sum.toString,
      "graft.bucketCols" -> m.bucketCols.mkString(","),
      "graft.mergeKeys" -> m.mergeKeys.mkString(","),
      "graft.orderCol" -> m.orderCol)
  }

  /** The current committed version (None for a fresh table), read
    * once: a caller that needs several of its fields (layout, merge
    * contract, schema) gets them all from the same version. */
  def currentSnapshot(spark: SparkSession, targetDir: String): Option[Snapshot] = {
    val root = new Path(targetDir)
    currentSnapshot(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Bucket count of the current committed version (None for a fresh
    * table) — so maintenance callers need not restate the layout the
    * manifest already records. */
  def currentBuckets(spark: SparkSession, targetDir: String): Option[Int] =
    currentSnapshot(spark, targetDir).map(_.nBuckets)

  /** Total data-file count of the current committed version (None for
    * a fresh table) — one manifest read; what adaptive readers use to
    * decide pruned-vs-full without touching data. */
  def currentFileCount(spark: SparkSession, targetDir: String): Option[Int] =
    currentSnapshot(spark, targetDir).map(_.allRefs.size)

  /** (version, recorded data schema) of the current committed version
    * (None for a fresh table) — one manifest read, no data access; what
    * `IncrementalMv` reads an MV's schema from. */
  def currentVersionInfo(spark: SparkSession, targetDir: String)
      : Option[(Long, org.apache.spark.sql.types.StructType)] =
    currentSnapshot(spark, targetDir).map(s => (s.version, s.schema))

  /** The current version's recorded bucket columns (None for a fresh
    * table). A selective reader uses this to decide whether
    * [[readKeys]]' prefix contract holds for its probe columns. */
  def currentBucketCols(spark: SparkSession, targetDir: String)
      : Option[Seq[String]] =
    currentSnapshot(spark, targetDir).map(_.bucketCols)

  /** The table's RECORDED merge contract — (#keys, #ordercol) from the
    * current manifest (None for a fresh table). What the SQL MERGE rule
    * validates the statement against: a MERGE joining on anything but
    * the recorded keys would break the one-row-per-key bucket
    * invariant. */
  def currentMergeContract(spark: SparkSession, targetDir: String)
      : Option[(Seq[String], String)] =
    currentSnapshot(spark, targetDir).map(s => (s.mergeKeys, s.orderCol))

  /** The current version's table properties (empty for a fresh
    * table). Properties commit atomically with the version's data — a
    * reader that sees a property value sees every file of the commit
    * that set it — which is what makes them usable as transactional
    * cursors (see IncrementalMv). */
  def currentProps(spark: SparkSession, targetDir: String)
      : Map[String, String] =
    currentSnapshot(spark, targetDir).map(_.props).getOrElse(Map.empty)

  /** Commit a METADATA-ONLY version: the current file set, schema and
    * layout carried forward verbatim, with `props` merged over the
    * table's existing properties. This is how a cursor prop advances
    * when a refresh produced no data changes (e.g. the consumed slice
    * was empty after a base rebucket) — the advance is still a real
    * atomic commit, subject to the same version race and `expectProps`
    * CAS as a data commit; it makes one attempt, so a lost race
    * surfaces [[ConcurrentCommitException]]. Returns the committed
    * version. */
  def setProps(spark: SparkSession, targetDir: String,
      props: Map[String, String],
      expectProps: Map[String, String] = Map.empty,
      keepVersions: Int = 2, keepAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis(),
      commit: CommitPrimitive = CreateExclusive): Long = {
    require(props.nonEmpty, "setProps: props must be non-empty")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    publish(fs, root, expectProps, commit, 1, keepVersions, keepAgeMs,
        nowMs) { head =>
      val cur = head.getOrElse(
        sys.error(s"setProps: no committed version at $targetDir — " +
          "properties live in version manifests; commit data first"))
      Some(cur.copy(props = cur.props ++ props))
    }.get.version
  }

  /** Time-based time travel: the table as of wall-clock `tsMs` — the
    * newest version whose commit timestamp is <= tsMs ("the table as
    * the 02:00 report saw it"). Commit timestamps are the `#ts`
    * manifest header (monotone under the single-writer contract);
    * resolution parses each retained manifest once and reads the
    * chosen snapshot directly. Fails with a clear error when every
    * retained version is newer (the asked-for point has been GC'd — or
    * predates the table). */
  def readAsOf(spark: SparkSession, targetDir: String, tsMs: Long): DataFrame = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = readRetained(fs, root)
    require(snaps.nonEmpty, s"readAsOf: no committed version at $targetDir")
    val at = snaps.filter(_.commitTsMs <= tsMs).lastOption.getOrElse(
      sys.error(s"readAsOf: no retained version at or before $tsMs — " +
        s"oldest retained commit is ${snaps.head.commitTsMs} " +
        "(the requested point aged out of retention, or predates the table)"))
    readMergedImage(spark, root, at)
  }

  /** Table history — one row per retained version: (version,
    * commit_ts_ms, n_buckets, n_files, n_columns). The DESCRIBE-HISTORY
    * answer for audits and retention sizing; driver-side KBs (reads
    * manifests, never data). */
  def history(spark: SparkSession, targetDir: String): DataFrame = {
    import spark.implicits._
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readRetained(fs, root)
      .map(s => (s.version, s.commitTsMs, s.nBuckets,
        s.files.valuesIterator.map(_.size).sum, s.schema.fields.length,
        s.deltas.valuesIterator.map(_.size).sum))
      .toDF("version", "commit_ts_ms", "n_buckets", "n_files", "n_columns",
        "n_delta_files")
  }

  /** Current table state: the data columns of the head version (a table
    * whose every key was tombstone-deleted reads back empty, with the
    * recorded schema). */
  def readSnapshot(spark: SparkSession, targetDir: String): DataFrame = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(
      sys.error(s"snapshot upsert: no committed version at $targetDir"))
    readVersion(spark, targetDir, cur.version)
  }

  /** Point/selective read: the current table state restricted to the
    * keys in `lookup`, scanning ONLY the buckets those keys hash into —
    * the read-side counterpart of the merge's structural pruning. At
    * 100 TB a backfill or serving query for a handful of keys must not
    * read the table; here it reads `|distinct buckets of lookup|` files
    * (each bucket is one clustered file per version), identified from
    * the pinned manifest with no directory listing at all.
    *
    * `lookup` carries one row per wanted key. `keys` must BEGIN with
    * the table's recorded bucket column(s): the prefix alone returns
    * everything under it (probe a `(term, doc_id)`-keyed postings
    * table bucketed by `term` with terms alone — every posting of the
    * probed terms), and prefix-plus-more columns prune by the prefix
    * then filter on all of them (probe by full `(term, doc_id)` — one
    * posting, r11). Only the prefix drives the bucket hash, so both
    * shapes read the same pruned file set.
    * Extra lookup columns are ignored; the lookup is expected to be
    * lookup-sized — its distinct keys are BROADCAST for the semi-join
    * (for a table-scale probe side, read [[readSnapshot]] and join
    * normally). Keys match null-safely, like the merge groups them: a
    * null key is a real key. Key column names are exact and their
    * types must match the table's recorded types (Spark's
    * case-insensitive resolution — or xxhash64's type-sensitivity —
    * would otherwise hash a case- or type-variant probe into garbage
    * buckets and silently return nothing). The lookup is evaluated
    * ONCE: its distinct keys are collected to the driver (lookup-sized
    * by contract — they are broadcast anyway), so the bucket ids and
    * the semi-join probes can never disagree on a non-deterministic
    * lookup. `maxProbeKeys` enforces that contract: a table-scale probe
    * fails with a clear error at the cap instead of collecting its way
    * to a driver OOM — past the cap, read [[readSnapshot]] and join
    * normally (a shuffle join is the right plan for a probe that big
    * anyway). */
  def readKeys(spark: SparkSession, targetDir: String, lookup: DataFrame,
      keys: Seq[String], maxProbeKeys: Int = 1 << 20): DataFrame = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentSnapshot(fs, root).getOrElse(
      sys.error(s"snapshot upsert: no committed version at $targetDir"))
    require(keys.nonEmpty, "readKeys: need at least one key column")
    // every commit records its bucket columns, so a probe NOT
    // anchored on that prefix is refused here (its hash would read the
    // wrong buckets); columns BEYOND the prefix are legal — they filter
    // within the pruned read
    val hashKeys = cur.bucketCols
    require(keys.take(hashKeys.size) == hashKeys,
      s"readKeys: table at $root is bucketed by (${hashKeys.mkString(",")}); " +
        s"probe keys (${keys.mkString(",")}) must start with that " +
        "prefix — anything else would read the wrong buckets")
    keys.distinct.foreach { k =>
      require(cur.schema.fieldNames.contains(k), {
        val variant = cur.schema.fieldNames
          .find(_.equalsIgnoreCase(k)).filter(_ != k)
        s"readKeys: no key column '$k' in the table" +
          variant.fold("")(v => s" (did you mean '$v'? names are exact here)")
      })
      require(lookup.schema.fieldNames.contains(k),
        s"readKeys: lookup has no column '$k' (names are exact here)")
      val tt = deepNullable(cur.schema(k).dataType)
      val lt = deepNullable(lookup.schema(k).dataType)
      require(lt == tt,
        s"readKeys: lookup column '$k' is ${lt.simpleString} but the table " +
          s"records ${tt.simpleString} — the bucket hash is type-sensitive, " +
          "so a type-variant probe would read the wrong buckets; cast the " +
          "lookup to the table's type")
    }
    val projected = lookup.select(keys.map(col): _*).distinct()
    // cap-checked collect: limit(cap+1) bounds what ever reaches the
    // driver, so even a misused table-scale probe costs one row over
    // the cap, not an OOM
    val collected = projected.limit(maxProbeKeys + 1).collect()
    require(collected.length <= maxProbeKeys,
      s"readKeys: the lookup has more than $maxProbeKeys distinct keys — " +
        "this API collects and broadcasts the probe set, which is for " +
        "lookup-sized probes only; for a table-scale probe, readSnapshot " +
        "the table and join normally")
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(collected: _*), projected.schema)
    val kbs = probes
      .select(bucketOfLayout(hashKeys, cur.nBuckets, cur.depths)
        .as("kb"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val present = kbs.filter(b =>
      cur.files.contains(b) || cur.deltas.contains(b))
    val image = readMergedImage(spark, root, cur, Some(present))
    if (present.isEmpty) image // no probed bucket exists: empty, typed
    else {
      val cond = keys.map(k => image(k) <=> probes(k)).reduce(_ && _)
      image.join(broadcast(probes), cond, "left_semi")
    }
  }

  /** Row-level changes between two committed versions — the CHANGE
    * FEED an incremental downstream consumer replays instead of
    * re-reading the table. Output: the data columns plus `_change` —
    * "insert" for keys absent at `fromVersion`, "update" for keys whose
    * row differs, and (with `emitDeletes`) "delete" for keys present at
    * `fromVersion` and gone at `toVersion` (tombstoned in between),
    * carrying the key's LAST KNOWN values from the old image. Without
    * `emitDeletes` the historical insert/update-only shape is kept.
    *
    * Scale shape: the manifest diff identifies exactly the buckets any
    * intervening merge rewrote (including buckets that DISAPPEARED —
    * fully tombstoned), so both sides read ONLY those buckets' files —
    * cost is bounded by the changed slice, never the table.
    * A bucket rewrite re-writes co-located rows whose keys did not
    * change, so rows are compared exactly (null-safe struct equality)
    * and unchanged rows are filtered out. */
  def changesBetween(spark: SparkSession, targetDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String],
      emitDeletes: Boolean = false,
      emitBefore: Boolean = false): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween needs fromVersion < toVersion ($fromVersion, $toVersion)")
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from = readManifest(fs, root, fromVersion)
    val to = readManifest(fs, root, toVersion)
    // bucket numbers are comparable ONLY within one layout: across a
    // rebucket (count OR bucket-column change) the same number holds
    // different key sets (and a bucket empty under the new layout would
    // HIDE the old file sharing its number), so a cross-layout diff
    // reads both images whole. Across a SPLIT (same count + columns,
    // different depths) the ids differ but every bucket's key space
    // nests inside its BASE residue class (id mod nBuckets), which is
    // stable — so the diff compares class-wise and reads only the
    // classes whose file sets disagree (a pure split that rewrote one
    // bucket reads that parent + its children, never the table).
    val sameGrid = from.nBuckets == to.nBuckets &&
      from.bucketCols == to.bucketCols
    // a bucket's CONTENT identity is its base files AND its delta
    // layers: a delta append changes a bucket without touching its
    // base, and a compaction changes the file set without changing
    // content (the diff's row comparison filters that to an empty feed)
    def ident(m: Snapshot, b: Int) = (m.files.get(b), m.deltas.get(b))
    def bucketsOf(m: Snapshot): Set[Int] = m.files.keySet ++ m.deltas.keySet
    val (oldBuckets, newBuckets): (Seq[Int], Seq[Int]) =
      if (!sameGrid)
        (bucketsOf(from).toSeq, bucketsOf(to).toSeq)
      else if (from.depths == to.depths) {
        // union of both keysets: a bucket absent from `to` (every key
        // tombstoned) is still a change the old side must surface
        val changed = (bucketsOf(from) ++ bucketsOf(to))
          .filter(b => ident(from, b) != ident(to, b)).toSeq
        (changed, changed)
      } else {
        val fc = bucketsOf(from).groupBy(_ % from.nBuckets)
        val tc = bucketsOf(to).groupBy(_ % from.nBuckets)
        val classes = (fc.keySet ++ tc.keySet).filter { r0 =>
          fc.getOrElse(r0, Set.empty).map(b => b -> ident(from, b)).toMap !=
            tc.getOrElse(r0, Set.empty).map(b => b -> ident(to, b)).toMap
        }
        (classes.toSeq.flatMap(r0 => fc.getOrElse(r0, Set.empty)),
          classes.toSeq.flatMap(r0 => tc.getOrElse(r0, Set.empty)))
      }
    if (oldBuckets.isEmpty && newBuckets.isEmpty) {
      // identical manifests: empty feed with the table's schema (one
      // footer read — the only case that needs a sample)
      val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], to.schema)
        .withColumn("_change", lit(""))
      return if (!emitBefore) empty
        else empty.withColumn("_before", lit(null).cast(
          org.apache.spark.sql.types.StructType(to.schema.fields)))
    }
    // both sides read under the NEWER version's schema (schemas only
    // grow, so to.schema covers from; a column added between the two
    // versions reads as NULL on the old side — a row whose only change
    // is a now-populated new column correctly reports as an update);
    // each side folds ITS OWN delta layers first, so the diff compares
    // the logical images whatever mix of delta/CoW commits lies between
    val newSide = readMergedImage(spark, root, to, Some(newBuckets),
      Some(to.schema))
    val oldSide = readMergedImage(spark, root, from, Some(oldBuckets),
      Some(to.schema))
    diffImages(newSide, oldSide, keys, emitDeletes, emitBefore)
  }

  /** Internal column names for [[diffImages]] that cannot collide with
    * the inputs' own columns: a fixed `__old`/`__old_<key>` scheme would
    * break (ambiguous reference) on a table whose DATA carries such a
    * name, so the prefix is grown until it is collision-free. */
  private def freshPrefix(base: String, taken: Set[String]): String = {
    // case-insensitive like Spark's resolution: a data column named
    // `__OLD_id` collides with an internal alias `__old_id` just as
    // surely as the exact-case name would
    val lower = taken.map(_.toLowerCase)
    var p = base
    while (lower.exists(c => c == p || c.startsWith(p + "_"))) p += "x"
    p
  }

  /** The change-feed diff over two table IMAGES — the expression logic
    * [[changesBetween]] applies to its manifest-pruned reads, exposed
    * for use on arbitrary DataFrames (and oracle-gated as
    * `q_change_feed` / `q_change_feed_deletes`): rows of `newImage`
    * whose key is absent from `oldImage` ("insert") or whose row
    * differs ("update"), plus — when `emitDeletes` — keys of `oldImage`
    * absent from `newImage` ("delete", carrying the old row's values);
    * unchanged rows are dropped by exact null-safe struct comparison.
    * Keys match null-SAFELY: the merge groups null keys like any other
    * value (bucketOf hashes them, the window partitions them), so the
    * feed must match them too or a null-keyed row would be re-reported
    * as a spurious insert on every diff that rewrites its bucket. */
  def diffImages(newImage: DataFrame, oldImage: DataFrame,
      keys: Seq[String], emitDeletes: Boolean = false,
      emitBefore: Boolean = false): DataFrame = {
    val dataCols = newImage.columns.toSeq
    val taken = dataCols.toSet ++ oldImage.columns
    val oldP = freshPrefix("__old", taken)
    // `emitBefore` appends `_before` — the key's row AT fromVersion as
    // one struct of the data columns (NULL on insert) — which is what a
    // delta consumer needs to RETRACT a changed row's old contribution
    // (an update that moves a row between aggregation groups is
    // invisible to the old group without it). Fixed name like
    // `_change`; on a delete row the flat columns already carry the old
    // values and `_before` agrees with them.
    def before: Column = col(oldP).as("_before")
    if (!emitDeletes) {
      val old = oldImage.select(
        keys.map(k => col(k).as(s"${oldP}_$k")) :+
          struct(dataCols.map(col): _*).as(oldP): _*)
      val joinCond = keys.map(k => col(k) <=> col(s"${oldP}_$k")).reduce(_ && _)
      val base = newImage.join(old, joinCond, "left")
        .where(col(oldP).isNull ||
          !(struct(dataCols.map(col): _*) <=> col(oldP)))
        .withColumn("_change",
          when(col(oldP).isNull, "insert").otherwise("update"))
      base.select((dataCols.map(col) :+ col("_change")) ++
        (if (emitBefore) Seq(before) else Nil): _*)
    } else {
      // full outer: both sides packed into structs so an absent side is
      // one NULL test and delete rows surface the old image's values
      val newP = freshPrefix("__new", taken + oldP)
      val old = oldImage.select(
        keys.map(k => col(k).as(s"${oldP}_$k")) :+
          struct(dataCols.map(col): _*).as(oldP): _*)
      val nw = newImage.select(
        keys.map(k => col(k).as(s"${newP}_$k")) :+
          struct(dataCols.map(col): _*).as(newP): _*)
      val joinCond = keys.map(k =>
        col(s"${newP}_$k") <=> col(s"${oldP}_$k")).reduce(_ && _)
      val out: Seq[Column] = (dataCols.map(c =>
        when(col(newP).isNull, col(s"$oldP.$c"))
          .otherwise(col(s"$newP.$c")).as(c)) :+
        when(col(oldP).isNull, "insert")
          .when(col(newP).isNull, "delete")
          .otherwise("update").as("_change")) ++
        (if (emitBefore) Seq(before) else Nil)
      nw.join(old, joinCond, "full_outer")
        .where(col(oldP).isNull || col(newP).isNull ||
          !(col(newP) <=> col(oldP)))
        .select(out: _*)
    }
  }

  /** One drained change-feed slice: the changes DataFrame plus the
    * cursor advance to call AFTER the consumer has durably applied it.
    * `fromVersion` = 0 marks a bootstrap slice (the whole current image
    * as inserts). */
  final case class FeedSlice(fromVersion: Long, toVersion: Long,
      changes: DataFrame, commitCursor: () => Unit)

  /** Consumer-side cursor over the change feed: reads the last consumed
    * version from `cursorFile`, returns the slice from there to the
    * current version, and advances the cursor only when the caller
    * signals durable consumption via [[FeedSlice.commitCursor]] — so
    * incremental pipelines chain without hand-rolled version
    * bookkeeping. Delivery is AT-LEAST-ONCE: a crash between reading
    * the slice and committing the cursor replays the same slice, which
    * is idempotent for any keyed downstream (the slice is an image
    * diff, not a delta — applying it twice converges). A missing cursor
    * file bootstraps: the whole current snapshot as `_change='insert'`.
    * One cursor file = one consumer (the cursor write is
    * last-writer-wins, not coordinated).
    *
    * Returns None when the consumer is already at the current version.
    * Fails with a clear error when the cursor's version has aged out of
    * the retention window (the consumer lost its catch-up room: delete
    * the cursor file to re-bootstrap, and size `keepVersions` /
    * `keepAgeMs` to the consumer's worst-case lag). */
  def drainChanges(spark: SparkSession, targetDir: String,
      cursorFile: String, keys: Seq[String],
      emitDeletes: Boolean = false): Option[FeedSlice] = {
    val root = new Path(targetDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retained = committedVersions(fs, root)
    require(retained.nonEmpty,
      s"drainChanges: no committed version at $targetDir")
    val current = retained.last
    val cursorPath = new Path(cursorFile)
    val cfs = cursorPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last: Option[Long] =
      if (cfs.exists(cursorPath)) Some(readFully(cfs, cursorPath).trim.toLong)
      else None
    def advance(): Unit =
      // shared atomic-replace write: the cursor file is never torn, and
      // a crash anywhere before the rename leaves the old cursor (replay)
      writeFileAtomic(cfs, cursorPath, current.toString)
    last match {
      case Some(v) if v == current => None
      case Some(v) =>
        require(v < current, s"drainChanges: cursor $cursorFile is at " +
          s"version $v but the table's current version is $current — " +
          "wrong cursor file or table directory")
        require(v >= retained.head, s"drainChanges: cursor version $v has " +
          s"aged out of the retention window (oldest retained: " +
          s"${retained.head}); delete the cursor file to re-bootstrap " +
          "from the full image")
        Some(FeedSlice(v, current,
          changesBetween(spark, targetDir, v, current, keys, emitDeletes),
          () => advance()))
      case None =>
        Some(FeedSlice(0L, current,
          readVersion(spark, targetDir, current)
            .withColumn("_change", lit("insert")),
          () => advance()))
    }
  }
}
