package graft.catalog

import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.{Column, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL-text `UPDATE` and `MERGE INTO` for catalog-resolved snapshot
  * tables, as an injected RESOLUTION rule ([[graft.GraftExtensions]])
  * — the Delta pattern: intercept the analyzed [[UpdateTable]] /
  * [[MergeIntoTable]] plans before Spark's row-level-operation
  * rewrites (which would refuse the table — it deliberately does not
  * implement `SupportsRowLevelOperations`; the engine's own
  * [[SnapshotUpsert.mergeInto]] commit path IS the row-level
  * operation) and convert them into eager commands over the same
  * Scala APIs every other writer uses. `DELETE` needs no rule —
  * Spark's native filter-delete path serves it through
  * [[GraftTable]]'s `SupportsDelete`.
  *
  * Faithfulness contract, checked statement-by-statement with clear
  * refusals rather than silent reinterpretation:
  *   - the MERGE condition must be a conjunction of `t.k = s.k` (or
  *     `<=>`) equalities covering EXACTLY the table's recorded merge
  *     keys, with matching source column names — any other join shape
  *     would break the one-row-per-key bucket invariant the commit
  *     protocol maintains;
  *   - at most one UPDATE and one DELETE clause among WHEN MATCHED;
  *     SQL's first-matching-clause-wins ordering is reproduced by
  *     condition algebra (an UPDATE listed first shields the DELETE:
  *     `delete AND NOT update`), since the engine's rule fixes
  *     delete-outranks-update;
  *   - WHEN NOT MATCHED THEN INSERT must insert the source row as-is
  *     (INSERT * or a column list assigning every column from its
  *     same-named source column) — partial inserts would null columns
  *     the table's full-upsert contract requires;
  *   - WHEN NOT MATCHED BY SOURCE is refused (the engine's merge
  *     carries target-only rows unchanged; say what you mean with
  *     `deleteWhere`). */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(table, assignments, condition)
        if graftTarget(table).isDefined && u.childrenResolved &&
          assignments.forall(_.resolved) && condition.forall(_.resolved) =>
      val (tbl, tAttrs) = graftTarget(table).get
      requireCurrentPin(tbl, "UPDATE")
      val set = assignments.map { a =>
        val name = assignName(a.key)
        name -> toCol(rewrite(a.value, tAttrs, "t"))
      }.toMap
      val cond = condition.map(c => toCol(rewriteBare(c, tAttrs)))
        .getOrElse(toCol(rewriteBare(
          org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral,
          tAttrs)))
      GraftUpdateCommand(tbl.dir, cond, set)

    case m: MergeIntoTable if graftTarget(m.targetTable).isDefined &&
        m.childrenResolved && m.mergeCondition.resolved &&
        (m.matchedActions ++ m.notMatchedActions ++
          m.notMatchedBySourceActions).forall(actionResolved) =>
      convertMerge(m)

    // INSERT INTO graft.t ... — the batch rides the table's OWN merge
    // path (upsertBatchSnapshot under the RECORDED layout and merge
    // contract): on a keyed latest-state table "insert" IS a merge —
    // a row restating an existing key replaces it by the recorded
    // precedence, new keys land, and the commit is atomic/retried
    // like every writer's. A blind file append would silently break
    // the one-row-per-key invariant every reader folds by.
    case a: AppendData if graftTarget(a.table).isDefined &&
        a.query.resolved =>
      val (tbl, _) = graftTarget(a.table).get
      requireCurrentPin(tbl, "INSERT")
      GraftInsertCommand(tbl.dir, a.query)

    case _ => plan
  }

  private def actionResolved(a: MergeAction): Boolean = a match {
    case UpdateAction(c, as, _) => c.forall(_.resolved) && as.forall(_.resolved)
    case InsertAction(c, as) => c.forall(_.resolved) && as.forall(_.resolved)
    case DeleteAction(c) => c.forall(_.resolved)
    case UpdateStarAction(c) => c.forall(_.resolved)
    case InsertStarAction(c) => c.forall(_.resolved)
    case _ => false
  }

  /** The GraftTable behind a (possibly aliased) target plan, plus its
    * attribute set for side attribution. */
  private def graftTarget(plan: LogicalPlan)
      : Option[(GraftTable, AttributeSet)] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some((t, r.outputSet))
      case _ => None
    }
    case _ => None
  }

  private def requireCurrentPin(t: GraftTable, stmt: String): Unit =
    require(t.pinVersion.isEmpty && t.pinAsOfMs.isEmpty,
      s"graft catalog: $stmt against a time-travelled table is not a " +
        "thing — committed versions are immutable")

  private def assignName(key: Expression): String = key match {
    case a: Attribute => a.name
    case other => sys.error("graft catalog DML: only top-level columns " +
      s"can be assigned, got '$other'")
  }

  /** Rewrite resolved attributes of `side` into the `<prefix>.name`
    * struct references the engine's merge expressions use. */
  private def rewrite(e: Expression, side: AttributeSet,
      prefix: String): Expression = e.transform {
    case a: AttributeReference if side.contains(a) =>
      UnresolvedAttribute(Seq(prefix, a.name))
  }

  /** Rewrite two-sided expressions: target attrs -> t.name, source
    * attrs -> s.name. */
  private def rewrite2(e: Expression, t: AttributeSet,
      s: AttributeSet): Expression = e.transform {
    case a: AttributeReference if t.contains(a) =>
      UnresolvedAttribute(Seq("t", a.name))
    case a: AttributeReference if s.contains(a) =>
      UnresolvedAttribute(Seq("s", a.name))
  }

  /** Rewrite target attrs to their BARE names (predicate-DML
    * conditions evaluate against the plain relation, not a struct). */
  private def rewriteBare(e: Expression, t: AttributeSet): Expression =
    e.transform {
      case a: AttributeReference if t.contains(a) =>
        UnresolvedAttribute(Seq(a.name))
    }

  private def toCol(e: Expression): Column = GraftSqlBridge.column(e)

  private def convertMerge(m: MergeIntoTable): LogicalPlan = {
    val (tbl, tAttrs) = graftTarget(m.targetTable).get
    requireCurrentPin(tbl, "MERGE")
    val sAttrs = m.sourceTable.outputSet
    val (keys, _) = SnapshotUpsert.currentMergeContract(session, tbl.dir)
      .getOrElse(sys.error(
        s"graft catalog MERGE: no committed version at ${tbl.dir}"))

    // the ON clause: a conjunction of t.k = s.k over EXACTLY the keys
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val pairs = conjuncts(m.mergeCondition).map {
      case EqualTo(l, r) => (l, r)
      case EqualNullSafe(l, r) => (l, r)
      case other => sys.error("graft catalog MERGE: the ON clause must " +
        "be a conjunction of key equalities t.k = s.k, got " +
        s"'${other.sql}'")
    }.map { case (l, r) =>
      (l, r) match {
        case (a: AttributeReference, b: AttributeReference)
            if tAttrs.contains(a) && sAttrs.contains(b) => (a.name, b.name)
        case (a: AttributeReference, b: AttributeReference)
            if sAttrs.contains(a) && tAttrs.contains(b) => (b.name, a.name)
        case other => sys.error("graft catalog MERGE: each ON conjunct " +
          "must equate a target column with a source column, got " +
          s"'$other'")
      }
    }
    pairs.foreach { case (tk, sk) =>
      require(tk.equalsIgnoreCase(sk), "graft catalog MERGE: the source " +
        s"must expose the key under the same name (ON t.$tk = s.$sk) — " +
        "alias the source column")
    }
    require(pairs.map(_._1.toLowerCase).toSet ==
      keys.map(_.toLowerCase).toSet,
      s"graft catalog MERGE: the ON clause must cover exactly the " +
        s"table's recorded merge keys (${keys.mkString(", ")}); got " +
        pairs.map(_._1).mkString(", "))

    // WHEN MATCHED: at most one UPDATE and one DELETE; SQL clause
    // order reproduced via condition algebra (see class doc)
    var updateSet = Map.empty[String, Column]
    var updateAll = false
    var updateCond: Option[Column] = None
    var deleteCond: Option[Column] = None
    var seenUpdate = false
    var seenDelete = false
    def two(e: Option[Expression]): Option[Column] =
      e.map(x => toCol(rewrite2(x, tAttrs, sAttrs)))
    m.matchedActions.foreach {
      case UpdateAction(c, assigns, _) =>
        require(!seenUpdate, "graft catalog MERGE: at most one WHEN " +
          "MATCHED ... UPDATE clause is supported")
        seenUpdate = true
        updateCond = two(c)
        updateSet = assigns.map { a =>
          assignName(a.key) -> toCol(rewrite2(a.value, tAttrs, sAttrs))
        }.toMap
      case UpdateStarAction(c) =>
        require(!seenUpdate, "graft catalog MERGE: at most one WHEN " +
          "MATCHED ... UPDATE clause is supported")
        seenUpdate = true
        updateCond = two(c)
        updateAll = true
      case DeleteAction(c) =>
        require(!seenDelete, "graft catalog MERGE: at most one WHEN " +
          "MATCHED ... DELETE clause is supported")
        seenDelete = true
        // SQL applies the FIRST matching clause: an UPDATE listed
        // before this DELETE shields it, so the delete fires only
        // where the update's condition does NOT hold
        val raw = two(c).getOrElse(
          org.apache.spark.sql.functions.lit(true))
        deleteCond = Some(
          if (seenUpdate)
            raw && !org.apache.spark.sql.functions.coalesce(
              updateCond.getOrElse(
                org.apache.spark.sql.functions.lit(true)),
              org.apache.spark.sql.functions.lit(false))
          else raw)
      case other => sys.error(
        s"graft catalog MERGE: unsupported WHEN MATCHED action '$other'")
    }

    // WHEN NOT MATCHED: one INSERT of the source row as-is
    var insert = false
    var insertCond: Option[Column] = None
    m.notMatchedActions.foreach {
      case InsertStarAction(c) =>
        require(!insert, "graft catalog MERGE: at most one WHEN NOT " +
          "MATCHED ... INSERT clause is supported")
        insert = true
        insertCond = two(c)
      case InsertAction(c, assigns) =>
        require(!insert, "graft catalog MERGE: at most one WHEN NOT " +
          "MATCHED ... INSERT clause is supported")
        // must be the whole source row under matching names — partial
        // inserts would null columns the full-upsert contract needs
        val srcNames = m.sourceTable.output.map(_.name.toLowerCase).toSet
        assigns.foreach { a =>
          val name = assignName(a.key)
          val ok = a.value match {
            case v: AttributeReference =>
              sAttrs.contains(v) && v.name.equalsIgnoreCase(name)
            case _ => false
          }
          require(ok, "graft catalog MERGE: INSERT must insert the " +
            s"source row as-is (column '$name' must come from the " +
            "same-named source column) — reshape the source instead")
        }
        require(assigns.map(a => assignName(a.key).toLowerCase).toSet ==
          srcNames,
          "graft catalog MERGE: INSERT must assign every source column")
        insert = true
        insertCond = two(c)
      case other => sys.error(
        s"graft catalog MERGE: unsupported WHEN NOT MATCHED action '$other'")
    }

    require(m.notMatchedBySourceActions.isEmpty,
      "graft catalog MERGE: WHEN NOT MATCHED BY SOURCE is not supported " +
        "— the engine's merge carries target-only rows unchanged; use " +
        "deleteWhere/updateWhere for source-independent mutations")

    GraftMergeCommand(tbl.dir, keys, m.sourceTable, updateSet, updateAll,
      updateCond, deleteCond, insert, insertCond)
  }
}

/** Eager `INSERT INTO graft.t ...` — the batch merges through
  * [[SnapshotUpsert.upsertBatchSnapshot]] under the table's RECORDED
  * layout and merge contract (nBuckets, bucketCols, #keys, #ordercol
  * all come from the manifest — SQL text states none of them). The
  * query's columns align to the table schema POSITIONALLY with an
  * assignment cast, standard `INSERT INTO t SELECT/VALUES`
  * semantics. */
case class GraftInsertCommand(dir: String, sourcePlan: LogicalPlan)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // one manifest read: keys, layout and schema of the same version
    val head = SnapshotUpsert.currentSnapshot(spark, dir).getOrElse(sys.error(
      s"graft catalog INSERT: no committed version at $dir"))
    val schema = head.schema
    val q = GraftSqlBridge.ofRows(spark, sourcePlan)
    require(q.columns.length == schema.fields.length,
      s"graft catalog INSERT: the query provides ${q.columns.length} " +
        s"columns, the table has ${schema.fields.length} — rows are " +
        "full upserts; provide every column")
    val aligned = q.toDF(schema.fieldNames.toSeq: _*)
      .select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType)
          .as(f.name)).toSeq: _*)
    SnapshotUpsert.upsertBatchSnapshot(aligned, dir, head.mergeKeys, head.orderCol,
      nBuckets = head.nBuckets, bucketCols = head.bucketCols)
    Seq.empty
  }
}

/** Eager `UPDATE graft.t SET ... WHERE ...` — one atomic commit via
  * [[SnapshotUpsert.updateWhere]]. */
case class GraftUpdateCommand(dir: String, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotUpsert.updateWhere(spark, dir, cond, set)
    Seq.empty
  }
}

/** Eager `MERGE INTO graft.t USING src ...` — one atomic commit via
  * [[SnapshotUpsert.mergeInto]]. The ALREADY-RESOLVED source plan
  * rides as a plain field of this leaf command (it must not be a
  * child — the analyzer would try to resolve the command again, and
  * there is nothing left to resolve) and is re-wrapped as a DataFrame
  * at run time: the source stays distributed end-to-end, however
  * large the USING query is. */
case class GraftMergeCommand(dir: String, keys: Seq[String],
    sourcePlan: LogicalPlan,
    updateSet: Map[String, Column], updateAll: Boolean,
    updateCond: Option[Column], deleteCond: Option[Column],
    insert: Boolean, insertCond: Option[Column])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val source = GraftSqlBridge.ofRows(spark, sourcePlan)
    SnapshotUpsert.mergeInto(source, dir, keys,
      updateSet = updateSet, updateAll = updateAll,
      updateCond = updateCond, deleteCond = deleteCond,
      insert = insert, insertCond = insertCond)
    Seq.empty
  }
}
