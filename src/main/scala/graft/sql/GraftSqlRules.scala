package graft.sql

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.graft.ColumnBridge

import graft.engine.SpecManifest

/** The analyzer half of the SQL surface ([[GraftCatalog]] is the
  * catalog half), injected by `graft.GraftExtensions`:
  *
  *   - READ SUBSTITUTION: every resolved [[DataSourceV2Relation]] over
  *     a [[GraftSqlTable]] is replaced (output exprIds preserved via
  *     aliases) by the table's pinned Scala reader — so a SQL `SELECT`
  *     plans the exact content-pinned, partition-pruned, zone-mapped,
  *     hidden-partitioned relation a Scala caller gets, and Catalyst
  *     pushes the query's filters/projections into it. Relations under
  *     a write command's TARGET side are never substituted.
  *   - DML CONVERSION: resolved `DELETE FROM` / `UPDATE` /
  *     `MERGE INTO` nodes over graft targets become runnable commands
  *     that route through leaf-scoped snapshot commits — converted
  *     during resolution, BEFORE Spark's row-level-operation machinery
  *     (which would reject a table without SupportsRowLevelOperations)
  *     ever checks them.
  */
class GraftSqlRules(spark: SparkSession) extends Rule[LogicalPlan] {

  private def isGraftRel(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2Relation =>
      r.table.isInstanceOf[GraftReadableTable]
    case _ => false
  }

  /** The (relation, table) under optional SubqueryAlias wrapping —
    * the shape DML targets resolve to. */
  private def graftTarget(p: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftSqlTable)] = p match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftSqlTable => Some((r, t))
      case _ => None
    }
    case SubqueryAlias(_, child) => graftTarget(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan match {
      // dynamic-partition INSERT OVERWRITE first: its table side is
      // NOT a plan child, so the exists() fast path below cannot see
      // the graft relation under it
      case o: OverwritePartitionsDynamic
          if graftTarget(o.table).isDefined =>
        if (!o.resolved) o
        else GraftInsertCommand(graftTarget(o.table).get._2,
          substitute(o.query), "dynamic")
      case _ if !plan.exists(p => isGraftRel(p)) => plan
      case d: DeleteFromTable if graftTarget(d.table).isDefined =>
        if (!d.resolved) d
        else {
          val (r, t) = graftTarget(d.table).get
          // conditions may carry CORRELATED subqueries (EXISTS/IN/
          // scalar): the command plans them as a Catalyst Filter over
          // the fresh read, and the optimizer decorrelates to semi/
          // anti joins — the reference's own tracker-wipe idiom
          // (actiontracker.py:272-291) is DELETE … WHERE EXISTS
          GraftDeleteCommand(t, d.condition, r.output)
        }
      case u: UpdateTable if graftTarget(u.table).isDefined =>
        if (!u.resolved) u
        else {
          val (r, t) = graftTarget(u.table).get
          // correlated subqueries work in the CONDITION (planned as a
          // decorrelated Filter); assignment VALUES must stay
          // rebindable against engine-built frames — refuse there
          u.assignments
            .foreach(e => GraftDml.checkSubqueries(e, "UPDATE SET"))
          GraftUpdateCommand(t, u.assignments, u.condition, r.output)
        }
      case m: MergeIntoTable if graftTarget(m.targetTable).isDefined =>
        if (!m.resolved) m
        else convertMerge(m)
      case other => substitute(other)
    }

  /** Replace graft READS, skipping every write command's table side. */
  private def substitute(p: LogicalPlan): LogicalPlan = p match {
    case a: AppendData => a.copy(query = substitute(a.query))
    case o: OverwriteByExpression => o.copy(query = substitute(o.query))
    case o: OverwritePartitionsDynamic =>
      o.copy(query = substitute(o.query))
    case i: InsertIntoStatement => i.copy(query = substitute(i.query))
    case r: DataSourceV2Relation if isGraftRel(r) =>
      substituteRelation(r)
    case other => other.mapChildren(substitute)
  }

  private def substituteRelation(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftReadableTable]
    val child = t.buildRead(spark).queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    val projections = r.output.map { a =>
      val c = child.output.find(c => resolver(c.name, a.name))
        .getOrElse(sys.error(
          s"graft: reader misses column '${a.name}' of ${t.name()}"))
      require(c.dataType == a.dataType,
        s"graft: reader column '${a.name}' is ${c.dataType.simpleString}" +
          s", catalog says ${a.dataType.simpleString}")
      Alias(c, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    Project(projections, child)
  }

  private def convertMerge(m: MergeIntoTable): LogicalPlan = {
    val (r, t) = graftTarget(m.targetTable).get
    (Seq(m.mergeCondition) ++
      (m.matchedActions ++ m.notMatchedActions ++
        m.notMatchedBySourceActions))
      .foreach(e => GraftDml.checkSubqueries(e, "MERGE"))
    GraftMergeCommand(t, substitute(m.sourceTable), m.mergeCondition,
      m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions,
      r.output)
  }
}

/** Shared expression plumbing for the DML commands: resolved catalyst
  * expressions from the analyzed DML node are re-bound by NAME against
  * the engine-built DataFrames. */
private[sql] object GraftDml {

  def bind(e: Expression, m: Map[ExprId, Expression]): Expression =
    e.transform {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    }

  def attrMap(attrs: Seq[Attribute], df: DataFrame)
      : Map[ExprId, Expression] =
    attrs.map(a => a.exprId ->
      ColumnBridge.expression(df(a.name))).toMap

  def colOn(e: Expression, m: Map[ExprId, Expression])
      : org.apache.spark.sql.Column =
    ColumnBridge.column(bind(e, m))

  /** UNcorrelated subqueries rebind anywhere (their plans were
    * analyzed — and any graft relations substituted — during the outer
    * resolution; at run time they re-plan inside the engine-built
    * filters). CORRELATED ones cannot rebind their outer references to
    * the engine-built frames: DML CONDITIONS route them through
    * [[affectedFrame]] (a real Catalyst Filter the optimizer
    * decorrelates into semi/anti joins); everywhere else — UPDATE/
    * MERGE assignments, MERGE clause conditions — refuse loudly at
    * conversion instead of mis-resolving at run time. */
  def checkSubqueries(e: Expression, what: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    if (SubqueryExpression.hasCorrelatedSubquery(e))
      sys.error(s"graft $what: correlated subqueries are not " +
        "supported here - rewrite as a join (uncorrelated subqueries " +
        "work; DELETE/UPDATE conditions support correlated ones)")
  }

  def isCorrelated(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    SubqueryExpression.hasCorrelatedSubquery(e)
  }

  /** The DML target's affected rows, computed by PLANNING the original
    * resolved condition over the FRESH read (exprIds restored via
    * aliases, the substituteRelation pattern) — the route that makes
    * correlated EXISTS / IN / scalar subqueries work: the optimizer's
    * subquery rewrite decorrelates the Filter into semi/anti joins.
    * Built at RUN time so a conflict retry recomputes against the
    * fresh snapshot. */
  def affectedFrame(spark: SparkSession, tgt: DataFrame,
      relOutput: Seq[Attribute], cond: Expression): DataFrame = {
    val child = tgt.queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    val projections = relOutput.map { a =>
      val c = child.output.find(c => resolver(c.name, a.name))
        .getOrElse(sys.error(
          s"graft DML: reader misses column '${a.name}'"))
      Alias(c, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
    ColumnBridge.ofRows(spark, Filter(cond, Project(projections, child)))
  }
}

/** Dynamic-partition INSERT OVERWRITE routed through the graft insert
  * path (mode "dynamic": replace exactly the leaves the data
  * derives). */
case class GraftInsertCommand(table: GraftSqlTable, query: LogicalPlan,
    mode: String) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlWrites.insert(spark, table,
      ColumnBridge.ofRows(spark, query), mode)
    Seq.empty
  }
}

/** `DELETE FROM t WHERE cond` — two commit routes, cheapest first:
  *
  *   - MERGE-ON-READ: the removed rows land as FULL-ROW-KEYED delete
  *     deltas (one atomic commitMerge) — bytes written scale with the
  *     DELTA, never the leaf (at 100 TB, deleting 0.01% of a hot leaf
  *     must not rewrite the leaf). Eligible when every touched leaf's
  *     chain is pure or already full-row-keyed, and no removed row
  *     carries a NULL (null keys never anti-join).
  *   - COPY-ON-WRITE fallback: per touched leaf, the leaf's rows with
  *     the condition inverted, committed as ONE snapshot. */
case class GraftDeleteCommand(table: GraftSqlTable, cond: Expression,
    relOutput: Seq[Attribute])
    extends LeafRunnableCommand with SupportsSubquery {
  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlWrites.withConflictRetry(spark, s"DELETE on ${table.name()}")(
      runOnce(spark))
  private def runOnce(spark: SparkSession): Seq[Row] = {
    val base = SpecManifest.currentSnapshot(spark, table.root)
    if (base.isEmpty) return Seq.empty
    def condOn(df: DataFrame) =
      GraftDml.colOn(cond, GraftDml.attrMap(relOutput, df))
    // a correlated condition cannot rebind per-frame — plan it ONCE as
    // a decorrelated Filter over the fresh read; the per-leaf removal
    // then subtracts the affected rows as an exact multiset
    val correlated = GraftDml.isCorrelated(cond)
    val tgt = table.buildRead(spark)
    val removed = (if (correlated)
      GraftDml.affectedFrame(spark, tgt, relOutput, cond)
    else tgt.filter(condOn(tgt))).localCheckpoint()
    val dataCols = table.dataSchema.fieldNames.toSeq
    // ONE job derives the touched leaves AND probes for NULL-valued
    // rows (the MOR delete delta is keyed by the full row, and NULL
    // keys never equi-join — the mg.touched/noNullKeys fusion)
    val (touched, anyNull) = GraftSqlWrites.leavesAndFlag(removed,
      table.spec, dataCols.map(col(_).isNull).reduce(_ || _))
    if (touched.isEmpty) return Seq.empty
    // files (and so delta chains) spell RENAMED columns physically
    val physSchema = GraftSchemas.physicalSchema(table.dataSchema)
    val physCols = physSchema.fieldNames.toSeq
    // per-leaf chain/footer inspections overlap (guide §2.6)
    val chainsOk = graft.engine.Par.map(touched)(vs =>
      SpecManifest.leafChainKeys(spark, table.root, table.spec, vs)
        .forall(_ == physCols)).forall(identity)
    val noNulls = !anyNull
    // a leaf whose physical schema predates a catalog ALTER cannot
    // take catalog-shaped deltas — copy-on-write rewrites it into the
    // current shape instead (footer read per touched leaf)
    val schemasOk = graft.engine.Par.map(touched)(vs =>
      SpecManifest.leafBottomSchema(spark, table.root, table.spec, vs)
        .map(f => (f.name, f.dataType)) ==
        physSchema.map(f => (f.name, f.dataType)).toSeq).forall(identity)
    if (chainsOk && noNulls && schemasOk) {
      SpecManifest.commitMerge(spark, table.root, table.spec, physCols,
        deletes = touched.map(vs =>
          vs -> GraftSqlWrites.toPhysical(
            GraftSqlWrites.rowsOfLeaf(removed, table.spec, vs),
            table.dataSchema)).toMap,
        keepSnapshots = table.keepSnapshots)
    } else if (correlated) {
      // a correlated condition cannot re-evaluate per leaf: subtract
      // the (planned-once) affected rows as an exact multiset
      GraftSqlWrites.rewriteLeavesTagged(spark, table, touched,
        touched.toSet, Some(removed), None, base)
    } else {
      // SQL DELETE removes only rows where the condition IS TRUE: a
      // NULL-valued condition keeps its row (not(NULL) is NULL and
      // would silently drop it — the Delta/Iceberg rewrite posture
      // coalesces to false before inverting). Each leaf's rewrite
      // reads only its OWN files (no shared source to re-scan), so
      // the per-leaf Map spelling is already one pass.
      val updates = touched.map { vs =>
        val leaf = GraftSqlWrites.alignData(
          SpecManifest.readLeaf(spark, table.root, table.spec, vs),
          table.dataSchema, fromFiles = true)
        vs -> leaf.filter(not(coalesce(condOn(leaf), lit(false))))
      }.toMap
      GraftSqlWrites.replaceLeaves(spark, table, updates, Some(base))
    }
    Seq.empty
  }
}

/** `UPDATE t SET … WHERE cond` → per touched leaf, assignments applied
  * under the condition. An assignment to a partition SOURCE column
  * MOVES rows across leaves: the affected old rows leave their leaves
  * and the transformed rows land in their newly-derived ones, all in
  * ONE copy-on-write snapshot (the Delta/Iceberg rewrite posture;
  * multiset-exact via exceptAll — no key assumption). */
case class GraftUpdateCommand(table: GraftSqlTable,
    assignments: Seq[Assignment], cond: Option[Expression],
    relOutput: Seq[Attribute])
    extends LeafRunnableCommand with SupportsSubquery {
  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlWrites.withConflictRetry(spark, s"UPDATE on ${table.name()}")(
      runOnce(spark))
  private def runOnce(spark: SparkSession): Seq[Row] = {
    val base = SpecManifest.currentSnapshot(spark, table.root)
    if (base.isEmpty) return Seq.empty
    val byName: Map[String, Expression] = assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => sys.error(s"graft UPDATE: unsupported " +
          s"assignment target $other (top-level columns only)")
      }
      name -> a.value
    }.toMap
    val movers = table.spec.fields.map(_.source).filter(byName.contains)
    def m(df: DataFrame) = GraftDml.attrMap(relOutput, df)
    def condOn(df: DataFrame) = cond
      .map(c => GraftDml.colOn(c, m(df))).getOrElse(lit(true))
    // a correlated condition plans ONCE as a decorrelated Filter over
    // the fresh read; the per-leaf rewrite then uses the exceptAll /
    // union mechanism (the leaf-moving branch) instead of re-filtering
    val correlated = cond.exists(GraftDml.isCorrelated)
    val tgt = table.buildRead(spark)
    val dataCols = table.dataSchema.fieldNames.toSeq
    if (movers.nonEmpty || correlated) {
      val affected = (if (correlated)
        GraftDml.affectedFrame(spark, tgt, relOutput, cond.get)
      else tgt.filter(condOn(tgt))).localCheckpoint()
      // LEAF-MOVING update: the affected old rows leave their leaves,
      // the transformed rows land in their newly-derived ones — one
      // atomic copy-on-write snapshot over both sides, multiset-exact
      // (exceptAll removes exactly the matched occurrences)
      val am = m(affected)
      val moved = GraftSqlWrites.alignData(
        affected.select(dataCols.map { n =>
          byName.get(n).map(v => GraftDml.colOn(v, am).as(n))
            .getOrElse(affected(n))
        }: _*), table.dataSchema).localCheckpoint()
      val spec = table.spec
      // the two leaf derivations read independent checkpoints —
      // overlap them (guide §2.6)
      val touched = graft.engine.Par.map(Seq(affected, moved))(
        GraftSqlWrites.leavesOfRows(_, spec)).flatten.distinct
      if (touched.isEmpty) return Seq.empty
      GraftSqlWrites.rewriteLeavesTagged(spark, table, touched,
        SpecManifest.leafKeys(spark, table.root, spec).toSet,
        Some(affected), Some(moved), base)
      return Seq.empty
    }
    // an in-place update reads the affected rows once, for their
    // leaves: the rewrite below re-filters each leaf's own files
    val touched = GraftSqlWrites.leavesOfRows(tgt.filter(condOn(tgt)),
      table.spec)
    val updates = touched.map { vs =>
      val leaf = GraftSqlWrites.alignData(
        SpecManifest.readLeaf(spark, table.root, table.spec, vs),
        table.dataSchema, fromFiles = true)
      val lm = m(leaf)
      val c = condOn(leaf)
      vs -> leaf.select(table.dataSchema.fieldNames.toSeq.map { n =>
        byName.get(n) match {
          case Some(v) => org.apache.spark.sql.functions
            .when(c, GraftDml.colOn(v, lm)).otherwise(leaf(n)).as(n)
          case None => leaf(n)
        }
      }: _*)
    }.toMap
    GraftSqlWrites.replaceLeaves(spark, table, updates, Some(base))
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON t.k = s.k …` → the full MERGE clause
  * surface, committed as ONE leaf-scoped snapshot (merge-on-read
  * deltas when eligible, copy-on-write otherwise):
  *
  *   - ON is a conjunction holding at least one target-column =
  *     source-column equality (the merge KEYS; per-key uniqueness on
  *     both sides is the standard MERGE contract); any OTHER conjunct
  *     is a RESIDUAL that folds into the matching predicate — a pair
  *     matches iff keys AND residual hold, and both NOT MATCHED sides
  *     judge the full ON (the Delta posture);
  *   - any number of conditional `WHEN MATCHED` (UPDATE SET — explicit
  *     or star — or DELETE), `WHEN NOT MATCHED` (INSERT, explicit or
  *     star) and `WHEN NOT MATCHED BY SOURCE` (UPDATE/DELETE) clauses;
  *     per row the FIRST clause whose condition holds wins (the
  *     SQL:2016 / Delta / Iceberg contract);
  *   - touched leaves = the leaves of affected old rows plus the
  *     derived leaves of new rows (an UPDATE may move a row across
  *     leaves; both sides commit atomically in the one snapshot).
  *
  * 100 TB posture — BUCKET-LOCAL planning: when every partition SOURCE
  * column is a merge key (the bucketed-on-key shape) and no NOT
  * MATCHED BY SOURCE clause needs the full target, a matching target
  * row can only live in a leaf the SOURCE keys derive — so the target
  * side of both the matched join and the not-matched anti-join reads
  * ONLY those leaves (partition-pruned through the pin), never the
  * whole table. At 100 TB the target scan dominates MERGE cost; this
  * bounds it by the source's leaf spread. */
case class GraftMergeCommand(table: GraftSqlTable, source: LogicalPlan,
    mergeCond: Expression, matched: Seq[MergeAction],
    notMatched: Seq[MergeAction], notMatchedBySource: Seq[MergeAction],
    targetOutput: Seq[Attribute])
    extends LeafRunnableCommand with SupportsSubquery {

  private val ClauseCol = "_graft_merge_clause"

  override def run(spark: SparkSession): Seq[Row] =
    GraftSqlWrites.withConflictRetry(spark, s"MERGE into ${table.name()}")(
      runOnce(spark))

  private def runOnce(spark: SparkSession): Seq[Row] = {
    import GraftDml._
    import graft.engine.Par
    val base0 = SpecManifest.currentSnapshot(spark, table.root)
    val srcDf = GraftSqlWrites.frozen(spark, ColumnBridge.ofRows(spark,
      source))
    val srcMap = attrMap(source.output, srcDf)
    val targetIds = targetOutput.map(_.exprId).toSet
    val sourceIds = source.output.map(_.exprId).toSet
    // merge keys from the ON conjunction; type coercion wraps the
    // narrower side in a Cast (e.g. an INT-typed VALUES source against
    // a BIGINT key), so equality sides unwrap through casts — key uses
    // below re-cast the SOURCE side to the target key's type (ANSI:
    // an out-of-range source key fails loudly, never silently).
    // NON-key conjuncts (Delta allows them) become the RESIDUAL: a
    // target/source pair MATCHES iff keys AND residual hold — the
    // residual folds into the matched join and BOTH anti-joins, so
    // NOT MATCHED / NOT MATCHED BY SOURCE judge the full ON predicate.
    val (keyPairs: Seq[(String, String)],
         residual: Option[Expression]) = {
      def split(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          split(l) ++ split(r)
        case other => Seq(other)
      }
      def attrOf(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case c: org.apache.spark.sql.catalyst.expressions.Cast =>
          attrOf(c.child)
        case _ => None
      }
      val parts: Seq[Either[(String, String), Expression]] =
        split(mergeCond).map {
          case eq@org.apache.spark.sql.catalyst.expressions
              .EqualTo(l, r) =>
            (attrOf(l), attrOf(r)) match {
              case (Some(a), Some(b))
                  if targetIds.contains(a.exprId) &&
                    sourceIds.contains(b.exprId) => Left((a.name, b.name))
              case (Some(a), Some(b))
                  if sourceIds.contains(a.exprId) &&
                    targetIds.contains(b.exprId) => Left((b.name, a.name))
              case _ => Right(eq)
            }
          case other => Right(other)
        }
      val keys = parts.collect { case Left(kp) => kp }
      require(keys.nonEmpty, "graft MERGE: the ON condition needs at " +
        "least one t.col = s.col equality (the merge keys); residual " +
        s"conjuncts are allowed alongside, got $mergeCond")
      (keys, parts.collect { case Right(e) => e }
        .reduceOption(org.apache.spark.sql.catalyst.expressions.And))
    }
    val tKeys = keyPairs.map(_._1)
    val tTypeOf = targetOutput.map(a => a.name -> a.dataType).toMap
    val sTypeOf = source.output.map(a => a.name -> a.dataType).toMap
    /** The source key column cast to its target key's type. */
    def srcKey(df: DataFrame, tk: String, sk: String)
        : org.apache.spark.sql.Column =
      if (sTypeOf(sk) == tTypeOf(tk)) df(sk)
      else df(sk).cast(tTypeOf(tk))
    val dataCols = table.dataSchema.fieldNames.toSeq
    val spec = table.spec
    val specSources = spec.fields.map(_.source).toSet
    val hasSnapshot = base0.isDefined
    // bucket-local eligibility: key-derived leaves bound the target
    val srcLeaves: Option[Seq[Seq[String]]] =
      if (!hasSnapshot || notMatchedBySource.nonEmpty ||
          !specSources.subsetOf(tKeys.toSet)) None
      else {
        val keyed = srcDf.select(keyPairs.map { case (tk, sk) =>
          srcKey(srcDf, tk, sk).as(tk) }: _*)
        val ls = GraftSqlWrites.leavesOfRows(keyed, spec)
        // a very wide source spread gains nothing over the full read
        // (and the OR-of-conjunctions pruning predicate has a cost)
        if (ls.size > 512) None else Some(ls)
      }
    val tgt = srcLeaves match {
      case Some(ls) => GraftSqlWrites.restrictToLeaves(spark, table, ls)
      case None => table.buildRead(spark)
    }
    val tgtMap = attrMap(targetOutput, tgt)
    val both = tgtMap ++ srcMap
    val oldCols = targetOutput.map(x => tgt(x.name).as(x.name))

    /** Tag each row with the index of the FIRST clause whose condition
      * holds (a NULL condition skips to the next clause, per SQL); rows
      * no clause claims carry a NULL tag. */
    def tagClauses(df: DataFrame, acts: Seq[MergeAction],
        m: Map[ExprId, Expression]): DataFrame = {
      def condOf(a: MergeAction) =
        a.condition.map(c => colOn(c, m)).getOrElse(lit(true))
      val chain = acts.zipWithIndex.tail.foldLeft(
        org.apache.spark.sql.functions.when(condOf(acts.head), lit(0))) {
        case (c, (a, i)) => c.when(condOf(a), lit(i))
      }
      df.withColumn(ClauseCol, chain)
    }
    val claimed = col(ClauseCol).isNotNull

    def assignMap(assigns: Seq[Assignment]): Map[String, Expression] =
      assigns.map(x => (x.key match {
        case ar: AttributeReference => ar.name
        case o => sys.error(
          s"graft MERGE: unsupported assignment target $o " +
            "(top-level columns only)")
      }) -> x.value).toMap

    /** (all affected old rows, old rows a DELETE clause removed,
      * replacement rows per UPDATE clause) over a tagged frame. */
    def applyClauses(tagged: DataFrame, acts: Seq[MergeAction],
        m: Map[ExprId, Expression])
        : (DataFrame, Option[DataFrame], Seq[DataFrame]) = {
      val removed = tagged.filter(claimed).select(oldCols: _*)
      val delIdx = acts.zipWithIndex.collect {
        case (DeleteAction(_), i) => i }
      val deleted =
        if (delIdx.isEmpty) None
        else Some(tagged.filter(col(ClauseCol).isin(delIdx: _*))
          .select(oldCols: _*))
      val updates = acts.zipWithIndex.collect {
        case (UpdateAction(_, assigns, _), i) =>
          val byName = assignMap(assigns)
          tagged.filter(col(ClauseCol) === i).select(dataCols.map { n =>
            byName.get(n).map(v => colOn(v, m).as(n))
              .getOrElse(tgt(n).as(n))
          }: _*)
        case (UpdateStarAction(_), i) =>
          tagged.filter(col(ClauseCol) === i).select(dataCols.map(n =>
            srcDf(n).as(n)): _*)
      }
      val bad = acts.filter {
        case DeleteAction(_) | UpdateAction(_, _, _) |
             UpdateStarAction(_) => false
        case _ => true
      }
      require(bad.isEmpty,
        s"graft MERGE: unsupported matched-side action(s) $bad")
      (removed, deleted, updates)
    }

    // the ON residual bound over (tgt, srcDf) — folds into the
    // matched join and both anti-joins (a pair matches iff keys AND
    // residual hold, the SQL:2016 / Delta contract)
    val resCol: Option[org.apache.spark.sql.Column] =
      residual.map(e => colOn(e, both))
    val keysCond = keyPairs.map { case (tk, sk) =>
      tgt(tk) === srcKey(srcDf, tk, sk) }.reduce(_ && _)
    val onCond = resCol.map(keysCond && _).getOrElse(keysCond)
    // broadcast a provably small source (guide §3.1, the Delta
    // low-shuffle-merge posture): the frozen source's row count is
    // exact — a LocalRelation's without a job, a checkpoint's with
    // one cheap count; bytes estimate with Spark's own
    // defaultSize-based stats arithmetic, gated by the session's
    // autoBroadcastJoinThreshold - a big-delta MERGE keeps the
    // shuffled joins (broadcasting gigabytes would be worse). Build
    // sides only: the matched inner join and both
    // NOT-MATCHED-BY-SOURCE anti-joins build the source side; the
    // insert anti-join builds the TARGET side, so it stays as is.
    lazy val srcIsSmall: Boolean = {
      val thr = spark.sessionState.conf.autoBroadcastJoinThreshold
      thr > 0 && {
        val rows = srcDf.queryExecution.optimizedPlan match {
          case l: LocalRelation => l.data.size.toLong
          case _ => srcDf.count()
        }
        rows * srcDf.schema.defaultSize <= thr
      }
    }
    def srcMaybeB: DataFrame =
      if ((matched.nonEmpty || notMatchedBySource.nonEmpty) &&
          srcIsSmall)
        org.apache.spark.sql.functions.broadcast(srcDf)
      else srcDf
    // ---- WHEN MATCHED / WHEN NOT MATCHED BY SOURCE ----
    // the matched inner join and the by-source anti-join materialize
    // INDEPENDENT tagged frames off the same (tgt, srcDf) inputs —
    // overlap the two checkpoint jobs (guide §2.6). The matched
    // checkpoint keeps EVERY pair, claimed or not: the duplicate-key
    // probe below counts a key's pairs before any clause filters them.
    val Seq(taggedMOpt, taggedNOpt) = Par.map(Seq[() => Option[DataFrame]](
      () =>
        if (matched.isEmpty) None
        else Some(tagClauses(tgt.join(srcMaybeB, onCond, "inner"),
          matched, both).localCheckpoint()),
      () =>
        if (notMatchedBySource.isEmpty || !hasSnapshot) None
        else {
          val anti =
            if (residual.isEmpty) {
              val srcKeys = srcDf.select(keyPairs.map { case (tk, sk) =>
                srcKey(srcDf, tk, sk).as(s"_graft_src_$tk") }: _*)
                .distinct()
              val antiCond = keyPairs.map { case (tk, _) =>
                tgt(tk) === srcKeys(s"_graft_src_$tk") }.reduce(_ && _)
              tgt.join(if (srcIsSmall)
                org.apache.spark.sql.functions.broadcast(srcKeys)
              else srcKeys, antiCond, "left_anti")
            } else tgt.join(srcMaybeB, onCond, "left_anti")
          Some(tagClauses(anti, notMatchedBySource, tgtMap)
            .filter(claimed).localCheckpoint())
        }))(_.apply())
    val (remM, delM, updM):
        (Option[DataFrame], Option[DataFrame], Seq[DataFrame]) =
      taggedMOpt match {
        case None => (None, None, Nil)
        case Some(tagged) =>
          val (r, d, u) = applyClauses(tagged, matched, both)
          (Some(r), d, u)
      }
    // ---- WHEN NOT MATCHED (INSERT) ----
    val inserted: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        // no residual: anti-join against the DISTINCT target keys (a
        // smaller build side); with one, the full ON predicate decides
        // matching, so the anti-join needs the target columns it reads
        val notM =
          if (residual.isEmpty)
            srcDf.join(tgt.select(tKeys.map(tgt(_)): _*).distinct(),
              keyPairs.map { case (tk, sk) =>
                srcKey(srcDf, tk, sk) === tgt(tk) }.reduce(_ && _),
              "left_anti")
          else srcDf.join(tgt, onCond, "left_anti")
        val nmMap = attrMap(source.output, notM)
        val tagged = tagClauses(notM, notMatched, nmMap)
        val frames = notMatched.zipWithIndex.map {
          case (InsertAction(_, assigns), i) =>
            val byName = assignMap(assigns)
            tagged.filter(col(ClauseCol) === i).select(dataCols.map { n =>
              byName.get(n).map(v => colOn(v, nmMap).as(n)).getOrElse(
                sys.error(s"graft MERGE: INSERT must assign column '$n'"))
            }: _*)
          case (InsertStarAction(_), i) =>
            tagged.filter(col(ClauseCol) === i).select(dataCols.map(n =>
              notM(n).as(n)): _*)
          case (o, _) => sys.error(
            s"graft MERGE: unsupported WHEN NOT MATCHED action $o")
        }
        Some(frames.reduce(_.unionByName(_)))
      }
    // ---- WHEN NOT MATCHED BY SOURCE (full-target scan by nature:
    // these clauses judge every target row with no source match; the
    // tagged frame itself materialized above, overlapped with the
    // matched join) ----
    val (remN, delN, updN):
        (Option[DataFrame], Option[DataFrame], Seq[DataFrame]) =
      taggedNOpt match {
        case None => (None, None, Nil)
        case Some(tagged) =>
          val (r, d, u) = applyClauses(tagged, notMatchedBySource,
            tgtMap)
          (Some(r), d, u)
      }
    if (!hasSnapshot) {
      // empty table: only inserts can land; bootstrap via the insert path
      inserted.foreach(ins =>
        GraftSqlWrites.insert(spark, table, ins, mode = "append"))
      return Seq.empty
    }
    // ONE materialization serves BOTH affected sides: the removed old
    // rows and the aligned replacement rows union side-tagged into a
    // single localCheckpoint, and `removed` / `added` are filters of
    // it — one job instead of two, and every downstream probe scans
    // one checkpoint instead of two. (Both sides are dataSchema-shaped
    // — `removed` projects the target read, `added` goes through
    // alignData — so the union coerces nothing; alignData keeps
    // assignment / VALUES literals honest on the added side, because
    // merge-on-read deltas must match the leaf schema.)
    val SideCol = "_graft_side"
    val remLazy = (remM.toSeq ++ remN.toSeq)
      .reduceOption(_.unionByName(_))
    val addLazy = (updM ++ updN ++ inserted.toSeq) match {
      case Nil => None
      case xs => Some(GraftSqlWrites.alignData(
        xs.reduce(_.unionByName(_)), table.dataSchema))
    }
    val affectedSides: Seq[DataFrame] =
      remLazy.map(_.select(dataCols.map(col): _*)
        .withColumn(SideCol, lit("r"))).toSeq ++
      addLazy.map(_.select(dataCols.map(col): _*)
        .withColumn(SideCol, lit("a"))).toSeq
    val affectedAll: Option[DataFrame] =
      affectedSides.reduceOption(_.unionByName(_)).map { u0 =>
        // the union carries the SUM of its sides' partitions (each a
        // stack of filters over session-parallelism checkpoints);
        // coalesce to the session's shuffle parallelism before
        // materializing, so the checkpoint — and every probe/commit
        // job that filters it — stays at one side's task count.
        // coalesce to MORE partitions than the plan has is a no-op,
        // so a narrow union keeps its own count; no .rdd probe (that
        // would eagerly materialize the insert anti-join's stages),
        // no shuffle, and the bound is the cluster-sized session conf
        val u = u0.coalesce(spark.sessionState.conf.numShufflePartitions)
        u.localCheckpoint()
      }
    val removed: Option[DataFrame] = remLazy.flatMap(_ =>
      affectedAll.map(_.filter(col(SideCol) === "r").drop(SideCol)))
    val added: Option[DataFrame] = addLazy.flatMap(_ =>
      affectedAll.map(_.filter(col(SideCol) === "a").drop(SideCol)))
    val deletedOld = (delM.toSeq ++ delN.toSeq)
      .reduceOption(_.unionByName(_))
    // ---- MERGE-ON-READ fast path: the whole MERGE lands as key-
    // merged DELTAS in one atomic commitMerge — bytes written scale
    // with the delta, never the touched leaves. Eligible when:
    //   - every UPDATE clause (matched or not-matched-by-source)
    //     provably keeps rows in their leaf and under their key (no
    //     assignment to a partition SOURCE or a merge KEY; SET * keeps
    //     keys by the ON equality, so it only needs every partition
    //     source to BE a merge key); DELETE clauses land as key-only
    //     delete deltas;
    //   - every touched leaf exists (inserts into new leaves need a
    //     leaf-creating snapshot commit);
    //   - existing chains are keyed by the same merge keys;
    //   - no affected row has a NULL merge key, and no merge key
    //     repeats within a leaf (the probe below).
    // Clause exclusivity (first-match-wins) keeps each leaf's upsert
    // and delete key sets disjoint, commitMerge's contract.
    // per-assignment safety: alignment/star expansion assigns EVERY
    // column, so the test is value-aware — a self-assignment (t.c =
    // t.c) changes nothing; assigning a merge-KEY column its ON-equal
    // source attribute (t.k = s.k) is key-preserving; anything else is
    // unsafe exactly when it targets a partition source or a merge key
    def safeAssign(a: Assignment): Boolean = a.key match {
      case k: AttributeReference =>
        a.value match {
          case v: AttributeReference
              if targetIds.contains(v.exprId) && v.name == k.name => true
          case v: AttributeReference
              if sourceIds.contains(v.exprId) &&
                keyPairs.contains((k.name, v.name)) => true
          case _ =>
            !specSources.contains(k.name) && !tKeys.contains(k.name)
        }
      case _ => false
    }
    def actionSafe(a: MergeAction): Boolean = a match {
      case DeleteAction(_) => true
      case UpdateAction(_, assigns, _) => assigns.forall(safeAssign)
      case UpdateStarAction(_) => specSources.subsetOf(tKeys.toSet)
      case _ => false
    }
    val matchedSafe = (matched ++ notMatchedBySource).forall(actionSafe)
    // a RESIDUAL makes "not matched" weaker than "key absent": an
    // insert may carry a key that EXISTS in the target (pair failed
    // the residual) — a keyed upsert delta would silently REPLACE that
    // row; only the copy-on-write route adds alongside it
    val insertsKeySafe = residual.isEmpty || inserted.isEmpty
    // ONE two-level aggregation over the materialized frames answers
    // the data gates: the touched leaves (the derived leaves of the
    // affected rows), any NULL merge key among the affected rows, and —
    // when the clause shape admits merge-on-read — any merge key
    // repeated within a leaf.
    // NULL merge keys never equi-join: a key-only delete delta or a
    // keyed upsert carrying a NULL key would silently no-op (or
    // duplicate) at chain resolution. Such rows can only come from NOT
    // MATCHED BY SOURCE clauses (a NULL-keyed target row never matches
    // the source) or NULL-keyed source inserts — route them through
    // the copy-on-write fallback, whose removal handles NULL keys by
    // exact multiset subtraction. (GraftDeleteCommand's noNulls gate,
    // extended to MERGE.)
    // DUPLICATE keys break merge-on-read resolution, which is keyed per
    // (leaf, merge key): base-row removal is a key anti-join and one
    // layer keeps ONE delta row per key. Duplicate target keys are
    // legal (a residual-ON insert creates them), so copy-on-write, whose
    // exact-multiset removal handles them, takes over when within one
    // leaf a claimed target row's key has more than one target row ("t"
    // rows) or the replacement rows repeat a key ("a" rows; inserted
    // keys are absent from the target). With no residual and no NOT
    // MATCHED BY SOURCE clause the "t" rows are the matched pairs,
    // counted before the clauses filter them — a clause claiming one
    // copy of a duplicated key still sees both; otherwise the target
    // read is semi-joined with the removed keys.
    val someKeyNull = tKeys.map(col(_).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val (claimCol, nullCol, nCol) =
      ("_graft_claimed", "_graft_nullkey", "_graft_keyn")
    def probeRows(df: DataFrame, side: org.apache.spark.sql.Column,
        claim: org.apache.spark.sql.Column): DataFrame =
      GraftSqlWrites.tagDerivedLogical(df, spec).select(
        (spec.names.map(col) :+ side.as(SideCol)) ++ tKeys.map(col) ++
          Seq(claim.as(claimCol), someKeyNull.as(nullCol)): _*)
    // the clause shape admits merge-on-read
    val morShape = matchedSafe && insertsKeySafe
    val targetRows: Option[DataFrame] =
      if (!morShape) None
      else if (residual.isEmpty && notMatchedBySource.isEmpty)
        taggedMOpt.map(p => probeRows(
          p.select(oldCols :+ claimed.as(claimCol): _*), lit("t"),
          col(claimCol)))
      else removed.map(r => probeRows(
        tgt.select(dataCols.map(tgt(_)): _*).join(
          r.select(tKeys.map(col): _*).distinct(), tKeys, "left_semi"),
        lit("t"), lit(true)))
    val (touched: Seq[Seq[String]], anyNullKey: Boolean,
        anyDupKey: Boolean) = affectedAll match {
      case None => (Seq.empty[Seq[String]], false, false)
      case Some(df) =>
        val rows = (probeRows(df, col(SideCol), lit(true)) +: targetRows.toSeq)
          .reduce(_.unionByName(_))
        val fn = org.apache.spark.sql.functions
        val perKey =
          if (!morShape) rows.withColumn(nCol, lit(1L))
          else rows.groupBy(((spec.names :+ SideCol) ++ tKeys).map(col): _*)
            .agg(fn.count(lit(1)).as(nCol), fn.max(claimCol).as(claimCol),
              fn.max(nullCol).as(nullCol))
        val agg = perKey.groupBy(spec.names.map(col): _*).agg(
          fn.max(col(SideCol) =!= "t"), fn.max(nullCol),
          fn.max(col(nCol) > 1L && col(claimCol) && col(SideCol) =!= "r"))
          .collect()
        val n = spec.names.length
        (agg.toSeq.filter(_.getBoolean(n))
          .map(r => spec.names.indices.map(r.getString)),
          agg.exists(_.getBoolean(n + 1)), agg.exists(_.getBoolean(n + 2)))
    }
    if (touched.isEmpty) return Seq.empty
    val existing = SpecManifest.leafKeys(spark, table.root, spec).toSet
    // files (and so delta chains) spell RENAMED columns physically
    val physSchema = GraftSchemas.physicalSchema(table.dataSchema)
    def physOf(logical: String): String =
      GraftSchemas.physicalName(table.dataSchema(logical))
    val tKeysPhys = tKeys.map(physOf)
    // per-leaf chain/footer inspections are independent ~25 ms driver
    // reads — overlap them (guide §2.6)
    val chainsOk = Par.map(touched)(vs =>
      SpecManifest.leafChainKeys(spark, table.root, spec, vs)
        .forall(_ == tKeysPhys)).forall(identity)
    // a leaf whose physical schema predates a catalog ALTER cannot
    // take catalog-shaped deltas — copy-on-write rewrites it instead
    val schemasOk = Par.map(touched)(vs =>
      !existing.contains(vs) ||
        SpecManifest.leafBottomSchema(spark, table.root, spec, vs)
          .map(f => (f.name, f.dataType)) ==
          physSchema.map(f => (f.name, f.dataType)).toSeq)
      .forall(identity)
    if (morShape && !anyNullKey && !anyDupKey && chainsOk && schemasOk &&
        touched.forall(existing.contains)) {
      val ups = added.map(a2 => touched.map(vs =>
        vs -> GraftSqlWrites.toPhysical(
          GraftSqlWrites.rowsOfLeaf(a2, spec, vs), table.dataSchema))
        .toMap).getOrElse(Map.empty[Seq[String], DataFrame])
      // only DELETE-clause rows remove keys the upserts don't replace
      val dels = deletedOld.map(d => touched.map(vs =>
        vs -> GraftSqlWrites.rowsOfLeaf(d, spec, vs)
          .select(tKeys.map(k => col(k).as(physOf(k))): _*)).toMap)
        .getOrElse(Map.empty[Seq[String], DataFrame])
      if (ups.nonEmpty || dels.nonEmpty)
        SpecManifest.commitMerge(spark, table.root, spec, tKeysPhys,
          upserts = ups, deletes = dels,
          keepSnapshots = table.keepSnapshots)
      return Seq.empty
    }
    // ---- copy-on-write fallback: rebuild the touched leaves (a NEW
    // leaf — an insert deriving a fresh partition tuple — has no
    // content; its rows come from the added side), removing `removed`
    // as an exact multiset: NULL-keyed rows and the key duplicates a
    // residual-ON insert creates stay unless affected themselves
    GraftSqlWrites.rewriteLeavesTagged(spark, table, touched, existing,
      removed, added, base0)
    Seq.empty
  }
}
