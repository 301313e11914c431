package graft.storage

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

/** SQL `MERGE INTO` for lake tables — the DML statement a lakehouse SQL
  * user reaches for right after `DELETE FROM` (VERDICT r7 task #4).
  *
  * Spark plans `MergeIntoTable` only for DSv2 tables implementing
  * `SupportsRowLevelOperations` (a full v2 write stack); for everything
  * else the statement survives analysis fully resolved and dies at
  * PHYSICAL PLANNING with UNSUPPORTED_FEATURE.TABLE_OPERATION. That is
  * exactly the seam this strategy fills: it out-plans the built-in
  * strategies (`spark.experimental.extraStrategies` prepends; the
  * extension hook injects ahead too) for merges whose TARGET is a
  * [[GraftSqlTable]], routing the KEYED shapes through the engine's
  * merge-on-read machinery and refusing everything else at planning —
  * the same refuse-at-planning contract the DELETE path keeps.
  *
  * Supported (after Spark's own resolution/alignment):
  *  - `ON t.key = s.key` — one equality between a target and a source
  *    column (the key);
  *  - `WHEN MATCHED [AND cond] THEN UPDATE SET ...` or
  *    `WHEN MATCHED [AND cond] THEN DELETE` (not both) — a matched row
  *    failing the condition stays untouched (its key is not masked);
  *  - `WHEN NOT MATCHED [AND cond] THEN INSERT ...`;
  *  - `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` — the sync
  *    shape (O(target) by semantics: one anti-join building the key
  *    list, never a partition rewrite); target rows with a NULL merge
  *    key are never deleted (an equality key list cannot address them).
  * Arbitrary assignment expressions are allowed — `SET *`/`INSERT *`
  * take a no-join fast path when unconditional. `WHEN NOT MATCHED BY
  * SOURCE THEN UPDATE`, multi-column ON, and schema evolution are
  * refused with a clear error.
  *
  * Execution is O(source), never a table rewrite: ONE txn carrying an
  * equality-delete of the source keys plus the replacement/insert batch
  * ([[TxnCatalog.mergeKeyed]]) — a 1 000-row MERGE against a
  * 10 000-partition fact table writes one key list and one batch
  * partition, and the delete-before-data txn rule keeps the appended
  * rows unmasked. MERGE cardinality (multiple source rows per key) is
  * rejected up front, as SQL requires.
  */
object GraftMerge {

  /** Prepend the merge strategy to `spark`'s experimental strategies —
    * the runtime hook for sessions not built with
    * `spark.sql.extensions=graft.GraftExtensions`. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[GraftMergeStrategy]))
      spark.experimental.extraStrategies = new GraftMergeStrategy +: cur
  }

  private[storage] def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => unwrap(child)
    case other => other
  }

  /** The lake table under `plan`, when the merge target is ours. The
    * optimizer may already have rewritten the relation into a
    * scan-relation (V2ScanRelationPushDown) by planning time. */
  private[storage] def lakeTarget(plan: LogicalPlan): Option[GraftSqlTable] =
    unwrap(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftSqlTable => Some(t)
        case _ => None
      }
      case s: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => s.relation.table match {
        case t: GraftSqlTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  private def refuse(why: String): Nothing =
    throw new IllegalArgumentException(
      "graft-lake MERGE INTO supports only the keyed shape " +
        "(ON t.key = s.key, unconditional MATCHED UPDATE/DELETE, " +
        s"unconditional NOT MATCHED INSERT); $why")

  /** Validate + execute a merge (called at execution time). A single
    * target-column = source-column equality ON rides the KEYED path —
    * O(source), one equality-delete key list + one batch, never a
    * target scan for the unconditional shapes. Every other
    * deterministic ON condition (multi-column keys, expressions,
    * inequalities) takes the POSITIONAL path: one funnel scan of the
    * target joins the source under the raw condition, matched/NBS rows
    * mask by their (file, row) coordinates and replacements append —
    * one deletion vector + one batch in one conditional txn. */
  private[storage] def run(spark: SparkSession, target: GraftSqlTable,
      m: MergeIntoTable): Unit = {
    // `WITH SCHEMA EVOLUTION` is handled BEFORE this runs: Spark's
    // ResolveMergeIntoSchemaEvolution computes the source-vs-target
    // TableChanges and drives them through GraftCatalog.alterTable
    // (one zero-row widened-schema commit; old rows surface the new
    // columns as null via the merged-footer read), then re-resolves
    // the merge against the evolved relation — by the time execution
    // reaches here the target schema already carries the new columns,
    // and type CONFLICTS were refused by alterTable/analysis.
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    val keyed: Option[(AttributeReference, AttributeReference)] =
      m.mergeCondition match {
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tOut.contains(a) && sOut.contains(b) => Some((a, b))
        case EqualTo(a: AttributeReference, b: AttributeReference)
            if tOut.contains(b) && sOut.contains(a) => Some((b, a))
        case _ => None
      }
    // NBS UPDATE needs replacement rows for unmatched target rows, and
    // ORDERED multi-clause families (first-match-wins) tag each row
    // with its winning clause — both only the positional path can do
    if (keyed.isEmpty ||
        m.matchedActions.sizeIs > 1 || m.notMatchedActions.sizeIs > 1 ||
        m.notMatchedBySourceActions.sizeIs > 1 ||
        m.notMatchedBySourceActions.exists(_.isInstanceOf[UpdateAction])) {
      runPositional(spark, target, m)
      return
    }
    val (tKey, sKey) = keyed.get
    m.matchedActions.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => refuse(s"unsupported MATCHED action: $other")
    }
    m.notMatchedActions.foreach {
      case _: InsertAction => ()
      case other => refuse(s"unsupported NOT MATCHED action: $other")
    }
    m.notMatchedBySourceActions.foreach {
      case _: DeleteAction => ()
      case other => refuse("only WHEN NOT MATCHED BY SOURCE THEN DELETE " +
        s"is supported, got: $other")
    }
    val update = m.matchedActions.collectFirst { case u: UpdateAction => u }
    val delete = m.matchedActions.collectFirst { case d: DeleteAction => d }
    val insert = m.notMatchedActions.collectFirst { case i: InsertAction => i }
    val nbsDelete = m.notMatchedBySourceActions
      .collectFirst { case d: DeleteAction => d }
    if (update.isEmpty && delete.isEmpty && insert.isEmpty &&
        nbsDelete.isEmpty)
      refuse("MERGE needs at least one action")

    val srcDf = GraftSqlBridge.ofPlan(spark, m.sourceTable)
    val tgtDf = GraftSqlBridge.ofPlan(spark, m.targetTable)
    val targetAttrs: Seq[Attribute] = m.targetTable.output
    val sKeyCol = GraftSqlBridge.column(sKey)
    val tKeyCol = GraftSqlBridge.column(tKey)

    // ONE capped source-key probe — the distinct merge keys with their
    // multiplicities — shared by the cardinality check, the manifest
    // pruning of the target scan, and the delete-key list. The previous
    // shape derived those three driver-sized artifacts with three
    // separate source-side cluster jobs (cardinality aggregate,
    // prune-key collect, delete-key distinct shuffle); a MERGE source
    // is driver-sized on the KEY axis even when its payload is wide,
    // so one aggregate pass feeds all three. Over the cap every
    // consumer falls back to its distributed form — exact either way,
    // just unfused. Lazy: an insert-only MERGE touches none of the
    // three and pays nothing.
    lazy val keyProbe: Option[IndexedSeq[(Any, Long)]] = {
      val rows = srcDf.groupBy(sKeyCol.as("__mkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__mcnt"))
        .limit(10001).collect()
      if (rows.length <= 10000)
        Some(rows.toIndexedSeq.map(r => (r.get(0), r.getLong(1))))
      else None
    }

    // SQL MERGE cardinality: a target row matched by >1 source rows is
    // an error — with matched actions present, duplicate source keys
    // would otherwise append twice (answered by the probe; over the
    // cap, by one source-sized aggregate)
    if ((update.isDefined || delete.isDefined) &&
        !keyProbe.map(_.forall(_._2 <= 1L)).getOrElse(
          srcDf.groupBy(sKeyCol.as("__mkey"))
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__mcnt"))
            .filter(col("__mcnt") > 1).limit(1).isEmpty))
      throw new IllegalStateException(
        "MERGE_CARDINALITY_VIOLATION: the ON search condition matches " +
          "a single target row with multiple source rows; deduplicate " +
          "the source on the merge key")

    /** Project `df` (carrying both plans' attributes or just the
      * source's) into the TARGET schema: assigned columns take their
      * assignment expression, the rest take `fallback`. */
    def projected(df: DataFrame, assignments: Seq[Assignment],
        fallback: Attribute => Option[Expression]): DataFrame = {
      val byTarget: Map[String, Expression] = assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => refuse(s"unsupported assignment key: ${other.sql}")
        }
        name -> a.value
      }.toMap
      df.select(targetAttrs.map { attr =>
        val e = byTarget.get(attr.name).orElse(fallback(attr)).getOrElse(
          refuse(s"no value for target column ${attr.name}"))
        GraftSqlBridge.column(e).cast(attr.dataType).as(attr.name)
      }: _*)
    }

    /** Is every target column assigned exactly the same-named source
      * attribute (`SET *` / `INSERT *` after alignment)? Then the new
      * rows are the source rows — no join needed. */
    def isStarShape(assignments: Seq[Assignment]): Boolean =
      targetAttrs.forall { attr =>
        assignments.exists { a =>
          (a.key, a.value) match {
            case (k: AttributeReference, v: AttributeReference) =>
              k.name == attr.name && v.name == attr.name && sOut.contains(v)
            case _ => false
          }
        }
      }

    // the single matched action's optional condition (SQL: a matched
    // row NOT satisfying it stays untouched — with merge-on-read key
    // masking that means its key must NOT be masked, so conditional
    // shapes evaluate the condition on the matched join and mask
    // exactly the qualifying keys)
    val matchedCond: Option[Expression] =
      update.flatMap(_.condition).orElse(delete.flatMap(_.condition))

    /** Matched target rows all carry a source key, so a driver-sized
      * source-key IN filter on the target side is exact — and it pushes
      * through the bridge to the MANIFEST (dynamic file pruning: a
      * 1 000-row MERGE against a 10 000-partition table scans the few
      * owning partitions, not the table). Over the cap the unpruned
      * join is still exact, just unskipped. */
    lazy val prunedTgt: DataFrame = keyProbe match {
      case Some(kc) =>
        val keys = kc.map(_._1).filter(_ != null)
        if (keys.nonEmpty) tgtDf.filter(tKeyCol.isin(keys: _*)) else tgtDf
      case None => tgtDf
    }
    // the matched join: attribute ids from BOTH plans are in scope, so
    // assignment and condition expressions evaluate directly
    lazy val matchedJoin: DataFrame =
      prunedTgt.join(srcDf, tKeyCol === sKeyCol, "inner")
    def condCol(e: Expression) = GraftSqlBridge.column(e)

    // THE canonical upsert — unconditional `WHEN MATCHED THEN UPDATE
    // SET *` + `WHEN NOT MATCHED THEN INSERT *`: the matched
    // replacement rows (source ⋉ target keys) and the inserted rows
    // (source ▷ target keys) are COMPLEMENTARY partitions of the
    // source, and both star projections are the same projection — so
    // the append is just the projected source. No target scan, no
    // joins: the whole txn is O(source) end to end (one source pass
    // for the key probe, one for the append write).
    val starUpsert: Boolean = update.isDefined && insert.isDefined &&
      delete.isEmpty && matchedCond.isEmpty &&
      insert.get.condition.isEmpty &&
      isStarShape(update.get.assignments) &&
      isStarShape(insert.get.assignments)
    val matchedNew: Option[DataFrame] = if (starUpsert) None else update.map { u =>
      if (matchedCond.isEmpty && isStarShape(u.assignments))
        // SET *: replacement rows are the MATCHED source rows (semi
        // join on the key — the scan under tgtDf prunes by manifest)
        projected(srcDf.join(tgtDf.select(tKeyCol.as("__mk")).distinct(),
          sKeyCol === col("__mk"), "left_semi"), u.assignments, _ => None)
      else {
        // general SET: assignments may read BOTH sides; a condition
        // narrows the rewrite to qualifying matched rows
        val base = matchedCond.map(e => matchedJoin.filter(condCol(e)))
          .getOrElse(matchedJoin)
        projected(base, u.assignments, attr => Some(attr))
      }
    }
    val insertedNew: Option[DataFrame] = if (starUpsert) None else insert.map { i =>
      val anti = srcDf.join(tgtDf.select(tKeyCol.as("__mk")).distinct(),
        sKeyCol === col("__mk"), "left_anti")
      projected(i.condition.map(e => anti.filter(condCol(e))).getOrElse(anti),
        i.assignments, _ => None)
    }
    val append =
      if (starUpsert)
        Some(projected(srcDf, insert.get.assignments, _ => None))
      else (matchedNew, insertedNew) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }
    // keys to mask. Unconditional matched updates/deletes mask ALL
    // source keys (equivalent — keys absent from the table mask
    // nothing — and costs no target scan); conditional ones mask
    // exactly the matched keys satisfying the condition. NOT MATCHED BY
    // SOURCE DELETE masks the target keys with no source match —
    // O(target-scan) by semantics (it asks about every target row), one
    // anti-join, never a partition rewrite. Target rows whose merge key
    // is NULL are never masked (an equality key list cannot address
    // them — documented deviation from engines that rewrite files).
    val tKeyOut = GraftSqlBridge.column(tKey).cast(tKey.dataType).as(tKey.name)
    val keyFrames = Seq.newBuilder[DataFrame]
    if (update.isDefined || delete.isDefined) keyFrames += (matchedCond match {
      case None => keyProbe match {
        case Some(kc) =>
          // the probe IS the distinct key list: hand the delete entry a
          // driver-local one-partition relation, so its staging write
          // below skips the source re-scan and the distinct shuffle
          import scala.jdk.CollectionConverters._
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              tKey.name, sKey.dataType, nullable = true)))
          spark.createDataFrame(
            kc.map(_._1).filter(_ != null)
              .map(org.apache.spark.sql.Row(_)).asJava, schema)
            .select(col(tKey.name).cast(tKey.dataType).as(tKey.name))
        case None =>
          srcDf.select(sKeyCol.cast(tKey.dataType).as(tKey.name))
      }
      case Some(c) =>
        matchedJoin.filter(condCol(c)).select(tKeyOut)
    })
    nbsDelete.foreach { d =>
      val anti = tgtDf.join(
        srcDf.select(sKeyCol.as("__sk")).na.drop().distinct(),
        tKeyCol === col("__sk"), "left_anti")
      keyFrames += d.condition.map(e => anti.filter(condCol(e)))
        .getOrElse(anti).select(tKeyOut).na.drop()
    }
    val frames = keyFrames.result()
    val delKeys =
      if (frames.isEmpty) None else Some(frames.reduce(_.unionByName(_)))
    TxnCatalog.mergeKeyed(spark, target.root, target.table, tKey.name,
      delKeys, append, statsColumns = Seq(tKey.name))
    ()
  }

  /** The POSITIONAL merge: arbitrary deterministic ON conditions
    * (multi-column keys, expressions, inequalities) and the full clause
    * surface including `WHEN NOT MATCHED BY SOURCE THEN UPDATE`. The
    * target reads once through the delete-applying funnel WITH physical
    * (file, row) coordinates; the source joins it under the raw
    * condition. Matched rows qualifying a MATCHED action and NBS rows
    * qualifying an NBS action mask by coordinate (a deletion vector);
    * UPDATE shapes append their assigned versions; NOT MATCHED INSERTs
    * append source projections — ONE vector + ONE batch in one
    * conditional txn ([[TxnCatalog.mergePositional]]), recomputed and
    * retried if a rival commit moves the layout. Cost: one target scan
    * + one join per clause family, O(affected) written — no partition
    * rewrite. Both plans' attributes are remapped by NAME onto disjoint
    * `__t_`/`__s_` prefixes so `t.v` and `s.v` stay distinguishable
    * when expressions are re-resolved against the joined frame. The
    * source is locally checkpointed once per attempt: every clause
    * evaluates ONE source materialization, so a nondeterministic source
    * cannot desynchronize the matched, inserted, and NBS row sets. */
  private def runPositional(spark: SparkSession, target: GraftSqlTable,
      m: MergeIntoTable): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    def remap(e: Expression): Column =
      GraftSqlBridge.column(e.transform {
        case a: AttributeReference if tOut.contains(a) =>
          UnresolvedAttribute(Seq(s"__t_${a.name}"))
        case a: AttributeReference if sOut.contains(a) =>
          UnresolvedAttribute(Seq(s"__s_${a.name}"))
      })
    m.matchedActions.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => refuse(s"unsupported MATCHED action: $other")
    }
    m.notMatchedActions.foreach {
      case _: InsertAction => ()
      case other => refuse(s"unsupported NOT MATCHED action: $other")
    }
    m.notMatchedBySourceActions.foreach {
      case _: UpdateAction | _: DeleteAction => ()
      case other => refuse(s"unsupported NOT MATCHED BY SOURCE action: $other")
    }
    if (m.matchedActions.isEmpty && m.notMatchedActions.isEmpty &&
        m.notMatchedBySourceActions.isEmpty)
      refuse("MERGE needs at least one action")
    val targetAttrs: Seq[Attribute] = m.targetTable.output
    def assignedNames(as: Seq[Assignment]): Map[String, Expression] =
      as.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => refuse(s"unsupported assignment key: ${other.sql}")
        }
        name -> a.value
      }.toMap
    /** Project a frame into the target schema: assigned columns take
      * their (remapped) assignment expression, others `fallback`. */
    def projected(df: DataFrame, as: Seq[Assignment],
        fallback: String => Option[Column]): DataFrame = {
      val byName = assignedNames(as)
      df.select(targetAttrs.map { attr =>
        byName.get(attr.name).map(remap)
          .orElse(fallback(attr.name))
          .getOrElse(refuse(s"no value for target column ${attr.name}"))
          .cast(attr.dataType).as(attr.name)
      }: _*)
    }
    val srcBase = GraftSqlBridge.ofPlan(spark, m.sourceTable)
    val (pPath, pPos) =
      (TxnCatalog.DvPathColumn, TxnCatalog.DvPosColumn)
    // a lost race may have moved the layout the positions point into:
    // every attempt recomputes them against its own snapshot
    TxnCatalog.retryOnConflict { _ =>
      val snap = TxnCatalog.snapshot(spark, target.root).getOrElse(
        refuse(s"empty catalog under ${target.root}"))
      if (snap.entries.contains((target.table, "-")))
        refuse(s"table '${target.table}' holds a whole-table snapshot; " +
          "positional MERGE needs a partitioned table")
      val tgtPos = snap.readSelectedWithPos(target.table,
        snap.dataEntries(target.table)).getOrElse(
        refuse(s"unknown table '${target.table}'"))
      val dataCols = tgtPos.columns
        .filterNot(c => c == pPath || c == pPos).toSeq
      val tgt = tgtPos.select(
        dataCols.map(c => col(c).as(s"__t_$c")) ++
          Seq(col(pPath), col(pPos)): _*)
      val src = srcBase.select(m.sourceTable.output.map(a =>
        GraftSqlBridge.column(a).as(s"__s_${a.name}")): _*).localCheckpoint()
      try {
        import org.apache.spark.sql.functions.{lit, when}
        val cond = remap(m.mergeCondition)
        // ORDERED clause lists, SQL first-match-wins: each row of a
        // family's frame is tagged with the index of the FIRST clause
        // whose condition holds (-1 = no clause applies — the row
        // stays untouched / uninserted). One `when` chain per family,
        // evaluated inside the same scan that feeds the masks.
        val clauseCol = "__graft_clause"
        def actCond(a: Any): Option[Expression] = a match {
          case u: UpdateAction => u.condition
          case d: DeleteAction => d.condition
          case i: InsertAction => i.condition
          case _ => None
        }
        def tagged(df: DataFrame, acts: Seq[Any]): DataFrame =
          df.withColumn(clauseCol,
            acts.zipWithIndex.foldRight(lit(-1): Column) {
              case ((a, i), els) =>
                when(actCond(a).map(remap).getOrElse(lit(true)), lit(i))
                  .otherwise(els)
            })
        lazy val matched =
          tagged(tgt.join(src, cond, "inner"), m.matchedActions)
        // SQL MERGE cardinality: >1 source rows per target ROW (by
        // physical coordinate) with a matched action present is an error
        if (m.matchedActions.nonEmpty &&
            !matched.groupBy(col(pPath), col(pPos))
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("__mcnt"))
              .filter(col("__mcnt") > 1).limit(1).isEmpty)
          throw new IllegalStateException(
            "MERGE_CARDINALITY_VIOLATION: the ON search condition " +
              "matches a single target row with multiple source rows; " +
              "deduplicate the source on the merge key")
        lazy val nbs = tagged(tgt.join(src, cond, "left_anti"),
          m.notMatchedBySourceActions)
        // rows to mask, with original payload for row-precise CDC
        def payload(df: DataFrame): DataFrame =
          df.select(dataCols.map(c => col(s"__t_$c").as(c)) ++
            Seq(col(pPath), col(pPos)): _*)
        val dvFrames = Seq.newBuilder[DataFrame]
        if (m.matchedActions.nonEmpty)
          dvFrames += payload(matched.filter(col(clauseCol) >= 0))
        if (m.notMatchedBySourceActions.nonEmpty)
          dvFrames += payload(nbs.filter(col(clauseCol) >= 0))
        val dv = dvFrames.result().reduceOption(_.unionByName(_))
        // replacement / insert rows, one projection per winning UPDATE
        // or INSERT clause (DELETE clauses mask only)
        val newFrames = Seq.newBuilder[DataFrame]
        m.matchedActions.zipWithIndex.foreach {
          case (u: UpdateAction, i) =>
            newFrames += projected(matched.filter(col(clauseCol) === i),
              u.assignments, n => Some(col(s"__t_$n")))
          case _ => ()
        }
        if (m.notMatchedActions.nonEmpty) {
          val anti = tagged(src.join(tgt, cond, "left_anti"),
            m.notMatchedActions)
          m.notMatchedActions.zipWithIndex.foreach {
            case (ins: InsertAction, i) =>
              newFrames += projected(anti.filter(col(clauseCol) === i),
                ins.assignments, _ => None)
            case _ => ()
          }
        }
        m.notMatchedBySourceActions.zipWithIndex.foreach {
          case (u: UpdateAction, i) =>
            newFrames += projected(nbs.filter(col(clauseCol) === i),
              u.assignments, n => Some(col(s"__t_$n")))
          case _ => ()
        }
        val append = newFrames.result().reduceOption(_.unionByName(_))
        val dvNonEmpty = dv.filter(!_.isEmpty)
        val appNonEmpty = append.filter(!_.isEmpty)
        TxnCatalog.mergePositional(spark, target.root, target.table,
          snap.txn, dvNonEmpty, appNonEmpty)
      } finally src.unpersist()
    }
  }
}

/** SQL `UPDATE t SET ... WHERE ...` for lake tables — the same planner
  * seam as MERGE (the statement survives analysis and dies at physical
  * planning without `SupportsRowLevelOperations`), routed through
  * [[TxnCatalog.updateWhere]]'s skipping-aware partition rewrite: only
  * partitions whose manifest stats MAY match the WHERE are rewritten,
  * in one conditional txn. Per-column equality and closed-range
  * conjuncts prune at the manifest; any other deterministic condition
  * still executes correctly (every partition rewritten — pruning is an
  * optimization, never a gate). Subqueries are refused at planning. */
object GraftUpdate {
  import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual, Literal, PlanExpression}
  import org.apache.spark.sql.catalyst.CatalystTypeConverters

  private def refuse(why: String): Nothing =
    throw new IllegalArgumentException(
      s"graft-lake UPDATE does not support $why")

  /** Best-effort per-column pruning bounds from the WHERE conjuncts:
    * equality and closed ranges (BETWEEN desugars to >= AND <=) on a
    * column vs a literal. Everything else contributes no bound. */
  private def bounds(e: Expression): Seq[(String, Any, Any)] = {
    def scala0(l: Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val cs = conjuncts(e)
    val eqs = cs.collect {
      case EqualTo(a: AttributeReference, l: Literal) =>
        (a.name, scala0(l), scala0(l))
      case EqualTo(l: Literal, a: AttributeReference) =>
        (a.name, scala0(l), scala0(l))
    }
    // closed range: a >= lo and a <= hi on the same column
    val los = cs.collect {
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        a.name -> scala0(l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        a.name -> scala0(l)
    }.toMap
    val his = cs.collect {
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        a.name -> scala0(l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        a.name -> scala0(l)
    }.toMap
    eqs ++ (los.keySet intersect his.keySet).toSeq.sorted
      .map(c => (c, los(c), his(c)))
  }

  /** Render an expression as re-parseable SQL over bare column names:
    * resolved attribute refs carry the full `catalog.ns.table.col`
    * qualifier in `.sql`, which cannot resolve against a per-partition
    * parquet read — strip qualifiers first. */
  private def bareSql(e: Expression): String =
    e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql

  private[storage] def run(spark: SparkSession, target: GraftSqlTable,
      u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable): Unit = {
    def noSubquery(e: Expression): Unit =
      if (e.exists(_.isInstanceOf[PlanExpression[_]]))
        refuse(s"subqueries: ${e.sql}")
    u.condition.foreach(noSubquery)
    val assigns = u.assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => refuse(s"assignment key ${other.sql}")
      }
      noSubquery(a.value)
      name -> bareSql(a.value)
    }
    // GENERATED columns: a SET that rewrites a referenced base column
    // would stale the invariant (and die at the auto CHECK) — instead,
    // recompute the generated column alongside, substituting the new
    // value expressions into the generation SQL so it evaluates over
    // the POST-update row. Direct SETs on generated columns refuse,
    // like Delta.
    val genProps = TxnCatalog
      .tableProperties(spark, target.root, target.table).collect {
        case (k, v) if k.startsWith(GraftCatalog.GeneratedPrefix) =>
          k.stripPrefix(GraftCatalog.GeneratedPrefix) -> v
      }
    assigns.foreach { case (n, _) =>
      if (genProps.keys.exists(_.equalsIgnoreCase(n)))
        refuse(s"SET on generated column $n (it is recomputed " +
          "automatically when its inputs change)")
    }
    val assignBySet = assigns.toMap
    val genAssigns = genProps.toSeq.sortBy(_._1).flatMap {
      case (gc, gsql) =>
        val parsed = spark.sessionState.sqlParser.parseExpression(gsql)
        val hit = parsed.exists {
          case ua: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute =>
            assignBySet.keys.exists(_.equalsIgnoreCase(ua.name))
          case _ => false
        }
        if (!hit) None
        else {
          // transformUp: post-order, so the substituted value
          // expression (which may reference the same column — e.g.
          // SET k = k + 10) is never re-visited
          val substituted = parsed.transformUp {
            case ua: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute =>
              assignBySet.collectFirst {
                case (n, sql) if n.equalsIgnoreCase(ua.name) =>
                  spark.sessionState.sqlParser.parseExpression(s"($sql)")
              }.getOrElse(ua)
          }
          Some(gc -> substituted.sql)
        }
    }
    val allAssigns = assigns ++ genAssigns
    val condSql = u.condition.map(bareSql).getOrElse("true")
    val condRefs = u.condition.toSeq
      .flatMap(_.references.toSeq.map(_.name)).distinct
    val prunable = u.condition.toSeq.flatMap(bounds)
    val partitioned = TxnCatalog.snapshot(spark, target.root)
      .exists(s => !s.entries.contains((target.table, TxnCatalog.Whole)))
    if (u.condition.isDefined && prunable.isEmpty && partitioned)
      // no manifest-prunable conjunct: the rewrite path would re-write
      // EVERY partition — route to the DV-backed positional update
      // (one funnel scan + O(matched) written) instead
      TxnCatalog.updatePositions(spark, target.root, target.table,
        org.apache.spark.sql.functions.expr(condSql), allAssigns)
    else
      TxnCatalog.updateWhere(spark, target.root, target.table,
        condSql, allAssigns,
        bounds = prunable,
        condRefs = condRefs)
    ()
  }
}

/** Planner strategy: claims the row-level DML statements (`MERGE INTO`,
  * `UPDATE`) over a graft lake target — built-ins would refuse them —
  * validating shapes AT PLANNING and emitting driver-side command
  * nodes. */
final class GraftMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: MergeIntoTable =>
      GraftMerge.lakeTarget(m.targetTable) match {
        case Some(t) => GraftMergeExec(t, m) :: Nil
        case None => Nil
      }
    case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
      GraftMerge.lakeTarget(u.table) match {
        case Some(t) => GraftUpdateExec(t, u) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/** Driver-side UPDATE command execution. */
final case class GraftUpdateExec(target: GraftSqlTable,
    u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override protected def doExecute(): RDD[InternalRow] = {
    GraftUpdate.run(session, target, u)
    sparkContext.emptyRDD[InternalRow]
  }
}

/** Driver-side MERGE command execution (the commit is a driver-side
  * manifest CAS; the data work inside runs as ordinary Spark jobs). */
final case class GraftMergeExec(target: GraftSqlTable, m: MergeIntoTable)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override protected def doExecute(): RDD[InternalRow] = {
    GraftMerge.run(session, target, m)
    sparkContext.emptyRDD[InternalRow]
  }
}
