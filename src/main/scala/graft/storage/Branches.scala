package graft.storage

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import TxnCatalog.{Entry, PropsPartition, RefPrefix, Whole}

/** BRANCHES: writable named forks of a lake table, and the
  * write-audit-publish (WAP) workflow they exist for — Iceberg's table
  * branches re-expressed on this catalog's txn axis.
  *
  * A branch is an ordinary table named `<table>~br~<branch>` whose
  * entries are created by [[create]] as ZERO-COPY references
  * ([[TxnCatalog.RefPrefix]] dirs) to the source table's physical data:
  * forking a 10 000-partition fact table is one manifest CAS, no bytes
  * move. Because the branch IS a table, the ENTIRE engine surface works
  * on it unchanged — appends, MERGE/DELETE/UPDATE, OPTIMIZE, CHECK
  * constraints (copied at fork, so branch writes validate from birth),
  * SQL by identifier, time travel — which is exactly what an audit
  * needs: stage tomorrow's training data on the branch, run the quality
  * gates against it, and only then [[publish]].
  *
  * [[publish]] fast-forwards the source table to the branch's state as
  * ONE conditional commit, again zero-copy (main's new entries
  * reference the branch's staged files). Two shapes:
  *
  *  - **append-shaped** (every pre-fork entry untouched on the branch,
  *    only new data entries added — the common WAP case): the new
  *    entries land on main stamped with the PUBLISH txn as their data
  *    txn, so incremental consumers (streams, CDC, [[TxnCatalog.diffData]])
  *    see exactly the appended rows, exactly once; untouched partitions
  *    keep main's existing entries VERBATIM (zero churn in
  *    [[TxnCatalog.diff]]).
  *  - **anything else** (branch rewrote, deleted, or dropped pre-fork
  *    data): main's entries are replaced by the branch's with their
  *    ORIGINAL data txns (preserving merge-on-read delete sequencing,
  *    like RESTORE), and the commit stamps
  *    [[TxnCatalog.RestoreTxnProp]] so a live stream on main fails fast
  *    instead of silently missing the rewrite.
  *
  * Publishing REFUSES (unless `force`) when main advanced since the
  * fork — the fast-forward condition, checked against the branch's
  * recorded base txn — so a rival writer's commits can never be
  * silently clobbered; rebase by re-creating the branch. Vacuum safety:
  * liveness is path-based ([[TxnCatalog.vacuum]]), so shared physical
  * dirs survive as long as any surviving manifest references them under
  * any name, and dropping a branch ([[drop]]) is just a table drop.
  */
object Branch {

  /** Reserved infix joining table and branch in the shadow name. */
  val BranchInfix = "~br~"
  /** Branch-table property: the source table this branch forked from. */
  val BranchOfProp = "graft.branch.of"
  /** Branch-table property: the main txn the branch last forked from or
    * was published at — the fast-forward base. */
  val BranchBaseProp = "graft.branch.base"
  /** Main-table property: `<publishTxn>:<branch>` of the most recent
    * branch publish into it. */
  val BranchPublishedProp = "graft.branch.published"

  /** The shadow-table name a branch lives under. */
  def shadowName(table: String, branch: String): String = {
    checkBranchName(branch)
    s"$table$BranchInfix$branch"
  }

  private def checkBranchName(n: String): Unit =
    require(n.nonEmpty && !n.contains('/') && !n.contains('\t') &&
      !n.contains('~') && !n.startsWith(".") && !n.startsWith("_"),
      s"illegal branch name '$n' (path-safe, no '~')")

  private def propsDf(spark: SparkSession, props: Map[String, String]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        props.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))

  /** `e` re-addressed as a reference entry readable under another table
    * name: already-ref dirs stay verbatim (still naming the original
    * physical location); real dirs pick up their owning table/partition
    * as a `~ref:` prefix. The data txn pins explicitly — a ref dir
    * cannot carry it implicitly — preserving delete sequencing and
    * incremental-consumer skipping exactly. */
  private def refEntry(ownTable: String, part: String, e: Entry): Entry = {
    val dir =
      // already-indirect dirs stay verbatim: a `~ref:` keeps naming the
      // original physical location, an `~ext:` keeps naming the
      // imported absolute path ([[TxnCatalog.ExtPrefix]])
      if (e.dir.startsWith(RefPrefix) ||
        e.dir.startsWith(TxnCatalog.ExtPrefix)) e.dir
      else if (part == Whole) s"$RefPrefix$ownTable/${e.dir}"
      else s"$RefPrefix$ownTable/$part/${e.dir}"
    e.copy(dir = dir, dataTxn = Some(TxnCatalog.entryDataTxn(e)))
  }

  /** Fork `table` into branch `branch` at the current snapshot: one
    * conditional manifest commit, zero data copied. The branch starts
    * as an exact replica — data entries, pending equality deletes, and
    * table properties (CHECK constraints included, so branch writes
    * validate from birth) — plus [[BranchOfProp]]/[[BranchBaseProp]]
    * recording the fork point. Throws if the table is unknown or the
    * branch already exists. Returns the committed txn. */
  def create(spark: SparkSession, root: String, table: String,
      branch: String): Long =
    cloneInto(spark, root, table, shadowName(table, branch),
      cur => Map(BranchOfProp -> table, BranchBaseProp -> cur.toString))

  /** SHALLOW CLONE: replicate `src` under the independent table name
    * `dst` at the current snapshot — one conditional manifest commit,
    * zero data copied (Delta's `CREATE TABLE dst SHALLOW CLONE src`).
    * The clone carries src's data entries, pending equality deletes,
    * and properties (constraints enforce on the clone from birth), and
    * diverges freely afterwards: writes to either table never affect
    * the other, and vacuum's path-based liveness keeps the shared
    * bytes alive as long as either still references them. Unlike a
    * branch, a clone records no fast-forward base and cannot be
    * published back. Returns the committed txn. */
  def cloneTable(spark: SparkSession, root: String, src: String,
      dst: String): Long = {
    TxnCatalog.checkTableName(dst)
    require(!dst.contains(BranchInfix),
      s"'$dst' is a branch name; use Branch.create for branches")
    cloneInto(spark, root, src, dst,
      _ => Map(CloneOfProp -> src))
  }

  /** Table property recording the source a clone was taken from. */
  val CloneOfProp = "graft.clone.of"

  /** RENAME TABLE: `src` becomes `dst` in ONE conditional manifest
    * commit — a zero-copy clone and the source drop in the same txn,
    * so no observer ever sees both names (or neither). Data dirs stay
    * at their physical paths and the new name's entries reference them
    * (`~ref:`), exactly like a shallow clone; vacuum's path-based
    * liveness keeps them alive under the new name. Time travel to a
    * pre-rename txn still reads the OLD name — the rename is a fact
    * about the namespace, not history. Refused while the table has
    * live branches (their shadow names embed the table name) or a
    * materialized view reads it (its `graft.mv.source` would dangle);
    * publish/drop those first. Returns the committed txn. */
  def renameTable(spark: SparkSession, root: String, src: String,
      dst: String): Long = {
    TxnCatalog.checkTableName(dst)
    require(!src.contains(BranchInfix) && !dst.contains(BranchInfix),
      "branches cannot be renamed; publish or drop the branch instead")
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val srcAll = cur.entries.filter(_._1._1 == src)
      require(srcAll.nonEmpty, s"unknown table '$src'")
      require(!cur.entries.keys.exists(_._1 == dst),
        s"table '$dst' already exists")
      val brs = branches(spark, root, src)
      require(brs.isEmpty,
        s"'$src' has live branches (${brs.mkString(", ")}) — publish " +
          "or drop them before renaming")
      cur.tables.foreach { t =>
        val p = cur.properties(t)
        val reads = p.get(MaterializedAgg.SourceProp).contains(src) ||
          p.get(MaterializedAgg.DimProp)
            .exists(_.split(',').contains(src))
        require(!reads,
          s"materialized view '$t' reads '$src' — drop or repoint it " +
            "before renaming")
      }
      val copied: Map[(String, String), Entry] = srcAll.collect {
        case ((_, p), e) if p != PropsPartition =>
          (dst, p) -> refEntry(src, p, e)
      }
      val props = cur.properties(src)
      TxnCatalog.publish(spark, root,
        Seq((dst, PropsPartition, propsDf(spark, props))),
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried =>
          carried.filterNot(_._1._1 == src) ++ copied)(() => ())
    }
  }

  private def cloneInto(spark: SparkSession, root: String, table: String,
      dst: String, extraProps: Long => Map[String, String]): Long = {
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val src = cur.entries.filter(_._1._1 == table)
      require(src.nonEmpty, s"unknown table '$table'")
      require(!cur.entries.keys.exists(_._1 == dst),
        s"table '$dst' already exists")
      val copied: Map[(String, String), Entry] = src.collect {
        case ((_, p), e) if p != PropsPartition =>
          (dst, p) -> refEntry(table, p, e)
      }
      val props = cur.properties(table) -
        TxnCatalog.RestoreTxnProp - BranchPublishedProp - CloneOfProp -
        BranchOfProp - BranchBaseProp ++
        extraProps(cur.txn)
      TxnCatalog.publish(spark, root,
        Seq((dst, PropsPartition, propsDf(spark, props))),
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried => carried ++ copied)(() => ())
    }
  }

  /** Branch names of `table` in the latest snapshot (direct branches
    * only — a branch of a branch belongs to the branch). */
  def branches(spark: SparkSession, root: String, table: String): Seq[String] =
    TxnCatalog.tables(spark, root)
      .collect { case t if t.startsWith(table + BranchInfix) =>
        t.stripPrefix(table + BranchInfix) }
      .filterNot(_.contains(BranchInfix)).sorted

  /** Staged updates refreshing every materialized view whose
    * `graft.mv.source` is one of the published tables — the new view
    * rows and watermark land IN THE SAME COMMIT as the cutover: no
    * window in which the catalog shows new data but old rollups.
    * Shared by [[publish]] and [[publishAll]].
    *
    * Cost is proportional to the BRANCH DELTA whenever that is sound:
    * for an append-shaped publish ([[PublishPlan.fastAppend]] — no
    * rewrites, no deletes, every main entry untouched) whose main-side
    * window since the view's watermark classifies as additively
    * refreshable ([[MaterializedAgg.incrementalDelta]] — the exact
    * manifest classification steady-state refresh uses, so repeated
    * WAP cycles stay incremental across the `~ref:` entries publishes
    * leave behind), the post-publish aggregate is the stored view plus
    * the aggregate of main's unseen partitions plus the aggregate of
    * only the branch's NEW partitions, additively merged
    * ([[MaterializedAgg.merge]]) — a 100 TB fact-table publish folds
    * its day of appends, not the table, inside the cutover commit. A
    * delta-empty fast-forward leaves the view untouched (its stored
    * rows and watermark stay exactly current). Anything else — a
    * rewrite-shaped publish, deletes or a restore in the window, a
    * vacuumed watermark manifest — falls back to the full recompute
    * from the branch's (post-publish) source state: correct, just not
    * incremental. */
  private def mvRefreshUpdates(spark: SparkSession, root: String,
      cur: TxnCatalog.Snapshot, plans: Seq[(String, PublishPlan)],
      branch: String)
      : Seq[(String, String, org.apache.spark.sql.DataFrame)] =
    cur.tables.sorted.flatMap { v =>
      val props = cur.properties(v)
      val srcOpt = props.get(MaterializedAgg.SourceProp)
      val chain = MaterializedAgg.parseDimChain(props)
      def planOf(t: String) = plans.collectFirst { case (`t`, p) => p }
      // a view refreshes when its source — or, for a join view, any
      // dim of its chain — is being published
      val touched = srcOpt.exists(planOf(_).isDefined) ||
        chain.exists { case (dm, _) => planOf(dm).isDefined }
      if (srcOpt.isEmpty || !touched) Nil
      else {
        val srcTable = srcOpt.get
        val shadow = shadowName(srcTable, branch)
        def unreadable(t: String) = new IllegalStateException(
          s"'$t' unreadable during publish MV refresh")
        // a published table's post-publish state is its branch shadow;
        // an untouched one is just main
        def postRead(t: String) =
          (if (planOf(t).isDefined) cur.read(shadowName(t, branch))
          else cur.read(t)).getOrElse(throw unreadable(t))
        val groupCols =
          props(MaterializedAgg.GroupProp).split(',').toSeq
        val aggs =
          MaterializedAgg.parseAggs(props(MaterializedAgg.AggsProp))
        def withDim(df: org.apache.spark.sql.DataFrame) =
          MaterializedAgg.joinedAll(df, chain, postRead)
        val mvProps = props + (MaterializedAgg.WatermarkProp ->
          (cur.txn + 1).toString)
        val wm = props(MaterializedAgg.WatermarkProp).toLong
        def full() = Seq(
          (v, Whole, MaterializedAgg.aggregate(
            withDim(postRead(srcTable)), groupCols, aggs)),
          (v, PropsPartition, propsDf(spark, mvProps)))
        // the incremental claim needs: an append-shaped fact publish,
        // a dim untouched by THIS publish (its plan, if any, changes
        // nothing) AND frozen since the watermark, and a main-side
        // window that classifies additively ([[MaterializedAgg
        // .incrementalDelta]] — a vacuumed wm manifest is a
        // full-recompute case, not an error)
        val factPlan = planOf(srcTable)
        val dimChangesHere = chain.exists { case (dm, _) =>
          planOf(dm).exists(p => !p.fastAppend || p.deltaParts.nonEmpty) }
        val dimFrozen = chain.forall { case (dm, _) => !dimChangesHere &&
          MaterializedAgg.dimUnchanged(spark, root, dm, wm, cur) }
        val mainDelta: Option[Set[String]] =
          if (!factPlan.forall(_.fastAppend) || !dimFrozen) None
          else scala.util.Try(MaterializedAgg.incrementalDelta(
            spark, root, srcTable, wm, cur)).toOption.flatten
        val branchParts = factPlan.map(_.deltaParts).getOrElse(Nil)
        mainDelta match {
          case Some(mainParts)
              if mainParts.isEmpty && branchParts.isEmpty =>
            Nil // nothing changed since the watermark: stays exact
          case Some(mainParts) =>
            val stored = cur.read(v).getOrElse(throw unreadable(v))
            val withMain =
              if (mainParts.isEmpty) stored
              else MaterializedAgg.merge(stored,
                MaterializedAgg.aggregate(withDim(
                  cur.readPartitions(srcTable, mainParts.toSeq.sorted)
                    .getOrElse(throw unreadable(srcTable))),
                  groupCols, aggs), groupCols, aggs)
            val merged =
              if (branchParts.isEmpty) withMain
              else MaterializedAgg.merge(withMain,
                MaterializedAgg.aggregate(withDim(
                  cur.readPartitions(shadow, branchParts)
                    .getOrElse(throw unreadable(shadow))),
                  groupCols, aggs), groupCols, aggs)
            Seq((v, Whole, merged),
              (v, PropsPartition, propsDf(spark, mvProps)))
          case None => full()
        }
      }
    }

  /** Publish (fast-forward) `branch` into `table` — the WAP publish:
    * one conditional zero-copy commit making main's state the branch's
    * state (see the object doc for the append-shaped vs rewrite-shaped
    * contract). Refuses when main advanced past the branch's base txn
    * (pass `force = true` to clobber knowingly, e.g. after an external
    * audit decided the branch wins), or when the base manifest has been
    * vacuumed (re-create the branch). The branch survives, rebased to
    * the publish txn — audit→publish cycles repeat on the same branch.
    * Materialized views over `table` refresh in the same commit
    * ([[mvRefreshUpdates]]). Returns the committed txn. */
  def publish(spark: SparkSession, root: String, table: String,
      branch: String, force: Boolean = false): Long = {
    val shadow = shadowName(table, branch)
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val plan = publishPlan(spark, root, cur, table, branch, force)
      TxnCatalog.publish(spark, root,
        Seq((table, PropsPartition, propsDf(spark, plan.mainProps)),
          (shadow, PropsPartition, propsDf(spark, plan.rebasedProps))) ++
          mvRefreshUpdates(spark, root, cur, Seq(table -> plan), branch),
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried =>
          carried.filterNot(_._1._1 == table) ++ plan.newMain)(() => ())
    }
  }

  /** One table's publish decision at a pinned snapshot — the per-table
    * core [[publish]] and [[publishAll]] share: fast-forward check,
    * unchanged/new classification, append-shaped detection, and the
    * main/shadow property updates, all computed for the commit that
    * will land at `cur.txn + 1`. Nothing is written here. */
  private final case class PublishPlan(
      newMain: Map[(String, String), Entry],
      mainProps: Map[String, String],
      rebasedProps: Map[String, String],
      fastAppend: Boolean,
      // the branch's additions beyond main (sorted) — the MV-refresh
      // delta when the publish is append-shaped
      deltaParts: Seq[String])

  private def publishPlan(spark: SparkSession, root: String,
      cur: TxnCatalog.Snapshot, table: String, branch: String,
      force: Boolean): PublishPlan = {
    val shadow = shadowName(table, branch)
    val shadowAll = cur.entries.filter(_._1._1 == shadow)
    require(shadowAll.nonEmpty, s"unknown branch '$branch' of '$table'")
    val shadowProps = cur.properties(shadow)
    require(shadowProps.get(BranchOfProp).contains(table),
      s"'$shadow' is not a branch of '$table'")
    val curMain: Map[(String, String), Entry] = cur.entries.filter {
      case ((t, p), _) => t == table && p != PropsPartition }
    if (!force) {
      val base = shadowProps.get(BranchBaseProp).flatMap(_.toLongOption)
        .getOrElse(throw new IllegalStateException(
          s"branch '$branch' carries no base txn"))
      val baseSnap =
        try TxnCatalog.snapshotAt(spark, root, base)
        catch { case _: IllegalArgumentException =>
          throw new IllegalStateException(
            s"branch '$branch' base txn $base has been vacuumed; " +
              "re-create the branch or publish with force = true")
        }
      val baseMain = baseSnap.entries.filter {
        case ((t, p), _) => t == table && p != PropsPartition }
      val markers = Seq(TxnCatalog.RestoreTxnProp, BranchPublishedProp)
      if (curMain != baseMain ||
          (cur.properties(table) -- markers) !=
            (baseSnap.properties(table) -- markers))
        throw new IllegalStateException(
          s"table '$table' advanced since branch '$branch' forked at " +
            s"txn ${base}: publishing would clobber those commits. " +
            "Rebase the branch onto the current state (Branch.rebase) " +
            "or publish with force = true to overwrite knowingly.")
    }
    val shadowData = shadowAll.filter(_._1._2 != PropsPartition)
    // per-partition classification against main's CURRENT entry: a
    // shadow entry resolving to the same physical path is the same
    // content — keep main's entry verbatim (zero diff churn)
    def resolved(t: String, p: String, e: Entry) =
      TxnCatalog.entryPath(root, t, p, e.dir)
    val unchanged: Set[String] = shadowData.collect {
      case ((_, p), e) if curMain.get((table, p)).exists(me =>
        resolved(table, p, me) == resolved(shadow, p, e) &&
          me.deleteKey == e.deleteKey) => p
    }.toSet
    val newOnes = shadowData.filter { case ((_, p), _) => !unchanged(p) }
    // append-shaped iff every main entry survives untouched and every
    // branch addition is plain data (no delete keys, no drops)
    val fastAppend =
      curMain.keys.forall { case (_, p) => unchanged(p) } &&
        newOnes.values.forall(_.deleteKey.isEmpty)
    val publishTxn = cur.txn + 1
    val newMain: Map[(String, String), Entry] = shadowData.map {
      case ((_, p), e) =>
        if (unchanged(p)) (table, p) -> curMain((table, p))
        else (table, p) -> refEntry(shadow, p, e).copy(dataTxn =
          Some(if (fastAppend) publishTxn else TxnCatalog.entryDataTxn(e)))
    }
    val marker = s"$publishTxn:$branch"
    val mainProps = shadowProps -
      BranchOfProp - BranchBaseProp - TxnCatalog.RestoreTxnProp -
      BranchPublishedProp +
      (BranchPublishedProp -> marker) ++
      (if (fastAppend) Map.empty[String, String]
       else Map(TxnCatalog.RestoreTxnProp -> marker))
    val rebased = shadowProps + (BranchBaseProp -> publishTxn.toString)
    PublishPlan(newMain, mainProps, rebased, fastAppend,
      deltaParts = newOnes.keysIterator.map(_._2).toSeq.sorted)
  }

  /** REBASE branch `branch` onto `table`'s CURRENT state — the answer
    * to [[publish]]'s fast-forward refusal when main advanced since the
    * fork, without discarding the branch's staged work (the old answer,
    * "re-create the branch", threw the audit away). A three-way merge
    * at the manifest's own (partition) grain, zero-copy on both sides:
    *
    *  - each side's CHANGE SET is computed against the fork-point
    *    snapshot by RESOLVED physical path + delete marker (so a
    *    zero-copy ref and the dir it names compare equal, exactly like
    *    [[publish]]'s unchanged test);
    *  - disjoint changes merge: the branch keeps its own entries for
    *    partitions it changed, and main's new/rewritten/dropped entries
    *    enter the branch as `~ref:` entries with their ORIGINAL data
    *    txns — branch and main share ONE txn axis (one `_txns/` log),
    *    so every sequence rule (equality-delete applicability, stream
    *    offsets, [[TxnCatalog.diffData]]) stays exact across the merge
    *    with no renumbering;
    *  - table-property deltas merge key-wise the same way (markers —
    *    restore stamps, publish stamps, the branch's own bookkeeping —
    *    excluded);
    *  - [[BranchBaseProp]] advances to the txn rebased onto, so a
    *    subsequent [[publish]] fast-forwards.
    *
    * CONFLICTS refuse with the offending list (nothing commits):
    *
    *  - the same partition changed differently on both sides (two
    *    appends to one logical partition, rival rewrites, a drop racing
    *    a rewrite) — identical changes, e.g. both sides materializing
    *    the same pending delete, are NOT conflicts;
    *  - the same table property set differently on both sides;
    *  - either side added merge-on-read DELETE entries (equality
    *    `~d-*` or positional `~v-*`) while the other touched any
    *    PRE-FORK data: a deletion vector pins (file, row) coordinates
    *    of the layout it was computed on, and an equality delete's
    *    txn-sequencing assumes the data it masked still has its old
    *    dataTxns — a rewrite on the other side would silently
    *    resurrect deleted rows. Delete-vs-pure-append compositions are
    *    safe and allowed (the carried appends get txn-ordered replay
    *    semantics: a branch delete at txn d masks main rows committed
    *    before d, not after — Iceberg's sequence-number rule applied
    *    across the merge).
    *
    * Idempotent when main has not advanced (returns the current txn,
    * no commit). Conditional on the snapshot it merged (CAS + bounded
    * retries). The fork-point manifest must still exist — a vacuumed
    * base refuses (re-create the branch). Returns the committed txn. */
  def rebase(spark: SparkSession, root: String, table: String,
      branch: String): Long = {
    val shadow = shadowName(table, branch)
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      rebasePlan(spark, root, cur, table, branch) match {
        case None => cur.txn // already based
        case Some(plan) =>
          TxnCatalog.publish(spark, root,
            Seq((shadow, PropsPartition, propsDf(spark, plan.mergedProps))),
            statsColumns = Nil, expectedTxn = Some(cur.txn),
            reconcile = carried =>
              carried.filterNot(_._1._1 == shadow) ++ plan.newShadow)(
            () => ())
      }
    }
  }

  /** One table's rebase decision at a pinned snapshot — the three-way
    * merge core [[rebase]] and [[rebaseAll]] share. None = main has not
    * advanced (nothing to do); throws on conflicts. Nothing is written
    * here. */
  private final case class RebasePlan(
      newShadow: Map[(String, String), Entry],
      mergedProps: Map[String, String])

  private def rebasePlan(spark: SparkSession, root: String,
    cur: TxnCatalog.Snapshot, table: String,
    branch: String): Option[RebasePlan] = {
    val shadow = shadowName(table, branch)
    val shadowAll = cur.entries.filter(_._1._1 == shadow)
    require(shadowAll.nonEmpty, s"unknown branch '$branch' of '$table'")
    val shadowProps = cur.properties(shadow)
    require(shadowProps.get(BranchOfProp).contains(table),
    s"'$shadow' is not a branch of '$table'")
    val base = shadowProps.get(BranchBaseProp).flatMap(_.toLongOption)
    .getOrElse(throw new IllegalStateException(
      s"branch '$branch' carries no base txn"))
    val baseSnap =
    try TxnCatalog.snapshotAt(spark, root, base)
    catch { case _: IllegalArgumentException =>
      throw new IllegalStateException(
        s"branch '$branch' base txn $base has been vacuumed; " +
          "re-create the branch")
    }
    def dataOf(es: Map[(String, String), Entry], t: String) =
    es.collect { case ((`t`, p), e) if p != PropsPartition => p -> e }
    val baseMain = dataOf(baseSnap.entries, table)
    val curMain = dataOf(cur.entries, table)
    require(curMain.nonEmpty,
    s"table '$table' was dropped since branch '$branch' forked")
    val curShadow = dataOf(shadowAll, shadow)
    // an entry's CONTENT identity: resolved physical path + delete
    // marker (refs and the dirs they name compare equal)
    def sig(t: String, p: String, e: Entry) =
      (TxnCatalog.entryPath(root, t, p, e.dir), e.deleteKey)
    // partition → what this side now holds (None = dropped), only
    // where it differs from base
    def changesOf(now: Map[String, Entry], nowT: String)
        : Map[String, Option[Entry]] =
      (baseMain.keySet ++ now.keySet).iterator.flatMap { p =>
        (baseMain.get(p), now.get(p)) match {
          case (Some(b), Some(n))
            if sig(table, p, b) == sig(nowT, p, n) => None
          case (None, None) => None
          case (_, n) => Some(p -> n)
        }
      }.toMap
    val mainCh = changesOf(curMain, table)
    val branchCh = changesOf(curShadow, shadow)
    val markers = Set(TxnCatalog.RestoreTxnProp, BranchPublishedProp,
      BranchOfProp, BranchBaseProp)
    val baseProps = baseSnap.properties(table) -- markers
    val mainProps = cur.properties(table) -- markers
    val brProps = shadowProps -- markers
    def propDelta(now: Map[String, String]): Map[String, Option[String]] =
      (baseProps.keySet ++ now.keySet).iterator.flatMap { k =>
        if (baseProps.get(k) == now.get(k)) None else Some(k -> now.get(k))
      }.toMap
    val mainPd = propDelta(mainProps)
    val branchPd = propDelta(brProps)
    if (mainCh.isEmpty && mainPd.isEmpty) return None // already based
    val partConf = mainCh.keySet.intersect(branchCh.keySet).filter { p =>
    mainCh(p).map(e => sig(table, p, e)) !=
      branchCh(p).map(e => sig(shadow, p, e))
    }
    val propConf = mainPd.keySet.intersect(branchPd.keySet)
      .filter(k => mainPd(k) != branchPd(k))
    if (partConf.nonEmpty || propConf.nonEmpty)
      throw new IllegalStateException(
        s"rebase of branch '$branch' onto '$table' txn ${cur.txn} " +
          "conflicts: " +
          (partConf.toSeq.sorted.map(p => s"partition '$p'") ++
            propConf.toSeq.sorted.map(k => s"property '$k'"))
            .mkString(", ") +
          " changed on both sides since fork txn " + base)
    def addedDeletes(ch: Map[String, Option[Entry]]) =
      ch.values.exists(_.exists(_.deleteKey.isDefined))
    def touchedBase(ch: Map[String, Option[Entry]]) =
      ch.keysIterator.exists(baseMain.contains)
    if (addedDeletes(branchCh) && touchedBase(mainCh))
      throw new IllegalStateException(
        s"rebase of branch '$branch': the branch added merge-on-read " +
          s"deletes while '$table' rewrote pre-fork data — the " +
          "delete's coordinates/sequencing would silently miss the " +
          "rewritten rows. Publish with force, or re-apply the " +
          "delete on a fresh branch.")
    if (addedDeletes(mainCh) && touchedBase(branchCh))
      throw new IllegalStateException(
        s"rebase of branch '$branch': '$table' added merge-on-read " +
          "deletes while the branch rewrote pre-fork data — main's " +
          "delete would silently miss the branch's rewritten rows. " +
          "Re-create the branch from the current state.")
    val newShadow: Map[(String, String), Entry] =
      (baseMain.keySet ++ curMain.keySet ++ curShadow.keySet)
        .iterator.flatMap { p =>
          if (branchCh.contains(p))
            curShadow.get(p).map(e => (shadow, p) -> e)
          else if (mainCh.contains(p))
            curMain.get(p).map(e => (shadow, p) -> refEntry(table, p, e))
          else curShadow.get(p).map(e => (shadow, p) -> e)
        }.toMap
    val merged0 = mainPd.foldLeft(brProps) {
      case (acc, (k, Some(v))) => acc + (k -> v)
      case (acc, (k, None)) => acc - k
    } + (BranchOfProp -> table) + (BranchBaseProp -> cur.txn.toString)
    // RESTORE-marker propagation — the one marker the merge must NOT
    // silently swallow. Two rules:
    //  1. the shadow's OWN marker (a branch-side restore) survives the
    //     rebase verbatim — a lagging branch stream still needs to fail
    //     fast on it;
    //  2. when main was RESTORED (or rewrite-shape-published) since the
    //     fork AND the merge absorbs a pre-fork partition whose
    //     replacement carries a pre-fork data txn — i.e. reverted
    //     history enters the branch INVISIBLY to the incremental rules
    //     (an UPDATE-shaped rewrite has a fresh dataTxn and re-delivers;
    //     a compaction is content-identical and main carries no marker)
    //     — the shadow gets a fresh marker AT THE REBASE TXN, because
    //     that is when the branch's visible state reverts. Branch
    //     streams then fail fast exactly like main streams do across a
    //     restore ([[LakeStreamSource]]'s guard).
    val mainMarkerTxn = cur.properties(table).get(TxnCatalog.RestoreTxnProp)
      .flatMap(_.split(':').head.toLongOption)
    val absorbsRevert = mainMarkerTxn.exists(_ > base) &&
      mainCh.exists { case (p, e) =>
        baseMain.contains(p) &&
          e.exists(TxnCatalog.entryDataTxn(_) <= base)
      }
    val mergedProps =
      if (absorbsRevert)
        merged0 + (TxnCatalog.RestoreTxnProp ->
          s"${cur.txn + 1}:rebase:$branch")
      else shadowProps.get(TxnCatalog.RestoreTxnProp)
        .fold(merged0)(m => merged0 + (TxnCatalog.RestoreTxnProp -> m))
    Some(RebasePlan(newShadow, mergedProps))
  }

  /** Drop branch `branch` of `table` (a plain table drop — the branch's
    * own staged files become vacuum-reclaimable once unreferenced;
    * physical data shared with main is path-protected). Returns the
    * committed txn. */
  def drop(spark: SparkSession, root: String, table: String,
      branch: String): Long =
    TxnCatalog.dropTable(spark, root, shadowName(table, branch))

  // ---------------------------------------------------------------------
  // CATALOG BRANCHES: one branch name spanning EVERY table, with fork,
  // publish, and rebase each a SINGLE manifest commit — Nessie/lakeFS-
  // style whole-catalog versioning, which per-table branches (Delta,
  // Iceberg) cannot give: a training-data refresh that must land
  // documents + embeddings + lineage together stages all of them on one
  // branch, audits cross-table invariants THERE, and publishes
  // atomically — a reader can never observe table A's new state with
  // table B's old one, because one manifest rename commits every table
  // (the catalog's own multi-table txn guarantee, lifted to WAP).
  // Per-table machinery is reused verbatim: a catalog branch IS the set
  // of per-table branches sharing a name, so per-table publish/rebase/
  // audit still work on any member, and per-table conflict rules apply
  // table-wise during [[rebaseAll]].
  // ---------------------------------------------------------------------

  /** Tables eligible for a catalog branch at `cur`: real tables — not
    * branch shadows, not materialized views (an MV is DERIVED state;
    * its `graft.mv.source` points at the main table, so a forked copy
    * would refresh from the wrong side — [[publishAll]] refreshes it
    * atomically with the cutover instead). */
  private def branchable(cur: TxnCatalog.Snapshot): Seq[String] =
    cur.tables.filterNot(t => t.contains(BranchInfix) ||
      cur.properties(t).contains(MaterializedAgg.SourceProp))

  /** Tables participating in catalog branch `branch` (sorted). */
  def catalogTables(spark: SparkSession, root: String,
      branch: String): Seq[String] =
    TxnCatalog.tables(spark, root)
      .collect { case t if t.endsWith(BranchInfix + branch) =>
        t.stripSuffix(BranchInfix + branch) }
      .filterNot(_.contains(BranchInfix)) // branch-of-branch: not ours
      .sorted

  /** Fork EVERY eligible table (or the explicit `tables` list) into
    * branch `branch` in ONE conditional manifest commit — zero-copy,
    * all-or-nothing: no observer ever sees half a catalog forked.
    * Returns the committed txn. */
  def createAll(spark: SparkSession, root: String, branch: String,
      tables: Seq[String] = Nil): Long = {
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val tabs = if (tables.nonEmpty) tables.sorted else branchable(cur)
      require(tabs.nonEmpty, s"no branchable tables under $root")
      tabs.foreach { t =>
        require(cur.tables.contains(t), s"unknown table '$t'")
        val shadow = shadowName(t, branch)
        require(!cur.tables.contains(shadow),
          s"branch '$branch' of '$t' already exists")
      }
      val copied: Map[(String, String), Entry] = tabs.flatMap { t =>
        cur.entries.collect {
          case ((`t`, p), e) if p != PropsPartition =>
            (shadowName(t, branch), p) -> refEntry(t, p, e)
        }
      }.toMap
      val propUpdates = tabs.map { t =>
        val props = cur.properties(t) -
          TxnCatalog.RestoreTxnProp - BranchPublishedProp - CloneOfProp -
          BranchOfProp - BranchBaseProp +
          (BranchOfProp -> t) + (BranchBaseProp -> cur.txn.toString)
        (shadowName(t, branch), PropsPartition, propsDf(spark, props))
      }
      TxnCatalog.publish(spark, root, propUpdates,
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried => carried ++ copied)(() => ())
    }
  }

  /** Publish EVERY table of catalog branch `branch` in ONE conditional
    * manifest commit: each member table passes its own fast-forward
    * check ([[publish]]'s rule — any table that advanced refuses the
    * WHOLE publish unless `force`), and all main tables move together —
    * the atomic cross-table cutover per-table WAP cannot express.
    *
    * MATERIALIZED VIEWS whose `graft.mv.source` is a published table
    * refresh IN THE SAME COMMIT: the new view rows are recomputed from
    * the branch's (post-publish) source state and land atomically with
    * the cutover, watermark covering this txn — a dashboard read
    * straight after publish can never serve pre-publish aggregates
    * (the staleness window a separate refresh-after-publish would
    * leave). Append-shaped publishes of current views fold only the
    * branch delta; everything else recomputes from the full source —
    * see `mvRefreshUpdates`. Returns the committed txn. */
  def publishAll(spark: SparkSession, root: String, branch: String,
      force: Boolean = false): Long = {
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val tabs = catalogTables(spark, root, branch)
      require(tabs.nonEmpty, s"unknown catalog branch '$branch'")
      val plans = tabs.map(t =>
        t -> publishPlan(spark, root, cur, t, branch, force))
      // MVs reading a published source: recompute from the branch side
      // (exactly the post-publish main state) and ride the same txn
      val updates = plans.flatMap { case (t, plan) =>
        Seq((t, PropsPartition, propsDf(spark, plan.mainProps)),
          (shadowName(t, branch), PropsPartition,
            propsDf(spark, plan.rebasedProps)))
      } ++ mvRefreshUpdates(spark, root, cur, plans, branch)
      val touched = tabs.toSet
      val newMains = plans.flatMap(_._2.newMain).toMap
      TxnCatalog.publish(spark, root, updates,
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried =>
          carried.filterNot { case ((t, _), _) => touched(t) } ++
            newMains)(() => ())
    }
  }

  /** Rebase EVERY table of catalog branch `branch` onto main's current
    * state in ONE conditional manifest commit — per-table three-way
    * merges ([[rebase]]'s rules), all-or-nothing: one table's conflict
    * refuses the whole rebase, so the branch never holds a half-rebased
    * catalog. Already-based tables pass through untouched. Returns the
    * committed txn (the current one when nothing advanced). */
  def rebaseAll(spark: SparkSession, root: String,
      branch: String): Long = {
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val tabs = catalogTables(spark, root, branch)
      require(tabs.nonEmpty, s"unknown catalog branch '$branch'")
      val plans = tabs.flatMap { t =>
        rebasePlan(spark, root, cur, t, branch).map(p =>
          shadowName(t, branch) -> p)
      }
      if (plans.isEmpty) cur.txn // every member already based
      else {
        val updates = plans.map { case (shadow, plan) =>
          (shadow, PropsPartition, propsDf(spark, plan.mergedProps))
        }
        val touched = plans.map(_._1).toSet
        val newShadows = plans.flatMap(_._2.newShadow).toMap
        TxnCatalog.publish(spark, root, updates,
          statsColumns = Nil, expectedTxn = Some(cur.txn),
          reconcile = carried =>
            carried.filterNot { case ((t, _), _) => touched(t) } ++
              newShadows)(() => ())
      }
    }
  }

  /** Drop EVERY table of catalog branch `branch` in ONE commit (shared
    * physical data stays path-protected, exactly like [[drop]]).
    * Returns the committed txn. */
  def dropAll(spark: SparkSession, root: String,
      branch: String): Long = {
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val tabs = catalogTables(spark, root, branch)
      require(tabs.nonEmpty, s"unknown catalog branch '$branch'")
      val shadows = tabs.map(shadowName(_, branch)).toSet
      TxnCatalog.publish(spark, root, Nil,
        statsColumns = Nil, expectedTxn = Some(cur.txn),
        reconcile = carried =>
          carried.filterNot { case ((t, _), _) => shadows(t) })(() => ())
    }
  }
}
