package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}

/** Incrementally-maintained MATERIALIZED AGGREGATE views over a
  * [[TxnCatalog]] lake — the 100 TB answer to "don't recompute the
  * rollup, fold the delta in" (Databricks/BigQuery materialized views,
  * re-expressed on this catalog's txn axis):
  *
  *  - [[create]] computes `GROUP BY groupCols` with additive aggregates
  *    (count / sum / min / max / hll — a Datasketches sketch giving
  *    incrementally-maintained APPROX COUNT DISTINCT) over the source
  *    table and commits the
  *    result AND its source-txn watermark in ONE txn — data and
  *    how-current-is-it are never observable out of sync.
  *  - [[refresh]] pins one snapshot, classifies what happened to the
  *    source since the watermark, and either folds ONLY the new
  *    partitions into the stored aggregate (additive merge — cost
  *    proportional to the DELTA, not the table) or falls back to a
  *    full recompute when the window contains anything non-additive.
  *    Either way the new view and watermark commit atomically,
  *    conditional on the pinned txn (concurrent refreshes race safely).
  *
  * Incremental classification, derived entirely from manifests:
  *  - ordinary commits newer than the watermark → the delta;
  *  - reorganizations carrying only seen data (`dataTxn <= wm`:
  *    compaction, clustering of old batches, ANALYZE) → ignored, with
  *    removed-entry row counts cross-checked against the reorg outputs
  *    so silent data loss can never masquerade as a reorg;
  *  - anything else — equality deletes or a RESTORE in the window, a
  *    rewritten partition, a reorg folding seen AND unseen batches,
  *    missing row counts — → full recompute (correct, just not
  *    incremental). Deliberately conservative: a wrong aggregate is
  *    worse than a slow refresh.
  *
  * min/max are additive only under growth (appends); they stay correct
  * because every non-append history falls back to the full path.
  * Averages are sum/count at read time, by design.
  */
object MaterializedAgg {

  /** One aggregate column: `op` in count|sum|min|max|hll. `count` with
    * no `col` is `count(*)` (view column `cnt`); with a `col` it is the
    * NON-NULL count `count(col)` (view column `cnt_<col>` — additive
    * like `cnt`, and together with `sum_<col>` it lets [[graft.plans
    * .MvRewrite]] answer `avg(col)` and `count(col)` from the view).
    * `hll` stores a Datasketches HLL SKETCH of the column
    * (`hll_<col>`, binary) — the one way COUNT DISTINCT joins the
    * additive-view world: sketches union by per-register max, which is
    * associative and commutative, so an incremental fold produces the
    * SAME estimate as a full recompute regardless of merge order; read
    * it back with `hll_sketch_estimate`. Deletes are not subtractable
    * from a sketch, so any masking delete takes the full path (the
    * provably-no-op delete relaxation still applies). Other ops store
    * `<op>_<col>`. */
  final case class AggSpec(op: String, col: String = "") {
    require(Set("count", "sum", "min", "max", "hll")(op),
      s"unknown agg op '$op'")
    require(op != "hll" || col.nonEmpty, "hll needs a column")
    def alias: String =
      if (op == "count") { if (col.isEmpty) "cnt" else s"cnt_$col" }
      else s"${op}_$col"
  }

  /** View-table properties: the defining query's pieces plus the
    * source-txn watermark the stored rows are complete AS OF. */
  val SourceProp = "graft.mv.source"
  val GroupProp = "graft.mv.group"
  val AggsProp = "graft.mv.aggs"
  val WatermarkProp = "graft.mv.watermark"
  /** JOIN views ([[createJoined]]): the dimension table and the
    * equi-join condition (`factCol=dimCol`, comma-separated). A view
    * carrying [[DimProp]] stores `SELECT groupCols, aggs FROM source
    * JOIN dim ON joinOn GROUP BY groupCols` — group/agg columns may
    * come from EITHER side. */
  val DimProp = "graft.mv.dim"
  val JoinOnProp = "graft.mv.join-on"

  /** What a [[refresh]] did: `mode` is `noop` | `incremental` | `full`;
    * `partitionsRead` counts the SOURCE partitions scanned (the delta
    * for incremental — the point of the exercise). */
  final case class Refresh(txn: Long, mode: String, partitionsRead: Int)

  /** Create view `view` = `SELECT groupCols, aggs FROM source GROUP BY
    * groupCols`, materialized in the same catalog with its watermark.
    * Throws if `view` already exists. Returns the committed txn. */
  def create(spark: SparkSession, root: String, view: String,
      source: String, groupCols: Seq[String], aggs: Seq[AggSpec]): Long = {
    require(groupCols.nonEmpty, "materialized view needs group columns")
    require(aggs.nonEmpty, "materialized view needs aggregates")
    TxnCatalog.retryOnConflict { _ =>
      val snap = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      require(!snap.tables.contains(view),
        s"table '$view' already exists; drop it first")
      val src = snap.read(source).getOrElse(
        throw new IllegalArgumentException(s"unknown table '$source'"))
      (groupCols ++ aggs.map(_.col).filter(_.nonEmpty)).foreach { c =>
        require(src.columns.contains(c), s"'$source' has no column '$c'")
      }
      val full = aggregate(src, groupCols, aggs)
      val props = Map(
        SourceProp -> source,
        GroupProp -> groupCols.mkString(","),
        AggsProp -> aggs.map(a => s"${a.op}:${a.col}").mkString(","),
        // the conditional commit lands at exactly snap.txn + 1, and
        // nothing else can land in between: the watermark covers the
        // view's own commit, so the next refresh starts at a clean noop
        WatermarkProp -> (snap.txn + 1).toString)
      TxnCatalog.commitWholeWithProperties(spark, root, view,
        full, props, expectedTxn = Some(snap.txn))
    }
  }

  /** Create JOIN view `view` = `SELECT groupCols, aggs FROM fact JOIN
    * dim ON joinOn GROUP BY groupCols` (inner equi-join), materialized
    * with its watermark — the rollup shape lakehouse MVs usually
    * can't maintain incrementally (fact ⨝ dimension, grouped by a
    * DIMENSION attribute). [[refresh]] stays delta-proportional on the
    * fact side: while the dim is BIT-IDENTICAL since the watermark
    * (same entries, same pending deletes, same properties — checked
    * against the pinned manifests, no data read), appended fact
    * partitions fold in as `aggregate(deltaFact ⨝ dim)`; a dim that
    * only GREW (appends, accounted reorgs) stays incremental too via
    * [[dimAppendPlan]]; any other dim change falls back to the full
    * recompute. Sound because with the
    * dim frozen, new fact rows produce only NEW join rows — count/sum
    * add, min/max grow. Group and aggregate columns may come from
    * either side; the two tables' column sets must be disjoint (no
    * alias plane in the stored definition). The dim should be the
    * small side — every incremental fold re-reads it. Transparent
    * query rewrite ([[graft.plans.MvRewrite]]) deliberately never
    * serves join views: [[currentViews]] excludes them, because their
    * stored rows aggregate the JOIN, not the source table. Throws if
    * `view` exists. Returns the committed txn. */
  def createJoined(spark: SparkSession, root: String, view: String,
      fact: String, dim: String, joinOn: Seq[(String, String)],
      groupCols: Seq[String], aggs: Seq[AggSpec]): Long =
    createChain(spark, root, view, fact, Seq((dim, joinOn)), groupCols,
      aggs)

  /** [[createJoined]] generalized to a SNOWFLAKE CHAIN of dimensions:
    * `view` = `fact ⨝ d1 ⨝ d2 ⨝ … GROUP BY groupCols`, each dim's
    * join-left columns resolving against everything joined SO FAR —
    * star links join on fact columns, snowflake links on an earlier
    * dim's attribute (orders ⨝ customer ON o_custkey=c_custkey
    * ⨝ nation ON c_nationkey=n_nationkey, grouped by n_name). The
    * whole chain shares one freeze/growth discipline per dim
    * ([[refresh]]): all dims bit-identical → fact-delta fold; exactly
    * one dim GROWN and the rest frozen → [[dimAppendPlan]]; anything
    * else → full recompute. Rendered as `DimProp = "d1,d2"` and
    * `JoinOnProp` segments separated by ';' — the single-dim rendering
    * is unchanged, so existing views parse identically. The
    * transparent rewrite serves chain views too: an aggregate over the
    * matching join TREE answers from the stored rows
    * ([[graft.plans.MvRewrite]] `rewriteChain` /
    * [[currentChainViews]]). */
  def createChain(spark: SparkSession, root: String, view: String,
      fact: String, dims: Seq[(String, Seq[(String, String)])],
      groupCols: Seq[String], aggs: Seq[AggSpec]): Long = {
    require(groupCols.nonEmpty, "materialized view needs group columns")
    require(aggs.nonEmpty, "materialized view needs aggregates")
    require(dims.nonEmpty, "join view needs at least one dimension")
    require(dims.forall(_._2.nonEmpty),
      "every dimension needs at least one key pair")
    val names = dims.map(_._1)
    require(names.distinct.sizeIs == names.size,
      "each dimension may appear once in the chain")
    require(!names.contains(fact),
      "fact and dims must differ (self-joins need an alias plane)")
    require(!names.exists(_.contains(',')) && !dims.exists(_._2.exists {
        case (a, b) => Seq(a, b).exists(c =>
          c.contains(',') || c.contains(';') || c.contains('=')) }),
      "table and key names must not contain ',', ';' or '='")
    TxnCatalog.retryOnConflict { _ =>
      val snap = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      require(!snap.tables.contains(view),
        s"table '$view' already exists; drop it first")
      val f = snap.read(fact).getOrElse(
        throw new IllegalArgumentException(s"unknown table '$fact'"))
      // validate the chain left to right: each dim's key columns are
      // internal to its join (dropped from the output — reference the
      // key via the LEFT side's column); everything else must be
      // disjoint from all columns accumulated so far, so the stored
      // definition needs no alias plane
      var acc = f.columns.toSet
      dims.foreach { case (dim, joinOn) =>
        val d = snap.read(dim).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$dim'"))
        val pkNames = joinOn.map(_._2).toSet
        require(pkNames.sizeIs == joinOn.size,
          s"join_on repeats a key column of '$dim'")
        val overlap = acc.intersect(d.columns.toSet.diff(pkNames))
        require(overlap.isEmpty,
          s"'$dim' shares column names with the chain so far " +
            s"(${overlap.mkString(", ")}); join views need disjoint " +
            "schemas (join keys excepted)")
        joinOn.foreach { case (lk, pk) =>
          require(acc.contains(lk),
            s"the chain before '$dim' has no column '$lk'")
          require(d.columns.contains(pk), s"'$dim' has no column '$pk'")
        }
        acc ++= d.columns.toSet.diff(pkNames)
      }
      (groupCols ++ aggs.map(_.col).filter(_.nonEmpty)).foreach { c =>
        require(acc.contains(c),
          s"the join chain has no column '$c' (dim key columns drop " +
            "from the join — use the left side's)")
      }
      def readDim(dm: String): DataFrame = snap.read(dm).get
      val full = aggregate(joinedAll(f, dims, readDim), groupCols, aggs)
      val props = Map(
        SourceProp -> fact,
        DimProp -> names.mkString(","),
        JoinOnProp -> dims.map(_._2.map { case (a, b) => s"$a=$b" }
          .mkString(",")).mkString(";"),
        GroupProp -> groupCols.mkString(","),
        AggsProp -> aggs.map(a => s"${a.op}:${a.col}").mkString(","),
        WatermarkProp -> (snap.txn + 1).toString)
      TxnCatalog.commitWholeWithProperties(spark, root, view,
        full, props, expectedTxn = Some(snap.txn))
    }
  }

  private[storage] def parseJoinOn(s: String): Seq[(String, String)] =
    s.split(',').toSeq.map { x =>
      val Array(a, b) = x.split("=", 2); (a, b)
    }

  /** Parse a view's (DimProp, JoinOnProp) back to the ordered dim
    * chain — empty for plain views, one entry for legacy single-dim
    * views (whose rendering carries no ';'). */
  private[storage] def parseDimChain(props: Map[String, String])
      : Seq[(String, Seq[(String, String)])] = {
    val dims = props.get(DimProp).toSeq.flatMap(_.split(',').toSeq)
    val ons = props.get(JoinOnProp).toSeq
      .flatMap(_.split(';').toSeq).map(parseJoinOn)
    require(dims.sizeIs == ons.size,
      s"malformed join view definition: ${dims.size} dims, " +
        s"${ons.size} join_on segments")
    dims.zip(ons)
  }

  /** Chain [[joined]] across the dims, left to right. */
  private[storage] def joinedAll(fact: DataFrame,
      dims: Seq[(String, Seq[(String, String)])],
      readDim: String => DataFrame): DataFrame =
    dims.foldLeft(fact) { case (a, (dm, on)) => joined(a, readDim(dm), on) }

  /** Inner equi-join of fact and dim on `on` (factCol, dimCol) pairs.
    * The dim's key columns are renamed to reserved names for the join
    * condition and DROPPED from the output — same-named keys (k = k)
    * stay unambiguous, and the key is always referenced through the
    * fact's column. */
  private[storage] def joined(fact: DataFrame, dim: DataFrame,
      on: Seq[(String, String)]): DataFrame = {
    val dimR = on.zipWithIndex.foldLeft(dim) {
      case (d, ((_, pk), i)) => d.withColumnRenamed(pk, s"__mvjk_$i")
    }
    val cond = on.zipWithIndex.map { case ((fk, _), i) =>
      fact(fk) === dimR(s"__mvjk_$i") }.reduce(_ && _)
    fact.join(dimR, cond, "inner")
      .drop(on.indices.map(i => s"__mvjk_$i"): _*)
  }

  /** Is `dim` BIT-IDENTICAL between txn `wm` and `snap` — same data
    * entries (resolved dirs), same pending deletes, same properties?
    * Manifest-only (no data read); false when the watermark manifest
    * is vacuumed (callers fall back to a full recompute). The freeze
    * test behind [[createJoined]]'s incremental claim. */
  private[storage] def dimUnchanged(spark: SparkSession, root: String,
      dim: String, wm: Long, snap: TxnCatalog.Snapshot): Boolean =
    scala.util.Try {
      val from = TxnCatalog.snapshotAt(spark, root, wm)
      def sig(s: TxnCatalog.Snapshot) =
        (s.dataEntries(dim).map { case (p, e) => (p, e.dir) }.toSet,
          s.deleteEntries(dim).map { case (p, _, _, dir) => (p, dir) }.toSet,
          s.properties(dim))
      sig(from) == sig(snap)
    }.getOrElse(false)

  /** Bring `view` up to the current txn. See the classification rules
    * above; returns what ran and how much source it read. */
  def refresh(spark: SparkSession, root: String, view: String): Refresh =
    TxnCatalog.retryOnConflict { _ =>
      val snap = TxnCatalog.snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val props = snap.properties(view)
      val source = props.getOrElse(SourceProp,
        throw new IllegalArgumentException(
          s"'$view' is not a materialized view (no ${SourceProp})"))
      val groupCols = props(GroupProp).split(',').toSeq
      val aggs = parseAggs(props(AggsProp))
      val wm = props(WatermarkProp).toLong
      if (wm == snap.txn) Refresh(snap.txn, "noop", 0)
      else {
        // join views ([[createJoined]]/[[createChain]]): the incremental
        // claim needs every dim FROZEN since the watermark, and every
        // aggregation input joins the chain before aggregating
        val chain = parseDimChain(props)
        def readDim(dm: String): DataFrame = snap.read(dm).getOrElse(
          throw new IllegalStateException(s"dim '$dm' of '$view' is gone"))
        def withDim(df: DataFrame): DataFrame = joinedAll(df, chain, readDim)
        val frozen: Map[String, Boolean] = chain.map { case (dm, _) =>
          dm -> dimUnchanged(spark, root, dm, wm, snap) }.toMap
        val dimOk = frozen.values.forall(identity)
        val delta =
          if (dimOk) incrementalDelta(spark, root, source, wm, snap)
          else None
        // a CHANGED dim is not automatically a full recompute: a window
        // where exactly ONE dim grew (appends / accounted reorgs) while
        // the rest stayed frozen is incremental via [[dimAppendPlan]]
        def dimAppend: Option[(DataFrame, Int)] =
          if (chain.nonEmpty && frozen.count(!_._2) == 1)
            dimAppendPlan(spark, root, source, chain,
              chain.indexWhere { case (dm, _) => !frozen(dm) }, view, wm,
              snap, groupCols, aggs)
          else None
        // every branch commits conditionally on snap.txn, so the commit
        // lands at exactly snap.txn + 1 and the recorded watermark
        // covers it — the next refresh is a clean noop
        val nextWm = Map(WatermarkProp -> (snap.txn + 1).toString)
        def commit(rows: DataFrame): Long =
          TxnCatalog.commitWholeWithProperties(spark, root, view, rows,
            nextWm, expectedTxn = Some(snap.txn))
        delta match {
          case Some(parts) if parts.isEmpty =>
            // window held only reorgs/metadata: the stored rows are
            // already current — re-commit them with the moved watermark
            // (aggregates are small; correctness needs the conditional)
            Refresh(commit(snap.read(view).get), "incremental", 0)
          case Some(parts) =>
            val deltaDf =
              snap.readPartitions(source, parts.toSeq.sorted).get
            val merged = merge(snap.read(view).get,
              aggregate(withDim(deltaDf), groupCols, aggs),
              groupCols, aggs)
            Refresh(commit(merged), "incremental", parts.size)
          case None =>
            dimAppend.orElse(
              subtractivePlan(spark, root, source, view, wm, snap,
                dimOk, withDim, groupCols, aggs)) match {
              case Some((merged, touched)) =>
                Refresh(commit(merged), "incremental", touched)
              case None =>
                val srcDf = snap.read(source).getOrElse(
                  throw new IllegalStateException(
                    s"source '$source' of '$view' is gone"))
                val full = aggregate(withDim(srcDf), groupCols, aggs)
                Refresh(commit(full), "full", snap.dataEntries(source).size)
            }
        }
      }
    }

  /** The views of `source` whose stored rows are EXACTLY the aggregate
    * of `snap`'s source state — the candidates a transparent query
    * rewrite ([[graft.plans.MvRewrite]]) may substitute for the
    * aggregation. Current means: every source data entry was created at
    * or before the view's watermark (reorgs after it disable the claim
    * conservatively), no equality delete and no RESTORE landed after
    * it. Derived from the pinned snapshot alone — no extra manifest IO
    * — and cached per (root, txn, source): a committed txn is
    * immutable. */
  private[graft] def currentViews(spark: SparkSession, root: String,
      snap: TxnCatalog.Snapshot, source: String)
      : Seq[(String, Seq[String], Seq[AggSpec])] = {
    val key = (root, snap.txn, source)
    Option(viewCache.get(key)).getOrElse {
      val found = snap.tables.filter(_ != source).flatMap { t =>
        val props = snap.properties(t)
        // join views never serve the BARE-source rewrite: their stored
        // rows aggregate the JOIN, not the source table
        // ([[currentJoinViews]] is their rewrite surface)
        if (!props.get(SourceProp).contains(source) ||
          props.contains(DimProp)) None
        else props.get(WatermarkProp).map(_.toLong)
          .filter(sourceCurrentAt(snap, source, _))
          .map { _ =>
            (t, props(GroupProp).split(',').toSeq,
              parseAggs(props(AggsProp)))
          }
      }
      if (viewCache.size > 4096) viewCache.clear() // bounded
      viewCache.put(key, found)
      found
    }
  }

  /** The stored-rows-are-exact claim's SOURCE-side test: every data
    * entry created at or before `wm` (reorgs after it disable the
    * claim conservatively — their dir txns don't parse ≤ wm), no
    * delete and no RESTORE after it. */
  private[storage] def sourceCurrentAt(snap: TxnCatalog.Snapshot,
      source: String, wm: Long): Boolean =
    snap.dataEntries(source).forall { case (_, e) =>
      e.dir.stripPrefix("v=").takeWhile(_ != '.').toLongOption
        .exists(_ <= wm)
    } &&
      !snap.deleteEntries(source)
        .exists { case (_, txn, _, _) => txn > wm } &&
      !snap.properties(source).get(TxnCatalog.RestoreTxnProp)
        .map(_.split(':').head.toLong)
        .exists(r => r > wm && r <= snap.txn)

  private val viewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String), Seq[(String, Seq[String], Seq[AggSpec])]]()

  /** The JOIN views of (`fact` ⨝ `dim`) whose stored rows are EXACTLY
    * the join aggregate of `snap`'s state — the candidates for the
    * transparent JOIN rewrite ([[graft.plans.MvRewrite]]): the fact
    * side passes [[sourceCurrentAt]], the dim side is bit-identical
    * since the watermark ([[dimUnchanged]] — one cached manifest read).
    * Returns (view, joinOn, groupCols, aggs); cached per
    * (root, txn, fact, dim). */
  private[graft] def currentJoinViews(spark: SparkSession, root: String,
      snap: TxnCatalog.Snapshot, fact: String, dim: String)
      : Seq[(String, Seq[(String, String)], Seq[String], Seq[AggSpec])] = {
    val key = (root, snap.txn, fact + "\t" + dim)
    Option(joinViewCache.get(key)).getOrElse {
      val found = snap.tables.filter(t => t != fact && t != dim)
        .flatMap { t =>
          val props = snap.properties(t)
          if (!props.get(SourceProp).contains(fact) ||
            !props.get(DimProp).contains(dim)) None
          else props.get(WatermarkProp).map(_.toLong).filter { wm =>
            sourceCurrentAt(snap, fact, wm) &&
              dimUnchanged(spark, root, dim, wm, snap)
          }.map { _ =>
            (t, parseJoinOn(props(JoinOnProp)),
              props(GroupProp).split(',').toSeq,
              parseAggs(props(AggsProp)))
          }
        }
      if (joinViewCache.size > 4096) joinViewCache.clear() // bounded
      joinViewCache.put(key, found)
      found
    }
  }

  private val joinViewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    Seq[(String, Seq[(String, String)], Seq[String], Seq[AggSpec])]]()

  /** The CHAIN views ([[createChain]]) whose `{source} ∪ dims` equals
    * `tables` and whose stored rows are EXACTLY the chain aggregate of
    * `snap`'s state — fact current per [[sourceCurrentAt]], every dim
    * bit-identical since the watermark. Returns (view, flattened
    * joinOn pairs, groupCols, aggs); the pairs flatten across segments
    * because the chain's create-time disjointness makes every column
    * name unique, so an unordered name-pair match identifies the join
    * shape. Cached per (root, txn, tables). */
  private[graft] def currentChainViews(spark: SparkSession, root: String,
      snap: TxnCatalog.Snapshot, tables: Set[String])
      : Seq[(String, Seq[(String, String)], Seq[String], Seq[AggSpec])] = {
    val key = (root, snap.txn, tables.toSeq.sorted.mkString("\t"))
    Option(chainViewCache.get(key)).getOrElse {
      val found = snap.tables.filterNot(tables.contains).flatMap { t =>
        val props = snap.properties(t)
        (props.get(SourceProp), props.get(DimProp)) match {
          case (Some(src), Some(_)) =>
            val chain = parseDimChain(props)
            if ((chain.map(_._1).toSet + src) != tables) None
            else props.get(WatermarkProp).map(_.toLong).filter { wm =>
              sourceCurrentAt(snap, src, wm) && chain.forall {
                case (dm, _) => dimUnchanged(spark, root, dm, wm, snap) }
            }.map { _ =>
              (t, chain.flatMap(_._2),
                props(GroupProp).split(',').toSeq,
                parseAggs(props(AggsProp)))
            }
          case _ => None
        }
      }
      if (chainViewCache.size > 4096) chainViewCache.clear() // bounded
      chainViewCache.put(key, found)
      found
    }
  }

  private val chainViewCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    Seq[(String, Seq[(String, String)], Seq[String], Seq[AggSpec])]]()

  /** The partitions whose rows are NEW since `wm` — or None when the
    * window is not additively refreshable (see classification above).
    * Shared with the branch-publish MV refresh ([[Branches]]), which
    * classifies the main-side window the same way before folding the
    * branch delta. */
  private[storage] def incrementalDelta(spark: SparkSession, root: String,
      source: String, wm: Long,
      snap: TxnCatalog.Snapshot): Option[Set[String]] = {
    // deletes in the window subtract rows: not ADDITIVE (refresh's
    // subtractive path handles the count/sum-only case separately)
    if (snap.deleteEntries(source).exists { case (_, txn, _, _) => txn > wm })
      return None
    dirDelta(spark, root, source, wm, snap)
  }

  /** The dir-diff core of the window classification — rename/reorg
    * accounting WITHOUT considering deletes (the additive caller
    * refuses any window delete itself; the subtractive caller handles
    * them). */
  private def dirDelta(spark: SparkSession, root: String,
      source: String, wm: Long,
      snap: TxnCatalog.Snapshot): Option[Set[String]] = {
    if (snap.properties(source).get(TxnCatalog.RestoreTxnProp)
        .map(_.split(':').head.toLong).exists(r => r > wm && r <= snap.txn))
      return None
    val from = TxnCatalog.snapshotAt(spark, root, wm)
    val fromData = from.dataEntries(source).toMap
    val toData = snap.dataEntries(source).toMap
    var delta = Set.empty[String]
    var reorgAddedRows = 0L
    for ((p, e) <- toData if !fromData.get(p).map(_.dir).contains(e.dir)) {
      (e.dataTxn, TxnCatalog.entryDataTxn(e)) match {
        case (Some(dt), _) if dt <= wm =>
          // reorg output of seen data: content already in the view
          e.rows match {
            case Some(r) => reorgAddedRows += r
            case None => return None // can't account: be conservative
          }
        case (Some(_), _) =>
          // a reorg folding unseen (or mixed) data, or a rewrite:
          // its rows overlap the view in an unknowable way
          return None
        case (None, dirTxn) if dirTxn > wm =>
          // a REWRITE reuses its partition name: its new dir holds old
          // rows too, so adding it would double-count — only a
          // partition that did not exist at the watermark is a delta
          if (fromData.contains(p)) return None
          delta += p
        case _ =>
          // an ordinary entry claiming to predate the watermark under a
          // NEW dir: unexpected — recompute rather than guess
          return None
      }
    }
    // removed entries must be fully accounted by reorg outputs, or rows
    // were dropped some other way (deleteWhere emptying a partition,
    // DROP-like maintenance) and addition is wrong
    var removedRows = 0L
    for ((p, e) <- fromData if !toData.get(p).map(_.dir).contains(e.dir)) {
      if (!toData.contains(p)) e.rows match {
        case Some(r) => removedRows += r
        case None => return None
      }
    }
    if (removedRows != reorgAddedRows) return None
    Some(delta)
  }

  /** Dim-APPEND incremental plan for JOIN views ([[createJoined]] /
    * [[createChain]]): a window where exactly ONE dim of the chain
    * changed by PURE GROWTH — appends and/or fully-accounted reorgs of
    * seen data, so an OPTIMIZE'd dim no longer forces a full
    * recompute — while the other dims stayed bit-identical and the
    * fact side classifies additively refreshes as
    *
    *   stored + agg(Δfact ⨝ chain_now) + agg(fact_wm ⨝ chain[Δdim])
    *
    * where chain[Δdim] is the chain with the grown dim's frame
    * replaced by just its delta (frozen dims read identically at the
    * watermark and now). Sound because an inner join distributes over
    * disjoint unions in any single input: with f = f_wm ⊎ Δf and
    * d = d_wm ⊎ Δd (the rest constant),
    * f ⨝ … = (f_wm ⨝ chain_wm) ⊎ (Δf ⨝ chain_now) ⊎ (f_wm ⨝ chain[Δd]),
    * and the first term is the stored view (count/sum add, min/max
    * grow — growth only, nothing is retracted). Admission, each gate
    * conservative: the grown dim's delete entries and properties are
    * bit-identical since the watermark, its dir-diff classifies
    * ([[dirDelta]]), the fact window classifies additively
    * ([[incrementalDelta]] — no fact deletes in the window), and no
    * fact delete entry VANISHED (an unmasking would grow the fact_wm
    * re-read beyond what the view stored).
    *
    * The fact_wm side is pruned by FK BOUNDS at manifest cost: Δdim's
    * join-key ranges, folded from the delta entries' RECORDED stats
    * (no data read — an entry without stats on the key just disables
    * pruning for that key), against each old fact entry's stats on its
    * join column. Star links (the grown dim joins on fact columns)
    * prune this way; snowflake links (it joins on an earlier dim's
    * attribute) find no fact stats for the left column and simply
    * never prune — conservative, not wrong. A dim append of a handful
    * of keys re-reads only the fact partitions whose key range can
    * join them — at 100 TB, the difference between touching a few
    * clustered fact partitions and re-joining the whole fact table
    * against the new dim rows.
    *
    * Returns (merged view rows, partitions read), or None → full. */
  private def dimAppendPlan(spark: SparkSession, root: String,
      fact: String, chain: Seq[(String, Seq[(String, String)])],
      grownIdx: Int, view: String, wm: Long, snap: TxnCatalog.Snapshot,
      groupCols: Seq[String], aggs: Seq[AggSpec])
      : Option[(DataFrame, Int)] = {
    val (dim, joinOn) = chain(grownIdx)
    // a vacuumed watermark manifest → full, like [[dimUnchanged]]
    val fromSnap = scala.util.Try(TxnCatalog.snapshotAt(spark, root, wm))
      .getOrElse(return None)
    if (snap.properties(dim) != fromSnap.properties(dim)) return None
    if (snap.deleteEntries(dim).toSet != fromSnap.deleteEntries(dim).toSet)
      return None
    val dimParts = dirDelta(spark, root, dim, wm, snap)
      .getOrElse(return None)
    val factParts = incrementalDelta(spark, root, fact, wm, snap)
      .getOrElse(return None)
    val curFactDels = snap.deleteEntries(fact)
      .map { case (p, _, _, _) => p }.toSet
    if (!fromSnap.deleteEntries(fact)
        .forall { case (p, _, _, _) => curFactDels.contains(p) })
      return None
    val stored = snap.read(view).getOrElse(return None)
    if (dimParts.isEmpty && factParts.isEmpty)
      return Some((stored, 0)) // reorg-only window on both sides
    // frozen dims are guaranteed present (a dropped dim cannot pass
    // [[dimUnchanged]]); the grown dim passed the props compare above
    def readDim(dm: String): DataFrame = snap.read(dm).getOrElse(
      throw new IllegalStateException(s"dim '$dm' of '$view' is gone"))
    val factSide = (
      if (factParts.isEmpty) None
      else snap.readPartitions(fact, factParts.toSeq.sorted)
    ).map(f => aggregate(joinedAll(f, chain, readDim), groupCols, aggs))
    // Δdim's join-key bounds, manifest-only: usable when EVERY delta
    // entry recorded stats for the key
    val deltaStats: Map[String, TxnCatalog.ColStat] =
      joinOn.map(_._2).flatMap { pk =>
        val sts = dimParts.toSeq.flatMap(p => snap.stats(dim, p).get(pk))
        if (sts.sizeIs == dimParts.size)
          TxnCatalog.foldColStats(sts).map(pk -> _)
        else None
      }.toMap
    val oldKept = snap.dataEntries(fact)
      .filter { case (p, _) => !factParts.contains(p) }
      .filter { case (_, e) =>
        !joinOn.exists { case (fk, pk) =>
          (deltaStats.get(pk), e.stats.get(fk)) match {
            case (Some(b), Some(st)) => statsDisjoint(st, b)
            case _ => false
          }
        }
      }
    val dimSide = for {
      dd <- if (dimParts.isEmpty) None
            else snap.readPartitions(dim, dimParts.toSeq.sorted)
      of <- if (oldKept.isEmpty) None
            else snap.readPartitions(fact, oldKept.map(_._1).sorted)
    } yield aggregate(
      joinedAll(of, chain, dm => if (dm == dim) dd else readDim(dm)),
      groupCols, aggs)
    val merged = (Seq(stored) ++ factSide ++ dimSide)
      .reduce((a, b) => merge(a, b, groupCols, aggs))
    Some((merged, factParts.size + dimParts.size +
      (if (dimParts.isEmpty) 0 else oldKept.size)))
  }

  /** Are two same-kind [min, max] ranges provably disjoint? Kind
    * mismatches and unparseable bounds never prune (false — a spurious
    * read, never a miss), mirroring [[TxnCatalog.deleteMaskCandidates]]. */
  private def statsDisjoint(a: TxnCatalog.ColStat,
      b: TxnCatalog.ColStat): Boolean =
    if (a.kind != b.kind) false
    else a.kind match {
      case "n" =>
        try BigDecimal(a.max) < BigDecimal(b.min) ||
          BigDecimal(b.max) < BigDecimal(a.min)
        catch { case _: NumberFormatException => false }
      case "s" =>
        TxnCatalog.utf8Lt(a.max, b.min) || TxnCatalog.utf8Lt(b.max, a.min)
      case "t" =>
        try a.max.toLong < b.min.toLong || b.max.toLong < a.min.toLong
        catch { case _: NumberFormatException => false }
      case _ => false
    }

  /** SUBTRACTIVE maintenance (the DBToaster move, scoped to abelian
    * aggregates): a window whose only non-additive events are NEW
    * equality deletes refreshes as
    *
    *   stored − agg(candidates @ wm) + agg(candidates @ now) + agg(new parts)
    *
    * where `candidates` are only the partitions the deletes can
    * actually mask ([[TxnCatalog.deleteMaskCandidates]]'s txn +
    * key-bounds rule) — a handful of deleted keys re-reads a handful
    * of partitions twice, not the table. When that candidate set is
    * EMPTY — the deletes provably mask no stored row — no subtraction
    * happens at all and ANY agg set (min/max included) folds the
    * window additively. Sound because counts and sums
    * form an abelian group (the admission requires every aggregate in
    * {count, sum} PLUS the plain `cnt`, whose post-fold zero identifies
    * groups that vanished — min/max are not subtractable and fall back
    * to full). Further admission gates, each conservative:
    *
    *  - the dir-diff classifies ([[dirDelta]] Some) — no rewrites,
    *    no unaccounted reorgs, no restore;
    *  - no delete entry VANISHED in the window (an applyDeletes
    *    rewrites data dirs and fails dir-diff anyway; this closes the
    *    rest);
    *  - every mask candidate's dir is UNCHANGED since the watermark —
    *    the @wm re-read must hit dirs the current manifest still
    *    references, or vacuum could have reclaimed them (a reorged
    *    candidate falls back to full);
    *  - join views additionally need the frozen dim (`dimOk`).
    *
    * Returns (merged view rows, partitions touched), or None → full. */
  private def subtractivePlan(spark: SparkSession, root: String,
      source: String, view: String, wm: Long, snap: TxnCatalog.Snapshot,
      dimOk: Boolean, withDim: DataFrame => DataFrame,
      groupCols: Seq[String], aggs: Seq[AggSpec])
      : Option[(DataFrame, Int)] = {
    if (!dimOk) return None
    val newDels = snap.deleteEntries(source)
      .filter { case (_, txn, _, _) => txn > wm }
    if (newDels.isEmpty) return None // additive path owns this window
    val newParts = dirDelta(spark, root, source, wm, snap)
      .getOrElse(return None)
    val fromSnap = TxnCatalog.snapshotAt(spark, root, wm)
    val curDelNames = snap.deleteEntries(source)
      .map { case (p, _, _, _) => p }.toSet
    if (!fromSnap.deleteEntries(source)
        .forall { case (p, _, _, _) => curDelNames.contains(p) })
      return None // a delete vanished: unmasking is not subtractive
    val fromData = fromSnap.dataEntries(source)
    val cands = TxnCatalog.deleteMaskCandidates(spark, newDels, fromData)
    val stored = snap.read(view).getOrElse(return None)
    if (cands.isEmpty) {
      // the window's deletes provably mask NO stored row (every key
      // list's bounds miss every watermark entry): nothing is
      // retracted, so the window is effectively additive and ANY agg
      // set stays incremental — min/max included, which true
      // subtraction below cannot handle. New partitions read through
      // the delete funnel, so a delete landing alongside (and masking
      // only) new data still folds in exactly.
      val merged =
        if (newParts.isEmpty) stored
        else merge(stored,
          aggregate(withDim(
            snap.readPartitions(source, newParts.toSeq.sorted).get),
            groupCols, aggs), groupCols, aggs)
      return Some((merged, newParts.size))
    }
    if (!aggs.forall(a => a.op == "count" || a.op == "sum")) return None
    if (!aggs.contains(AggSpec("count"))) return None
    // every sum needs its non-null count stored beside it: a group that
    // keeps rows but loses its last NON-NULL value must fold back to
    // sum = NULL (what the full recompute returns), which only cnt_col
    // can witness — 0 - x + x is indistinguishable from "no values"
    val sumCols = aggs.collect { case AggSpec("sum", c) => c }
    if (!sumCols.forall(c => aggs.contains(AggSpec("count", c))))
      return None
    val toDirs = snap.dataEntries(source).toMap.view.mapValues(_.dir).toMap
    if (cands.exists { case (p, e) => !toDirs.get(p).contains(e.dir) })
      return None // a masked partition was reorged: @wm dirs may be gone
    val candParts = cands.map(_._1).sorted
    def aggOf(df: Option[DataFrame]): Option[DataFrame] =
      df.map(d => aggregate(withDim(d), groupCols, aggs))
    val minus = aggOf(
      if (candParts.isEmpty) None
      else fromSnap.readPartitions(source, candParts))
    val plus = aggOf(
      if (candParts.isEmpty) None
      else snap.readPartitions(source, candParts))
    val added = aggOf(
      if (newParts.isEmpty) None
      else snap.readPartitions(source, newParts.toSeq.sorted))
    // negate the @wm candidate aggregate, sum everything, drop vanished
    // groups (cnt folds to zero exactly when the full recompute would
    // have no row for the group)
    val negated = minus.map(_.select(
      (groupCols.map(col) ++ aggs.map { a =>
        (-col(a.alias)).cast(stored.schema(a.alias).dataType).as(a.alias)
      }): _*))
    val merged0 = (Seq(stored) ++ negated ++ plus ++ added)
      .reduce((a, b) => merge(a, b, groupCols, aggs))
    // a surviving group whose non-null count hit zero has NO values
    // left: its sum is NULL (the full recompute's answer), never 0
    val nulledSums = sumCols.foldLeft(merged0) { (df, c) =>
      df.withColumn(s"sum_$c",
        when(col(s"cnt_$c") > 0L, col(s"sum_$c")))
    }.select((groupCols ++ aggs.map(_.alias)).map(col): _*)
    Some((nulledSums.filter(col("cnt") > 0L),
      candParts.size + newParts.size))
  }

  /** Parse the [[AggsProp]] rendering back to specs — shared by
    * refresh and the branch-publish MV refresh ([[Branches.publishAll]]). */
  private[storage] def parseAggs(s: String): Seq[AggSpec] =
    s.split(',').toSeq.map { x =>
      val Array(op, c) = x.split(":", 2); AggSpec(op, c)
    }

  private[storage] def aggregate(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val cols = aggs.map {
      case AggSpec("count", "") => count(lit(1)).as("cnt")
      case AggSpec("count", c) => count(col(c)).as(s"cnt_$c")
      case AggSpec("sum", c) => normSum(df, c, sum(col(c))).as(s"sum_$c")
      case AggSpec("min", c) => min(col(c)).as(s"min_$c")
      case AggSpec("max", c) => max(col(c)).as(s"max_$c")
      case AggSpec("hll", c) => hll_sketch_agg(col(c)).as(s"hll_$c")
      case a => throw new IllegalArgumentException(s"unknown agg $a")
    }
    df.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
      .select((groupCols ++ aggs.map(_.alias)).map(col): _*)
  }

  /** Fold a delta aggregate into the stored view: counts and sums add,
    * min/max combine — grouped again because a delta group may already
    * exist in the view. Shared with the branch-publish MV refresh
    * ([[Branches]] `mvRefreshUpdates`), which folds an append-shaped
    * publish's delta the same way. */
  private[storage] def merge(mv: DataFrame, delta: DataFrame,
      groupCols: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    val both = mv.unionByName(delta)
    val cols = aggs.map {
      case a @ AggSpec("count", _) =>
        sum(col(a.alias)).cast("long").as(a.alias)
      case AggSpec("sum", c) =>
        normSum(both, s"sum_$c", sum(col(s"sum_$c"))).as(s"sum_$c")
      case AggSpec("min", c) => min(col(s"min_$c")).as(s"min_$c")
      case AggSpec("max", c) => max(col(s"max_$c")).as(s"max_$c")
      // per-register max: associative + commutative, so the merged
      // sketch estimates identically to the full recompute's
      case AggSpec("hll", c) =>
        hll_union_agg(col(s"hll_$c")).as(s"hll_$c")
      case a => throw new IllegalArgumentException(s"unknown agg $a")
    }
    both.groupBy(groupCols.map(col): _*).agg(cols.head, cols.tail: _*)
      .select((groupCols ++ aggs.map(_.alias)).map(col): _*)
  }

  /** Pin a STABLE storage type for sums so repeated refreshes don't
    * drift the view's schema (Spark widens decimal sums per level):
    * decimal source → decimal(38, scale); float/double → double;
    * integral → long. Decimal keeps incremental == full == exact. */
  private def normSum(df: DataFrame, c: String, s: Column): Column =
    df.schema(c).dataType match {
      case d: DecimalType => s.cast(DecimalType(38, d.scale))
      case FloatType | DoubleType => s.cast("double")
      case _ => s.cast("long")
    }
}
