package graft.storage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The lake's MAINTENANCE surface as DSv2 stored procedures — plain SQL
  * `CALL <cat>.system.<proc>(...)` drives the same [[TxnCatalog]]
  * entry points the Scala API exposes (Iceberg's `system` procedures,
  * Delta's `OPTIMIZE`/`VACUUM` statements — same operational shape,
  * Spark 4's `ProcedureCatalog` plumbing):
  *
  *  - `optimize(table, prefix => 'batch=')` — fold the matching
  *    small-commit partitions into one auto-sized compacted partition
  *    ([[TxnCatalog.compactPartitions]]); stats/Bloom columns carry.
  *  - `cluster(table, dims, ...)` — Z-order the table's pending
  *    partitions ([[TxnCatalog.maintainClustered]]); `min_batches => 1`
  *    makes CALL mean "now" while the streaming sink's inline
  *    maintenance keeps its own threshold.
  *  - `vacuum(keep, min_age_ms)` — reclaim txns/data no survivor
  *    references ([[TxnCatalog.vacuum]]).
  *  - `history(lim)` — the commit log, newest first: txn, commit time,
  *    tables touched, live partitions, exact row count when the
  *    manifest carries it.
  *  - `analyze(table, stats_columns, ...)` — backfill manifest
  *    stats/Blooms for existing partitions without rewriting data
  *    ([[TxnCatalog.analyzeTable]]).
  *  - `apply_deletes(table)` — materialize pending merge-on-read
  *    equality deletes and purge the key lists
  *    ([[TxnCatalog.applyDeletes]]): reads stop paying the anti-join,
  *    metadata-only answers come back.
  *  - `restore(table, txn)` — revert the table to its state at a
  *    committed txn as one manifest-only commit
  *    ([[TxnCatalog.restoreTable]]).
  *  - `bucket(table, key, buckets)` — rewrite the table into a
  *    hash-bucketed layout; joins/aggs on the key then plan with no
  *    exchange ([[TxnCatalog.bucketTable]]).
  *  - `create_mv(view, source, group_by, aggs)` / `refresh_mv(view)` —
  *    materialized aggregate views with incremental refresh
  *    ([[MaterializedAgg]]).
  *  - `tag(name, txn)` / `drop_tag(name)` / `tags()` — named txn
  *    references, vacuum-pinned, readable as `VERSION AS OF 'name'`
  *    ([[TxnCatalog.createTag]]).
  *
  * Every procedure returns its outcome as ROWS (a [[LocalScan]] —
  * the only result shape Spark's `InvokeProcedures` executes), so
  * `CALL` composes with the SQL shell the way `DESCRIBE` does. All args
  * are scalars evaluated BEFORE the call; maintenance concurrency is
  * the engine's own (conditional commits, bounded retry), never the
  * procedure's.
  */
private[storage] object GraftProcedures {

  /** Idents under the conventional `system` namespace. */
  val Names: Seq[String] = Seq("optimize", "cluster", "vacuum", "history",
    "analyze", "apply_deletes", "restore", "bucket", "create_mv",
    "refresh_mv", "tag", "drop_tag", "tags", "branch", "publish_branch",
    "drop_branch", "clone", "evolve_partitioning", "add_files", "skipping",
    "clustering_depth", "fold_report", "export", "mvs")

  /** The optimize fold as a library call — shared by
    * [[OptimizeProcedure]] and [[GraftSqlTable]]'s auto-compact hook:
    * fold `prefix`-named partitions of `table` (only those under
    * `maxBytes` recorded bytes when > 0 — an already-compacted
    * partition stops being rewritten on every pass; entries without
    * recorded bytes count as small, folding being the safe direction)
    * into one compacted partition, CAS-retried against rival commits.
    * Hidden-partitioned tables fold PER LOGICAL GROUP so the
    * transform's per-day/bucket stat tightness survives. None when
    * fewer than 2 partitions qualify. */
  private[storage] def optimizeFold(s: SparkSession, root: String,
      table: String, prefix: String, statsColumns: Seq[String],
      bloomColumns: Seq[String], maxBytes: Long): Option[(Long, Int)] =
    // a rival commit moving the catalog between pin and publish
    // re-lists against the new snapshot
    TxnCatalog.retryOnConflict { _ =>
      val small: String => Boolean =
        if (maxBytes <= 0) _ => true
        else {
          val sizes = TxnCatalog.snapshot(s, root)
            .map(_.entrySizes(table)).getOrElse(Nil)
            .map { case (p, _, b) => p -> b }.toMap
          p => sizes.get(p).forall(_.forall(_ < maxBytes))
        }
      val parts = TxnCatalog.partitions(s, root, table)
        .filter(_.startsWith(prefix)).filter(small)
      if (parts.size < 2) None
      else {
        val into = "c" + (TxnCatalog.currentTxn(s, root).getOrElse(0L) + 1)
        val spec = TxnCatalog.snapshot(s, root)
          .flatMap(_.properties(table).get(PartitionSpec.Prop))
          .map(PartitionSpec.parse).getOrElse(Nil)
        val txn =
          if (spec.isEmpty)
            TxnCatalog.compactPartitions(s, root, table, parts, into,
              statsColumns = statsColumns, bloomColumns = bloomColumns)
          else {
            val schema = TxnCatalog.snapshot(s, root).get
              .readPartitions(table, parts).get.schema
            TxnCatalog.compactPartitionsBy(s, root, table, parts,
              PartitionSpec.groupExpr(spec, schema),
              PartitionSpec.label(spec), statsColumns = statsColumns,
              bloomColumns = bloomColumns)
          }
        Some((txn, parts.size))
      }
    }

  def load(root: String, ident: Identifier): Option[UnboundProcedure] = {
    val ns = ident.namespace()
    val ok = ns.isEmpty || ns.sameElements(Array("system")) ||
      ns.sameElements(Array("default"))
    if (!ok) None
    else ident.name().toLowerCase(java.util.Locale.ROOT) match {
      case "optimize" => Some(new OptimizeProcedure(root))
      case "cluster"  => Some(new ClusterProcedure(root))
      case "vacuum"   => Some(new VacuumProcedure(root))
      case "history"  => Some(new HistoryProcedure(root))
      case "analyze"  => Some(new AnalyzeProcedure(root))
      case "apply_deletes" => Some(new ApplyDeletesProcedure(root))
      case "restore"  => Some(new RestoreProcedure(root))
      case "bucket"   => Some(new BucketProcedure(root))
      case "create_mv" => Some(new CreateMvProcedure(root))
      case "refresh_mv" => Some(new RefreshMvProcedure(root))
      case "tag"      => Some(new TagProcedure(root))
      case "branch"   => Some(new BranchProcedure(root))
      case "publish_branch" => Some(new PublishBranchProcedure(root))
      case "rebase_branch" => Some(new RebaseBranchProcedure(root))
      case "branch_catalog" => Some(new BranchCatalogProcedure(root))
      case "publish_catalog" => Some(new PublishCatalogProcedure(root))
      case "rebase_catalog" => Some(new RebaseCatalogProcedure(root))
      case "drop_catalog_branch" =>
        Some(new DropCatalogBranchProcedure(root))
      case "drop_branch" => Some(new DropBranchProcedure(root))
      case "clone"    => Some(new CloneProcedure(root))
      case "drop_tag" => Some(new DropTagProcedure(root))
      case "tags"     => Some(new TagsProcedure(root))
      case "evolve_partitioning" =>
        Some(new EvolvePartitioningProcedure(root))
      case "add_files" => Some(new AddFilesProcedure(root))
      case "skipping" => Some(new SkippingProcedure(root))
      case "clustering_depth" => Some(new ClusteringDepthProcedure(root))
      case "fold_report" => Some(new FoldReportProcedure(root))
      case "export" => Some(new ExportProcedure(root))
      case "mvs" => Some(new MvsProcedure(root))
      case _          => None
    }
  }

  private[storage] def spark: SparkSession = SparkSession.active

  private[storage] def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) "" else row.getUTF8String(i).toString

  private[storage] def csv(row: InternalRow, i: Int): Seq[String] =
    str(row, i).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private[storage] def oneRow(schema: StructType, values: Any*): Scan = {
    val row = new GenericInternalRow(values.toArray)
    new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(row)
    }
  }

  private[storage] def manyRows(schema: StructType,
      rs: Seq[InternalRow]): Scan = new LocalScan {
    override def readSchema(): StructType = schema
    override def rows(): Array[InternalRow] = rs.toArray
  }

  private[storage] def one(scan: Scan): java.util.Iterator[Scan] =
    java.util.Collections.singletonList(scan).iterator()

  private[storage] def param(name: String, dt: DataType,
      default: String = null, comment: String = null): ProcedureParameter = {
    var b = ProcedureParameter.in(name, dt)
    if (default != null) b = b.defaultValue(default)
    if (comment != null) b = b.comment(comment)
    b.build()
  }
}

/** `CALL cat.system.optimize(table => 't', prefix => 'batch=')`:
  * compact every partition whose name starts with `prefix` into ONE
  * auto-sized partition named `c<txn>` (the streaming sink's inline
  * fold, callable on demand). Conditional-commit races with live
  * writers are retried a bounded number of times; fewer than two
  * matching partitions is a no-op (nothing to fold). Returns
  * `(txn, compacted_partitions)` — txn NULL when nothing ran. */
private[storage] final class OptimizeProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "optimize"
  override def description(): String =
    "fold small-commit partitions into one compacted partition"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("prefix", StringType, "'batch='",
      "only partitions with this name prefix are folded"),
    param("stats_columns", StringType, "''", "comma-separated"),
    param("bloom_columns", StringType, "''", "comma-separated"),
    param("max_bytes", LongType, "0",
      "fold only entries smaller than this (0 = all; Delta's " +
        "OPTIMIZE file-size threshold over recorded entry bytes)"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = true),
    StructField("compacted_partitions", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "optimize: table is required")
    GraftProcedures.optimizeFold(s, root, table, str(input, 1),
      csv(input, 2), csv(input, 3), input.getLong(4)) match {
      case Some((txn, n)) =>
        one(oneRow(out, java.lang.Long.valueOf(txn), Integer.valueOf(n)))
      case None => one(oneRow(out, null, Integer.valueOf(0)))
    }
  }
}

/** `CALL cat.system.cluster(table => 't', dims => 'a,b')`: Z-order the
  * table's pending (not-yet-clustered) partitions into generation
  * tiles — [[TxnCatalog.maintainClustered]] with `min_batches`
  * defaulting to 1 so CALL means "cluster now". Returns
  * `(txn, clustered)` — txn NULL when below the threshold. */
private[storage] final class ClusterProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "cluster"
  override def description(): String =
    "Z-order pending partitions into generation tiles"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("dims", StringType, null,
      "comma-separated Z-order columns, most-filtered LAST"),
    param("buckets", IntegerType, "16"),
    param("min_batches", IntegerType, "1",
      "cluster only when at least this many pending partitions"),
    param("files_per_bucket", IntegerType, "0", "0 = auto-size"),
    param("stats_columns", StringType, "''"),
    param("bloom_columns", StringType, "''"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = true),
    StructField("clustered", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    val dims = csv(input, 1)
    require(table.nonEmpty, "cluster: table is required")
    require(dims.nonEmpty, "cluster: dims is required (comma-separated)")
    val txn = TxnCatalog.maintainClustered(s, root, table, dims,
      minBatches = math.max(1, input.getInt(3)),
      buckets = input.getInt(2),
      filesPerBucket = input.getInt(4),
      extraStatsColumns = csv(input, 5), bloomColumns = csv(input, 6))
    one(oneRow(out,
      txn.map(java.lang.Long.valueOf).orNull,
      java.lang.Boolean.valueOf(txn.isDefined)))
  }
}

/** `CALL cat.system.vacuum(keep => 3, min_age_ms => 3600000)`: reclaim
  * manifests and data files no surviving txn references
  * ([[TxnCatalog.vacuum]] — retention semantics documented there).
  * Returns `(reclaimed_txns, kept_txns)`. */
private[storage] final class VacuumProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "vacuum"
  override def description(): String =
    "reclaim unreferenced txn manifests and data files"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("keep", IntegerType, "1", "txns to retain, newest first"),
    param("min_age_ms", LongType, "0",
      "reclaim only txns whose successor is at least this old"),
    param("dry_run", BooleanType, "false",
      "list what WOULD be reclaimed, touch nothing"))

  private val out = StructType(Seq(
    StructField("reclaimed_txns", IntegerType, nullable = false),
    StructField("kept_txns", IntegerType, nullable = false)))

  private val dryOut = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("bytes", LongType, nullable = true)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val (keep, minAge) = (input.getInt(0), input.getLong(1))
    if (input.getBoolean(2)) {
      // DRY RUN (Delta's VACUUM ... DRY RUN): the exact plan the real
      // vacuum would execute — audit it, then run without the flag
      val conf = s.sessionState.newHadoopConf()
      val rows = TxnCatalog.vacuumPlan(s, root, keep, minAge)
        .map { case (kind, p) =>
          val bytes = scala.util.Try(
            p.getFileSystem(conf).getContentSummary(p).getLength)
            .toOption
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(kind),
            UTF8String.fromString(p.toString),
            bytes.map(java.lang.Long.valueOf).orNull))
        }
      return one(manyRows(dryOut, rows))
    }
    val before = TxnCatalog.txns(s, root).size
    TxnCatalog.vacuum(s, root, keep = keep, minAgeMs = minAge)
    val after = TxnCatalog.txns(s, root).size
    one(oneRow(out, Integer.valueOf(before - after), Integer.valueOf(after)))
  }
}

/** `CALL cat.system.skipping(table => 't', column => 'k', value => '42')`:
  * EXPLAIN for manifest data skipping — a DRY RUN of the point-lookup
  * pruning that reports, per layer, how many entries a `column = value`
  * read would skip: range stats first, then recorded Blooms. Every
  * count comes from the SAME predicates the read path evaluates
  * ([[TxnCatalog.mayOverlap]] / [[TxnCatalog.bloomMayContain]] — the
  * exact pair behind [[TxnCatalog.Snapshot.partitionsWhereEq]] and the
  * Catalyst bridge's pushed-filter pruning), so the report can never
  * disagree with what a read would scan; stat-less entries and
  * unparseable probe values count as SCANNED, mirroring the read
  * path's conservative keep. The 100 TB layout-audit loop: check a
  * key's selectivity here (zero cluster jobs, driver-side manifest
  * text) before deciding a table needs `cluster`/`bucket`/Blooms.
  * `value` parses by each entry's stat kind — numeric columns as a
  * decimal, strings verbatim, timestamps as ISO-8601 instants. Returns
  * `(entries_total, pruned_range, pruned_bloom, scanned)`. */
private[storage] final class SkippingProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "skipping"
  override def description(): String =
    "dry-run manifest pruning report for a column = value read"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("column", StringType),
    param("value", StringType))

  private val out = StructType(Seq(
    StructField("entries_total", IntegerType, nullable = false),
    StructField("pruned_range", IntegerType, nullable = false),
    StructField("pruned_bloom", IntegerType, nullable = false),
    StructField("scanned", IntegerType, nullable = false)))

  /** The probe value under the stat's own kind — None (keep, never
    * prune) when the rendering can't be exact for that kind. */
  private def probe(kind: String, value: String): Option[Any] = kind match {
    case "n" => scala.util.Try(new java.math.BigDecimal(value)).toOption
    case "s" => Some(value)
    case "t" => scala.util.Try(
      java.time.Instant.parse(value): Any).toOption
    case _ => None
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    val column = str(input, 1)
    val value = str(input, 2)
    require(table.nonEmpty, "skipping: table is required")
    require(column.nonEmpty, "skipping: column is required")
    val snap = TxnCatalog.snapshot(s, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    var range = 0; var bloom = 0; var kept = 0
    snap.dataEntries(table).foreach { case (_, e) =>
      e.stats.get(column).flatMap(st => probe(st.kind, value)
        .map(st -> _)) match {
        case None => kept += 1 // stat-less / kind-mismatch: reads keep it
        case Some((st, v)) =>
          if (!TxnCatalog.mayOverlap(st, v, v)) range += 1
          else if (!TxnCatalog.bloomMayContain(st, v)) bloom += 1
          else kept += 1
      }
    }
    one(oneRow(out, Integer.valueOf(range + bloom + kept),
      Integer.valueOf(range), Integer.valueOf(bloom),
      Integer.valueOf(kept)))
  }
}

/** `CALL cat.system.clustering_depth(table => 't', column => 'c')`:
  * HOW WELL is the table laid out for range pruning on `c`? For every
  * live data entry carrying `c` stats, count the entries whose
  * [min, max] interval OVERLAPS it (inclusive, kind-true — BigDecimal
  * for numerics, UTF-8 order for strings, micros for timestamps: the
  * same comparisons [[TxnCatalog.mayOverlap]] prunes with). Perfectly
  * clustered data (sorted ingest, `cluster`, disjoint `bucket` ranges)
  * has average depth 1.0 and 100% disjoint entries — every point
  * lookup scans one entry; unclustered append-order data converges on
  * depth ≈ n — range stats prune nothing and only Blooms help. The
  * number that tells you whether `CALL cluster`/declared sort order
  * would pay for itself, computed from manifest text alone. Exact for
  * every entry at O(n log n) ([[ClusteringDepth.depths]] — two sorted
  * endpoint arrays, two binary searches per entry), so a 100 TB
  * table's full manifest measures in milliseconds, no entry cap.
  * Returns `(entries_total, entries_measured, avg_depth, max_depth,
  * disjoint_pct)`. */
/** `CALL cat.system.fold_report(table => 't' [, columns => 'a,b'])`:
  * which metadata-only aggregates can fold RIGHT NOW, and what blocks
  * the ones that can't — the debugging loop behind "why does my
  * count(*) scan?" on a 100 TB table, at manifest cost. One row per
  * aspect: `count(*)`, then per column `min/max(c)` / `count(c)` /
  * `sum(c)` / `avg(c)`, each with a FOLDABLE flag computed by the SAME
  * Snapshot helpers [[graft.plans.MetadataOnlyAgg]] answers from (the
  * report can never disagree with the rewrite) and, when blocked, a
  * human-readable blocker naming the remedy: entries missing counts or
  * stats → `analyze`, pending merge-on-read deletes → `apply_deletes`,
  * float/double columns → by design (order-dependent scan arithmetic).
  * `columns` defaults to the table's declared stats columns. */
private[storage] final class FoldReportProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "fold_report"
  override def description(): String =
    "which metadata aggregates fold, and what blocks the ones that don't"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("columns", StringType, "''",
      "comma-separated; defaults to the declared stats columns"))

  private val out = StructType(Seq(
    StructField("aspect", StringType, nullable = false),
    StructField("foldable", BooleanType, nullable = false),
    StructField("blocker", StringType, nullable = true)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "fold_report: table is required")
    val snap = TxnCatalog.snapshot(s, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val cols = {
      val asked = csv(input, 1)
      if (asked.nonEmpty) asked
      else snap.properties(table).get(TxnCatalog.StatsColumnsProp)
        .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    }
    val entries = snap.dataEntries(table)
    val live = entries.filterNot(_._2.rows.contains(0L))
    // the read path's OWN applicable-delete predicate — never a
    // re-implementation that could drift from the fold helpers' test
    val pendingDel = snap.hasPendingApplicableDeletes(table)
    val schema = GraftLake.schemaOf(s, root, table, snap)
    def typeOf(c: String) = schema.flatMap(_.fields.find(_.name == c))
      .map(_.dataType)
    def row(aspect: String, ok: Boolean, blocker: Option[String]) =
      new GenericInternalRow(Array[Any](UTF8String.fromString(aspect),
        java.lang.Boolean.valueOf(ok),
        (if (ok) None else blocker).map(UTF8String.fromString).orNull))
    def deletesBlocker: Option[String] =
      if (pendingDel) Some("pending merge-on-read deletes mask rows " +
        "(CALL system.apply_deletes)") else None
    def missing(n: Int, what: String): Option[String] =
      if (n > 0) Some(s"$n of ${live.size} entries missing $what " +
        "(CALL system.analyze)") else None
    val rows = Seq.newBuilder[InternalRow]
    // count(*): every live entry needs a recorded row count
    val noCount = live.count(_._2.rows.isEmpty)
    rows += row("count(*)", snap.rowCount(table).isDefined,
      deletesBlocker.orElse(missing(noCount, "row counts")).orElse(
        if (entries.isEmpty) Some("no data entries") else None))
    for (c <- cols) {
      val isFp = typeOf(c).exists(dt =>
        dt == org.apache.spark.sql.types.DoubleType ||
          dt == org.apache.spark.sql.types.FloatType)
      val noStat = live.count(!_._2.stats.contains(c))
      val noNulls = live.count(_._2.stats.get(c).exists(_.nulls.isEmpty))
      val noSum = live.count(_._2.stats.get(c).exists(_.sum.isEmpty))
      val statBlock = deletesBlocker
        .orElse(missing(noStat, s"'$c' stats"))
      rows += row(s"min/max($c)",
        snap.columnBounds(table, c).isDefined,
        statBlock
          .orElse(if (live.isEmpty)
            Some("no live data entries (all recorded row counts zero)")
          else None)
          .orElse(Some(
            "stat bounds unparseable (NaN/Infinity or mixed kinds)")))
      rows += row(s"count($c)",
        snap.columnNonNullCount(table, c).isDefined,
        statBlock.orElse(missing(noCount, "row counts"))
          .orElse(missing(noNulls, s"'$c' null counts")))
      val sumOk = snap.columnSum(table, c).isDefined && !isFp
      rows += row(s"sum($c)", sumOk,
        if (isFp) Some("float/double sums are evaluation-order-" +
          "dependent — never folds, by design")
        else statBlock.orElse(missing(noSum, s"'$c' sum stats")))
      val isDec = typeOf(c).exists(
        _.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      rows += row(s"avg($c)",
        sumOk && isDec && snap.columnNonNullCount(table, c).isDefined,
        if (isFp) Some("float/double averages are evaluation-order-" +
          "dependent — never folds, by design")
        else if (!isDec) Some("non-decimal averages sum in a double " +
          "buffer — never folds, by design")
        else statBlock.orElse(missing(noSum, s"'$c' sum stats"))
          .orElse(missing(noNulls, s"'$c' null counts")))
    }
    one(manyRows(out, rows.result()))
  }
}

/** The exact per-entry overlap-depth computation behind
  * [[ClusteringDepthProcedure]], factored for direct spec coverage.
  * depth(i) = #intervals [lo_j, hi_j] intersecting [lo_i, hi_i],
  * self included (so 1 = disjoint). Computed in O(n log n) from two
  * sorted endpoint arrays: the sets {j : lo_j > hi_i} ("entirely
  * right of i") and {j : hi_j < lo_i} ("entirely left of i") are
  * disjoint (both holding would need lo_j > hi_i ≥ lo_i > hi_j ≥
  * lo_j), so depth(i) = #{lo_j ≤ hi_i} − #{hi_j < lo_i} — two binary
  * searches per entry under the SAME kind-true ordering the pairwise
  * form compared with. Exact for every entry, no sampling: a 100 TB
  * table's ~10⁵-entry manifest — exactly where the layout audit
  * matters — measures in milliseconds. */
private[graft] object ClusteringDepth {
  def depths(ivals: IndexedSeq[(Any, Any)],
      ord: Ordering[Any]): Array[Int] = {
    val n = ivals.size
    val los = ivals.map(_._1).toArray.sortWith(ord.lt)
    val his = ivals.map(_._2).toArray.sortWith(ord.lt)
    // #elements of `sorted` strictly below / at-or-below x
    def countLt(sorted: Array[Any], x: Any): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (ord.lt(sorted(m), x)) lo = m + 1 else hi = m
      }
      lo
    }
    def countLe(sorted: Array[Any], x: Any): Int = {
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (ord.lteq(sorted(m), x)) lo = m + 1 else hi = m
      }
      lo
    }
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (lo, hi) = ivals(i)
      out(i) = countLe(los, hi) - countLt(his, lo)
      i += 1
    }
    out
  }
}

private[storage] final class ClusteringDepthProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "clustering_depth"
  override def description(): String =
    "per-entry range-overlap depth of a column - the re-cluster signal"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("column", StringType))

  private val out = StructType(Seq(
    StructField("entries_total", IntegerType, nullable = false),
    StructField("entries_measured", IntegerType, nullable = false),
    StructField("avg_depth", DoubleType, nullable = true),
    StructField("max_depth", IntegerType, nullable = true),
    StructField("disjoint_pct", DoubleType, nullable = true)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    val column = str(input, 1)
    require(table.nonEmpty, "clustering_depth: table is required")
    require(column.nonEmpty, "clustering_depth: column is required")
    val snap = TxnCatalog.snapshot(s, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val entries = snap.dataEntries(table)
    // one comparable key pair per measured entry, kind-true
    val ivals: Seq[(Any, Any, Ordering[Any])] = entries.flatMap {
      case (_, e) => e.stats.get(column).flatMap { st =>
        scala.util.Try[(Any, Any, Ordering[Any])] {
          st.kind match {
            case "n" =>
              (scala.math.BigDecimal(st.min): Any,
                scala.math.BigDecimal(st.max): Any,
                Ordering.by((x: Any) => x.asInstanceOf[scala.math.BigDecimal]))
            case "s" =>
              val o: Ordering[Any] = new Ordering[Any] {
                def compare(a: Any, b: Any): Int = {
                  val (x, y) = (a.asInstanceOf[String], b.asInstanceOf[String])
                  if (TxnCatalog.utf8Lt(x, y)) -1
                  else if (TxnCatalog.utf8Lt(y, x)) 1 else 0
                }
              }
              (st.min, st.max, o)
            case "t" =>
              (st.min.toLong: Any, st.max.toLong: Any,
                Ordering.by((x: Any) => x.asInstanceOf[Long]))
            case _ => throw new IllegalArgumentException("unmeasurable")
          }
        }.toOption
      }
    }
    if (ivals.isEmpty)
      return one(oneRow(out, Integer.valueOf(entries.size),
        Integer.valueOf(0), null, null, null))
    val n = ivals.size
    // exact per-entry overlap depths in O(n log n) — no entry cap: the
    // many-entry tables are the ones whose layout audit matters
    val depths = ClusteringDepth.depths(
      ivals.map(v => (v._1, v._2)).toIndexedSeq, ivals.head._3)
    val avg = depths.map(_.toLong).sum.toDouble / n
    val disjoint = depths.count(_ == 1).toDouble / n
    one(oneRow(out, Integer.valueOf(entries.size), Integer.valueOf(n),
      java.lang.Double.valueOf(math.rint(avg * 10000) / 10000),
      Integer.valueOf(depths.max),
      java.lang.Double.valueOf(math.rint(disjoint * 10000) / 10000)))
  }
}

/** `CALL cat.system.add_files(table => 't', source_path => '/data')`:
  * zero-copy onboarding of existing parquet ([[Importer.addFiles]] —
  * Iceberg's add_files): each child of the source directory becomes a
  * manifest entry referencing the data IN PLACE (`~ext:`), one
  * conditional manifest txn, nothing copied or scanned beyond footers.
  * Follow with `analyze` to backfill skipping stats. Returns
  * `(txn, added_entries)`. */
private[storage] final class AddFilesProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "add_files"
  override def description(): String =
    "import external parquet by reference - zero copy, one manifest txn"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("source_path", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("added_entries", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    val path = str(input, 1)
    require(table.nonEmpty, "add_files: table is required")
    require(path.nonEmpty, "add_files: source_path is required")
    val (txn, n) = Importer.addFiles(s, root, table, path)
    one(oneRow(out, java.lang.Long.valueOf(txn), Integer.valueOf(n)))
  }
}

/** `CALL cat.system.export(dest => '/dr/root' [, tables => 't1,t2']
  * [, as_of => txn])`: deep-export a pinned snapshot into ANOTHER
  * catalog root in one conditional commit there
  * ([[TxnCatalog.exportTables]]) — promotion, DR, and dataset sharing.
  * Pending merge-on-read deletes are materialized, properties and
  * skipping config travel, stats/Blooms re-measure at the destination.
  * Returns `(dest_txn, exported_tables)`. */
private[storage] final class ExportProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "export"
  override def description(): String =
    "deep-export tables into another catalog root - one commit there"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("dest", StringType),
    param("tables", StringType, "''",
      "comma-separated; defaults to every non-shadow table"),
    param("as_of", LongType, "0L", "source txn; 0 = current"),
    param("mode", StringType, "'copy'",
      "copy (deep, deletes materialize) | reference (zero-copy ~ext)"),
    param("pin_tag", StringType, "''",
      "tag the exported txn at the SOURCE (vacuum-exempt) - the " +
        "retention handshake a reference export needs"),
    param("since_txn", LongType, "0L",
      "delta export: copy only changes since this SOURCE txn; " +
        "0 = full export"),
    param("catch_up", BooleanType, "false",
      "delta export resuming each table from the watermark the " +
        "previous export recorded at the destination; with mode => " +
        "'reference' it re-derives the whole manifest (still zero-copy)"))

  private val out = StructType(Seq(
    StructField("dest_txn", LongType, nullable = false),
    StructField("exported_tables", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val dest = str(input, 0)
    require(dest.nonEmpty, "export: dest is required")
    val tabs = csv(input, 1)
    val asOf = Option(input.getLong(2)).filter(_ > 0L)
    val mode = str(input, 3)
    val pinTag = Option(str(input, 4)).filter(_.nonEmpty)
    val sinceTxn = Option(input.getLong(5)).filter(_ > 0L)
    val catchUp = input.getBoolean(6)
    // exportTables returns the exact list it exported (derived from
    // the snapshot it PINNED — a second snapshot read here could
    // diverge under as_of or concurrent DDL)
    val (txn, exported) = TxnCatalog.exportTables(s, root, dest, tabs,
      asOf, mode, pinTag, sinceTxn = sinceTxn, catchUp = catchUp)
    one(oneRow(out, java.lang.Long.valueOf(txn),
      Integer.valueOf(exported.size)))
  }
}

/** `CALL cat.system.analyze(table => 't', stats_columns => 'k')`:
  * backfill manifest stats/Blooms for existing partitions WITHOUT
  * rewriting data ([[TxnCatalog.analyzeTable]] — one measure pass, one
  * manifest-only CAS; incremental consumers see no new data). Returns
  * `(txn, analyzed_partitions)` — txn NULL when nothing was missing. */
private[storage] final class AnalyzeProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "analyze"
  override def description(): String =
    "backfill manifest stats for existing partitions, no data rewrite"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("stats_columns", StringType, "''", "comma-separated"),
    param("bloom_columns", StringType, "''", "comma-separated"),
    param("only_missing", BooleanType, "true",
      "false re-measures every partition"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = true),
    StructField("analyzed_partitions", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "analyze: table is required")
    val stats = csv(input, 1)
    val blooms = csv(input, 2)
    val onlyMissing = input.getBoolean(3)
    // count what needs measuring BEFORE the pass (cosmetic only — the
    // pass re-derives its own target set under its CAS retry)
    val missing = TxnCatalog.snapshot(s, root).map { snap =>
      snap.partitions(table).count { p =>
        val st = snap.stats(table, p)
        !onlyMissing || stats.exists(c => !st.contains(c)) ||
          blooms.exists(c => st.get(c).forall(_.bloom.isEmpty))
      }
    }.getOrElse(0)
    val txn = TxnCatalog.analyzeTable(s, root, table, stats, blooms,
      onlyMissing = onlyMissing)
    one(oneRow(out, txn.map(java.lang.Long.valueOf).orNull,
      Integer.valueOf(if (txn.isDefined) missing else 0)))
  }
}

/** `CALL cat.system.apply_deletes(table => 't')`: materialize pending
  * merge-on-read equality deletes — rewrite only the data entries an
  * applicable delete may mask, drop the key lists, one conditional txn
  * ([[TxnCatalog.applyDeletes]], bounded retry here like optimize).
  * Returns `(txn, pending_deletes)` — txn NULL when nothing pended. */
private[storage] final class ApplyDeletesProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "apply_deletes"
  override def description(): String =
    "materialize pending equality deletes and purge the key lists"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] =
    Array(param("table", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = true),
    StructField("pending_deletes", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "apply_deletes: table is required")
    TxnCatalog.retryOnConflict { _ =>
      val pending = TxnCatalog.snapshot(s, root)
        .map(_.deleteEntries(table).size).getOrElse(0)
      if (pending == 0) one(oneRow(out, null, Integer.valueOf(0)))
      else {
        val txn = TxnCatalog.applyDeletes(s, root, table)
        one(oneRow(out, java.lang.Long.valueOf(txn),
          Integer.valueOf(pending)))
      }
    }
  }
}

/** `CALL cat.system.history(lim => 20)`: the commit log, newest first —
  * one row per still-on-disk txn: commit time (manifest mtime, the
  * rename that published it), tables touched, live data partitions,
  * and the exact row count when every entry carries one. Reads one
  * manifest per returned row — cap with `lim`. */
private[storage] final class HistoryProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "history"
  override def description(): String = "the lake's commit log, newest first"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("lim", IntegerType, "20", "most recent txns to return"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("tables", StringType, nullable = false),
    StructField("partitions", IntegerType, nullable = false),
    StructField("row_count", LongType, nullable = true)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val hconf = s.sparkContext.hadoopConfiguration
    val tdir = new org.apache.hadoop.fs.Path(s"$root/_txns")
    val fs = tdir.getFileSystem(hconf)
    val mtimes: Map[Long, Long] =
      if (!fs.exists(tdir)) Map.empty
      else fs.listStatus(tdir).toSeq
        .filterNot(_.getPath.getName.startsWith("."))
        .flatMap(st => st.getPath.getName.toLongOption
          .map(_ -> st.getModificationTime)).toMap
    val picked = TxnCatalog.txns(s, root).sorted.reverse
      .take(math.max(0, input.getInt(0)))
    // a concurrent vacuum can reclaim a listed txn between the listing
    // and the manifest read — skip it rather than failing the whole CALL
    val rs = picked.flatMap { t =>
      scala.util.Try(TxnCatalog.snapshotAt(s, root, t)).toOption
    }.map { snap =>
      val t = snap.txn
      val tables = snap.tables
      val parts = tables.map(snap.partitions(_).size).sum
      val rows = {
        val counts = tables.map(snap.rowCount(_))
        if (counts.nonEmpty && counts.forall(_.isDefined))
          java.lang.Long.valueOf(counts.flatten.sum)
        else null
      }
      new GenericInternalRow(Array[Any](t, mtimes.getOrElse(t, 0L),
        UTF8String.fromString(tables.mkString(",")),
        parts, rows)): InternalRow
    }
    one(manyRows(out, rs))
  }
}

/** `CALL cat.system.restore(table => 't', txn => 3)`: revert the table
  * to its exact state at the given committed txn — data, delete lists,
  * and properties — as one new conditional commit, copying no data
  * ([[TxnCatalog.restoreTable]]; Delta's `RESTORE TABLE ... TO VERSION
  * AS OF`). Older snapshots still time-travel; vacuum retention bounds
  * how far back a restore can reach. Returns `(txn, restored)` —
  * `restored` false (txn = the current txn) when the table already
  * matched the target state. */
private[storage] final class RestoreProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "restore"
  override def description(): String =
    "revert a table to its state at a committed txn (manifest-only)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("txn", LongType, "-1", "the committed txn to revert to"),
    param("tag", StringType, "''",
      "alternatively, a tag naming the txn to revert to"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("restored", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "restore: table is required")
    val tag = str(input, 2)
    val toTxn = (input.getLong(1), tag) match {
      case (-1L, "") => throw new IllegalArgumentException(
        "restore: pass txn => <n> or tag => 'name'")
      case (-1L, t) => TxnCatalog.tags(s, root).getOrElse(t,
        throw new IllegalArgumentException(s"unknown tag '$t'"))
      case (n, "") => n
      case _ => throw new IllegalArgumentException(
        "restore: pass txn OR tag, not both")
    }
    val before = TxnCatalog.currentTxn(s, root).getOrElse(0L)
    val txn = TxnCatalog.restoreTable(s, root, table, toTxn)
    one(oneRow(out, java.lang.Long.valueOf(txn),
      java.lang.Boolean.valueOf(txn != before)))
  }
}

/** `CALL cat.system.bucket(table => 't', key => 'k', buckets => 64)`:
  * rewrite the table into a hash-bucketed layout on `key`
  * ([[TxnCatalog.bucketTable]]) — afterwards joins and aggregations on
  * that key over [[GraftLake.table]] frames plan with NO exchange (the
  * shuffle is paid once here, not per query). A pure reorganization:
  * streams and CDC consumers see nothing. Retries the conditional
  * commit past rival writers a bounded number of times. Returns
  * `(txn, buckets)`. */
private[storage] final class BucketProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "bucket"
  override def description(): String =
    "rewrite a table into a hash-bucketed layout (shuffle-free joins)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("key", StringType, null, "the hash-bucket column"),
    param("buckets", IntegerType, "64"),
    param("stats_columns", StringType, "''", "comma-separated"),
    param("bloom_columns", StringType, "''", "comma-separated"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("buckets", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    val key = str(input, 1)
    require(table.nonEmpty, "bucket: table is required")
    require(key.nonEmpty, "bucket: key is required")
    val n = input.getInt(2)
    val txn = TxnCatalog.retryOnConflict { _ =>
      TxnCatalog.bucketTable(s, root, table, key, n,
        statsColumns = csv(input, 3), bloomColumns = csv(input, 4))
    }
    one(oneRow(out, java.lang.Long.valueOf(txn), Integer.valueOf(n)))
  }
}

/** `CALL cat.system.create_mv(view => 'seg_agg', source => 'cust',
  * group_by => 'seg', aggs => 'count,sum:bal')`: materialize a GROUP BY
  * rollup with its source-txn watermark ([[MaterializedAgg.create]]).
  * `aggs` is comma-separated `count` / `sum:col` / `min:col` /
  * `max:col`. Returns `(txn, rows)` — the view's committed txn and
  * group count. */
private[storage] final class CreateMvProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "create_mv"
  override def description(): String =
    "materialize a GROUP BY rollup with incremental-refresh metadata"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("view", StringType),
    param("source", StringType),
    param("group_by", StringType, null, "comma-separated group columns"),
    param("aggs", StringType, null,
      "comma-separated count|sum:col|min:col|max:col|hll:col " +
        "(hll = approx count distinct sketch)"),
    param("dim", StringType, "''",
      "JOIN view: the dimension table(s), comma-separated for a " +
        "snowflake chain (source JOIN d1 JOIN d2 ...)"),
    param("join_on", StringType, "''",
      "JOIN view: comma-separated leftCol=dimCol equi-keys; one " +
        "';'-separated segment per dim"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("rows", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val view = str(input, 0)
    val source = str(input, 1)
    require(view.nonEmpty && source.nonEmpty,
      "create_mv: view and source are required")
    val groupCols = csv(input, 2)
    val aggs = csv(input, 3).map { a =>
      a.split(":", 2) match {
        case Array(op) => MaterializedAgg.AggSpec(op)
        case Array(op, c) => MaterializedAgg.AggSpec(op, c)
      }
    }
    val dims = csv(input, 4)
    val onSegs = Option(str(input, 5)).filter(_.nonEmpty).toSeq
      .flatMap(_.split(';').toSeq)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { x =>
        x.split("=", 2) match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"create_mv: join_on entries are leftCol=dimCol, got '$x'")
        }
      })
    require(dims.isEmpty == onSegs.isEmpty,
      "create_mv: dim and join_on come together")
    require(dims.sizeIs == onSegs.size,
      s"create_mv: ${dims.size} dims need ${dims.size} ';'-separated " +
        s"join_on segments, got ${onSegs.size}")
    val txn =
      if (dims.isEmpty)
        MaterializedAgg.create(s, root, view, source, groupCols, aggs)
      else MaterializedAgg.createChain(s, root, view, source,
        dims.zip(onSegs), groupCols, aggs)
    val rows = TxnCatalog.read(s, root, view).map(_.count()).getOrElse(0L)
    one(oneRow(out, java.lang.Long.valueOf(txn), java.lang.Long.valueOf(rows)))
  }
}

/** `CALL cat.system.refresh_mv(view => 'seg_agg')`: bring the view up
  * to the current txn ([[MaterializedAgg.refresh]]) — incremental when
  * the window is additive, full otherwise. Returns
  * `(txn, mode, partitions_read)`. */
private[storage] final class RefreshMvProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "refresh_mv"
  override def description(): String =
    "refresh a materialized view (incremental when the window is additive)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("view", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("mode", StringType, nullable = false),
    StructField("partitions_read", IntegerType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val view = str(input, 0)
    require(view.nonEmpty, "refresh_mv: view is required")
    val r = MaterializedAgg.refresh(s, root, view)
    one(oneRow(out, java.lang.Long.valueOf(r.txn),
      UTF8String.fromString(r.mode), Integer.valueOf(r.partitionsRead)))
  }
}

/** `CALL cat.system.mvs()`: one row per materialized view — its
  * source, dim chain, aggregate list, watermark, how many txns behind
  * the catalog head it is, and whether its stored rows are EXACTLY
  * current (the same test the transparent rewrite applies: every
  * source entry at or before the watermark, no newer deletes or
  * restore, every dim bit-identical since). The dashboard answer to
  * "can I trust this rollup, and how far behind is it?" — all at
  * manifest cost, no data read. */
private[storage] final class MvsProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "mvs"
  override def description(): String =
    "list materialized views with watermark lag and exact-currency"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array.empty

  private val out = StructType(Seq(
    StructField("view", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("dims", StringType, nullable = false),
    StructField("aggs", StringType, nullable = false),
    StructField("watermark", LongType, nullable = false),
    StructField("lag_txns", LongType, nullable = false),
    StructField("current", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val rs = TxnCatalog.snapshot(s, root).toSeq.flatMap { snap =>
      snap.tables.sorted.flatMap { v =>
        val props = snap.properties(v)
        for {
          src <- props.get(MaterializedAgg.SourceProp)
          wm <- props.get(MaterializedAgg.WatermarkProp).map(_.toLong)
        } yield {
          val chain = MaterializedAgg.parseDimChain(props)
          val current =
            MaterializedAgg.sourceCurrentAt(snap, src, wm) &&
              chain.forall { case (dm, _) =>
                MaterializedAgg.dimUnchanged(s, root, dm, wm, snap) }
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(v), UTF8String.fromString(src),
            UTF8String.fromString(chain.map(_._1).mkString(",")),
            UTF8String.fromString(
              props.getOrElse(MaterializedAgg.AggsProp, "")),
            wm, snap.txn - wm, current)): InternalRow
        }
      }
    }
    one(manyRows(out, rs))
  }
}

/** `CALL cat.system.tag(name => 'release', txn => 7)`: pin a committed
  * txn under a durable name ([[TxnCatalog.createTag]]) — exempt from
  * vacuum until dropped, readable as `VERSION AS OF 'release'`. `txn`
  * defaults to the current txn. Returns `(name, txn)`. */
private[storage] final class TagProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "tag"
  override def description(): String =
    "pin a committed txn under a durable, vacuum-exempt name"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType),
    param("txn", LongType, "-1", "-1 = the current txn"))

  private val out = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val name = str(input, 0)
    require(name.nonEmpty, "tag: name is required")
    val txn = input.getLong(1) match {
      case -1L => TxnCatalog.currentTxn(s, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      case t => t
    }
    TxnCatalog.createTag(s, root, name, txn)
    one(oneRow(out, UTF8String.fromString(name), java.lang.Long.valueOf(txn)))
  }
}

/** `CALL cat.system.evolve_partitioning(table => 't',
  * spec => 'days(ts);bucket(8,k)')`: replace the table's hidden-
  * partitioning spec in ONE manifest-only commit
  * ([[TxnCatalog.evolvePartitionSpec]]) — future writes route under the
  * new transforms, existing partitions stay byte-identical, pruning
  * holds on both generations (stats/Bloom config merges, never
  * shrinks). Empty `spec` removes hidden partitioning. Returns
  * `(txn, spec)`. */
private[storage] final class EvolvePartitioningProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "evolve_partitioning"
  override def description(): String =
    "replace the hidden-partitioning spec; manifest-only, no rewrite"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("spec", StringType, "''",
      "';'-separated transforms, e.g. 'days(ts);bucket(8,k)'; " +
        "empty removes hidden partitioning"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("spec", StringType, nullable = true)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val s = spark
    val table = str(input, 0)
    require(table.nonEmpty, "evolve_partitioning: table is required")
    val spec = str(input, 1)
    val txn = TxnCatalog.evolvePartitionSpec(s, root, table, spec)
    one(oneRow(out, java.lang.Long.valueOf(txn),
      if (spec.isEmpty) null else UTF8String.fromString(spec)))
  }
}

/** `CALL cat.system.drop_tag(name => 'release')`: drop the tag; its
  * txn re-enters vacuum's ordinary retention. Returns `(dropped)`. */
private[storage] final class DropTagProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "drop_tag"
  override def description(): String = "drop a named txn reference"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("dropped", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val name = str(input, 0)
    require(name.nonEmpty, "drop_tag: name is required")
    one(oneRow(out, java.lang.Boolean.valueOf(
      TxnCatalog.dropTag(spark, root, name))))
  }
}

/** `CALL cat.system.tags()`: every tag, name → pinned txn. */
private[storage] final class TagsProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "tags"
  override def description(): String = "list named txn references"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] =
    Array.empty[ProcedureParameter]

  private val out = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val rs = TxnCatalog.tags(spark, root).toSeq.sorted.map { case (n, t) =>
      new GenericInternalRow(
        Array[Any](UTF8String.fromString(n), t)): InternalRow
    }
    one(manyRows(out, rs))
  }
}

/** `CALL cat.system.branch(table => 't', name => 'wap')`: fork a
  * zero-copy writable branch of `table` at the current snapshot
  * ([[Branch.create]]) — the write-audit-publish entry point. Returns
  * `(shadow_table, txn)`. */
private[storage] final class BranchProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "branch"
  override def description(): String =
    "fork a zero-copy writable branch of a lake table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("shadow_table", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (table, nm) = (str(input, 0), str(input, 1))
    require(table.nonEmpty && nm.nonEmpty, "branch: table and name required")
    val txn = Branch.create(spark, root, table, nm)
    one(oneRow(out, UTF8String.fromString(Branch.shadowName(table, nm)),
      java.lang.Long.valueOf(txn)))
  }
}

/** `CALL cat.system.branch_catalog(name => 'wap')` (optionally
  * `tables => 't1,t2'`): fork every eligible table — or the explicit
  * list — into one catalog branch in ONE commit ([[Branch.createAll]],
  * Nessie-style whole-catalog versioning). Returns `(tables, txn)`. */
private[storage] final class BranchCatalogProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "branch_catalog"
  override def description(): String =
    "fork every table into one zero-copy catalog branch (one commit)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType),
    param("tables", StringType, "''",
      "comma-separated table list; empty = every eligible table"))

  private val out = StructType(Seq(
    StructField("tables", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val nm = str(input, 0)
    require(nm.nonEmpty, "branch_catalog: name required")
    val tabs = str(input, 1).split(',').map(_.trim).filter(_.nonEmpty)
    val txn = Branch.createAll(spark, root, nm, tabs.toSeq)
    val forked = Branch.catalogTables(spark, root, nm)
    one(oneRow(out, UTF8String.fromString(forked.mkString(",")),
      java.lang.Long.valueOf(txn)))
  }
}

/** `CALL cat.system.publish_catalog(name => 'wap')`: publish every
  * table of the catalog branch atomically — one commit moves them all
  * ([[Branch.publishAll]]); any advanced member refuses the whole
  * publish unless `force => true`. Returns `(tables, txn)`. */
private[storage] final class PublishCatalogProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "publish_catalog"
  override def description(): String =
    "atomically publish every table of a catalog branch (one commit)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType),
    param("force", BooleanType, "false", "overwrite diverged tables"))

  private val out = StructType(Seq(
    StructField("tables", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val nm = str(input, 0)
    require(nm.nonEmpty, "publish_catalog: name required")
    val tabs = Branch.catalogTables(spark, root, nm)
    val txn = Branch.publishAll(spark, root, nm,
      force = input.getBoolean(1))
    one(oneRow(out, UTF8String.fromString(tabs.mkString(",")),
      java.lang.Long.valueOf(txn)))
  }
}

/** `CALL cat.system.rebase_catalog(name => 'wap')`: rebase every table
  * of the catalog branch onto main's current state in one commit
  * ([[Branch.rebaseAll]]); any member's conflict refuses the whole
  * rebase. Returns `(txn)`. */
private[storage] final class RebaseCatalogProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "rebase_catalog"
  override def description(): String =
    "rebase every table of a catalog branch in one commit"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val nm = str(input, 0)
    require(nm.nonEmpty, "rebase_catalog: name required")
    one(oneRow(out, java.lang.Long.valueOf(
      Branch.rebaseAll(spark, root, nm))))
  }
}

/** `CALL cat.system.drop_catalog_branch(name => 'wap')`: drop every
  * table of the catalog branch in one commit. Returns `(txn)`. */
private[storage] final class DropCatalogBranchProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "drop_catalog_branch"
  override def description(): String =
    "drop every table of a catalog branch (one commit)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val nm = str(input, 0)
    require(nm.nonEmpty, "drop_catalog_branch: name required")
    one(oneRow(out, java.lang.Long.valueOf(
      Branch.dropAll(spark, root, nm))))
  }
}

/** `CALL cat.system.rebase_branch(table => 't', name => 'wap')`:
  * three-way-merge the branch onto main's current state
  * ([[Branch.rebase]]) so a subsequent publish fast-forwards; refuses
  * on partition/property conflicts or delete-vs-rewrite hazards.
  * Returns `(txn)`. */
private[storage] final class RebaseBranchProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "rebase_branch"
  override def description(): String =
    "rebase a branch onto its table's current state (three-way merge)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (table, nm) = (str(input, 0), str(input, 1))
    require(table.nonEmpty && nm.nonEmpty,
      "rebase_branch: table and name required")
    val txn = Branch.rebase(spark, root, table, nm)
    one(oneRow(out, java.lang.Long.valueOf(txn)))
  }
}

/** `CALL cat.system.publish_branch(table => 't', name => 'wap')`:
  * fast-forward `table` to the branch's state, zero-copy
  * ([[Branch.publish]]); refuses when main advanced since the fork
  * unless `force => true`. Returns `(txn, append_shaped)`. */
private[storage] final class PublishBranchProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "publish_branch"
  override def description(): String =
    "fast-forward a lake table to a branch's state (WAP publish)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("name", StringType),
    param("force", BooleanType, "false", "overwrite a diverged main"))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false),
    StructField("append_shaped", BooleanType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (table, nm) = (str(input, 0), str(input, 1))
    require(table.nonEmpty && nm.nonEmpty,
      "publish_branch: table and name required")
    val txn = Branch.publish(spark, root, table, nm,
      force = input.getBoolean(2))
    val appendShaped = !TxnCatalog.tableProperties(spark, root, table)
      .contains(TxnCatalog.RestoreTxnProp)
    one(oneRow(out, java.lang.Long.valueOf(txn),
      java.lang.Boolean.valueOf(appendShaped)))
  }
}

/** `CALL cat.system.drop_branch(table => 't', name => 'wap')`: drop the
  * branch (shared bytes stay path-protected). Returns `(txn)`. */
private[storage] final class DropBranchProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "drop_branch"
  override def description(): String = "drop a branch of a lake table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("table", StringType),
    param("name", StringType))

  private val out = StructType(Seq(
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (table, nm) = (str(input, 0), str(input, 1))
    require(table.nonEmpty && nm.nonEmpty,
      "drop_branch: table and name required")
    one(oneRow(out,
      java.lang.Long.valueOf(Branch.drop(spark, root, table, nm))))
  }
}

/** `CALL cat.system.clone(source => 's', target => 't')`: shallow-clone
  * a table under an independent name, zero-copy ([[Branch.cloneTable]]).
  * Returns `(target, txn)`. */
private[storage] final class CloneProcedure(root: String)
    extends UnboundProcedure with BoundProcedure {
  import GraftProcedures._

  override def name(): String = "clone"
  override def description(): String =
    "shallow-clone a lake table under a new name (zero-copy)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = Array(
    param("source", StringType),
    param("target", StringType))

  private val out = StructType(Seq(
    StructField("target", StringType, nullable = false),
    StructField("txn", LongType, nullable = false)))

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val (src, dst) = (str(input, 0), str(input, 1))
    require(src.nonEmpty && dst.nonEmpty,
      "clone: source and target required")
    val txn = Branch.cloneTable(spark, root, src, dst)
    one(oneRow(out, UTF8String.fromString(dst), java.lang.Long.valueOf(txn)))
  }
}
