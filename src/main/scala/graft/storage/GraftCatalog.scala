package graft.storage

import java.util

import org.apache.spark.sql.{Column => SqlColumn}
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The lake as a Spark SQL CATALOG: register
  * `spark.sql.catalog.<name> = graft.storage.GraftCatalog` with
  * `spark.sql.catalog.<name>.root = <lake root>` and plain SQL works
  * against TxnCatalog tables by identifier — SELECT (with `VERSION AS
  * OF <txn>` / `TIMESTAMP AS OF` time travel), INSERT INTO/OVERWRITE,
  * CREATE/DROP/TRUNCATE TABLE, DELETE FROM, ALTER TABLE ADD COLUMN and
  * SET/UNSET TBLPROPERTIES, SHOW TABLES/TBLPROPERTIES — no DataFrame
  * code and no view registration.
  *
  * Reads bridge through [[V1Scan]] to a [[GraftLake.tableAsOf]] frame
  * pinned at the txn `loadTable` resolved (two scans in one statement
  * can never mix table versions), so the pushed-down SQL filters land
  * on the [[ManifestFileIndex]]-backed relation inside and prune
  * partitions at the manifest exactly like the DataFrame path (every
  * pushed filter is ALSO declared residual, so Spark re-applies them
  * post-scan — pruning is an optimization, never a correctness bet, and
  * shapes the bridge cannot translate are simply not pushed). Writes
  * bridge through [[V1Write]]: `INSERT INTO` is one atomic idempotent
  * batch append ([[TxnCatalog.appendBatch]]; whole-table tables take a
  * CONDITIONAL read-union-commit with retry), `INSERT OVERWRITE` an
  * atomic replace-all-partitions commit (whole-table fallback;
  * properties survive). CREATE TABLE commits a zero-row schema-bearing
  * partition and applies its TBLPROPERTIES (CHECK constraints enforce
  * from birth); DROP TABLE is [[TxnCatalog.dropTable]] (older snapshots
  * still time-travel to it); DELETE FROM maps equality/IN to
  * merge-on-read keys, closed ranges to the skipping-aware rewrite, and
  * no-filter to truncate-to-empty, refusing every other shape at
  * planning.
  *
  * One flat namespace (`default`) — TxnCatalog roots are already the
  * namespace unit; mount several roots as several catalogs.
  *
  * TBLPROPERTIES `graft.stats-columns` / `graft.bloom-columns`
  * (comma-separated) make skipping a TABLE fact instead of a writer
  * fact: every commit to the table — SQL INSERT, the streaming sink,
  * compaction, clustering — measures those columns' manifest stats
  * without any per-call knob ([[TxnCatalog.StatsColumnsProp]]).
  * Maintenance is SQL too: `CALL <cat>.system.optimize/cluster/
  * vacuum/history/analyze/apply_deletes(...)` ([[GraftProcedures]]), and Iceberg-
  * style metadata tables resolve one level below each data table —
  * `<cat>.default.<t>.history` / `.partitions` / `.changes`.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.root must point at a TxnCatalog root"))
  }

  override def name(): String = catalogName

  /** COLUMN DEFAULT VALUES: declaring the capability makes Spark's
    * parser/analyzer accept `DEFAULT <expr>` in CREATE/ALTER and fill
    * missing INSERT columns from the table's reported
    * `CURRENT_DEFAULT` field metadata — the engine persists the
    * (already analysis-validated) SQL text per column in
    * TBLPROPERTIES and re-attaches it on every load, so defaults
    * survive the manifest like constraints do. INSERT values are
    * filled at WRITE time by the analyzer, so new files physically
    * carry them; ADD COLUMN ... DEFAULT additionally records an
    * EXISTS_DEFAULT ([[TxnCatalog.ExistsDefaultPrefix]]) that the read
    * stacks fill into rows predating the column — Delta's two-default
    * model, committed atomically with the widening schema batch. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `graft.default.<column>` — the column's CURRENT_DEFAULT SQL. */
  private def defaultProp(c: String) = s"graft.default.$c"

  /** `graft.generated.<column>` — the column's GENERATED ALWAYS AS
    * SQL. The SQL INSERT path computes it for rows that arrive with
    * the column NULL ([[GraftSqlTable]]); an auto-created CHECK
    * constraint (`constraint.gen_<column>`) makes EVERY write path —
    * bulk loads, streaming sinks, MERGE/UPDATE rewrites — refuse rows
    * where the stored value disagrees with the expression, so the
    * invariant can never silently go stale. */
  private def generatedProp(c: String) = GraftCatalog.GeneratedPrefix + c

  /** Re-attach persisted column defaults as the CURRENT_DEFAULT field
    * metadata Spark's INSERT resolution reads. The TBLPROPERTIES are
    * the ONLY source of truth: the analyzer-filled insert frames carry
    * the metadata into the parquet footers, so the footer-merged
    * schema resurfaces whatever default was current at WRITE time —
    * stale after SET/DROP DEFAULT — and must be scrubbed first. */
  private def withDefaults(t: String, schema: StructType): StructType = {
    val props = TxnCatalog.tableProperties(spark, root, t)
    val ds = props.collect {
      case (k, v) if k.startsWith("graft.default.") =>
        k.stripPrefix("graft.default.") -> v
    }
    StructType(schema.fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT")
      ds.get(f.name).foreach(sql => mb.putString("CURRENT_DEFAULT", sql))
      val m = mb.build()
      if (m == f.metadata) f else f.copy(metadata = m)
    })
  }

  override def defaultNamespace(): Array[String] = Array("default")

  private def spark: SparkSession = SparkSession.active

  private def checkNs(ns: Array[String]): Unit =
    if (!(ns.isEmpty || ns.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(ns)

  /** `CALL <cat>.system.<proc>(...)` — the maintenance surface
    * (optimize / cluster / vacuum / history / analyze / apply_deletes)
    * as DSv2 stored procedures;
    * see [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident).getOrElse(
      throw new RuntimeException(
        s"procedure not found: ${ident.namespace().mkString(".")}" +
          s".${ident.name()} — known: ${GraftProcedures.Names.mkString(", ")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty && !namespace.sameElements(Array("system")) &&
      !namespace.sameElements(Array("default"))) Array.empty
    else GraftProcedures.Names
      .map(n => Identifier.of(Array("system"), n)).toArray

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNs(namespace)
    TxnCatalog.tables(spark, root)
      .map(t => Identifier.of(Array("default"), t)).toArray
  }

  /** Iceberg-style METADATA TABLES, addressed one level below the data
    * table — `SELECT * FROM <cat>.default.<t>.history` (commit log for
    * `t`), `.partitions` (live manifest entries: data txn, rows, which
    * columns carry stats/Blooms), `.changes` (the full CDC feed,
    * [[TxnCatalog.changeFeed]] over every committed txn), `.refs`
    * (named references: tags and branches with their txn/base),
    * `.files` (every live data file with its physical size — the
    * small-file/compaction audit). All are built from the MANIFEST
    * driver-side (KB-scale; `.changes` reads data files only when
    * actually scanned, `.files` adds one listStatus per entry).
    * Read-only. */
  private def metaTable(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    if (ns.length != 2 || ns(0) != "default") return None
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (!Seq("history", "partitions", "changes", "refs", "files",
        "detail").contains(kind))
      return None
    val s = spark
    val t = ns(1)
    val snap = TxnCatalog.snapshot(s, root)
      .filter(_.tables.contains(t)).getOrElse(return None)
    val df = kind match {
      case "history" =>
        val hconf = s.sparkContext.hadoopConfiguration
        val tdir = new org.apache.hadoop.fs.Path(s"$root/_txns")
        val fsys = tdir.getFileSystem(hconf)
        val mtimes: Map[Long, Long] = fsys.listStatus(tdir).toSeq
          .filterNot(_.getPath.getName.startsWith("."))
          .flatMap(st => st.getPath.getName.toLongOption
            .map(_ -> st.getModificationTime)).toMap
        val rows = TxnCatalog.txns(s, root).sorted.flatMap { txn =>
          scala.util.Try(TxnCatalog.snapshotAt(s, root, txn)).toOption
            .filter(_.tables.contains(t)).map { sn =>
              (txn, mtimes.getOrElse(txn, 0L),
                sn.partitions(t).size, sn.rowCount(t))
            }
        }
        s.createDataFrame(rows)
          .toDF("txn", "committed_at_ms", "partitions", "row_count")
      case "partitions" =>
        val rows = snap.dataEntries(t).map { case (p, e) =>
          (p, TxnCatalog.entryDataTxn(e), e.rows, e.bytes,
            e.stats.keys.toSeq.sorted.mkString(","),
            e.stats.collect { case (c, st) if st.bloom.nonEmpty => c }
              .toSeq.sorted.mkString(","))
        }.sortBy(_._1)
        s.createDataFrame(rows).toDF("partition", "data_txn", "rows",
          "size_bytes", "stat_columns", "bloom_columns")
      case "files" =>
        // Iceberg's files table: every live data file with its physical
        // size — the file-grain audit behind `.partitions` (small-file
        // pressure, compaction targets). One listStatus per entry,
        // driver-side; externality is explicit (`~ext:`/`~ref:` dirs
        // resolve exactly like every reader, so clones and imports show
        // their true physical paths)
        val hconf = s.sparkContext.hadoopConfiguration
        val rows = snap.dataEntries(t).flatMap { case (p, e) =>
          val dir = new org.apache.hadoop.fs.Path(
            TxnCatalog.entryPath(root, t, p, e.dir))
          scala.util.Try(dir.getFileSystem(hconf).listStatus(dir)
            .filter(f => f.isFile &&
              f.getPath.getName.endsWith(".parquet"))
            .toSeq).getOrElse(Nil).map { f =>
            (p, f.getPath.toString, f.getLen,
              f.getModificationTime, TxnCatalog.entryDataTxn(e))
          }
        }.sortBy(r => (r._1, r._2))
        s.createDataFrame(rows).toDF("partition", "file_path",
          "size_bytes", "modified_at_ms", "data_txn")
      case "detail" =>
        // Delta's DESCRIBE DETAIL: ONE row of table-level facts from
        // the manifest and properties — entry/row/byte totals (exact
        // when every entry recorded them, NULL otherwise — row_count
        // also goes NULL while merge-on-read deletes are pending, the
        // same exact-or-absent rule as the metadata folds), the
        // declared layout knobs, and the two numbers that say what
        // maintenance is due (pending_deletes → apply_deletes,
        // external_entries → analyze after add_files)
        val props = snap.properties(t)
        val data = snap.dataEntries(t)
        val bytes = {
          val bs = data.map(_._2.bytes)
          if (bs.isEmpty || bs.exists(_.isEmpty)) None
          else Some(bs.flatten.sum)
        }
        val row = (t, snap.txn, data.size, snap.rowCount(t), bytes,
          props.getOrElse(PartitionSpec.Prop, ""),
          props.getOrElse(TxnCatalog.SortColumnsProp, ""),
          props.getOrElse(TxnCatalog.StatsColumnsProp, ""),
          props.getOrElse(TxnCatalog.BloomColumnsProp, ""),
          snap.deleteEntries(t).size,
          data.count(_._2.dir.startsWith(TxnCatalog.ExtPrefix)))
        s.createDataFrame(Seq(row)).toDF("table", "txn", "entries",
          "row_count", "size_bytes", "partitioning", "sort_columns",
          "stats_columns", "bloom_columns", "pending_deletes",
          "external_entries")
      case "refs" =>
        // Iceberg's refs table: every named reference to this table's
        // state — tags (a pinned txn, vacuum-exempt) and branches (a
        // writable fork, shown with its fast-forward base txn)
        val tagRows = TxnCatalog.tags(s, root).toSeq.sorted
          .map { case (n, txn) => (n, "tag", txn) }
        val branchRows = Branch.branches(s, root, t).map { b =>
          (b, "branch", TxnCatalog.tableProperties(s, root,
            Branch.shadowName(t, b)).get(Branch.BranchBaseProp)
            .flatMap(_.toLongOption).getOrElse(-1L))
        }
        s.createDataFrame(tagRows ++ branchRows)
          .toDF("name", "type", "txn")
      case _ =>
        TxnCatalog.changeFeed(s, root, t, 0L, snap.txn)
          .getOrElse(return None)
    }
    Some(new GraftMetaTable(s"$t.$kind", df))
  }

  override def loadTable(ident: Identifier): Table = metaTable(ident)
      .getOrElse {
    checkNs(ident.namespace())
    val t = ident.name()
    // pin the snapshot HERE: every scan this statement plans reads one
    // txn (a self-join can never mix table versions), and the merged
    // schema is computed once per (root, table, txn) via the cache
    val snap = TxnCatalog.snapshot(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    val schema = GraftLake.schemaOf(spark, root, t, snap)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftSqlTable(root, t, withDefaults(t, schema),
      asOfTxn = Some(snap.txn))
  }

  /** `VERSION AS OF <txn | 'tag'>` — the table pinned at a committed
    * txn, named either by number or by a [[TxnCatalog.createTag]] tag
    * (tag names are non-numeric by construction, so resolution is
    * unambiguous). */
  override def loadTable(ident: Identifier, version: String): Table = {
    checkNs(ident.namespace())
    val t = ident.name()
    // a BRANCH name resolves to the branch's current state (Iceberg's
    // `VERSION AS OF 'branch'`): the shadow table, pinned like any load
    if (version.toLongOption.isEmpty &&
        Branch.branches(spark, root, t).contains(version))
      return loadTable(Identifier.of(ident.namespace(),
        Branch.shadowName(t, version)))
    val txn = version.toLongOption
      .orElse(TxnCatalog.tags(spark, root).get(version))
      .getOrElse(throw new IllegalArgumentException(
        s"'$version' is neither a committed txn number, a tag, nor a " +
          s"branch of '$t'"))
    val snap = TxnCatalog.snapshotAt(spark, root, txn)
    val schema = GraftLake.schemaOf(spark, root, t, snap)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftSqlTable(root, t, schema, asOfTxn = Some(txn))
  }

  /** `TIMESTAMP AS OF <ts>` — resolved to the LAST txn whose manifest
    * was committed at or before the instant (manifest file mtimes are
    * the commit clock: the rename that publishes a txn stamps it). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    checkNs(ident.namespace())
    // DSv2 hands micros-since-epoch; ONE listStatus yields every
    // (txn, mtime) pair — never a stat call per committed txn
    val cutoffMs = timestamp / 1000L
    val at = TxnCatalog.txnMtimes(spark, root)
      .filter(_._2 <= cutoffMs).map(_._1).sorted.lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no txn committed at or before timestamp $cutoffMs ms"))
    loadTable(ident, at.toString)
  }

  /** ANSI constraint DDL (`CREATE TABLE ... CHECK (...)`,
    * `CONSTRAINT c CHECK (...)`): each enforced CHECK becomes a
    * `constraint.<name>` property — the SAME enforcement funnel raw
    * TBLPROPERTIES constraints use, so every write path validates it
    * from birth. PRIMARY KEY / FOREIGN KEY / UNIQUE are refused: the
    * engine will not record a constraint it cannot enforce. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val cProps = constraintProps(info.constraints())
    val merged = new util.HashMap[String, String](info.properties())
    cProps.foreach { case (k, v) => merged.put(k, v) }
    createTable(ident, info.columns(), info.partitions(), merged)
  }

  /** Enforced CHECK constraints as `constraint.<name>` properties. */
  private def constraintProps(
      cs: Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint]): Map[String, String] =
    cs.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.enforced(),
          s"CHECK constraint ${c.name()}: NOT ENFORCED is not " +
            "supported — the engine records only constraints it " +
            "enforces")
        require(c.predicateSql() != null && c.predicateSql().nonEmpty,
          s"CHECK constraint ${c.name()} carries no SQL predicate")
        s"${TxnCatalog.ConstraintPrefix}${c.name()}" -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are supported (cannot enforce " +
          s"${other.toDDL()})")
    }.toMap

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    checkNs(ident.namespace())
    val t = ident.name()
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    val schema = StructType(columns.toSeq.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    // a zero-row PARTITION commit: the schema rides the parquet footer
    // and the table is partitioned from birth, so INSERT INTO appends
    // batch partitions instead of colliding with a whole-table snapshot
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema).repartition(1)
    // user TBLPROPERTIES (constraints included) must not be silently
    // dropped; Spark's reserved/engine-supplied keys are not ours to keep
    import scala.jdk.CollectionConverters._
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)
    val user = properties.asScala.toMap
      .filterNot { case (k, _) =>
        reserved.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
    // HIDDEN PARTITIONING ([[PartitionSpec]]): `PARTITIONED BY
    // (days(ts), bucket(8, k), ...)` serializes into TBLPROPERTIES and
    // auto-configures the skipping machinery — range-friendly transform
    // sources become stats columns (tight per partition by
    // construction), bucket sources become Bloom columns (hash groups
    // prune by membership, not range) — so every writer records
    // prunable metadata with no per-call knob.
    val spec = PartitionSpec.fromTransforms(partitions.toSeq)
    spec.foreach(tr => require(schema.fieldNames.contains(tr.column),
      s"partition transform references unknown column '${tr.column}'"))
    // COLUMN DEFAULTS: the analyzer already validated each DEFAULT
    // (constant-foldable, type-coercible) before handing us the
    // Column — persist the SQL text so every future INSERT resolves
    // the same expression
    val defaultProps = columns.toSeq.flatMap { c =>
      Option(c.defaultValue()).map { dv =>
        require(dv.getSql != null && dv.getSql.nonEmpty,
          s"column ${c.name}: DEFAULT without SQL text is not supported")
        defaultProp(c.name) -> dv.getSql
      }
    }.toMap
    // GENERATED ALWAYS AS (expr): the analyzer already validated the
    // expression (deterministic, references only non-generated
    // columns). Persist the SQL — the insert path computes it for
    // NULL arrivals — and pin the invariant as a CHECK constraint so
    // no write path (bulk load, streaming sink, MERGE rewrite) can
    // publish a row whose stored value disagrees with the expression.
    val generatedProps = columns.toSeq.flatMap { c =>
      Option(c.generationExpression()).map { sql =>
        require(c.defaultValue() == null,
          s"column ${c.name}: GENERATED columns cannot also have DEFAULT")
        Seq(generatedProp(c.name) -> sql,
          s"${TxnCatalog.ConstraintPrefix}gen_${c.name}" ->
            s"`${c.name}` <=> ($sql)")
      }
    }.flatten.toMap
    // GENERATED ... AS IDENTITY: persist (start, step, allowExplicit)
    // and auto-declare the column a STATS column — the insert path's
    // high watermark then reads from the MANIFEST (driver-side text,
    // zero jobs) instead of scanning data. Identity COMPOSES with
    // hidden partitioning: the insert path assigns ids BEFORE the
    // transform split and lands every group in ONE commit conditional
    // on the watermark snapshot ([[insertWithIdentity]]), so the CAS
    // covers the whole grouped txn.
    val identityCols = columns.toSeq.filter(_.identityColumnSpec() != null)
    identityCols.foreach { c =>
      require(c.dataType == org.apache.spark.sql.types.LongType ||
        c.dataType == org.apache.spark.sql.types.IntegerType,
        s"column ${c.name}: IDENTITY needs BIGINT or INT, " +
          s"got ${c.dataType.simpleString}")
    }
    val identityProps = identityCols.map { c =>
      val ic = c.identityColumnSpec()
      GraftCatalog.IdentityPrefix + c.name ->
        s"${ic.getStart},${ic.getStep},${ic.isAllowExplicitInsert}"
    }.toMap
    def merged(key: String, add: Seq[String]): Option[(String, String)] = {
      val cur = user.get(key).toSeq.flatMap(_.split(','))
        .map(_.trim).filter(_.nonEmpty)
      val all = (cur ++ add).distinct
      if (all.isEmpty) None else Some(key -> all.mkString(","))
    }
    val specProps =
      ((if (spec.isEmpty) Nil
        else Seq(PartitionSpec.Prop -> PartitionSpec.render(spec))) ++
        merged(TxnCatalog.StatsColumnsProp,
          spec.filterNot(_.wantsBloom).map(_.column) ++
            identityCols.map(_.name)) ++
        merged(TxnCatalog.BloomColumnsProp,
          spec.filter(_.wantsBloom).map(_.column))).toMap
    // init partition + properties in ONE txn: no observer — crash,
    // rival commit, concurrent writer — can see the table without its
    // declared constraints ("constraints enforce from birth")
    TxnCatalog.createTableWithProperties(spark, root, t, "batch=init",
      empty, user ++ specProps ++ defaultProps ++ generatedProps ++
        identityProps)
    new GraftSqlTable(root, t, withDefaults(t, schema))
  }

  /** User TBLPROPERTIES minus Spark's reserved/engine keys. */
  private def userProps(properties: util.Map[String, String])
      : Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val reserved = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)
    properties.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX) }
  }

  /** Atomic `CREATE/REPLACE TABLE ... AS SELECT` (DSv2 staging): the
    * query's rows, the schema-bearing init partition, and the
    * TBLPROPERTIES all land in ONE manifest txn when
    * `commitStagedChanges` fires — no observer sees a schema-only
    * table mid-CTAS, and RTAS never exposes the drop-then-create
    * window Spark's non-atomic fallback has (a reader between the two
    * statements would find the table missing). Nothing is written to
    * the catalog until commit; abort discards the buffered plan. */
  private def stage(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform], properties: util.Map[String, String],
      mode: GraftStagedTable.Mode): StagedTable = {
    checkNs(ident.namespace())
    require(partitions.isEmpty,
      "CTAS/RTAS with PARTITIONED BY is not supported — CREATE the " +
        "partitioned table first, then INSERT INTO it (inserts route " +
        "through the declared transforms)")
    val schema = StructType(columns.toSeq.map(c =>
      org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    new GraftStagedTable(root, ident.name(), schema,
      userProps(properties), mode)
  }

  override def stageCreate(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.toString)
    stage(ident, columns, partitions, properties, GraftStagedTable.Create)
  }

  override def stageReplace(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    stage(ident, columns, partitions, properties, GraftStagedTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier,
      columns: Array[Column], partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, columns, partitions, properties,
      GraftStagedTable.CreateOrReplace)

  override def tableExists(ident: Identifier): Boolean =
    (ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("default"))) &&
      TxnCatalog.tables(spark, root).contains(ident.name())

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      TxnCatalog.dropTable(spark, root, ident.name())
      true
    }

  /** `ALTER TABLE ... ADD COLUMN(S)` — schema evolution the manifest
    * way: commit one zero-row batch carrying the WIDENED schema; the
    * merged-footer read surfaces the new columns as null on every older
    * partition, exactly like an evolved append would. `SET/UNSET
    * TBLPROPERTIES` maps to [[TxnCatalog.setTableProperties]] (CHECK
    * constraints included — adding `constraint.*` validates constraint
    * rows first). `RENAME COLUMN` / `DROP COLUMN` are explicit
    * full-rewrite txns ([[TxnCatalog.renameColumn]] /
    * [[TxnCatalog.dropColumn]] — partition layout preserved,
    * conservative refusals for constraints/views/pending deletes that
    * reference the column). Other changes are refused. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    checkNs(ident.namespace())
    val t = ident.name()
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val widens = changes.collect {
      case u: TableChange.UpdateColumnType => u }
    val setProps = changes.collect {
      case p: TableChange.SetProperty => p.property -> p.value
      case p: TableChange.RemoveProperty => p.property -> ""
    }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    // SET/DROP DEFAULT is a properties-only change: the default fills
    // at WRITE time, so flipping it never touches committed files
    val dflts = changes.collect {
      case u: TableChange.UpdateColumnDefaultValue => u }
    // ADD/DROP CONSTRAINT ride the constraint-properties funnel —
    // ADD validates existing rows inside setTableProperties before
    // anything publishes, exactly like a raw `constraint.*` SET
    val consAdds = changes.collect {
      case a: TableChange.AddConstraint => a }
    val consDrops = changes.collect {
      case d: TableChange.DropConstraint => d }
    require(adds.size + widens.size + setProps.size + renames.size +
      drops.size + dflts.size + consAdds.size + consDrops.size ==
        changes.size,
      "only ADD/RENAME/DROP COLUMN(S), ALTER COLUMN TYPE (widening), " +
        "ALTER COLUMN SET/DROP DEFAULT, ADD/DROP CONSTRAINT (CHECK), " +
        "and SET/UNSET TBLPROPERTIES are supported; got: " +
        changes.mkString(", "))
    // ADD COLUMN ... DEFAULT — the TWO-DEFAULT model (Delta's):
    // CURRENT_DEFAULT fills future INSERTs at write time (analyzer),
    // EXISTS_DEFAULT fills rows whose entries PREDATE this alter at
    // read time (TxnCatalog.ExistsDefaultPrefix — exact, the column
    // could hold no value before it existed). Both properties land in
    // the SAME txn as the widening schema batch, so no crash or rival
    // can observe the column without its fill.
    val addDefaults: Map[String, String] = adds.flatMap { a =>
      Option(a.defaultValue()).map { dv =>
        require(dv.getSql != null,
          s"column ${a.fieldNames().mkString(".")}: DEFAULT without " +
            "SQL text is not supported")
        a.fieldNames()(0) -> dv.getSql
      }
    }.toMap
    // RENAME/DROP are full-rewrite txns ([[TxnCatalog.renameColumn]])
    // with their own guards; keep them single-change so a refusal can
    // never leave a half-applied multi-change ALTER
    if (renames.nonEmpty || drops.nonEmpty) {
      require(changes.size == 1,
        "RENAME/DROP COLUMN must be the only change in the ALTER")
      // a stale `graft.default.<old>` would silently re-attach to a
      // future column of the same name — make the user detach it first
      // (same for identity/generated bookkeeping; generated columns
      // are additionally pinned by their auto CHECK constraint)
      def noDefault(c: String): Unit = {
        val props = TxnCatalog.tableProperties(spark, root, t)
        require(!props.contains(defaultProp(c)),
          s"column '$c' has a DEFAULT — ALTER COLUMN $c DROP DEFAULT first")
        require(!props.contains(TxnCatalog.ExistsDefaultPrefix + c),
          s"column '$c' carries an exists-default for pre-alter rows — " +
            s"UNSET TBLPROPERTIES ('${TxnCatalog.ExistsDefaultPrefix}$c') " +
            "first (this freezes not-yet-rewritten pre-alter rows at NULL)")
        require(!props.contains(GraftCatalog.IdentityPrefix + c),
          s"column '$c' is an IDENTITY column and cannot be " +
            "renamed or dropped")
        require(!props.contains(GraftCatalog.GeneratedPrefix + c),
          s"column '$c' is GENERATED and cannot be renamed or dropped")
      }
      renames.foreach { r =>
        require(r.fieldNames().length == 1,
          s"nested renames are not supported: ${r.fieldNames().mkString(".")}")
        noDefault(r.fieldNames()(0))
        TxnCatalog.renameColumn(spark, root, t, r.fieldNames()(0),
          r.newName())
      }
      drops.foreach { d =>
        require(d.fieldNames().length == 1,
          s"nested drops are not supported: ${d.fieldNames().mkString(".")}")
        noDefault(d.fieldNames()(0))
        TxnCatalog.dropColumn(spark, root, t, d.fieldNames()(0))
      }
      val snapR = TxnCatalog.snapshot(spark, root)
        .getOrElse(throw new NoSuchTableException(ident))
      return new GraftSqlTable(root, t,
        GraftLake.schemaOf(spark, root, t, snapR)
          .getOrElse(throw new NoSuchTableException(ident)))
    }
    val snap0 = TxnCatalog.snapshot(spark, root)
      .getOrElse(throw new NoSuchTableException(ident))
    val base = GraftLake.schemaOf(spark, root, t, snap0)
      .getOrElse(throw new NoSuchTableException(ident))
    // validate EVERY change before applying ANY (no partial ALTER)
    require((adds.isEmpty && widens.isEmpty) ||
      !snap0.entries.contains((t, TxnCatalog.Whole)),
      "ADD COLUMN / ALTER COLUMN TYPE need a partitioned table " +
        "(whole-table snapshots rewrite through TxnCatalog.commit)")
    val fresh = adds.map { a =>
      require(a.fieldNames().length == 1,
        s"nested column adds are not supported: ${a.fieldNames().mkString(".")}")
      require(a.isNullable,
        s"added column ${a.fieldNames()(0)} must be nullable " +
          "(existing rows have no value for it)")
      org.apache.spark.sql.types.StructField(
        a.fieldNames()(0), a.dataType(), nullable = true)
    }
    fresh.foreach(f => require(!base.fieldNames.contains(f.name),
      s"column ${f.name} already exists"))
    // ALTER COLUMN TYPE: MANIFEST-ONLY widening (one zero-row batch
    // carrying the widened schema; Spark's parquet readers up-cast the
    // untouched narrow files at read, so no data is rewritten) —
    // admitted only for the parquet-readable widening set; everything
    // else (narrowing, string casts, nested fields) refuses here.
    def validateWidens(
        cur: org.apache.spark.sql.types.StructType): Unit =
      widens.foreach { w =>
        require(w.fieldNames().length == 1,
          s"nested column type changes are not supported: " +
            w.fieldNames().mkString("."))
        val name = w.fieldNames()(0)
        val f = cur.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$name' in '$t'"))
        require(TxnCatalog.isWidening(f.dataType, w.newDataType()),
          s"ALTER COLUMN TYPE on '$name' supports only lossless " +
            "parquet-readable widenings (byte/short/int->long, " +
            "float->double, decimal precision/scale growth); got " +
            s"${f.dataType.simpleString} -> " +
            w.newDataType().simpleString)
      }
    validateWidens(base)
    val consSets: Seq[(String, String)] =
      constraintProps(consAdds.map(_.constraint()).toArray).toSeq ++
        consDrops.map { d =>
          val key = TxnCatalog.ConstraintPrefix + d.name()
          val props = TxnCatalog.tableProperties(spark, root, t)
          require(d.ifExists() || props.contains(key),
            s"no constraint '${d.name()}' on '$t'")
          // the gen_<col> CHECK is the generated column's engine
          // invariant — it lives and dies with the column, not DDL
          val genCol = d.name().stripPrefix("gen_")
          require(!(d.name().startsWith("gen_") && props.contains(
            GraftCatalog.GeneratedPrefix + genCol)),
            s"'${d.name()}' enforces GENERATED column '$genCol' — it " +
              "cannot be dropped while the column is generated")
          key -> ""
        }
    val defaultSets0 = dflts.map { u =>
      require(u.fieldNames().length == 1,
        s"nested column defaults are not supported: " +
          u.fieldNames().mkString("."))
      val name = u.fieldNames()(0)
      require(base.fieldNames.contains(name), s"no column '$name' in '$t'")
      // DROP DEFAULT arrives as an empty/null new default; an empty
      // property value is setTableProperties' removal signal
      val sql = Option(u.newCurrentDefault()).map(_.getSql)
        .orElse(Option(u.newDefaultValue())).getOrElse("")
      defaultProp(name) -> sql
    }
    val defaultSets = defaultSets0 ++ consSets
    if (setProps.nonEmpty || defaultSets.nonEmpty) {
      val m = setProps.toMap ++ defaultSets
      m.get(PartitionSpec.Prop) match {
        // PARTITION-SPEC EVOLUTION via plain SQL (`ALTER TABLE t SET
        // TBLPROPERTIES ('graft.partition-spec' = 'days(ts)')`): route
        // through the validating path so a typo'd transform or column
        // is refused here, not at the next INSERT, and the new spec's
        // source columns auto-join the skipping config — same contract
        // as CREATE. Other keys in the same ALTER ride the same txn.
        case Some(specStr) => TxnCatalog.evolvePartitionSpec(
          spark, root, t, specStr, m - PartitionSpec.Prop)
        case None => TxnCatalog.setTableProperties(spark, root, t, m)
      }
    }
    if (adds.isEmpty && widens.isEmpty)
      return new GraftSqlTable(root, t, withDefaults(t, base))
    // CONDITIONAL commit, re-validated per attempt: two concurrent
    // ALTERs race the same deterministic batch=schema<txn+1> name, and
    // an unconditional commit would let the loser silently replace the
    // winner's schema entry (dropping its added column). The guard
    // makes the loser re-read — it then either fails cleanly ("column
    // already exists") or lands BESIDE the rival under the moved txn's
    // name. Rival non-ALTER commits (appends) just retry through.
    TxnCatalog.retryOnConflict { _ =>
      val snap = TxnCatalog.snapshot(spark, root)
        .getOrElse(throw new NoSuchTableException(ident))
      val cur = GraftLake.schemaOf(spark, root, t, snap)
        .getOrElse(throw new NoSuchTableException(ident))
      fresh.foreach(f => require(!cur.fieldNames.contains(f.name),
        s"column ${f.name} already exists"))
      validateWidens(cur) // re-check per attempt: a rival may have moved
      val newTypes = widens.map(w => w.fieldNames()(0) ->
        w.newDataType()).toMap
      val widened = StructType(cur.fields.toSeq.map(f =>
        newTypes.get(f.name).map(dt => f.copy(dataType = dt))
          .getOrElse(f)) ++ fresh)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], widened).repartition(1)
      val schemaUpdate = (t, s"batch=schema${snap.txn + 1}", empty)
      if (addDefaults.isEmpty)
        TxnCatalog.commitPartitionsHooked(spark, root,
          Seq(schemaUpdate), expectedTxn = Some(snap.txn))(() => ())
      else {
        // schema batch + BOTH default properties in ONE conditional
        // txn (the committed txn is snap.txn+1 by the CAS guard, so
        // the exists-default can name it before publishing)
        val typeOf = fresh.map(f => f.name -> f.dataType.sql).toMap
        val merged = (TxnCatalog.tableProperties(spark, root, t) ++
          addDefaults.map { case (c, sql) =>
            defaultProp(c) -> sql } ++
          addDefaults.map { case (c, sql) =>
            TxnCatalog.ExistsDefaultPrefix + c ->
              s"${snap.txn + 1};${typeOf(c)};$sql"
          }).filter(_._2.nonEmpty)
        val kv = spark.createDataFrame(
          spark.sparkContext.parallelize(
            merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
          StructType(Seq(
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType, nullable = false),
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType, nullable = false))))
        TxnCatalog.publish(spark, root,
          Seq(schemaUpdate, (t, TxnCatalog.PropsPartition, kv)),
          statsColumns = Nil,
          expectedTxn = Some(snap.txn),
          reconcile = identity)(() => ())
      }
      new GraftSqlTable(root, t, withDefaults(t, widened))
    }
  }

  /** `ALTER TABLE ... RENAME TO` — one zero-copy conditional manifest
    * commit ([[Branch.renameTable]]): clone-by-reference under the new
    * name + source drop in the same txn. */
  override def renameTable(from: Identifier, to: Identifier): Unit = {
    checkNs(from.namespace()); checkNs(to.namespace())
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(to.toString)
    Branch.renameTable(spark, root, from.name(), to.name())
    ()
  }

  // --- SupportsNamespaces (the single flat namespace) ---

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"))

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    checkNs(ns)
    if (ns.isEmpty) listNamespaces() else Array.empty
  }

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] = {
    checkNs(ns)
    util.Collections.emptyMap()
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("namespaces are fixed")

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespaces are fixed")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("namespaces are fixed")
}

/** One lake table behind the SQL catalog: V1-bridged read and write. */
private[storage] final class GraftSqlTable(
    private[storage] val root: String, private[storage] val table: String,
    tableSchema: StructType,
    private[storage] val asOfTxn: Option[Long] = None) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = table

  override def version(): String = asOfTxn.map(_.toString).orNull

  /** The table's declared HIDDEN-PARTITIONING transforms (if any) —
    * parsed back from the `graft.partition-spec` property so DESCRIBE
    * and `Table.partitioning()` consumers see the Iceberg-shaped spec. */
  override def partitioning(): Array[Transform] =
    specOf(SparkSession.active)
      .map(PartitionSpec.toTransforms)
      .getOrElse(Array.empty)

  private def specOf(s: SparkSession): Option[Seq[PartitionSpec.PTransform]] =
    TxnCatalog.snapshot(s, root)
      .flatMap(_.properties(table).get(PartitionSpec.Prop))
      .map(PartitionSpec.parse)

  /** Opt-in AUTO-COMPACT (Delta's autoOptimize.autoCompact): when
    * [[TxnCatalog.AutoCompactProp]] is declared and this append pushed
    * the accumulated `batch=` partition count to the threshold, fold
    * them right here with the table's declared stats/Bloom layout —
    * micro-batch ingest stops accreting small files without a
    * scheduled OPTIMIZE. Best-effort: the insert itself has committed;
    * a maintenance race lost to a rival compaction changes nothing. */
  private def autoCompactAfterAppend(s: SparkSession): Unit = {
    val props = TxnCatalog.tableProperties(s, root, table)
    props.get(TxnCatalog.AutoCompactProp).flatMap(_.toIntOption)
      .filter(_ >= 2).foreach { n =>
        val batches = TxnCatalog.partitions(s, root, table)
          .count(_.startsWith("batch="))
        def cols(p: String): Seq[String] = props.get(p).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        if (batches >= n)
          try GraftProcedures.optimizeFold(s, root, table, "batch=",
            cols(TxnCatalog.StatsColumnsProp),
            cols(TxnCatalog.BloomColumnsProp), maxBytes = 0L)
          catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** Report the table's enforced CHECK constraints (DESCRIBE, and
    * Spark's analyzer-side write validation). The auto `gen_<col>`
    * CHECKs are engine invariants enforced at COMMIT and are not
    * reported: Spark would otherwise validate them against the raw
    * insert input BEFORE the engine computes the generated column. */
  override def constraints(): Array[org.apache.spark.sql.connector
      .catalog.constraints.Constraint] = {
    val props = TxnCatalog.tableProperties(SparkSession.active, root, table)
    props.toSeq.sortBy(_._1).flatMap {
      case (k, v) if k.startsWith(TxnCatalog.ConstraintPrefix) =>
        val name = k.stripPrefix(TxnCatalog.ConstraintPrefix)
        val isGenInvariant = name.startsWith("gen_") &&
          props.contains(GraftCatalog.GeneratedPrefix +
            name.stripPrefix("gen_"))
        if (isGenInvariant) None
        else Some(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.check(name).predicateSql(v)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog.constraints
            .Constraint)
      case _ => None
    }.toArray
  }

  /** The table's IDENTITY columns: name -> (start, step, allowExplicit). */
  private def identitySpecs(
      s: SparkSession): Seq[(String, Long, Long, Boolean)] =
    TxnCatalog.tableProperties(s, root, table).collect {
      case (k, v) if k.startsWith(GraftCatalog.IdentityPrefix) =>
        val Array(st, sp, ae) = v.split(",", 3)
        (k.stripPrefix(GraftCatalog.IdentityPrefix),
          st.toLong, sp.toLong, ae.toBoolean)
    }.toSeq

  /** The identity watermark (last assigned value in `step`'s
    * direction) from MANIFEST column stats — driver-side text, zero
    * jobs, zero file reads. The column is auto-declared a stats column
    * at CREATE, so every commit measures it; a zero-row entry carries
    * nothing and is skipped. Falls back to one max/min aggregate job
    * only if some entry lacks the stat (a pre-identity external
    * commit). Data-derived on purpose: a TRUNCATE restarts the
    * sequence, an overwrite re-bases it — and any value a rival insert
    * just committed is visible because the caller re-reads under a
    * conditional-commit loop. */
  private def identityHwm(s: SparkSession, cur: TxnCatalog.Snapshot,
      c: String, step: Long): Option[Long] = {
    val entries = cur.dataEntries(table).map(_._2)
      .filterNot(_.rows.contains(0L))
    val picks = entries.map(e => e.stats.get(c).map(st =>
      if (step > 0) st.max else st.min))
    if (picks.forall(_.isDefined)) {
      val vals = picks.flatten.flatMap(v =>
        if (v.isEmpty) None else v.toLongOption)
      if (vals.isEmpty) None
      else Some(if (step > 0) vals.max else vals.min)
    } else {
      // exact fallback: one metadata-or-scan aggregate over the table
      import org.apache.spark.sql.functions.{max => fmax, min => fmin}
      val agg = if (step > 0) fmax(col(c)) else fmin(col(c))
      cur.read(table).flatMap { d =>
        val r = d.agg(agg.cast("long")).collect().head
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }
  }

  /** INSERT into a table with IDENTITY columns: assign values above
    * the watermark and commit CONDITIONALLY on the snapshot that
    * produced it — a rival insert makes the CAS fail, and the retry
    * re-reads the watermark, so two racing inserts can never assign
    * the same ids (Delta's optimistic-transaction guarantee). The
    * input materializes ONCE (`localCheckpoint`); `zipWithIndex`
    * assigns contiguous per-row offsets from the cached blocks (one
    * count pass over cache, not a source re-read), so ids are compact
    * — gaps appear only across retries and explicit-value inserts,
    * which SQL identity permits. GENERATED ALWAYS refuses non-null
    * arrivals at execution; BY DEFAULT passes them through. */
  private[storage] def insertWithIdentity(s: SparkSession, df0: DataFrame,
      specs: Seq[(String, Long, Long, Boolean)],
      overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.{when => fwhen}
    require(!TxnCatalog.snapshot(s, root)
      .exists(_.entries.contains((table, TxnCatalog.Whole))),
      s"'$table' holds a whole-table snapshot; IDENTITY inserts need " +
        "a partitioned table")
    val persisted = df0.localCheckpoint()
    try {
      val idxField = "__graft_idx"
      val rdd = persisted.rdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i) }
      val withIdx = s.createDataFrame(rdd, org.apache.spark.sql.types
        .StructType(persisted.schema.fields :+
          org.apache.spark.sql.types.StructField(idxField,
            org.apache.spark.sql.types.LongType, nullable = false)))
      TxnCatalog.retryOnConflict { _ =>
        val cur = TxnCatalog.snapshot(s, root).getOrElse(
          throw new IllegalStateException(s"empty catalog under $root"))
        val assigned = specs.foldLeft(withIdx) {
          case (d, (c, start, step, allowExplicit)) =>
            val hwm = identityHwm(s, cur, c, step)
            val base = hwm.map { h =>
              if (step > 0) math.max(h + step, start)
              else math.min(h + step, start)
            }.getOrElse(start)
            val computed = (lit(base) + col(idxField) * lit(step))
              .cast(d.schema(c).dataType)
            val onExplicit =
              if (allowExplicit) col(c)
              else org.apache.spark.sql.functions.raise_error(lit(
                s"cannot INSERT into GENERATED ALWAYS AS IDENTITY " +
                  s"column $c (it has no BY DEFAULT clause)"))
            d.withColumn(c, fwhen(col(c).isNull, computed)
              .otherwise(onExplicit))
        }
        val filled = fillGenerated(s, assigned.drop(idxField))
        val drops = if (overwrite)
          cur.partitions(table).map((table, _)) else Nil
        val spec = specOf(s).getOrElse(Nil)
        if (spec.isEmpty) {
          val part = s"batch=${java.util.UUID.randomUUID().toString.take(8)}"
          TxnCatalog.commitPartitionsHooked(s, root,
            Seq((table, part, filled)),
            drops = drops, expectedTxn = Some(cur.txn))(() => ())
        } else {
          // IDENTITY × HIDDEN PARTITIONING: ids were assigned above
          // (before the split), so the transform routing below sees
          // final rows; every group + the watermark evidence land in
          // ONE txn conditional on the snapshot that produced the
          // watermark — a rival insert fails the CAS and the retry
          // re-reads, exactly the single-batch contract. The filled
          // frame pins once: the group probe and per-group filters
          // must see identical rows.
          val pinned = filled.localCheckpoint()
          try {
            val g = PartitionSpec.groupExpr(spec, pinned.schema)
            val label = PartitionSpec.label(spec)
            val escape = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName _
            val nonce = java.util.UUID.randomUUID().toString.take(6)
            val groups = pinned.select(g.cast("string").as("__g"))
              .distinct().limit(17).collect()
              .map(r => Option(r.getString(0)))
            if (groups.isEmpty && drops.nonEmpty) {
              // zero-row OVERWRITE still truncates, conditionally
              TxnCatalog.commitPartitionsHooked(s, root, Nil,
                drops = drops, expectedTxn = Some(cur.txn))(() => ())
            } else if (groups.nonEmpty && groups.length <= 16) {
              val updates = groups.toSeq.map { v =>
                val part = s"b$nonce.$label=" + v.map(escape)
                  .getOrElse("__HIVE_DEFAULT_PARTITION__")
                val rows = v match {
                  case Some(x) => pinned.filter(g.cast("string") === x)
                  case None => pinned.filter(g.isNull)
                }
                (table, part, rows)
              }
              TxnCatalog.commitPartitionsHooked(s, root, updates,
                drops = drops, expectedTxn = Some(cur.txn))(() => ())
            } else if (groups.nonEmpty) {
              TxnCatalog.commitPartitioned(s, root, table, pinned,
                keyCol = label, keyExpr = Some(g),
                partPrefix = s"b$nonce.", drops = drops,
                expectedTxn = Some(cur.txn))
              ()
            }
          } finally { pinned.unpersist(); () }
        }
      }
    } finally { persisted.unpersist(); () }
  }

  /** GENERATED ALWAYS AS columns on the SQL INSERT path: rows arriving
    * with the column NULL get it computed (the omitted-column shape —
    * Spark fills NULL for a missing nullable column); rows carrying a
    * matching value pass through; a DISAGREEING value raises at
    * execution — the same contract Delta enforces, so `INSERT INTO t
    * SELECT * FROM t` round-trips but a corrupting write cannot land.
    * The cast pins the expression to the declared column type. */
  private def fillGenerated(s: SparkSession, df: DataFrame): DataFrame = {
    val gens = TxnCatalog.tableProperties(s, root, table).collect {
      case (k, v) if k.startsWith(GraftCatalog.GeneratedPrefix) =>
        k.stripPrefix(GraftCatalog.GeneratedPrefix) -> v
    }
    gens.foldLeft(df) { case (d, (c, sql)) =>
      if (!d.columns.contains(c)) d
      else {
        val computed = org.apache.spark.sql.functions.expr(sql)
          .cast(d.schema(c).dataType)
        d.withColumn(c,
          org.apache.spark.sql.functions.when(col(c).isNull, computed)
            .when(col(c) <=> computed, col(c))
            .otherwise(org.apache.spark.sql.functions.raise_error(
              org.apache.spark.sql.functions.concat(
                lit(s"value for generated column $c does not match " +
                  s"GENERATED ALWAYS AS ($sql): "),
                col(c).cast("string")))))
      }
    }
  }

  /** INSERT/OVERWRITE into a hidden-partitioned table: rows group by
    * the transform expression; ≤ 16 distinct groups commit one entry
    * per group through the publish path (stats + Blooms measured per
    * partition — the daily-insert shape; per-group cost is one staged
    * write job each, so the threshold stays small), more take the
    * O(1)-jobs [[TxnCatalog.commitPartitioned]] bulk path (per-group
    * stats; run ANALYZE for Blooms). Partition names are
    * `b<nonce>.<label>=<value>` — the nonce keeps repeated inserts into
    * one logical partition from colliding (appends land beside, never
    * replace; compaction folds them). Retries on a lost commit race. */
  private def insertSpec(s: SparkSession, df0: DataFrame,
      spec: Seq[PartitionSpec.PTransform], overwrite: Boolean): Unit = {
    // ONE materialization: the group probe and the per-group filters
    // below would otherwise re-evaluate the input — a nondeterministic
    // INSERT ... SELECT could change a row's group between the probe
    // and its filter and silently drop it
    val df = df0.localCheckpoint()
    try {
      val g = PartitionSpec.groupExpr(spec, df.schema)
      val label = PartitionSpec.label(spec)
      val escape =
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName _
      TxnCatalog.retryOnConflict { _ =>
        val nonce = java.util.UUID.randomUUID().toString.take(6)
        val drops =
          if (!overwrite) Nil
          else TxnCatalog.snapshot(s, root).toSeq
            .flatMap(_.partitions(table)).map((table, _))
        val groups = df.select(g.cast("string").as("__g")).distinct()
          .limit(17).collect().map(r => Option(r.getString(0)))
        if (groups.isEmpty && drops.isEmpty) ()
        else if (groups.length <= 16) {
          val updates = groups.toSeq.map { v =>
            val part = s"b$nonce.$label=" + v.map(escape)
              .getOrElse("__HIVE_DEFAULT_PARTITION__")
            val rows = v match {
              case Some(x) => df.filter(g.cast("string") === x)
              case None => df.filter(g.isNull)
            }
            (table, part, rows)
          }
          TxnCatalog.commitPartitions(s, root, updates, drops = drops)
        } else {
          TxnCatalog.commitPartitioned(s, root, table, df,
            keyCol = label, keyExpr = Some(g),
            partPrefix = s"b$nonce.", drops = drops)
        }
      }
    } finally { df.unpersist(); () }
  }

  /** `DELETE FROM ... WHERE` shapes with an exact storage-level
    * equivalent: no filter (truncate — drop every data partition),
    * a single-column equality or IN list (merge-on-read
    * [[TxnCatalog.deleteKeys]] — an O(keys) commit, no data rewritten),
    * a closed single-column range `c >= lo AND c <= hi`
    * (skipping-aware [[TxnCatalog.deleteWhere]] rewrite), and — for
    * every OTHER translatable predicate (multi-column, OR, NOT, LIKE
    * prefixes, null tests, open ranges, arbitrary conjunctions) — a
    * merge-on-read POSITIONAL delete ([[TxnCatalog.deletePositions]]:
    * one funnel scan marks (file, row) coordinates, no data rewritten).
    * Only predicates Spark could not push down as filters at all are
    * refused via canDeleteWhere, so Spark reports the shape unsupported
    * instead of silently deleting wrong rows. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val s = SparkSession.active
    deletePlan(filters).getOrElse(throw new UnsupportedOperationException(
      s"unsupported DELETE shape: ${filters.mkString(", ")}"))(s)
    ()
  }

  private def deletePlan(
      filters: Array[Filter]): Option[SparkSession => Unit] =
    filters.toSeq match {
      case Nil | Seq(sources.AlwaysTrue()) => Some { s =>
        // truncate leaves an EMPTY table (schema preserved), never a
        // missing one: one commit swaps every data partition for a
        // zero-row batch
        val empty = s.createDataFrame(
          s.sparkContext.emptyRDD[Row], tableSchema).repartition(1)
        TxnCatalog.snapshot(s, root).foreach { snap =>
          if (snap.entries.contains((table, TxnCatalog.Whole)))
            TxnCatalog.commit(s, root, Seq((table, empty)))
          else
            TxnCatalog.commitPartitions(s, root,
              Seq((table, s"batch=trunc${snap.txn + 1}", empty)),
              drops = snap.partitions(table).map((table, _)))
        }
        ()
      }
      // equality shapes ride merge-on-read deleteKeys, which refuses
      // whole-table snapshots — report those UNSUPPORTED up front so
      // Spark errors at planning, not mid-execution
      case Seq(sources.EqualTo(c, v)) if v != null && !holdsWhole => Some { s =>
        TxnCatalog.deleteKeys(s, root, table, c, keysDf(s, c, Seq(v)))
        ()
      }
      case Seq(sources.In(c, vs)) if vs.nonEmpty && vs.forall(_ != null) &&
          !holdsWhole =>
        Some { s =>
          TxnCatalog.deleteKeys(s, root, table, c, keysDf(s, c, vs.toSeq))
          ()
        }
      case Seq(sources.GreaterThanOrEqual(c1, lo),
          sources.LessThanOrEqual(c2, hi)) if c1 == c2 => Some { s =>
        TxnCatalog.deleteWhere(s, root, table, c1, lo, hi)
        ()
      }
      case Seq(sources.LessThanOrEqual(c2, hi),
          sources.GreaterThanOrEqual(c1, lo)) if c1 == c2 => Some { s =>
        TxnCatalog.deleteWhere(s, root, table, c1, lo, hi)
        ()
      }
      // any other translatable predicate: positional merge-on-read
      // delete (deletion vector) — the filters array is a conjunction
      case conj if conj.nonEmpty && !holdsWhole =>
        conj.map(filterColumn).reduceLeftOption[Option[SqlColumn]] {
          case (Some(a), Some(b)) => Some(a && b)
          case _ => None
        }.flatten.map { cond => (s: SparkSession) =>
          TxnCatalog.deletePositions(s, root, table, cond)
          ()
        }
      case _ => None
    }

  /** A V1 pushed [[sources.Filter]] as the [[Column]] predicate it
    * promises — exact SQL semantics (null-safe where the filter is),
    * None for shapes without a faithful Column rendering. */
  private def filterColumn(f: sources.Filter): Option[SqlColumn] = f match {
    case sources.EqualTo(c, v)            => Some(col(c) === lit(v))
    case sources.EqualNullSafe(c, v)      => Some(col(c) <=> lit(v))
    case sources.GreaterThan(c, v)        => Some(col(c) > lit(v))
    case sources.GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case sources.LessThan(c, v)           => Some(col(c) < lit(v))
    case sources.LessThanOrEqual(c, v)    => Some(col(c) <= lit(v))
    case sources.In(c, vs)                => Some(col(c).isin(vs.toSeq: _*))
    case sources.IsNull(c)                => Some(col(c).isNull)
    case sources.IsNotNull(c)             => Some(col(c).isNotNull)
    case sources.StringStartsWith(c, v)   => Some(col(c).startsWith(v))
    case sources.StringEndsWith(c, v)     => Some(col(c).endsWith(v))
    case sources.StringContains(c, v)     => Some(col(c).contains(v))
    case sources.AlwaysTrue()             => Some(lit(true))
    case sources.AlwaysFalse()            => Some(lit(false))
    case sources.And(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- filterColumn(l); b <- filterColumn(r)) yield a || b
    case sources.Not(inner) => filterColumn(inner).map(!_)
    case _ => None
  }

  private def holdsWhole: Boolean =
    TxnCatalog.snapshot(SparkSession.active, root)
      .exists(_.entries.contains((table, TxnCatalog.Whole)))

  /** The typed key-list frame an equality DELETE subtracts (the
    * filter's JVM values already carry the column's external type). */
  private def keysDf(s: SparkSession, c: String, vs: Seq[Any]): DataFrame =
    s.createDataFrame(
      s.sparkContext.parallelize(vs.map(Row(_)), 1),
      StructType(Seq(
        org.apache.spark.sql.types.StructField(c, tableSchema(c).dataType))))

  override def schema(): StructType = tableSchema

  /** [[TxnCatalog.tableProperties]] surfaced to SQL —
    * `SHOW TBLPROPERTIES` lists owner tags and `constraint.*` CHECKs. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    TxnCatalog.tableProperties(SparkSession.active, root, table)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION is the analyzer gate for `MERGE WITH
    * SCHEMA EVOLUTION`: ResolveMergeIntoSchemaEvolution diffs the
    * source schema against the target and drives the ADD-COLUMN
    * TableChanges through [[GraftCatalog.alterTable]] (one zero-row
    * widened-schema commit; old rows read the new columns as null),
    * then re-resolves the merge against the evolved relation. Type
    * CONFLICTS fail in alterTable/analysis, nothing half-applies. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = tableSchema

      // every filter stays residual (Spark re-applies post-scan); the
      // bridge uses them only to PRUNE inside the v1 frame
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs; fs
      }
      override def pushedFilters(): Array[Filter] = filters

      override def pruneColumns(s: StructType): Unit =
        required = if (s.isEmpty) StructType(tableSchema.take(1)) else s

      override def build(): Scan =
        new GraftV1Scan(root, table, required, filters, asOfTxn)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(df0: DataFrame, ow: Boolean): Unit = {
              val s = df0.sparkSession
              val idents = identitySpecs(s)
              if (idents.nonEmpty) {
                insertWithIdentity(s, df0, idents, overwrite || ow)
                return
              }
              val df = fillGenerated(s, df0)
              val snap = TxnCatalog.snapshot(s, root)
              // tables created/filled through the catalog stay
              // PARTITIONED; a whole-table snapshot (external
              // TxnCatalog.commit) takes the whole-table fallbacks
              val isWhole = snap.exists(
                _.entries.contains((table, TxnCatalog.Whole)))
              val spec = specOf(s).getOrElse(Nil)
              if (spec.nonEmpty && !isWhole) {
                // HIDDEN PARTITIONING: route rows into transform-derived
                // partitions. Few distinct groups (the common daily /
                // streaming insert) stage per-group through the publish
                // path — full stats AND Blooms per partition; a backfill
                // touching many groups takes the O(1)-jobs bulk path
                // (stats per group; `CALL system.analyze` backfills
                // Blooms). Names carry a nonce so repeated inserts into
                // the same day/bucket land BESIDE each other (pruning
                // reads stats, never names); overwrite drops every live
                // partition in the same txn.
                insertSpec(s, df, spec, overwrite || ow)
              } else if (overwrite || ow) {
                if (isWhole || snap.isEmpty)
                  TxnCatalog.commit(s, root, Seq((table, df)))
                else
                  // atomic replace: the new batch lands and every live
                  // data partition drops in ONE manifest commit; `~p`
                  // properties survive (internal entries aren't data)
                  TxnCatalog.commitPartitions(s, root,
                    Seq((table,
                      s"batch=${java.util.UUID.randomUUID().toString.take(8)}",
                      df)),
                    drops = snap.get.partitions(table).map((table, _)))
              } else {
                if (isWhole) {
                  // read-union-commit is a read-modify-write: make it
                  // CONDITIONAL on the read snapshot and retry on a
                  // rival commit, or two INSERTs silently lose one
                  TxnCatalog.retryOnConflict { _ =>
                    val cur = TxnCatalog.snapshot(s, root).get
                    TxnCatalog.commit(s, root, Seq((table,
                      cur.read(table).get.unionByName(df))),
                      expectedTxn = Some(cur.txn))
                  }
                } else {
                  TxnCatalog.appendBatch(s, root, table,
                    java.util.UUID.randomUUID().toString.take(8), df)
                  autoCompactAfterAppend(s)
                }
              }
              ()
            }
          }
      }
    }
}

/** The read bridge: a [[V1Scan]] whose v1 relation wraps the
  * Catalyst-planned [[GraftLake.table]] frame — filters translate back
  * to Columns and land ON the manifest-indexed frame, so partition
  * pruning happens inside exactly as on the DataFrame path. */
private[storage] final class GraftV1Scan(
    private[storage] val root: String, private[storage] val table: String,
    required: StructType, private[storage] val filters: Array[Filter],
    private[storage] val asOfTxn: Option[Long] = None) extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Join-planning statistics from the MANIFEST (zero file reads):
    * row count when every live entry carries one (any stats-measured
    * commit does), size = rows × the PRUNED schema's width — so a SQL
    * join against a small lake table auto-broadcasts instead of
    * defaulting to `defaultSizeInBytes` (= never broadcast). Row counts
    * ignore pending merge-on-read delete keys — an overestimate, which
    * for broadcast decisions errs safe. Absent counts report empty and
    * Spark falls back to its default (conservative: no broadcast). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    val rows: Option[Long] = scala.util.Try {
      val spark = SparkSession.active
      asOfTxn.map(TxnCatalog.snapshotAt(spark, root, _))
        .orElse(TxnCatalog.snapshot(spark, root))
        .flatMap(_.rowCount(table))
    }.toOption.flatten
    val width = math.max(8L,
      required.map(_.dataType.defaultSize.toLong).sum + 8L)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong = rows
        .map(r => OptionalLong.of(r * width)).getOrElse(OptionalLong.empty())
      override def numRows(): OptionalLong = rows
        .map(OptionalLong.of).getOrElse(OptionalLong.empty())
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
        val spark = context.sparkSession
        val base = asOfTxn
          .map(GraftLake.tableAsOf(spark, root, table, _))
          .getOrElse(GraftLake.table(spark, root, table))
          .getOrElse(throw new NoSuchTableException(Seq(table)))
        val pruned = filters.flatMap(GraftV1Scan.toColumn)
          .foldLeft(base)(_ filter _)
        pruned.select(required.fieldNames.map(col).toSeq: _*).rdd
      }
    }
    rel.asInstanceOf[T]
  }
}

/** A read-only metadata table over a driver-built frame (see
  * [[GraftCatalog.loadTable]]'s `metaTable`): pruning and translatable
  * filters push into the inner plan; everything stays residual so
  * Spark re-applies it — the same conservative bridge the data tables
  * use. */
private[storage] final class GraftMetaTable(tname: String, df: DataFrame)
    extends Table with SupportsRead {

  override def name(): String = tname
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
        with SupportsPushDownRequiredColumns {
      private var filters: Array[Filter] = Array.empty
      private var required: StructType = df.schema

      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs; fs
      }
      override def pushedFilters(): Array[Filter] = filters
      override def pruneColumns(s: StructType): Unit =
        required = if (s.isEmpty) StructType(df.schema.take(1)) else s

      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val rel = new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = required
            override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
              val pruned = filters.flatMap(GraftV1Scan.toColumn)
                .foldLeft(df)(_ filter _)
              pruned.select(required.fieldNames.map(col).toSeq: _*).rdd
            }
          }
          rel.asInstanceOf[T]
        }
      }
    }
}

private[storage] object GraftCatalog {
  /** Property-key prefix for GENERATED ALWAYS AS column expressions. */
  val GeneratedPrefix = "graft.generated."
  /** Property-key prefix for IDENTITY columns: `start,step,allowExplicit`. */
  val IdentityPrefix = "graft.identity."
}

private[storage] object GraftV1Scan {
  /** sources.Filter -> Column, best effort: an untranslatable shape
    * just isn't pushed (Spark re-applies every filter post-scan). */
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case sources.StringContains(a, p) => Some(col(a).contains(p))
    case sources.And(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

private[storage] object GraftStagedTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** The staged side of atomic CTAS/RTAS: buffers the SELECT's DataFrame
  * at write time (nothing executes until commit), then
  * `commitStagedChanges` publishes data + schema + properties as ONE
  * conditional manifest txn via
  * [[TxnCatalog.createTableWithProperties]] — Create refuses a table
  * that appeared since staging (CAS-raced), Replace/CreateOrReplace
  * supersede every old entry in the same txn. */
private[storage] final class GraftStagedTable(
    root: String, table: String, tableSchema: StructType,
    props: Map[String, String], mode: GraftStagedTable.Mode)
    extends Table with SupportsWrite with StagedTable {

  @volatile private var pending: Option[DataFrame] = None

  override def name(): String = table
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // CTAS first write
      override def build(): Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(df: DataFrame, ow: Boolean): Unit = {
              pending = Some(df)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    // an empty frame must still write one file: the schema rides the
    // parquet footer (same trick as CREATE TABLE's init partition)
    val df = pending.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tableSchema)
        .repartition(1))
    val replace = mode match {
      case GraftStagedTable.Create => false
      case GraftStagedTable.Replace => true
      case GraftStagedTable.CreateOrReplace => true
    }
    TxnCatalog.createTableWithProperties(spark, root, table,
      s"batch=ctas${java.util.UUID.randomUUID().toString.take(8)}",
      df, props, replace = replace)
    ()
  }

  override def abortStagedChanges(): Unit = pending = None
}

/** [[graft.plans.MetadataOnlyAgg]]'s view into the SQL-catalog read
  * path: the (root, table, asOfTxn) coordinates behind a DSv2 relation
  * or scan over a graft lake table, so the rule can fold ungrouped
  * count/min/max over `SELECT ... FROM cat.tbl` to manifest metadata
  * exactly like it does for the DataFrame path's
  * [[ManifestFileIndex]]-backed relations. `scanCoords` refuses a scan
  * with PUSHED FILTERS — those prune inside the v1 bridge, so a bare
  * ScanRelation above one is not the bare table. */
private[graft] object MetadataAggHook {

  def tableCoords(t: org.apache.spark.sql.connector.catalog.Table)
      : Option[(String, String, Option[Long])] = t match {
    case g: GraftSqlTable => Some((g.root, g.table, g.asOfTxn))
    case _ => None
  }

  /** Coordinates of a scan with NO pushed predicates (the bare table)
    * — the conservative subset of [[scanCoordsWithFilters]]. */
  def scanCoords(s: org.apache.spark.sql.connector.read.Scan)
      : Option[(String, String, Option[Long])] =
    scanCoordsWithFilters(s).collect {
      case (coords, pushed) if pushed.isEmpty => coords
    }

  /** Coordinates PLUS the pushed source filters — the shape the
    * filtered-fold arm needs: a scan carrying pushed predicates is not
    * the bare table, but when every predicate references only
    * constant-per-entry columns the rule re-derives the surviving
    * entry set itself (same bind-and-eval as the pre-pushdown Filter
    * arm) instead of refusing. */
  def scanCoordsWithFilters(s: org.apache.spark.sql.connector.read.Scan)
      : Option[((String, String, Option[Long]),
        Array[org.apache.spark.sql.sources.Filter])] = s match {
    case v: GraftV1Scan => Some(((v.root, v.table, v.asOfTxn), v.filters))
    case w: org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper =>
      scanCoordsWithFilters(w.v1Scan)
    case _ => None
  }
}
