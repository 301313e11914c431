package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table snapshot transactions over bare Parquet — the engine's
  * one commit protocol: a writer that must update one or SEVERAL tables
  * so that readers see either all of the new versions or none of them (the
  * reference's catalog + lineage pair updated inside one MySQL
  * transaction, `mysql_process.py:53-56` and `:83-91`, is exactly this
  * shape).
  *
  * Manifest entries are PARTITION-grain: the key is (table, partition),
  * where unpartitioned catalog tables use the reserved whole-table
  * partition `-`. This is what makes the protocol 100 TB-safe for fact
  * tables — updating 1 of N partitions stages and commits ONLY that
  * partition's data (no whole-table copy), while readers stay
  * snapshot-consistent across partitions AND tables because one manifest
  * still names every live (table, partition, dataDir) triple.
  *
  * Layout under one catalog root:
  * {{{
  *   <root>/<table>/v=<n>.<nonce>/               — whole-table snapshots
  *   <root>/<table>/<partition>/v=<n>.<nonce>/   — partition snapshots
  *   <root>/_txns/<n>                            — committed manifest, txn n
  * }}}
  * A manifest is the FULL (table, partition)→dataDir mapping of the
  * catalog at txn n (updated entries get their new staging dirs, untouched
  * entries carry their previous dirs forward). The manifest rename is the
  * single commit point for the whole transaction:
  *  1. every updated entry's new snapshot is written COMPLETELY into its
  *     own unique staging dir (no writer ever touches another writer's
  *     dirs);
  *  2. one manifest file listing every live entry is published via
  *     create-temp + atomic rename to `_txns/<n>`. Winners are detected
  *     by read-back (HDFS rename-to-existing fails atomically; local FS
  *     needs the content check); the loser deletes only its own staging
  *     dirs and throws — committed data is never touched;
  *  3. readers resolve max committed txn once and read ONLY dirs that its
  *     manifest names: a reader can never observe table A at txn n and
  *     table B at txn n−1, or partition P at n and partition Q at n−1,
  *     no matter how the writer crashed. [[snapshot]] pins that one
  *     resolution across any number of read calls; the per-call readers
  *     re-resolve latest each call.
  *
  * Scale posture: manifests are driver-side text — one line per LIVE
  * (table, partition), not per version, so a 10 000-partition fact table
  * costs a ~1 MB manifest rewrite per commit (KB for catalogs); data
  * reads are explicit-path Parquet scans with full pushdown, and
  * partition-pruned reads ([[readPartition]]) touch exactly one entry's
  * files. Whole-table snapshots remain the right trade for catalog-sized
  * tables; fact tables commit at partition grain.
  *
  * Stats grain — a DECIDED design point, not an omission: manifests
  * carry PER-PARTITION column stats where Delta/Iceberg carry per-FILE.
  * Partition-grain is enough here because the two layers compose: the
  * manifest prunes whole partitions at driver cost (zero file reads),
  * and WITHIN a surviving partition the skipping predicate is built
  * type-aligned (see [[rangePredicate]]) so it reaches the parquet scan
  * as `PushedFilters` and the READER prunes row groups against each
  * file's own footer stats — which is file-grain skipping, delegated to
  * where the per-file metadata already lives instead of duplicated into
  * the manifest. [[clusterPartitionsN]] keeps both layers tight (tiles
  * bound the manifest stats; Z-sorted rows bound each row group), and
  * `filesPerBucket` range-splits big tiles into files covering disjoint
  * Z-ranges, so footer pruning stays sharp as files multiply. The cost
  * of per-file manifest entries (file-count-proportional manifest lines,
  * rewritten every commit) would buy only what footers already provide;
  * if partitions ever grow to thousands of files each, the extension
  * point is a per-file stats list on [[Entry]] behind the same parse.
  */
object TxnCatalog {

  /** Reserved partition key for whole-table (unpartitioned) snapshots. */
  private[storage] val Whole = "-"

  /** Column name the key lists of equality-delete entries are stored
    * under ([[deleteKeys]]) — fixed so readers can anti-join without
    * per-entry schema discovery and without colliding with data
    * columns. */
  val DeleteKeyColumn = "__graft_delete_key"

  /** Sentinel stored in [[Entry.deleteKey]] marking a POSITIONAL delete
    * entry (a deletion vector — [[deletePositions]]): the entry's
    * parquet holds (file path, row index) pairs to subtract instead of
    * equality keys. `~` is illegal in column names by partition/table
    * checks, so the marker can never collide with a real key column. */
  val DeletePosMarker = "~pos"

  /** Column names a deletion-vector entry stores its positions under:
    * the absolute file path exactly as Spark's `_metadata.file_path`
    * renders it, and the row's ordinal within that file
    * (`_metadata.row_index`). Both sides of the read-time anti-join come
    * from the same `_metadata` rendering, so membership is exact. */
  val DvPathColumn = "__graft_dv_path"
  val DvPosColumn = "__graft_dv_pos"

  private[storage] def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def txnsDir(root: String) = s"$root/_txns"

  /** Dir-field prefix marking a REFERENCE entry: the entry's data lives
    * at another table's physical location (`~ref:<tab>/[<part>/]<dir>`,
    * root-relative). How [[graft.storage.Branch]] forks and publishes
    * tables with ZERO data movement — a manifest line under one table
    * name pointing at bytes staged under another. Resolution happens
    * here, the single path-resolution point every reader, stats pass,
    * and [[vacuum]] goes through; [[vacuum]]'s liveness set is
    * path-based, so a physical dir stays alive while ANY surviving
    * manifest references it under ANY name. */
  private[storage] val RefPrefix = "~ref:"

  /** Dir-field prefix marking an EXTERNAL entry: data imported BY
    * REFERENCE from outside the root (`~ext:<absolute path>` —
    * [[Importer.addFiles]]). Resolves here like every entry;
    * [[vacuum]] never deletes external paths (the lake does not own
    * them — dropping the last reference merely forgets them). */
  private[storage] val ExtPrefix = "~ext:"

  /** Optional header INSIDE an external dir marking a HIVE-PARTITIONED
    * import: `~ext:hive=<n>;<absolute path>` — the path's last `n`
    * segments are Hive `key=value` partition dirs whose files do NOT
    * physically carry those columns; both read stacks synthesize them
    * per entry ([[Importer.addFiles]] records the column types in
    * [[HivePartColsProp]]). The `~ext:` prefix is shared so every
    * externality rule applies unchanged: [[vacuum]] never deletes,
    * branches/clones carry the dir verbatim, [[entryPath]] resolves to
    * the leaf directory. An absolute path always starts with '/', so
    * the header is unambiguous. */
  private[storage] val ExtHiveHeader = "hive="

  /** Number of trailing `key=value` partition segments of a
    * hive-imported external dir; 0 for every other dir shape. */
  private[storage] def extHiveDepth(dir: String): Int =
    if (!dir.startsWith(ExtPrefix)) 0
    else {
      val rest = dir.stripPrefix(ExtPrefix)
      if (!rest.startsWith(ExtHiveHeader)) 0
      else rest.substring(ExtHiveHeader.length, rest.indexOf(';'))
        .toIntOption.getOrElse(0)
    }

  /** The synthesized (column, value) pairs of a hive-imported external
    * dir, in path order — values Hive-unescaped, the
    * `__HIVE_DEFAULT_PARTITION__` sentinel as None (reads NULL). Empty
    * for every other dir shape. */
  private[storage] def extHiveValues(dir: String): Seq[(String, Option[String])] = {
    val n = extHiveDepth(dir)
    if (n == 0) Seq.empty
    else entryPath("", "", "", dir).split('/').takeRight(n).toSeq.map { seg =>
      val i = seg.indexOf('=')
      val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(i + 1))
      (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(0, i)),
        if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
    }
  }

  private[storage] def entryPath(root: String, tab: String, part: String, dir: String) =
    if (dir.startsWith(ExtPrefix)) {
      val rest = dir.stripPrefix(ExtPrefix)
      if (rest.startsWith(ExtHiveHeader)) rest.substring(rest.indexOf(';') + 1)
      else rest
    }
    else if (dir.startsWith(RefPrefix)) s"$root/${dir.stripPrefix(RefPrefix)}"
    else if (part == Whole) s"$root/$tab/$dir" else s"$root/$tab/$part/$dir"

  private[storage] def checkTableName(t: String): Unit =
    require(t.nonEmpty && !t.contains('/') && !t.contains('\t') &&
      !t.startsWith("_") && !t.startsWith("."), s"illegal table name '$t'")

  private def checkPartitionName(p: String): Unit =
    require(p.nonEmpty && p != Whole && !p.contains('/') && !p.contains('\t') &&
      !p.startsWith("_") && !p.startsWith(".") && !p.startsWith("v=") &&
      !p.startsWith("~"), // "~" is reserved for internal entries
      s"illegal partition name '$p'")

  /** Every committed txn whose manifest is still on disk, ascending —
    * the time-travel axis for [[snapshotAt]]. [[vacuum]] trims the old
    * end (outside its keep/minAgeMs window). */
  def txns(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val dir = new Path(txnsDir(root))
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .sorted
  }

  /** Highest committed transaction, or None for an empty catalog. */
  def currentTxn(spark: SparkSession, root: String): Option[Long] =
    txns(spark, root).lastOption

  /** Per-column min/max a manifest entry records for data skipping.
    * `kind` is "n" (numeric — compared as Double), "s" (string —
    * compared lexically), or "t" (timestamp — min/max carried as
    * micros-since-epoch, compared against Timestamp/Instant bounds);
    * min/max are the column's non-null extremes in that entry's data
    * files, rendered as strings. Entries or columns without stats are
    * simply read (pruning is always conservative).
    *
    * `bloom` (optional, version-prefixed base64 — see `BloomV2`) is a
    * Bloom filter over the column's values under a canonical string
    * rendering — the equality-predicate complement to min/max: a point
    * lookup on a high-cardinality key (content hash, URL, uuid) prunes
    * nothing by range when every partition spans the full lexical range,
    * but a per-partition Bloom answers "definitely absent" at manifest
    * cost. False positives only cost a read; false negatives cannot
    * happen — probes that can't reproduce the build rendering exactly
    * never prune — so pruning stays conservative. */
  final case class ColStat(kind: String, min: String, max: String,
      bloom: String = "", nulls: Option[Long] = None,
      sum: Option[String] = None)

  /** One live manifest entry: the snapshot dir plus optional column
    * stats. Stats ride the manifest line, so they carry forward with the
    * entry and cost nothing to consult at read time (driver-side text —
    * the manifest IS the stats index, the same trade Delta/Iceberg make
    * with file-level stats in the log).
    *
    * `dataTxn` is the highest txn whose DATA this entry contains. For an
    * ordinary commit it is the committing txn itself and is carried
    * implicitly by the `v=<n>.<nonce>` dir name; pure REORGANIZATIONS
    * (compaction, clustering) write it explicitly as the max over their
    * source entries — the entry is new, its data is not. This is what
    * lets [[TxnCatalog.diffData]] hand incremental consumers exactly the
    * entries with unseen rows while OPTIMIZE rewrites pass through
    * invisibly (Delta's `dataChange=false`, made precise: skippability is
    * decided against the CONSUMER's own txn, not a per-commit flag).
    *
    * `rows` is the entry's exact row count, recorded whenever stats were
    * measured (it rides the same aggregate pass — free): COUNT(*) over a
    * table whose entries all carry it is a manifest-cost metadata answer
    * ([[Snapshot.rowCount]]), the same trade Delta/Iceberg make with
    * per-file counts in the log. */
  final case class Entry(dir: String, stats: Map[String, ColStat] = Map.empty,
      dataTxn: Option[Long] = None, rows: Option[Long] = None,
      deleteKey: Option[String] = None, bytes: Option[Long] = None)

  /** The highest txn whose data `e` contains: the explicit reorg-carried
    * value, else the creating txn parsed from the dir name; unparseable
    * dirs answer Long.MaxValue so unknown entries always count as new
    * (conservative for consumers — a spurious re-read, never a miss). */
  private[storage] def entryDataTxn(e: Entry): Long =
    e.dataTxn.getOrElse(
      e.dir.stripPrefix("v=").takeWhile(_ != '.').toLongOption
        .getOrElse(Long.MaxValue))

  /** Subtract a list of applicable delete entries — `(partition, txn,
    * key column | [[DeletePosMarker]], keys path)` — from `df`, the
    * one anti-join funnel BOTH read stacks share
    * ([[Snapshot.readSelected]] on direct parquet frames,
    * [[GraftLake.composeWithDeletes]] on Catalyst-planned relations).
    * Equality entries anti-join their key list on the key column; an
    * entry whose schema lacks the column is untouched (its rows can't
    * equal any key). Positional entries (deletion vectors) anti-join on
    * (`_metadata.file_path`, `_metadata.row_index`) — projected onto
    * the frame only when a DV actually applies (or `keepPos` asks for
    * them), so the common no-DV path plans unchanged — and the
    * projection is dropped again unless `keepPos`. */
  private[storage] def applyDeleteEntries(spark: SparkSession,
      df: DataFrame, dels: Seq[(String, Long, String, String)],
      keepPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val needPos = keepPos || dels.exists(_._3 == DeletePosMarker)
    val base =
      if (!needPos) df
      else df.select(col("*"),
        col("_metadata.file_path").as(DvPathColumn),
        col("_metadata.row_index").as(DvPosColumn))
    val out = dels.foldLeft(base) { case (acc, (_, _, keyCol, delPath)) =>
      if (keyCol == DeletePosMarker) {
        val dv = readParquetCached(spark, Seq(delPath))
          .select(col(DvPathColumn).as("__graft_dv_path_r"),
            col(DvPosColumn).as("__graft_dv_pos_r"))
        acc.join(dv,
          acc(DvPathColumn) === dv("__graft_dv_path_r") &&
            acc(DvPosColumn) === dv("__graft_dv_pos_r"), "left_anti")
      } else if (!acc.columns.contains(keyCol)) acc
      else {
        val keys = readParquetCached(spark, Seq(delPath))
        acc.join(keys, acc(keyCol) === keys(DeleteKeyColumn), "left_anti")
      }
    }
    if (needPos && !keepPos) out.drop(DvPathColumn, DvPosColumn) else out
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** `col=kind:min:max[:bloom];col2=...` with URL-escaped names/values
    * (keeps the field free of tabs, newlines, and the separators
    * themselves); the base64 bloom rides as an optional 4th component,
    * so stat-only lines from older manifests parse unchanged. */
  private def statsField(stats: Map[String, ColStat]): String =
    stats.toSeq.sortBy(_._1).map { case (c, st) =>
      val base = s"${enc(c)}=${st.kind}:${enc(st.min)}:${enc(st.max)}"
      // the null count rides as a 5th component and the exact column
      // SUM as a 6th; each forces the (possibly empty) components
      // before it so positions stay fixed
      st.sum match {
        case Some(sm) =>
          s"$base:${enc(st.bloom)}:${st.nulls.fold("")(_.toString)}:${enc(sm)}"
        case None => st.nulls match {
          case Some(n) => s"$base:${enc(st.bloom)}:$n"
          case None =>
            if (st.bloom.isEmpty) base else s"$base:${enc(st.bloom)}"
        }
      }
    }.mkString(";")

  private def parseStats(field: String): Map[String, ColStat] =
    field.split(';').filter(_.nonEmpty).map { item =>
      // bounded splits: an empty-string min/max must survive the parse
      val Array(name, rest) = item.split("=", 2)
      rest.split(":", 6) match {
        case Array(kind, mi, ma)     => dec(name) -> ColStat(kind, dec(mi), dec(ma))
        case Array(kind, mi, ma, bl) => dec(name) -> ColStat(kind, dec(mi), dec(ma), dec(bl))
        case Array(kind, mi, ma, bl, nn) =>
          dec(name) -> ColStat(kind, dec(mi), dec(ma), dec(bl), nn.toLongOption)
        case Array(kind, mi, ma, bl, nn, sm) =>
          dec(name) -> ColStat(kind, dec(mi), dec(ma), dec(bl),
            nn.toLongOption, Some(dec(sm)))
        case _ => throw new java.io.IOException(s"corrupt stats item '$item'")
      }
    }.toMap

  /** Entry properties beyond dir + stats ride a 5th `k=v,k=v` field:
    * `d` = reorg [[Entry.dataTxn]], `n` = [[Entry.rows]], `e` = the
    * URL-escaped key column of an EQUALITY-DELETE entry (the entry's
    * parquet holds keys to subtract, not data — [[Entry.deleteKey]]),
    * `b` = [[Entry.bytes]] (the entry's physical parquet bytes —
    * byte-budget stream admission, small-file audits). Unknown keys
    * are ignored on read (forward compatibility); the field is
    * written only when at least one property is set. */
  private def propsField(e: Entry): String =
    (e.dataTxn.map(v => s"d=$v") ++ e.rows.map(v => s"n=$v") ++
      e.deleteKey.map(c => s"e=${enc(c)}") ++
      e.bytes.map(v => s"b=$v"))
      .mkString(",")

  private def parseProps(field: String)
      : (Option[Long], Option[Long], Option[String], Option[Long]) = {
    val kv = field.split(',').filter(_.nonEmpty).flatMap { item =>
      item.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
    (kv.get("d").flatMap(_.toLongOption), kv.get("n").flatMap(_.toLongOption),
      kv.get("e").map(dec), kv.get("b").flatMap(_.toLongOption))
  }

  /** The (table, partition)→[[Entry]] mapping a committed txn's manifest
    * records. Two-field lines (pre-partition manifests) parse as
    * whole-table entries; three-field lines as stat-less entries;
    * five-field lines carry the entry props after the (possibly empty)
    * stats field. */
  private def manifest(
      f: org.apache.hadoop.fs.FileSystem, root: String,
      txn: Long): Map[(String, String), Entry] = {
    val in = f.open(new Path(txnsDir(root), txn.toString))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.linesIterator.filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(t, d)       => (t, Whole) -> Entry(d)
        case Array(t, p, d)    => (t, p) -> Entry(d)
        case Array(t, p, d, s) => (t, p) -> Entry(d, parseStats(s))
        case Array(t, p, d, s, pr) =>
          val (dataTxn, rows, delKey, bytes) = parseProps(pr)
          (t, p) -> Entry(d, parseStats(s), dataTxn, rows, delKey, bytes)
        case _ => throw new java.io.IOException(
          s"corrupt manifest line in txn $txn: '$line'")
      }
    }.toMap
  }

  /** Process-wide cache for [[readPropsDirect]]: an entry dir is
    * immutable once committed (every write is temp+rename into a
    * fresh `v=<txn>.<nonce>` dir), so a path's content can never
    * change under the cache. Values are KB-scale string maps. */
  private val propsDirCache =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  /** Process-wide PARQUET-SCHEMA cache for manifest-named entry dirs,
    * keyed by the sorted path set. Committed entry dirs are immutable,
    * so the (possibly mergeSchema-unioned) schema of a path set can
    * never change under the cache — and a cache hit turns Spark's
    * per-read schema-INFERENCE job (a cluster round trip per
    * `spark.read.parquet` call, paid even for KB files) into a plain
    * map lookup. Data reads still run as normal jobs; only the
    * footer-sniffing prelude is skipped. */
  private val pathSchemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  /** `spark.read.parquet(paths)` with the inferred schema cached by
    * path set; `mergeSchema` semantics are preserved because a cached
    * multi-path schema IS the union schema the first read inferred
    * (explicit-schema reads fill missing columns with nulls, exactly
    * as mergeSchema rendered them). */
  private[storage] def readParquetCached(spark: SparkSession,
      paths: Seq[String]): DataFrame = {
    if (pathSchemaCache.size > 8192) pathSchemaCache.clear() // bounded
    val key = paths.sorted.mkString("\n")
    pathSchemaCache.get(key) match {
      case Some(sc) => spark.read.schema(sc).parquet(paths: _*)
      case None =>
        val df =
          try {
            if (paths.sizeIs == 1) spark.read.parquet(paths.head)
            else spark.read.option("mergeSchema", "true").parquet(paths: _*)
          } catch {
            // WIDTH-mixed footers (int32 beside int64, float beside
            // double — the layout ALTER COLUMN TYPE widening and a
            // widened append both produce): Spark's footer merge
            // refuses, but its parquet READERS up-cast fine when the
            // requested schema is the wider type. Merge the per-path
            // schemas ourselves with numeric widening and read
            // explicitly; the union caches like any other pathset.
            case e: org.apache.spark.SparkException
                if e.getMessage != null &&
                  e.getMessage.contains("CANNOT_MERGE_SCHEMAS") =>
              val sc = paths.map(p => spark.read.parquet(p).schema)
                .reduceLeft(widenMergeSchemas(_, _, e))
              spark.read.schema(sc).parquet(paths: _*)
          }
        pathSchemaCache.putIfAbsent(key, df.schema)
        df
    }
  }

  /** Union `a` and `b` by field name, resolving same-name type clashes
    * by NUMERIC WIDENING (the only clash the engine ever writes:
    * byte/short/int/long chain, float→double, decimal growth — always
    * from a column-type widen followed by conformed appends). Anything
    * else rethrows the original merge failure: silent coercion of
    * genuinely incompatible layouts would corrupt, not repair. */
  private[storage] def widenMergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      orig: Exception): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def wider(x: DataType, y: DataType): DataType =
      if (x == y) x
      else (x, y) match {
        case (dx: DecimalType, dy: DecimalType) =>
          val intDigits = math.max(dx.precision - dx.scale,
            dy.precision - dy.scale)
          val scale = math.max(dx.scale, dy.scale)
          DecimalType(math.min(38, intDigits + scale), scale)
        case _ if isWidening(x, y) => y
        case _ if isWidening(y, x) => x
        case _ => throw orig
      }
    val bByName = b.fields.map(f => f.name -> f).toMap
    val merged = a.fields.map { f =>
      bByName.get(f.name) match {
        case Some(g) => StructField(f.name, wider(f.dataType, g.dataType),
          f.nullable || g.nullable)
        case None => f.copy(nullable = true)
      }
    }
    val aNames = a.fieldNames.toSet
    StructType(merged ++ b.fields.filterNot(f => aNames(f.name))
      .map(_.copy(nullable = true)))
  }

  /** Is reading parquet written at `from` with a requested schema of
    * `to` a supported UP-CAST in Spark's parquet readers? The widening
    * set [[GraftCatalog]]'s ALTER COLUMN TYPE admits. */
  private[storage] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    (from, to) match {
      case (f, t) if integral.contains(f) && integral.contains(t) =>
        integral.indexOf(f) < integral.indexOf(t)
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        (t.precision - t.scale) >= (f.precision - f.scale) &&
          t.scale >= f.scale && (t.precision > f.precision ||
            t.scale > f.scale)
      case _ => false
    }
  }

  /** DRIVER-DIRECT read of a `~p` table-properties entry — always a
    * driver-written (key STRING, value STRING) parquet of kilobytes.
    * Going through `spark.read.parquet(...).collect()` costs TWO
    * cluster jobs (schema inference + collect) of pure scheduler
    * overhead per call; manifest-plane code (snapshot properties, the
    * per-publish table-config merge, constraint lookups) runs several
    * of these per commit, so on a busy cluster metadata reads would
    * queue behind data jobs. parquet-hadoop's Group reader reads the
    * same bytes in-process with ZERO jobs. */
  private[storage] def readPropsDirect(spark: SparkSession,
      path: String): Map[String, String] = {
    if (propsDirCache.size > 8192) propsDirCache.clear() // bounded
    propsDirCache.getOrElseUpdate(path, {
      import org.apache.parquet.hadoop.ParquetReader
      import org.apache.parquet.hadoop.example.GroupReadSupport
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(path)
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).iterator
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }
        .flatMap { st =>
          val rdr = ParquetReader
            .builder(new GroupReadSupport(), st.getPath)
            .withConf(conf).build()
          try Iterator.continually(rdr.read()).takeWhile(_ != null)
            .map(g => g.getString("key", 0) -> g.getString("value", 0))
            .toList
          finally rdr.close()
        }.toMap
    })
  }

  /** A catalog view pinned at one committed txn: every read through the
    * same snapshot resolves against the SAME manifest, so a logical read
    * that spans several calls (table A, then table B; or partition by
    * partition) can never mix txns, no matter how many commits land in
    * between. The per-call readers on [[TxnCatalog]] re-resolve the
    * LATEST txn on every call — pin a snapshot whenever one computation
    * reads more than once. A pinned txn's data dirs stay on disk only
    * while [[vacuum]]'s keep/minAgeMs retention covers it: size the
    * retention window to the longest-running reader. */
  final class Snapshot private[storage] (
      spark: SparkSession, root: String, val txn: Long,
      private[storage] val entries: Map[(String, String), Entry]) {

    /** Tables present in this snapshot. */
    def tables: Seq[String] = entries.keys.map(_._1).toSeq.distinct.sorted

    /** DATA partitions of `table` in this snapshot (empty for a
      * whole-table snapshot or an absent table). Internal entries —
      * equality-delete key lists — are not data and are not listed;
      * see [[deleteEntries]]. */
    def partitions(table: String): Seq[String] = entries.keys
      .collect { case (t, p) if t == table && p != Whole &&
        !p.startsWith("~") && entries((t, p)).deleteKey.isEmpty => p }
      .toSeq.sorted

    /** The live DATA entries of `table` (internal entries — equality-
      * delete key lists, the `~p` properties entry — excluded). */
    private[storage] def dataEntries(table: String): Seq[(String, Entry)] =
      entries.toSeq.collect {
        case ((t, p), e) if t == table && !p.startsWith("~") &&
          e.deleteKey.isEmpty => (p, e) }

    /** Pending equality-delete entries of `table`, oldest first:
      * (partition, committing txn, key column, keys-parquet path). */
    def deleteEntries(table: String): Seq[(String, Long, String, String)] =
      entries.toSeq.collect {
        case ((t, p), e) if t == table && e.deleteKey.isDefined =>
          (p, entryDataTxn(e), e.deleteKey.get,
            entryPath(root, t, p, e.dir))
      }.sortBy(_._2)

    /** The keys one equality-delete entry would subtract (column named
      * [[DeleteKeyColumn]]) — the CDC surface for [[TxnCatalog.diff]]
      * consumers that see a `~d` partition appear. */
    def readDeleteKeys(table: String, partition: String): Option[DataFrame] =
      entries.get((table, partition))
        .filter(_.deleteKey.isDefined)
        .map(e => readParquetCached(spark,
          Seq(entryPath(root, table, partition, e.dir))))

    /** `table`'s properties at this snapshot — the (key, value) parquet
      * behind its internal `~p` entry; empty when none were ever set.
      * Keys under [[TxnCatalog.ConstraintPrefix]] are enforced CHECK
      * constraints (see [[TxnCatalog.setTableProperties]]). */
    def properties(table: String): Map[String, String] =
      entries.get((table, "~p")).map { e =>
        readPropsDirect(spark, entryPath(root, table, "~p", e.dir))
      }.getOrElse(Map.empty)

    private def readPaths(paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(readParquetCached(spark, paths))

    /** The ADD COLUMN ... DEFAULT fills applicable at this snapshot:
      * (column, alterTxn, ddl type, sql literal) per
      * [[TxnCatalog.ExistsDefaultPrefix]] property — parsed once per
      * read (KB-scale driver text). */
    private[storage] def existsDefaults(table: String)
        : Seq[(String, Long, String, String)] =
      properties(table).toSeq.collect {
        case (k, v) if k.startsWith(ExistsDefaultPrefix) &&
            v.split(";", 3).length == 3 =>
          val Array(txn, tp, sql) = v.split(";", 3)
          (k.stripPrefix(ExistsDefaultPrefix),
            txn.toLongOption.getOrElse(Long.MaxValue), tp, sql)
      }.sortBy(_._1)


    /** Read a set of DATA entries with every applicable equality delete
      * subtracted — the merge-on-read funnel behind [[read]],
      * [[readPartitions]], and the `readWhere*` family. A delete D
      * applies to entry E iff D's txn is newer than E's data
      * ([[TxnCatalog.entryDataTxn]]): data appended AFTER a delete is
      * never masked by it (re-inserting a deleted key works), and a
      * reorganization fold — which reads through THIS funnel, so its
      * output already has applicable deletes physically applied —
      * carries its sources' data txn, making re-application a no-op
      * (anti-join against keys that no longer match). Entries are
      * grouped by their applicable-delete set and each group anti-joins
      * only the delete key lists that apply to it; groups union by name
      * so evolved schemas keep surfacing missing columns as nulls. An
      * entry whose schema lacks a delete's key column is untouched by
      * that delete (its rows can't equal any key). */
    private[storage] def readSelected(table: String,
        sel: Seq[(String, Entry)]): Option[DataFrame] =
      readSelectedImpl(table, sel, keepPos = false)

    /** [[readSelected]] with the physical position columns
      * ([[DvPathColumn]], [[DvPosColumn]]) KEPT on the result — the
      * scan [[TxnCatalog.deletePositions]] computes a new deletion
      * vector over: rows already masked by applicable deletes (equality
      * or positional) are absent, so a position is never re-marked and
      * a DV's payload is exactly the rows it deletes. */
    private[storage] def readSelectedWithPos(table: String,
        sel: Seq[(String, Entry)]): Option[DataFrame] =
      readSelectedImpl(table, sel, keepPos = true)

    private def readSelectedImpl(table: String, sel: Seq[(String, Entry)],
        keepPos: Boolean): Option[DataFrame] = {
      if (sel.isEmpty) return None
      val dels = deleteEntries(table)
      val eds = existsDefaults(table)
      def edsFor(e: Entry): Seq[(String, Long, String, String)] =
        eds.filter { case (_, txn, _, _) => entryDataTxn(e) < txn }
      def paths(es: Seq[(String, Entry)]) =
        es.map { case (p, e) => entryPath(root, table, p, e.dir) }.sorted
      // the common all-owned no-delete no-fill shape keeps the single
      // multi-path funnel; hive-imported entries (whose files do not
      // physically carry their partition columns) group per value
      // tuple below and project the synthesized columns as typed
      // literals, and entries predating an ADD COLUMN ... DEFAULT
      // group per applicable fill set — so both surface in reads,
      // folds, and rewrites alike
      if (dels.isEmpty && !keepPos &&
          sel.forall(e => extHiveDepth(e._2.dir) == 0) &&
          (eds.isEmpty || sel.forall(e => edsFor(e._2).isEmpty)))
        readPaths(paths(sel))
      else {
        lazy val hiveTypes = hivePartCols(properties(table)).toMap
        def frameOf(es: Seq[(String, Entry)]): Option[DataFrame] = {
          val synth = extHiveValues(es.head._2.dir)
          readPaths(paths(es)).map { df =>
            val withSynth = synth.foldLeft(df) { case (acc, (c, v)) =>
              if (acc.columns.contains(c)) acc // later physical twin wins
              else acc.withColumn(c,
                org.apache.spark.sql.functions.lit(v.orNull).cast(
                  hiveTypes.getOrElse(c,
                    org.apache.spark.sql.types.StringType)))
            }
            fillExistsDefaults(withSynth, edsFor(es.head._2))
          }
        }
        val groups = sel.groupBy { case (_, e) =>
          (dels.collect { case (_, txn, _, _) if txn > entryDataTxn(e) => txn }
            .toSet,
            // distinct synthesized tuples must not share a literal
            // projection ("" = no synthesis — one shared group)
            if (extHiveDepth(e.dir) == 0) ""
            else extHiveValues(e.dir).mkString("|"),
            // entries before/after an ADD COLUMN ... DEFAULT must not
            // share a fill
            edsFor(e).map(_._1).mkString(","))
        }
        val frames = groups.toSeq
          .sortBy { case ((ts, sk, ek), _) =>
            (ts.toSeq.sorted.mkString(","), sk, ek) }
          .flatMap { case ((applicable, _, _), es) =>
            frameOf(es).map { df =>
              applyDeleteEntries(spark, df,
                dels.filter(d => applicable(d._2)), keepPos)
          }
        }
        frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      }
    }

    /** Read `table` at this snapshot's txn. A partitioned table reads as
      * the union of its live partition snapshots (the partition key is a
      * data column by contract — explicit version dirs preclude
      * Hive-style dir-name recovery), with schemas MERGED across
      * partitions: batches appended over time may carry evolved schemas
      * (a later batch adds a column), so older partitions surface the
      * new column as null and an incompatible type change fails loudly
      * instead of silently picking one footer's schema. None if absent. */
    def read(table: String): Option[DataFrame] =
      readSelected(table, dataEntries(table))

    /** Read one DATA partition of `table` at this snapshot's txn —
      * touches ONLY that partition's files (manifest-level partition
      * pruning) plus any applicable delete key lists. None for an
      * absent partition or an internal (delete) entry — those read via
      * [[readDeleteKeys]]. */
    def readPartition(table: String, partition: String): Option[DataFrame] = {
      if (!partition.startsWith("~")) checkPartitionName(partition)
      entries.get((table, partition))
        .filter(_.deleteKey.isEmpty)
        .flatMap(e => readSelected(table, Seq((partition, e))))
    }

    /** Read a SUBSET of `table`'s partitions as one schema-merged frame —
      * the read half of incremental consumption ([[TxnCatalog.diff]]
      * names the partitions, this reads exactly those) and of
      * [[TxnCatalog.compactPartitions]]. Throws if any named partition
      * is absent (a silent partial read would corrupt a compaction). */
    def readPartitions(table: String, parts: Seq[String]): Option[DataFrame] = {
      parts.foreach(checkPartitionName)
      if (parts.isEmpty) None
      else {
        val missing = parts.filterNot(p => entries.get((table, p))
          .exists(_.deleteKey.isEmpty))
        require(missing.isEmpty,
          s"partitions absent from txn $txn of '$table': ${missing.mkString(", ")}")
        readSelected(table,
          parts.sorted.map(p => (p, entries((table, p)))))
      }
    }

    /** Column stats of one entry (empty when none were recorded). */
    def stats(table: String, partition: String): Map[String, ColStat] =
      entries.get((table, partition)).map(_.stats).getOrElse(Map.empty)

    /** Exact COUNT(*) of `table` at manifest cost — zero file reads.
      * Some only when EVERY live entry recorded its row count (counts
      * ride the stats pass at commit time); one uncounted entry makes
      * the answer unknowable without a scan, so None — never a guess.
      * The metadata-only count Delta/Iceberg answer from their logs. */
    def rowCount(table: String): Option[Long] = {
      val data = dataEntries(table)
      if (data.isEmpty) return None
      // entries with a RECORDED zero row count (CREATE shells, ALTER
      // schema batches) hold no values and no nulls: they contribute
      // nothing to any metadata answer and must not refuse one — a
      // delete can't mask rows from an empty entry either
      val live = liveRowEntries(data)
      if (hasApplicableDeletes(table, live)) None
      else {
        val counts = live.map(_._2.rows)
        if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
      }
    }

    /** [[dataEntries]] minus entries whose RECORDED row count is zero —
      * the entry set every metadata-only answer folds over (an empty
      * entry carries no stats, which must never refuse a fold it
      * cannot affect). Entries with UNRECORDED counts stay: the caller
      * decides whether unknown is fatal for its shape. */
    private def liveRowEntries(data: Seq[(String, Entry)])
        : Seq[(String, Entry)] =
      data.filterNot(_._2.rows.contains(0L))

    /** Exact row count of one partition, when recorded at commit (None
      * while an equality delete may still subtract from it — a metadata
      * answer must never differ from a scan). */
    def rowCount(table: String, partition: String): Option[Long] =
      entries.get((table, partition))
        .filter(_.deleteKey.isEmpty)
        .filterNot(e => hasApplicableDeletes(table, Seq((partition, e))))
        .flatMap(_.rows)

    /** Do any pending equality deletes apply to `sel`? (A delete
      * applies to entries whose data predates it; masked rows make
      * metadata-only counts/bounds unknowable without a scan.) */
    private def hasApplicableDeletes(table: String,
        sel: Seq[(String, Entry)]): Boolean =
      deleteEntries(table).exists { case (_, txn, _, _) =>
        sel.exists { case (_, e) => txn > entryDataTxn(e) } }

    /** Do pending merge-on-read deletes mask any live rows of `table`?
      * The SAME predicate every metadata-only helper refuses with,
      * exposed so observability surfaces (`fold_report`) attribute
      * their blockers through the read path's own test instead of a
      * re-implementation that could drift from it. */
    def hasPendingApplicableDeletes(table: String): Boolean =
      hasApplicableDeletes(table, liveRowEntries(dataEntries(table)))

    /** MIN/MAX of `column` across the whole table at manifest cost: the
      * per-entry stats folded with kind-true comparison (numeric via
      * BigDecimal — no double rounding past 2^53; strings by UTF-8
      * bytes like Spark; timestamps by their micros). Some only when
      * every live entry carries the column's stats under one kind and
      * every bound parses (a NaN extreme answers None — a scan query
      * would surface it, a metadata answer must not silently differ).
      * Values keep the manifest's string rendering; bloom is empty. */
    def columnBounds(table: String, column: String): Option[ColStat] = {
      val data = liveRowEntries(dataEntries(table))
      if (data.isEmpty || hasApplicableDeletes(table, data)) return None
      val sts = data.map { case (_, e) => e.stats.get(column) }
      if (sts.exists(_.isEmpty)) return None
      foldColStats(sts.flatten.toSeq)
    }

    /** Per-entry (column stats, row count) facts of `table`'s live data
      * entries — None while any merge-on-read delete (equality or DV)
      * may mask rows, exactly like [[rowCount]]/[[columnBounds]]. The
      * grouped counterpart those helpers can't express: it preserves
      * the ENTRY grain so [[graft.plans.MetadataOnlyAgg]] can fold
      * `GROUP BY <constant-per-entry column>` from the manifest. */
    def entryFactsClean(table: String)
        : Option[Seq[(Map[String, ColStat], Option[Long])]] = {
      val data = liveRowEntries(dataEntries(table))
      if (hasApplicableDeletes(table, data)) None
      else Some(data.map { case (_, e) => (e.stats, e.rows) })
    }

    /** (partition, rows, bytes) of each live data entry — the public
      * sizing view behind the `.partitions` metadata table
      * ([[Entry.bytes]] is recorded at commit; None on entries from
      * pre-upgrade manifests until `analyze` backfills them). */
    def entrySizes(table: String): Seq[(String, Option[Long], Option[Long])] =
      dataEntries(table).map { case (p, e) => (p, e.rows, e.bytes) }

    /** Non-null count of `column` across the whole table at manifest
      * cost — [[columnBounds]]'s count(col) counterpart, Some only when
      * every live entry records both its row count and the column's
      * null count and no equality delete applies (exact-or-absent). */
    /** EXACT sum of `column` across the whole table at manifest cost —
      * Some only when every live entry recorded a sum stat (integral/
      * decimal stats columns record one at every stats-measured commit;
      * see sumScaleOf) and no merge-on-read delete applies. The value
      * is the BigDecimal total of the per-entry decimal(38,s) sums —
      * exact by construction; the CALLER decides whether it fits the
      * aggregate's result type (exact-or-absent, like every helper
      * here). */
    def columnSum(table: String, column: String)
        : Option[java.math.BigDecimal] = {
      val data = liveRowEntries(dataEntries(table))
      if (data.isEmpty || hasApplicableDeletes(table, data)) return None
      val per = data.map(_._2.stats.get(column).flatMap(_.sum))
      if (per.exists(_.isEmpty)) None
      else scala.util.Try(per.flatten
        .map(new java.math.BigDecimal(_)).reduce(_ add _)).toOption
    }

    def columnNonNullCount(table: String, column: String): Option[Long] = {
      val data = liveRowEntries(dataEntries(table))
      if (data.isEmpty || hasApplicableDeletes(table, data)) return None
      val per = data.map { case (_, e) =>
        for { r <- e.rows; st <- e.stats.get(column); n <- st.nulls }
          yield r - n
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
    }

    /** The partitions of `table` whose recorded `column` stats MAY hold a
      * value in [lo, hi] — data skipping at manifest cost, zero file
      * reads. A partition with no stats for `column` (or stats of a
      * different kind than the bounds) is always kept: pruning is
      * conservative, never a correctness bet. Bounds are a Double pair
      * for numeric columns, a String pair for string columns. */
    def partitionsWhere(table: String, column: String,
        lo: Any, hi: Any): Seq[String] = entries.toSeq.collect {
      // internal entries (`~p` properties, delete key lists) are not
      // data: stat-less, they would otherwise be conservatively KEPT
      // and pollute the merged read schema with their key/value columns
      case ((t, p), e) if t == table && p != Whole && !p.startsWith("~") &&
        e.deleteKey.isEmpty &&
        e.stats.get(column).forall(mayOverlap(_, lo, hi)) => p
    }.sorted

    /** The partitions of `table` that may satisfy EVERY (column, lo,
      * hi) bound at once — conjunctive skipping, the natural probe
      * after a [[TxnCatalog.clusterPartitions]] rewrite where several
      * dimensions carry tight stats. Per-column semantics are exactly
      * [[partitionsWhere]]'s (missing/kind-mismatched stats keep the
      * entry). */
    def partitionsWhereAll(table: String,
        bounds: Seq[(String, Any, Any)]): Seq[String] = entries.toSeq.collect {
      case ((t, p), e) if t == table && p != Whole && !p.startsWith("~") &&
        e.deleteKey.isEmpty &&
        bounds.forall { case (c, lo, hi) =>
          e.stats.get(c).forall(mayOverlap(_, lo, hi)) } => p
    }.sorted

    /** Read `table` filtered to EVERY (column, lo, hi) bound
      * (inclusive), scanning only partitions that may satisfy ALL of
      * them — a 2-D bound over a Z-ordered table prunes the tile grid
      * on both axes, where chaining single-column [[readWhere]] calls
      * could only prune on one. Semantically identical to
      * `read(table)` plus the conjunctive filter. None if absent. */
    def readWhereAll(table: String,
        bounds: Seq[(String, Any, Any)]): Option[DataFrame] = {
      import org.apache.spark.sql.functions.{col, lit}
      require(bounds.nonEmpty, "readWhereAll needs at least one bound")
      val whole = entries.contains((table, Whole))
      val keep =
        if (whole) dataEntries(table).map(_._1)
        else partitionsWhereAll(table, bounds)
      val sel = keep.sorted.map(p => (p, entries((table, p))))
      def pred(df: DataFrame) = bounds.map { case (c, lo, hi) =>
        rangePredicate(df, c, lo, hi) }.reduce(_ && _)
      readSelected(table, sel).map(df => df.filter(pred(df))).orElse {
        read(table).map(df => df.filter(lit(false)).filter(pred(df)))
      }
    }

    /** The partitions of `table` that MAY contain `column = value`:
      * min/max range pruning plus, where a Bloom was recorded at commit
      * (`bloomColumns`), a "definitely absent" membership probe — the
      * skipping that works for point lookups on high-cardinality keys
      * whose per-partition ranges all overlap. Stat-less or bloom-less
      * entries are always kept (conservative, like [[partitionsWhere]]). */
    def partitionsWhereEq(table: String, column: String,
        value: Any): Seq[String] = entries.toSeq.collect {
      case ((t, p), e) if t == table && p != Whole && !p.startsWith("~") &&
        e.deleteKey.isEmpty &&
        e.stats.get(column).forall(st =>
          mayOverlap(st, value, value) && bloomMayContain(st, value)) => p
    }.sorted

    /** Read `table` filtered to `column = value`, scanning ONLY
      * partitions whose manifest stats (range AND Bloom) may hold the
      * value — semantically identical to `read(table)` plus the filter.
      * None if the table is absent. */
    def readWhereEq(table: String, column: String,
        value: Any): Option[DataFrame] = {
      import org.apache.spark.sql.functions.{col, lit}
      val whole = entries.contains((table, Whole))
      val keep =
        if (whole) dataEntries(table).map(_._1)
        else partitionsWhereEq(table, column, value)
      val sel = keep.sorted.map(p => (p, entries((table, p))))
      // an equality probe is a degenerate range: reuse the type-aligned
      // bound construction so the predicate pushes to the parquet scan
      def pred(df: DataFrame) = rangePredicate(df, column, value, value)
      readSelected(table, sel).map(df => df.filter(pred(df))).orElse {
        read(table).map(df => df.filter(lit(false)).filter(pred(df)))
      }
    }

    /** The partitions of `table` that MAY contain ANY of `values` in
      * `column` — the IN-list form of [[partitionsWhereEq]]: each value
      * probes range stats and (where recorded) the Bloom, and a
      * partition survives if at least one value may live there. An
      * ID-list fetch against a 10 000-partition table touches only the
      * partitions owning the listed keys. Conservative exactly like the
      * single-value form. */
    def partitionsWhereIn(table: String, column: String,
        values: Seq[Any]): Seq[String] = {
      require(values.nonEmpty, "partitionsWhereIn needs at least one value")
      entries.toSeq.collect {
        case ((t, p), e) if t == table && p != Whole && !p.startsWith("~") &&
          e.deleteKey.isEmpty &&
          values.exists(v => e.stats.get(column).forall(st =>
            mayOverlap(st, v, v) && bloomMayContain(st, v))) => p
      }.sorted
    }

    /** Read `table` filtered to `column IN (values)`, scanning ONLY
      * partitions whose manifest stats may hold at least one of the
      * values — the reference's ID-list fetches (`WHERE ID IN (...)`,
      * SURVEY P2) at manifest-pruned cost. Semantically identical to
      * `read(table)` plus the IN filter. None if the table is absent. */
    def readWhereIn(table: String, column: String,
        values: Seq[Any]): Option[DataFrame] = {
      import org.apache.spark.sql.functions.lit
      require(values.nonEmpty, "readWhereIn needs at least one value")
      val whole = entries.contains((table, Whole))
      val keep =
        if (whole) dataEntries(table).map(_._1)
        else partitionsWhereIn(table, column, values)
      val sel = keep.sorted.map(p => (p, entries((table, p))))
      def pred(df: DataFrame) = inPredicate(df, column, values)
      readSelected(table, sel).map(df => df.filter(pred(df))).orElse {
        read(table).map(df => df.filter(lit(false)).filter(pred(df)))
      }
    }

    /** Read `table` filtered to `column` in [lo, hi] (inclusive),
      * scanning ONLY partitions whose manifest stats may overlap the
      * bound — semantically identical to `read(table)` plus the filter,
      * but a bound that touches 1 of 10 000 partitions reads one
      * partition's files. Falls back to reading (and filtering)
      * everything when no stats were recorded. None if absent. */
    def readWhere(table: String, column: String,
        lo: Any, hi: Any): Option[DataFrame] = {
      import org.apache.spark.sql.functions.{col, lit}
      val whole = entries.contains((table, Whole))
      val keep =
        if (whole) dataEntries(table).map(_._1)
        else partitionsWhere(table, column, lo, hi)
      val sel = keep.sorted.map(p => (p, entries((table, p))))
      def pred(df: DataFrame) = rangePredicate(df, column, lo, hi)
      readSelected(table, sel).map(df => df.filter(pred(df))).orElse {
        // table exists but every partition pruned: an empty frame with
        // the table's schema (footer-only read; lit(false) folds the
        // scan away before any data is touched)
        read(table).map(df => df.filter(lit(false)).filter(pred(df)))
      }
    }

    /** DYNAMIC file pruning (Databricks DFP / Delta's dynamic file
      * skipping, at partition grain): semi-join `table` against a
      * DIMENSION FRAME whose keys are only known at runtime —
      * `fact WHERE col IN (SELECT dimCol FROM dim)` — pruning the fact
      * scan at the MANIFEST before any fact file is opened. The dim
      * side runs first as its own (distributed) job; its distinct keys
      * are pulled to the driver only when they number ≤ `maxKeys`
      * (the same driver-sized-build-side bet Spark's broadcast
      * threshold makes), probed against per-partition min/max AND
      * Blooms, and re-applied as an exact IN predicate — so a
      * selective dim touches 1 of 10 000 fact partitions and the
      * result is the plain semi join's, always. Over the cap (or with
      * a whole-table snapshot) it degrades to the unpruned exact
      * LEFT SEMI join — never wrong results, just no skipping.
      * Driver stat-probe cost is O(partitions × keys): size `maxKeys`
      * like a broadcast threshold, not like a shuffle.
      * None if the table is absent. */
    def readSemiJoin(table: String, column: String, dim: DataFrame,
        dimCol: String, maxKeys: Int = 10000): Option[DataFrame] = {
      require(maxKeys >= 1, "maxKeys must be >= 1")
      val keys = dim.select(dimCol).na.drop().distinct()
        .limit(maxKeys + 1).collect().map(_.get(0)).toSeq
      if (keys.isEmpty)
        return read(table).map(df =>
          df.filter(org.apache.spark.sql.functions.lit(false)))
      if (keys.size > maxKeys)
        return read(table).map(_.join(
          dim.select(dim(dimCol).as(column)).distinct(),
          Seq(column), "left_semi"))
      readWhereIn(table, column, keys)
    }
  }

  /** Spark compares strings by UTF-8 bytes (code-point order); Java's
    * String.compareTo by UTF-16 code units, which DISAGREES beyond the
    * BMP (surrogates sort below [U+E000, U+FFFF]). Stats come from
    * Spark's min/max and pruning must match Spark's filter comparison,
    * so compare the way Spark does — unsigned UTF-8 bytes. */
  private[storage] def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** An inclusive [lo, hi] predicate on `c` that compares in the
    * COLUMN's native type wherever that is lossless: `col >= lit(8.0)`
    * on a BIGINT column makes Catalyst cast the column to double, which
    * blocks parquet row-group pushdown (only IsNotNull reaches the
    * scan) — so numeric bounds on integral columns are snapped with
    * ceil/floor (exact same row set: x >= 8.5 ⇔ x >= 9 for integers)
    * and kept as long literals. Anything not provably lossless falls
    * back to the cast-the-column form: correct, just unpushed. */
  private[graft] def rangePredicate(df: DataFrame, c: String,
      lo: Any, hi: Any): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    // exact integral bounds stay exact PER SIDE (any integral width —
    // a mixed (Long, Int) pair must not round-trip through double, which
    // shifts bounds past 2^53); fractional bounds snap inward
    def asLong(v: Any): Option[Long] = v match {
      case b: Byte  => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int   => Some(i.toLong)
      case l: Long  => Some(l)
      case _        => None
    }
    def snap(v: Any, up: Boolean): Option[Long] = asLong(v).orElse(v match {
      case n: Number =>
        val d = if (up) math.ceil(n.doubleValue()) else math.floor(n.doubleValue())
        if (d.isNaN || d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
          None
        else Some(d.toLong)
      case _ => None
    })
    def longs(l: Any, h: Any): Option[(Long, Long)] =
      (snap(l, up = true), snap(h, up = false)) match {
        case (Some(a), Some(b)) => Some((a, b))
        case _                  => None
      }
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        longs(lo, hi) match {
          case Some((l, h)) => col(c) >= lit(l) && col(c) <= lit(h)
          case None => col(c) >= lit(lo) && col(c) <= lit(hi)
        }
      case DoubleType => (lo, hi) match {
        case (a: Number, b: Number) =>
          col(c) >= lit(a.doubleValue()) && col(c) <= lit(b.doubleValue())
        case _ => col(c) >= lit(lo) && col(c) <= lit(hi)
      }
      case _ => col(c) >= lit(lo) && col(c) <= lit(hi)
    }
  }

  /** An IN-list predicate on `c` in the COLUMN's native type wherever
    * that is lossless — the [[rangePredicate]] discipline for equality
    * lists: `col.isin(7.0)` on a BIGINT column would cast the column and
    * block parquet pushdown, so integral columns get integral-valued
    * Numbers as long literals, fractional values DROPPED (an integer can
    * never equal 7.5 — same row set), and double columns get double
    * literals. Any value that can't be losslessly aligned falls the
    * whole list back to the plain isin: correct, just unpushed. */
  private[graft] def inPredicate(df: DataFrame, c: String,
      values: Seq[Any]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    def raw = col(c).isin(values: _*)
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // Some(Some(l)) = exact long; Some(None) = provably no match,
        // drop; None = not alignable, fall back
        val aligned: Seq[Option[Option[Long]]] = values.map {
          case b: Byte  => Some(Some(b.toLong))
          case s: Short => Some(Some(s.toLong))
          case i: Int   => Some(Some(i.toLong))
          case l: Long  => Some(Some(l))
          case n: Number =>
            val d = n.doubleValue()
            if (d.isNaN) Some(None)
            else if (d != math.rint(d)) Some(None) // fractional: no int equals it
            else if (d < Long.MinValue.toDouble || d > Long.MaxValue.toDouble)
              Some(None) // out of range: no long equals it
            else Some(Some(d.toLong))
          case _ => None
        }
        if (aligned.exists(_.isEmpty)) raw
        else {
          val longs = aligned.flatten.flatten
          if (longs.isEmpty) lit(false)
          else col(c).isin(longs: _*)
        }
      case DoubleType =>
        if (values.forall(_.isInstanceOf[Number]))
          col(c).isin(values.map(_.asInstanceOf[Number].doubleValue()): _*)
        else raw
      case _ => raw
    }
  }

  /** The one string rendering both the bloom BUILD (executor-side Spark
    * cast) and the PROBE (driver-side JVM value) must agree on, per stat
    * kind — a probe hashed under a different rendering than the build
    * produces a false "definitely absent" and silently drops matching
    * partitions. Kind "s" blooms are built over the raw string column, so
    * only a String probe is exact (an Int 7 probe on a string column can
    * equality-match "7" AND "07" under Spark's coercion — no single
    * rendering covers that, so no pruning). Kind "n" blooms are built
    * over `CAST(col AS DECIMAL(38,18)) AS STRING`, which collapses every
    * numeric source type onto one rendering ("7", 7L, 7.0, 7.00 all hash
    * as the scale-18 decimal string); the probe reproduces it with
    * java.math.BigDecimal — same `Double.toString`-based construction,
    * same setScale(18), same java toString — so build and probe agree by
    * construction. None = no exact rendering exists (wrong runtime type,
    * value outside DECIMAL(38,18) — those were null-ed out of the bloom
    * at build time too, or fractional beyond scale 18, rounded at build):
    * the caller keeps the partition, pruning stays range-only. */
  private def bloomProbeRendering(kind: String, value: Any): Option[String] =
    kind match {
      case "s" => value match {
        case s: String => Some(s)
        case _         => None
      }
      case "n" =>
        try {
          val bd = value match {
            case b: java.lang.Byte     => java.math.BigDecimal.valueOf(b.longValue())
            case s: java.lang.Short    => java.math.BigDecimal.valueOf(s.longValue())
            case i: java.lang.Integer  => java.math.BigDecimal.valueOf(i.longValue())
            case l: java.lang.Long     => java.math.BigDecimal.valueOf(l)
            case b: Byte               => java.math.BigDecimal.valueOf(b.toLong)
            case s: Short              => java.math.BigDecimal.valueOf(s.toLong)
            case i: Int                => java.math.BigDecimal.valueOf(i.toLong)
            case l: Long               => java.math.BigDecimal.valueOf(l)
            // Spark casts float→decimal through the double value; match it
            case f: java.lang.Float    => java.math.BigDecimal.valueOf(f.doubleValue())
            case d: java.lang.Double   => java.math.BigDecimal.valueOf(d)
            case d: java.math.BigDecimal => d
            case d: scala.math.BigDecimal => d.underlying
            case _ => return None
          }
          val scaled = bd.setScale(18) // ArithmeticException if lossy
          if (scaled.precision > 38) None else Some(scaled.toString)
        } catch { case _: ArithmeticException | _: NumberFormatException => None }
      case _ => None
    }

  /** Marks blooms built over the canonical renderings above; blooms
    * recorded by earlier versions (raw base64, numeric values hashed
    * under their source type's own rendering) are probed only where that
    * rendering was already exact — string columns with String probes. */
  private val BloomV2 = "2:"

  /** Bloom probe: false ONLY when a Bloom was recorded, the probe value
    * has an exact rendering for the column's stat kind, and the filter
    * rules that rendering out. Type-mismatched probes (Int 7 against a
    * DOUBLE column, non-String against a string column) and
    * deserialization failures keep the entry — pruning never bets on a
    * rendering the build side didn't use. */
  private[storage] def bloomMayContain(st: ColStat, value: Any): Boolean = {
    if (st.bloom.isEmpty) return true
    val (payload, probe) =
      if (st.bloom.startsWith(BloomV2))
        (st.bloom.drop(BloomV2.length), bloomProbeRendering(st.kind, value))
      else // legacy bloom: only the identity rendering is trustworthy
        (st.bloom, value match {
          case s: String if st.kind == "s" => Some(s)
          case _                           => None
        })
    probe.forall { p =>
      try {
        org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(payload)))
          .mightContainString(p)
      } catch { case _: Exception => true }
    }
  }

  /** A timestamp bound as micros-since-epoch; None for types that are
    * not timestamps (kind-mismatch → never prune). */
  private[storage] def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      // getTime repeats the integral-millis part of nanos: rebuild from
      // whole seconds + the full fractional field
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** Fold several entries' stats for one column into table-level
    * bounds, kind-true (numeric via BigDecimal — no double rounding
    * past 2^53; strings by UTF-8 bytes like Spark; timestamps by their
    * micros). None on an empty or kind-inconsistent set, or when a
    * bound does not parse (a NaN extreme answers None — a scan query
    * would surface it, a metadata answer must not silently differ).
    * Values keep the manifest's string rendering; bloom is empty. */
  private[graft] def foldColStats(all: Seq[ColStat]): Option[ColStat] = {
    if (all.isEmpty) return None
    all.map(_.kind).distinct match {
      case Seq("n") => try {
        val ord = Ordering.by((s: String) => new java.math.BigDecimal(s))
        Some(ColStat("n", all.map(_.min).min(ord), all.map(_.max).max(ord)))
      } catch { case _: NumberFormatException => None }
      case Seq("s") =>
        val ord = Ordering.fromLessThan(utf8Lt)
        Some(ColStat("s", all.map(_.min).min(ord), all.map(_.max).max(ord)))
      case Seq("t") => try {
        val ord = Ordering.by((s: String) => s.toLong)
        Some(ColStat("t", all.map(_.min).min(ord), all.map(_.max).max(ord)))
      } catch { case _: NumberFormatException => None }
      case _ => None
    }
  }

  /** Can a value in [lo, hi] exist in an entry whose `column` spans
    * [st.min, st.max]? Kind-mismatched bounds never prune. */
  private[storage] def mayOverlap(st: ColStat, lo: Any, hi: Any): Boolean =
    (st.kind, lo, hi) match {
      case ("n", l: Number, h: Number) =>
        !(st.max.toDouble < l.doubleValue() || st.min.toDouble > h.doubleValue())
      case ("s", l: String, h: String) =>
        !(utf8Lt(st.max, l) || utf8Lt(h, st.min))
      case ("t", l, h) =>
        (tsMicros(l), tsMicros(h)) match {
          case (Some(lm), Some(hm)) =>
            !(st.max.toLong < lm || st.min.toLong > hm)
          case _ => true
        }
      case _ => true
    }

  /** Every committed (txn, manifest mtime ms) pair in ONE listStatus —
    * manifest file mtimes are the commit clock (the publishing rename
    * stamps them), never a stat call per txn. Powers `TIMESTAMP AS OF`
    * and the stream source's `startingTimestamp`. */
  private[storage] def txnMtimes(spark: SparkSession,
      root: String): Seq[(Long, Long)] = {
    val tdir = new Path(txnsDir(root))
    val f = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(tdir)) return Nil
    f.listStatus(tdir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap(st => st.getPath.getName.toLongOption
        .map(_ -> st.getModificationTime))
  }

  /** Pin the latest committed txn for snapshot-consistent multi-call
    * reads. None for an empty catalog. */
  def snapshot(spark: SparkSession, root: String): Option[Snapshot] =
    currentTxn(spark, root).map(t =>
      new Snapshot(spark, root, t, manifest(fs(spark, root), root, t)))

  /** Time travel: pin a SPECIFIC committed txn and read every table and
    * partition exactly as it stood then (audits, reproducing a run,
    * diffing against [[snapshot]]). Reaches only as far back as
    * [[vacuum]]'s keep window — throws if `txn` was never committed or
    * its manifest has been vacuumed. */
  def snapshotAt(spark: SparkSession, root: String, txn: Long): Snapshot = {
    val f = fs(spark, root)
    require(f.exists(new Path(txnsDir(root), txn.toString)),
      s"txn $txn is not committed (or already vacuumed) under $root")
    new Snapshot(spark, root, txn, manifest(f, root, txn))
  }

  /** One changed (table, partition) entry between two committed txns. */
  final case class EntryChange(table: String, partition: String,
      change: String) // "added" | "updated" | "removed"

  /** The (table, partition) entries whose data differs between two
    * committed txns — how an incremental consumer discovers what to
    * reprocess WITHOUT rescanning the catalog: the answer is
    * manifest-sized (driver-side KB), and reading just the changed data
    * is `snapshotAt(toTxn).readPartition` over the `added`/`updated`
    * entries — partition-pruned by construction, so a 1-of-10 000
    * partition commit costs its consumers exactly one partition read.
    * Both manifests must still be inside [[vacuum]]'s keep window.
    * Whole-table entries diff under the reserved partition `-`. */
  def diff(spark: SparkSession, root: String, fromTxn: Long,
      toTxn: Long): Seq[EntryChange] = {
    require(fromTxn <= toTxn, s"diff range is reversed: $fromTxn > $toTxn")
    val f = fs(spark, root)
    for (t <- Seq(fromTxn, toTxn))
      require(f.exists(new Path(txnsDir(root), t.toString)),
        s"txn $t is not committed (or already vacuumed) under $root")
    val (from, to) = (manifest(f, root, fromTxn), manifest(f, root, toTxn))
    // `~p` properties churn is metadata, not a change a consumer reads
    // back (ledgered streaming appends update it every batch); delete
    // entries (`~d*`) stay visible — they ARE the CDC surface
    val changes =
      to.collect {
        case (k, _) if k._2 != PropsPartition && !from.contains(k) =>
          EntryChange(k._1, k._2, "added")
        case (k, e) if k._2 != PropsPartition && from(k).dir != e.dir =>
          EntryChange(k._1, k._2, "updated")
      } ++
      from.collect {
        case (k, _) if k._2 != PropsPartition && !to.contains(k) =>
          EntryChange(k._1, k._2, "removed")
      }
    changes.toSeq.sortBy(c => (c.table, c.partition))
  }

  /** [[diff]] for APPEND-ORIENTED incremental consumers: only the
    * added/updated entries whose data is genuinely NEWER than `fromTxn`
    * (per [[Entry.dataTxn]]) — pure reorganizations (compaction,
    * clustering, [[maintainClustered]] generations) of data the consumer
    * already saw are filtered out, so an OPTIMIZE pass between two
    * consumption points costs the consumer ZERO reads instead of a full
    * re-read of every rewritten partition. A tile mixing seen and unseen
    * source batches is (correctly) included — generational clustering
    * keeps that case rare by only ever folding NEW batches together.
    * `removed` entries are omitted: data removal is out of scope for an
    * append consumer (use [[diff]] for full change fidelity). Reading
    * the answer is `snapshotAt(toTxn).readPartition` per entry, exactly
    * as with [[diff]]. */
  def diffData(spark: SparkSession, root: String, fromTxn: Long,
      toTxn: Long): Seq[EntryChange] = {
    require(fromTxn <= toTxn, s"diff range is reversed: $fromTxn > $toTxn")
    val f = fs(spark, root)
    for (t <- Seq(fromTxn, toTxn))
      require(f.exists(new Path(txnsDir(root), t.toString)),
        s"txn $t is not committed (or already vacuumed) under $root")
    val (from, to) = (manifest(f, root, fromTxn), manifest(f, root, toTxn))
    to.collect {
      // internal entries (delete key lists, `~p` properties) are not
      // data — an append consumer never reads them as rows
      case (k, e) if !k._2.startsWith("~") && e.deleteKey.isEmpty &&
          !from.contains(k) && entryDataTxn(e) > fromTxn =>
        EntryChange(k._1, k._2, "added")
      case (k, e) if !k._2.startsWith("~") && e.deleteKey.isEmpty &&
          from.get(k).exists(_.dir != e.dir) && entryDataTxn(e) > fromTxn =>
        EntryChange(k._1, k._2, "updated")
    }.toSeq.sortBy(c => (c.table, c.partition))
  }

  /** Column names [[changeFeed]] appends to the table schema. */
  val ChangeTypeColumn = "_change_type"
  val ChangeTxnColumn = "_txn"

  /** Row-level CDC feed for `table` over `(fromTxn, toTxn]`: the table's
    * columns plus [[ChangeTypeColumn]] (`insert` | `delete`) and
    * [[ChangeTxnColumn]] (the committing txn) — Delta's change data feed
    * shape, derived ENTIRELY from the manifest layer (no write-time CDC
    * files):
    *  - data entries with `dataTxn ∈ (from, to]` emit their rows as
    *    `insert` events at their data txn — reorganizations (compaction,
    *    clustering, folds) carry their sources' data txn, so an OPTIMIZE
    *    inside the window emits NOTHING;
    *  - equality-delete entries committed in the window emit one
    *    `delete` event per key, the key column populated and every other
    *    column null (keys are events, not row lookups — a key that never
    *    matched data still emits, exactly as it would mask a future
    *    reader);
    *  - a partition REWRITE (UPDATE / deleteWhere) is a new data txn and
    *    re-emits its surviving rows as inserts — upsert semantics on a
    *    key, same rule as [[LakeStreamSource]]; row-precise update pairs
    *    would need write-time CDC files, deliberately not kept.
    * Events are unordered across txns — consumers order by
    * [[ChangeTxnColumn]] (deletes in txn t apply to inserts with txn <
    * t, never to later re-inserts). Replaying the feed left-folds to
    * exactly `snapshotAt(toTxn).read(table)` for append+delete
    * histories. None when `table` has no data entries at `toTxn`;
    * `toTxn` must be a committed, unvacuumed txn while `fromTxn` is just
    * a watermark (0 = since the beginning). */
  def changeFeed(spark: SparkSession, root: String, table: String,
      fromTxn: Long, toTxn: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromTxn <= toTxn,
      s"changeFeed range is reversed: $fromTxn > $toTxn")
    val snap = snapshotAt(spark, root, toTxn)
    val data = snap.dataEntries(table)
    if (data.isEmpty) return None
    val schema = snap.read(table).get.schema
    def conform(df: DataFrame): DataFrame =
      df.select(schema.fields.toSeq.map(f =>
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)): _*)
    val inserts = data
      .filter { case (_, e) => entryDataTxn(e) > fromTxn }
      .groupBy { case (_, e) => entryDataTxn(e) }
      .toSeq.sortBy(_._1)
      .map { case (txn, es) =>
        val paths = es.map { case (p, e) =>
          entryPath(root, table, p, e.dir) }.sorted
        val df = readParquetCached(spark, paths)
        conform(df)
          .withColumn(ChangeTypeColumn, lit("insert"))
          .withColumn(ChangeTxnColumn, lit(txn))
      }
    val deletes = snap.deleteEntries(table)
      .filter { case (_, txn, _, _) => txn > fromTxn }
      .map { case (_, txn, keyCol, path) =>
        // a positional entry (deletion vector) carries the FULL payload
        // of the rows it deleted — the delete events are row-precise;
        // an equality entry has only its key column populated
        val payload =
          if (keyCol == DeletePosMarker)
            readParquetCached(spark, Seq(path))
              .drop(DvPathColumn, DvPosColumn)
          else readParquetCached(spark, Seq(path))
            .withColumnRenamed(DeleteKeyColumn, keyCol)
        conform(payload)
          .withColumn(ChangeTypeColumn, lit("delete"))
          .withColumn(ChangeTxnColumn, lit(txn))
      }
    Some((inserts ++ deletes).reduceOption(_.unionByName(_)).getOrElse {
      // empty window: the feed schema with zero rows
      conform(snap.read(table).get)
        .withColumn(ChangeTypeColumn, lit("insert"))
        .withColumn(ChangeTxnColumn, lit(0L))
        .filter(lit(false))
    })
  }

  /** Append `df` to `table` as partition `batch=<batchId>`, idempotent
    * on replay — the single-table exactly-once building block a
    * streaming foreachBatch sink needs ([[TwinCommit.append]] minus the
    * twin): an already-committed batch id is a no-op, a torn attempt's
    * staging dirs are invisible by construction and reclaimed by
    * [[vacuum]], and a lost txn-number race against a concurrent append
    * of a DIFFERENT batch retries (bounded) so both land. */
  def appendBatch(spark: SparkSession, root: String, table: String,
      batchId: String, df: DataFrame,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      ledger: Option[(String, Long)] = None): Unit = {
    require(!batchId.contains("/"), s"batch id must be path-safe: $batchId")
    val part = s"batch=$batchId"
    retryOnConflict { _ =>
      val snap = snapshot(spark, root)
      ledger match {
        case None =>
          if (!snap.exists(_.partitions(table).contains(part)))
            commitPartitions(spark, root, Seq((table, part, df)),
              statsColumns = statsColumns, bloomColumns = bloomColumns)
        case Some((appId, version)) =>
          appendLedgered(spark, root, snap, Seq((table, part, df)),
            table, appId, version, statsColumns, bloomColumns)(() => ())
      }
    }
  }

  /** [[appendBatch]] for a MULTI-PARTITION micro-batch — the streaming
    * sink's shape for HIDDEN-PARTITIONED tables ([[PartitionSpec]]):
    * one trigger lands N transform-derived partitions and the ledger
    * fact in ONE txn, replay-refused as a unit. Same bounded
    * race-retry as the single-partition form. */
  private[graft] def appendBatchMulti(spark: SparkSession, root: String,
      table: String, parts: Seq[(String, DataFrame)],
      appId: String, version: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Unit = {
    if (parts.nonEmpty) retryOnConflict { _ =>
      appendLedgered(spark, root, snapshot(spark, root),
        parts.map { case (p, df) => (table, p, df) },
        table, appId, version, statsColumns, bloomColumns)(() => ())
    }
  }

  /** Property-key prefix of streaming-sink idempotence ledger entries:
    * `graft.stream.<appId>` → the highest batch version that app has
    * applied to the table — Delta's txn appId/version pattern. The
    * ledger is the replay evidence that SURVIVES reorganization:
    * partition-existence (`batch=<id>` in the manifest) breaks the
    * moment inline compaction/clustering folds batch partitions into
    * `c*`/`z*` names, so a post-crash foreachBatch redelivery would
    * re-append already-folded rows. The ledger rides the SAME manifest
    * CAS as the data, so data-landed and version-recorded are one
    * atomic fact. */
  val LedgerPrefix = "graft.stream."
  private def ledgerKey(appId: String) = LedgerPrefix + appId

  /** Highest batch version `appId` has applied to `table`, if any. */
  def lastLedgerVersion(spark: SparkSession, root: String, table: String,
      appId: String): Option[Long] =
    snapshot(spark, root)
      .flatMap(_.properties(table).get(ledgerKey(appId)))
      .map(_.toLong)

  /** Commit `updates` and the ledger fact "`appId` has applied
    * `version` to `ledgerTable`" in ONE atomic manifest publish,
    * conditional on `snap`, the snapshot the caller planned `updates`
    * from (None for an empty catalog): a rival commit since forces a
    * [[CommitConflict]], and the caller's [[retryOnConflict]] body
    * re-plans against a fresh one. Returns false — committing nothing —
    * when `snap`'s ledger already records `version` (or later): the
    * replayed batch was applied before, whatever names its partitions
    * carry NOW. */
  private[graft] def appendLedgered(spark: SparkSession, root: String,
      snap: Option[Snapshot],
      updates: Seq[(String, String, DataFrame)],
      ledgerTable: String, appId: String, version: Long,
      statsColumns: Seq[String], bloomColumns: Seq[String])(
      beforePublish: () => Unit): Boolean = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    updates.foreach { case (t, p, _) =>
      checkTableName(t); checkPartitionName(p)
    }
    checkTableName(ledgerTable)
    val props = snap.map(_.properties(ledgerTable)).getOrElse(Map.empty)
    if (props.get(ledgerKey(appId)).exists(_.toLong >= version)) return false
    val merged = props + (ledgerKey(appId) -> version.toString)
    val kv = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
    publish(spark, root, updates :+ ((ledgerTable, PropsPartition, kv)),
      statsColumns, expectedTxn = Some(snap.map(_.txn).getOrElse(0L)),
      reconcile = carried => {
        updates.map(_._1).distinct.foreach { t =>
          require(!carried.contains((t, Whole)),
            s"table '$t' holds a whole-table snapshot; partition commits " +
              "need a partitioned table (or a whole-table commit to replace it)")
        }
        carried
      }, bloomColumns = bloomColumns)(beforePublish)
    true
  }

  /** Commit a WHOLE-TABLE snapshot of `table` AND its properties in ONE
    * txn — the shape a derived table (e.g. a materialized view) needs:
    * its data and the metadata describing how far that data is current
    * (a source-txn watermark) must never be observable out of sync, or
    * a crash between two commits double-counts the next delta. `props`
    * MERGE into the existing properties (empty value removes a key),
    * conditional on `expectedTxn` like every read-modify-write. */
  private[storage] def commitWholeWithProperties(spark: SparkSession,
      root: String, table: String, df: DataFrame,
      props: Map[String, String],
      expectedTxn: Option[Long]): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    val existing = snapshot(spark, root)
      .map(_.properties(table)).getOrElse(Map.empty)
    val merged = (existing ++ props).filter(_._2.nonEmpty)
    val kv = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
    publish(spark, root,
      Seq((table, Whole, df), (table, PropsPartition, kv)),
      statsColumns = Nil, expectedTxn = expectedTxn,
      reconcile = carried => carried.filterNot(_._1._1 == table))(() => ())
  }

  /** Drop `table` entirely — every data, delete, and properties entry —
    * in one conditional commit. Older snapshots still read it (time
    * travel); [[vacuum]] reclaims the data once nothing references it.
    * Throws [[CommitConflict]] if a rival commit moves the catalog
    * first. */
  def dropTable(spark: SparkSession, root: String, table: String): Long = {
    checkTableName(table)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    require(snap.tables.contains(table), s"unknown table '$table'")
    publish(spark, root, Nil, Nil, expectedTxn = Some(snap.txn),
      reconcile = carried => carried.filterNot(_._1._1 == table))(() => ())
  }

  /** The reserved internal partition holding a table's properties. */
  private[storage] val PropsPartition = "~p"
  /** Property-key prefix marking an enforced CHECK constraint. */
  val ConstraintPrefix = "constraint."
  /** Table property naming the columns EVERY commit measures min/max
    * stats for (comma-separated) — the table-resident form of the
    * per-call `statsColumns` knob, merged in by the publish path so
    * SQL INSERT, the streaming sink, compaction, and clustering all
    * record skippable stats without each writer passing the list
    * (Delta's `dataSkippingNumIndexedCols`, by name instead of count). */
  val StatsColumnsProp = "graft.stats-columns"
  /** [[StatsColumnsProp]]'s Bloom-filter counterpart. */
  val BloomColumnsProp = "graft.bloom-columns"

  /** Opt-in AUTO-COMPACT for the SQL append path (Delta's
    * autoOptimize.autoCompact): when `batch=` partitions accumulated
    * by INSERT INTO reach this count, the insert that crossed the
    * threshold folds them into one compacted partition right after its
    * own commit (best-effort — a lost maintenance race never fails the
    * insert). Declared layout (stats/Bloom columns) rides along. */
  val AutoCompactProp = "graft.autocompact.min-batches"
  /** Table property declaring the WRITE SORT ORDER (comma-separated
    * columns — Iceberg's `write.sort-order`): every NEW data commit to
    * the table sorts its staged rows by these columns before writing,
    * so parquet row-group min/max are tight from BIRTH — the reader's
    * footer pruning works on the first commit, not only after an
    * OPTIMIZE pass. Applied at the publish staging chokepoint, which
    * is every write path at once (SQL INSERT, streaming sink,
    * appendBatch, MERGE appends); reorganizations (compaction,
    * Z-clustering) are exempt — they stage an order they chose
    * deliberately, which a re-sort would destroy. Columns missing from
    * a staged frame are skipped (schema evolution stays safe). */
  val SortColumnsProp = "graft.sort-columns"
  /** [[SortColumnsProp]]'s distribution mode: `local` (default — sort
    * within each task's file, no shuffle: tight row groups, possibly
    * overlapping file ranges) or `global` (range-repartition first —
    * one extra shuffle buys DISJOINT file ranges, so point/range reads
    * skip whole files by footer, Iceberg's
    * `write.distribution-mode=range`). */
  val SortModeProp = "graft.sort-mode"
  /** Table property declaring columns that get PARQUET bloom filters
    * written into every new data file (comma-separated) — the
    * FILE-grain complement to [[BloomColumnsProp]]'s manifest Blooms:
    * the manifest Bloom prunes whole PARTITIONS at driver cost; within
    * a surviving partition, parquet-mr's reader consults the per-row-
    * group bloom on pushed equality predicates
    * (`parquet.filter.bloom.enabled`, on by default) and skips row
    * groups min/max can't rule out — exactly the high-cardinality
    * point-lookup shape (content hash, uuid, url) where every row
    * group spans the full lexical range. Applied at the publish
    * staging chokepoint like [[SortColumnsProp]] — including
    * reorganizations (a compacted file should keep its blooms);
    * delete entries and `~p` are exempt (a DV payload must never leak
    * deleted values into file metadata), and absent columns are
    * skipped. */
  val ParquetBloomColumnsProp = "graft.parquet-bloom-columns"

  /** Property-key prefix recording a column's EXISTS_DEFAULT (Delta's
    * two-default model): `graft.existsdefault.<col>` =
    * `<alterTxn>;<ddl type>;<sql literal>`, written by ADD COLUMN ...
    * DEFAULT in the SAME txn as the widening schema batch. Rows in
    * entries whose data PREDATES `alterTxn` read the literal instead
    * of NULL — exact, because the column did not exist before that
    * txn, so a pre-alter NULL can only mean "absent" (a coalesce fill,
    * which also stays a no-op on reorganized entries that carried the
    * materialized values forward). CURRENT_DEFAULT
    * (`graft.default.<col>`) stays the write-time fill for future
    * inserts and can be SET/DROPped freely; the exists-default is
    * frozen at ADD COLUMN, exactly Delta's contract. */
  val ExistsDefaultPrefix = "graft.existsdefault."

  /** Apply the exists-default fills in `eds` to a frame read from
    * entries that PREDATE them: a present column coalesces (pre-alter
    * NULL can only mean absent; reorganized entries' materialized
    * values pass through), an absent column materializes as the
    * literal outright. Shared by both read stacks. */
  private[storage] def fillExistsDefaults(df: DataFrame,
      eds: Seq[(String, Long, String, String)]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, expr}
    eds.foldLeft(df) { case (acc, (c, _, tp, sql)) =>
      if (acc.columns.contains(c))
        acc.withColumn(c, coalesce(col(c), expr(sql).cast(tp)))
      else acc.withColumn(c, expr(sql).cast(tp))
    }
  }

  /** Table property declaring the SYNTHESIZED partition columns of
    * hive-imported external entries (`name:kind,...` in partition-path
    * order; kind "n" reads LongType, "s" StringType — the ColStat kind
    * alphabet, so import-time stats and the read type agree by
    * construction). Recorded once at the first hive [[Importer.addFiles]]
    * and REQUIRED to stay consistent across later imports: a column's
    * declared type never changes with entry churn. Entries without
    * values (owned commits, flat imports) read NULL for these columns
    * until a rewrite materializes them physically. */
  val HivePartColsProp = "graft.import.hive-columns"

  /** Destination-side property a cross-root export stamps on every
    * exported table: the SOURCE txn the copied rows are complete as of
    * ([[exportTables]]) — the watermark a later delta/catch-up export
    * resumes from. */
  val ExportSrcTxnProp = "graft.export.source-txn"

  /** [[HivePartColsProp]] parsed: (column, Spark type) in declared
    * order; empty when the table has no hive-imported entries. */
  private[storage] def hivePartCols(props: Map[String, String])
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    props.get(HivePartColsProp).toSeq.flatMap(_.split(',')).map { s =>
      val Array(n, k) = s.split(':')
      (n, if (k == "n") org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.StringType)
    }

  /** Table properties at the latest committed txn. */
  def tableProperties(spark: SparkSession, root: String,
      table: String): Map[String, String] =
    snapshot(spark, root)
      .map(_.properties(table)).getOrElse(Map.empty)

  /** Merge `props` into `table`'s properties (an empty-string value
    * REMOVES the key), committing the merged set as one txn. Keys under
    * [[ConstraintPrefix]] declare CHECK constraints — the value is a
    * Spark SQL boolean expression over the table's columns, enforced
    * from this txn on: every future commit staging data for `table`
    * fails (atomically, staging cleaned up) if any staged row evaluates
    * the expression to FALSE (NULL passes, SQL CHECK semantics — write
    * `col IS NOT NULL` for NOT NULL). Adding a constraint validates the
    * EXISTING table data first and throws without committing when
    * violated (Delta's ADD CONSTRAINT rule), so readers can trust a
    * declared constraint over the whole table, not just post-hoc
    * appends. The properties entry is internal: it never surfaces in
    * [[Snapshot.read]] / [[partitions]] / [[diffData]], and it carries
    * forward through reorganizations and whole-table overwrites alike.
    * Returns the committed txn. */
  def setTableProperties(spark: SparkSession, root: String, table: String,
      props: Map[String, String]): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    require(snap.tables.contains(table), s"unknown table '$table'")
    val merged = (snap.properties(table) ++ props).filter(_._2.nonEmpty)
    // validate NEW constraints against the data already in the table
    val added = props.filter { case (k, v) =>
      k.startsWith(ConstraintPrefix) && v.nonEmpty }
    if (added.nonEmpty) snap.read(table).foreach { df =>
      added.foreach { case (k, v) =>
        val bad = df.filter(not(coalesce(expr(v), lit(true)))).limit(1)
        if (!bad.isEmpty) throw new IllegalArgumentException(
          s"cannot add $k: existing rows of '$table' violate ($v)")
      }
    }
    val kv = spark.createDataFrame(
      spark.sparkContext.parallelize(
        merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
    publish(spark, root, Seq((table, PropsPartition, kv)),
      statsColumns = Nil, expectedTxn = Some(snap.txn),
      reconcile = identity)(() => ())
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's headline `ALTER TABLE ...
    * WRITE ORDERED BY`-family capability, doable here as ONE
    * manifest-only commit because the layout contract is
    * property-driven end to end): replace `table`'s hidden-partitioning
    * spec ([[PartitionSpec.Prop]]) with `spec` — every FUTURE write
    * (SQL INSERT, streaming sink, bulk load) routes rows under the new
    * transforms; partitions already written under the old spec keep
    * their dirs, names and stats untouched. Reads never parse partition
    * names (pruning rides manifest min/max + Blooms), so a mixed-spec
    * table prunes correctly on BOTH generations — the new transforms'
    * source columns merge into `graft.stats-columns` /
    * `graft.bloom-columns` here, and the OLD spec's columns stay
    * listed, so neither generation loses skippability. A later
    * `CALL system.optimize` regroups old data under the new spec's
    * logical groups (the group expression evaluates DATA columns, not
    * names) — evolution needs no rewrite, but re-layout is one
    * procedure away when wanted. An empty `spec` REMOVES hidden
    * partitioning (writes fall back to caller-named partitions).
    * Validates every transform against the table's current schema
    * before committing; returns the committed txn. */
  def evolvePartitionSpec(spark: SparkSession, root: String,
      table: String, spec: String,
      extraProps: Map[String, String] = Map.empty): Long = {
    checkTableName(table)
    val parsed =
      if (spec.trim.isEmpty) Nil else PartitionSpec.parse(spec.trim)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    require(snap.tables.contains(table), s"unknown table '$table'")
    if (parsed.nonEmpty) {
      val schema = snap.read(table).map(_.schema).getOrElse(
        throw new IllegalArgumentException(s"cannot resolve schema of '$table'"))
      parsed.foreach(tr => require(schema.fieldNames.contains(tr.column),
        s"partition transform references unknown column '${tr.column}'"))
    }
    val cur = snap.properties(table)
    def mergedList(key: String, add: Seq[String]): Option[(String, String)] = {
      val have = cur.get(key).toSeq.flatMap(_.split(','))
        .map(_.trim).filter(_.nonEmpty)
      val all = (have ++ add).distinct
      if (all.isEmpty) None else Some(key -> all.mkString(","))
    }
    val specProps = Map(PartitionSpec.Prop ->
      (if (parsed.isEmpty) "" else PartitionSpec.render(parsed))) ++
      mergedList(StatsColumnsProp,
        parsed.filterNot(_.wantsBloom).map(_.column)) ++
      mergedList(BloomColumnsProp,
        parsed.filter(_.wantsBloom).map(_.column))
    setTableProperties(spark, root, table, extraProps ++ specProps)
  }

  /** Create `table` — its first data partition AND its properties
    * (CHECK constraints included) — in ONE atomic txn: a crash or rival
    * commit can never observe the table without its declared
    * constraints, so "constraints enforce from birth" is a manifest
    * fact, not a two-txn hope. Constraint expressions are validated
    * (parsed + resolved against the schema) before anything is staged.
    * Conditional on the catalog's current txn: a racing CREATE (or any
    * rival commit) throws [[CommitConflict]] — retry against the moved
    * catalog; a pre-existing `table` throws IllegalArgumentException. */
  private[graft] def createTableWithProperties(spark: SparkSession,
      root: String, table: String, partition: String, df: DataFrame,
      props: Map[String, String], replace: Boolean = false): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    checkPartitionName(partition)
    val snap = snapshot(spark, root)
    require(replace || !snap.exists(_.tables.contains(table)),
      s"table '$table' already exists under $root")
    val clean = props.filter(_._2.nonEmpty)
    // constraint expressions must parse AND resolve against the birth
    // schema — analysis only, no job (the frame is typically empty)
    clean.foreach { case (k, v) =>
      if (k.startsWith(ConstraintPrefix))
        df.filter(not(coalesce(expr(v), lit(true))))
          .queryExecution.analyzed
    }
    val kv = spark.createDataFrame(
      spark.sparkContext.parallelize(
        clean.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
    // `replace` = atomic RTAS: the old table's every entry (data,
    // delete lists, properties) is superseded in the SAME txn the new
    // content lands — no observer ever sees the table absent or empty,
    // unlike a drop-then-create sequence
    publish(spark, root, Seq((table, partition, df),
        (table, PropsPartition, kv)),
      statsColumns = Nil, expectedTxn = Some(snap.map(_.txn).getOrElse(0L)),
      reconcile = carried =>
        if (replace) carried.filterNot(_._1._1 == table) else carried
      )(() => ())
  }

  /** Tables present in the latest committed snapshot. */
  def tables(spark: SparkSession, root: String): Seq[String] =
    snapshot(spark, root).map(_.tables).getOrElse(Nil)

  /** Partitions of `table` in the latest committed snapshot (empty for a
    * whole-table snapshot or an absent table). */
  def partitions(spark: SparkSession, root: String, table: String): Seq[String] =
    snapshot(spark, root).map(_.partitions(table)).getOrElse(Nil)

  /** Read `table` at the latest committed txn. Consistency note: ONE call
    * resolves one manifest, but each call re-resolves the latest — a
    * multi-call read should go through [[snapshot]] to pin a single txn
    * across calls. None if absent. */
  def read(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    snapshot(spark, root).flatMap(_.read(table))

  /** Read one partition of `table` at the latest committed txn — touches
    * ONLY that partition's files (manifest-level partition pruning).
    * Multi-call reads should pin a [[snapshot]] (see [[read]]). */
  def readPartition(spark: SparkSession, root: String, table: String,
      partition: String): Option[DataFrame] =
    snapshot(spark, root).flatMap(_.readPartition(table, partition))

  /** Atomically publish new WHOLE-TABLE snapshots for `updates`
    * (table → DataFrame); untouched tables carry forward. A whole-table
    * commit replaces ALL of a table's entries, including any partition
    * entries. Returns the committed txn number. Concurrent writers race on
    * the manifest rename: exactly one commit per txn number survives, the
    * loser deletes only its own staging dirs and throws. A crash before
    * the rename leaves invisible orphans that [[vacuum]] clears. */
  def commit(spark: SparkSession, root: String,
      updates: Seq[(String, DataFrame)],
      expectedTxn: Option[Long] = None): Long =
    commitHooked(spark, root, updates, expectedTxn)(() => ())

  /** [[commit]] with a test-only interleave seam before the manifest
    * publish (the window a concurrent writer can win the txn number).
    * `expectedTxn` makes the commit CONDITIONAL on the catalog still
    * standing at that txn — the read-modify-write guard a
    * read-union-commit append needs against lost updates. */
  private[graft] def commitHooked(spark: SparkSession, root: String,
      updates: Seq[(String, DataFrame)],
      expectedTxn: Option[Long] = None)(beforePublish: () => Unit): Long = {
    require(updates.nonEmpty, "commit needs at least one table update")
    require(updates.map(_._1).distinct.size == updates.size,
      "duplicate table in one commit")
    updates.foreach { case (t, _) => checkTableName(t) }
    publish(spark, root,
      updates.map { case (t, df) => (t, Whole, df) },
      statsColumns = Nil, expectedTxn = expectedTxn,
      // a whole-table snapshot supersedes every entry of that table —
      // except its properties, which describe the table, not a snapshot
      reconcile = carried => carried.filterNot { case ((t, p), _) =>
        p != "~p" && updates.exists(_._1 == t) })(beforePublish)
  }

  /** Atomically publish new snapshots for a set of PARTITIONS
    * (table, partition → DataFrame) across any number of tables; every
    * other (table, partition) entry carries forward unchanged. Updating
    * 1 of a fact table's N partitions stages and rewrites only that
    * partition's data — the whole-table copy is never made. Partition
    * keys are path-safe dir names (commonly Hive-style `k=v`); the
    * partition's key column stays a DATA column so [[read]] unions
    * losslessly. Tables are partitioned or whole, never both: committing
    * a partition to a table holding a whole-table snapshot throws. */
  def commitPartitions(spark: SparkSession, root: String,
      updates: Seq[(String, String, DataFrame)],
      statsColumns: Seq[String] = Nil,
      drops: Seq[(String, String)] = Nil,
      bloomColumns: Seq[String] = Nil): Long =
    commitPartitionsHooked(spark, root, updates, statsColumns, drops,
      bloomColumns = bloomColumns)(() => ())

  /** [[commitPartitions]] with the test-only pre-publish seam and the
    * optimistic-concurrency guard [[compactPartitions]] needs:
    * `expectedTxn`, when set, makes the commit conditional on the catalog
    * still standing at that txn — a rival commit in between fails this
    * one cleanly instead of letting it publish decisions (drops!) made
    * against a stale snapshot. */
  private[graft] def commitPartitionsHooked(spark: SparkSession, root: String,
      updates: Seq[(String, String, DataFrame)],
      statsColumns: Seq[String] = Nil,
      drops: Seq[(String, String)] = Nil,
      expectedTxn: Option[Long] = None,
      bloomColumns: Seq[String] = Nil,
      dataTxns: Map[(String, String), Long] = Map.empty)(
      beforePublish: () => Unit): Long = {
    require(updates.nonEmpty || drops.nonEmpty,
      "commit needs at least one partition update or drop")
    require(updates.map(u => (u._1, u._2)).distinct.size == updates.size,
      "duplicate (table, partition) in one commit")
    updates.foreach { case (t, p, _) =>
      checkTableName(t); checkPartitionName(p)
    }
    drops.foreach { case (t, p) =>
      checkTableName(t)
      // internal entries (equality-delete key lists, deletion vectors)
      // are legitimately DROPPED by maintenance (applyDeletes' bulk
      // path); only their CREATION stays restricted
      if (!p.startsWith("~")) checkPartitionName(p)
    }
    require(drops.distinct.size == drops.size, "duplicate drop")
    val updatedKeys = updates.map(u => (u._1, u._2)).toSet
    require(!drops.exists(updatedKeys), "a (table, partition) cannot be " +
      "both updated and dropped in one commit")
    publish(spark, root, updates, statsColumns, expectedTxn,
      bloomColumns = bloomColumns, dataTxns = dataTxns,
      reconcile = carried => {
        updates.map(_._1).distinct.foreach { t =>
          require(!carried.contains((t, Whole)),
            s"table '$t' holds a whole-table snapshot; partition commits " +
              "need a partitioned table (or a whole-table commit to replace it)")
        }
        val missing = drops.filterNot(carried.contains)
        require(missing.isEmpty, "dropping partitions absent from the " +
          s"current manifest: ${missing.mkString(", ")}")
        carried -- drops
      })(beforePublish)
  }

  /** Commit EVERY distinct value of `keyCol` as its own partition of
    * `table` in one atomic txn, with O(1) SPARK JOBS — the bulk loading
    * path: [[commitPartitions]] stages one write job per partition (the
    * right shape for a handful of targeted updates; a 10 000-partition
    * initial load would schedule 10 000 jobs), while this runs
    *  1. ONE `partitionBy` write job staging every partition's files,
    *  2. ONE grouped aggregate over the STAGED files measuring
    *     per-partition stats + row counts (the grouped form of the
    *     per-entry measurer, [[measureStaged]] — one more grouped job
    *     when Bloom columns are configured),
    *  3. driver-side renames moving each staged dir into place, and
    *  4. the one manifest CAS of [[publish]].
    * Partitions are named `<keyCol>=<value>` with Hive path escaping;
    * `keyCol` stays a data column in the files (the write partitions by
    * an internal copy), so reads union losslessly like any other commit.
    * `partPrefix` prepends to every partition name — a bulk APPEND to an
    * already-loaded table uses a generation prefix (`"g<txn>-"`) so new
    * batches land BESIDE the existing `<keyCol>=<v>` partitions instead
    * of replacing them; pruning is unaffected (it reads stats, never
    * names), and a later compaction/clustering folds generations.
    * Null keys land in `<keyCol>=__HIVE_DEFAULT_PARTITION__`. CHECK
    * constraints enforce in one pass over the staged files (a violation
    * unstages and throws before the CAS). Existing partitions with
    * colliding names are REPLACED (same merge rule as
    * [[commitPartitions]]). `extraUpdates` ride the same txn as ordinary
    * per-entry updates (an index build commits its data cells in bulk
    * and its small router table atomically beside them — see
    * [[graft.ops.VectorLake]]). Returns the committed txn; throws
    * [[CommitConflict]] on a lost commit race (staging cleaned up). */
  def commitPartitioned(spark: SparkSession, root: String, table: String,
      df: DataFrame, keyCol: String,
      statsColumns: Seq[String] = Nil,
      extraUpdates: Seq[(String, String, DataFrame)] = Nil,
      partPrefix: String = "",
      drops: Seq[(String, String)] = Nil,
      keyExpr: Option[org.apache.spark.sql.Column] = None,
      dataTxn: Option[Long] = None,
      expectedTxn: Option[Long] = None,
      // [[rewritePartitionsBulk]] hooks: name each staged group with
      // this function of the RAW key (instead of `<prefix><key>=<v>`),
      // and exclude these columns from the staged data files (the
      // attribution column a bulk rewrite rides on)
      partNameOf: Option[String => String] = None,
      dropData: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    checkTableName(table)
    // `keyExpr` generalizes the grouping to a DERIVED key (hidden
    // partitioning: days(ts), bucket(n, c) — [[PartitionSpec]]): the
    // expression groups the write and the staged stats pass but never
    // becomes a data column; `keyCol` is then just the partition-name
    // label. Without it the key is the named data column, as before.
    if (keyExpr.isEmpty)
      require(df.columns.contains(keyCol), s"no key column '$keyCol'")
    extraUpdates.foreach { case (t, p, _) =>
      checkTableName(t)
      if (p != PropsPartition) checkPartitionName(p)
    }
    publish(spark, root, extraUpdates, statsColumns, expectedTxn,
      bloomColumns = bloomColumns,
      // validated BEFORE any staging work; `drops` ride the same txn
      // (an index REBUILD swaps the old cells for the new ones
      // atomically) — dropping an entry this commit also replaces is
      // redundant but harmless, the staged entry wins
      reconcile = carried => {
        (table +: extraUpdates.map(_._1)).distinct.foreach { t =>
          require(!carried.contains((t, Whole)),
            s"table '$t' holds a whole-table snapshot; partition commits " +
              "need a partitioned table (or a whole-table commit to replace it)")
        }
        drops.foreach { case (t, p) =>
          require(carried.contains((t, p)),
            s"dropping an entry absent from the manifest: ($t, $p)")
        }
        carried -- drops
      },
      bulk = Some(BulkLoad(table, df, keyCol,
        keyExpr.getOrElse(org.apache.spark.sql.functions.col(keyCol)),
        statsColumns, bloomColumns, partPrefix, partNameOf, dropData,
        dataTxn)))(() => ())
  }

  /** One bulk load of [[stageBulk]]: `df` grouped by `groupKey`, each
    * group staged as its own partition of `table`. */
  private[storage] final case class BulkLoad(table: String, df: DataFrame,
      keyCol: String, groupKey: org.apache.spark.sql.Column,
      statsColumns: Seq[String], bloomColumns: Seq[String],
      partPrefix: String = "", partNameOf: Option[String => String] = None,
      dropData: Seq[String] = Nil, dataTxn: Option[Long] = None)

  /** The O(1)-jobs bulk STAGING core [[publish]] and the cross-root
    * export ([[exportTables]]) share: write `load.df` grouped by its
    * `groupKey` as dynamic partitions under a `.bulk.` staging dir in
    * `tblProps`' write layout, enforce their CHECK constraints on the
    * staged bytes, measure per-group stats (+ Blooms) in one grouped job
    * each, and move each group into its `dirName` entry slot under
    * `root/table`. Returns the staged entry map — possibly empty (zero
    * groups) — with the staging dir cleaned up either way. NOTHING is
    * committed here; the caller owns the manifest CAS, which is what
    * lets an export stage SEVERAL tables this way and land them all in
    * one commit. Reorganizations (explicit `dataTxn` — spec-aware
    * compaction, Z-cluster folds) keep the order they chose and skip
    * the constraints their rows passed when first committed. */
  private def stageBulk(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, root: String, load: BulkLoad,
      tblProps: Map[String, String],
      dirName: String): Map[(String, String), Entry] = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val bulkKey = "__graft_bulk_key"
    val stagingDir =
      new Path(s"$root/${load.table}/.bulk.${dirName.stripPrefix("v=")}")
    try {
      // 1. one write job for every partition; the declared sort order
      // sorts within the write tasks by (group, sort columns) — the
      // dynamic-partition writer keeps a satisfied ordering, so each
      // staged file comes out internally sorted exactly like the
      // publish path's files
      val keyed = load.df.withColumn(bulkKey, load.groupKey.cast("string"))
        .drop(load.dropData: _*)
      val (arranged, opts) = writeLayout(keyed, tblProps,
        reorg = load.dataTxn.isDefined, lead = Seq(col(bulkKey)))
      arranged.write.partitionBy(bulkKey).options(opts)
        .parquet(stagingDir.toString)
      // zero groups staged (every input row deleted/masked): nothing to
      // measure or move — the caller decides what an empty staging means
      if (!f.listStatus(stagingDir).exists(_.isDirectory)) return Map.empty
      // Everything below reads the STAGED files, never the input frame
      // again: a nondeterministic (or concurrently-changing) input would
      // otherwise publish stats/row counts/constraint verdicts describing
      // a DIFFERENT evaluation than the bytes written.
      // recursiveFileLookup skips Hive partition discovery (no type
      // re-inference on the key); keyCol is a data column by contract, so
      // the staged read carries it at its original type.
      val stagedDf = spark.read.option("recursiveFileLookup", "true")
        .parquet(stagingDir.toString)
      if (load.dataTxn.isEmpty) checkConstraints(load.table, tblProps, stagedDf)
      // 2. grouped stats, keyed by the expression that partitioned the
      // write (derivable from data columns); in partNameOf mode (bulk
      // REWRITE) the key was an attribution column EXCLUDED from the
      // data — recover it from each staged file's PARENT DIR instead.
      // `_metadata.file_path` is a URI rendering (the on-disk
      // hive-escaped name gets its '%' URI-escaped once more), so the
      // captured parent decodes driver-side via java.net.URI back to the
      // exact on-disk dir name the move loop sees.
      val measured = load.partNameOf match {
        case Some(_) =>
          measureStaged(stagedDf, tblProps, load.statsColumns,
            load.bloomColumns, Some(regexp_extract(
              col("_metadata.file_path"), "^(.*)/[^/]+$", 1)))
            .map { case (k, v) => k.map { uri =>
              val p = new java.net.URI(uri).getPath
              p.substring(p.lastIndexOf('/') + 1).stripPrefix(bulkKey + "=")
            } -> v }
        case None =>
          measureStaged(stagedDf, tblProps, load.statsColumns,
            load.bloomColumns, Some(load.groupKey.cast("string")))
      }
      // 3. move each staged key dir into its partition slot
      val unescape =
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName _
      f.listStatus(stagingDir).filter(_.isDirectory).map { d =>
        val hive = d.getPath.getName // __graft_bulk_key=<escaped value>
        val escaped = hive.substring(bulkKey.length + 1)
        val raw = unescape(escaped)
        val key =
          if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
        val part = load.partNameOf match {
          case Some(fn) =>
            require(key.isDefined, "bulk rewrite produced rows with no " +
              "partition attribution (null rewrite key)")
            fn(raw)
          case None => s"${load.partPrefix}${load.keyCol}=$escaped"
        }
        checkPartitionName(part)
        val target = new Path(entryPath(root, load.table, part, dirName))
        f.mkdirs(target.getParent)
        require(f.rename(d.getPath, target), s"staging move failed: $part")
        val (stats, rows) = measured.getOrElse(
          if (load.partNameOf.isDefined) Some(escaped) else key,
          (Map.empty[String, ColStat], 0L))
        // `dataTxn` carries the sources' max data txn when this bulk
        // write is a REORGANIZATION (spec-aware compaction) — incremental
        // consumers skip it exactly like compactPartitions' folds
        (load.table, part) -> Entry(dirName, stats, load.dataTxn, Some(rows),
          bytes = dirBytes(spark, target.toString))
      }.toMap
    } finally f.delete(stagingDir, true) // _SUCCESS and empty shell
  }

  /** Attribution column [[rewritePartitionsBulk]] rides on: each row's
    * ORIGINAL partition name, derived from its physical file path.
    * Transforms passed to the bulk rewrite must leave it untouched. */
  private[storage] val RwPartCol = "__graft_rw_part"

  /** How many partitions a rewrite must touch before the O(1)-jobs bulk
    * path beats the per-entry path (2 Spark jobs per partition): below
    * this, per-entry staging is simpler; above it,
    * per-partition scheduling overhead dominates — a 10 000-partition
    * ALTER/DELETE/UPDATE rewrite would otherwise launch 20 000 driver
    * round trips. */
  private[storage] val BulkRewriteThreshold = 4

  /** Rewrite `parts` (data entries of `table`) in O(1) SPARK JOBS,
    * PRESERVING partition names — the scale path behind column
    * rewrites, skipping-aware DELETE, and UPDATE when they touch many
    * partitions. ONE funnel read with physical path coordinates
    * (pending equality deletes materialize into the rewrite, exactly
    * like the per-entry path), partition attribution by resolved-dir
    * lookup (correct for `~ref:` clone/branch entries too), one
    * `transform` over the union frame, then [[commitPartitioned]]'s
    * one-write-job + grouped-stats + one-CAS pipeline with
    * `partNameOf = identity` so every group lands back under its own
    * name. All rewritten names are also `drops`: a partition whose
    * rewrite yields ZERO rows is dropped from the manifest (the
    * per-entry path writes an empty entry instead — same reads, fewer
    * manifest rows). Stats and Blooms are measured exactly as on the
    * per-entry path ([[measureStaged]], grouped). Conditional on `snap`
    * ([[CommitConflict]] on a rival commit; callers retry or surface). */
  private def rewritePartitionsBulk(spark: SparkSession, root: String,
      table: String, snap: Snapshot, parts: Seq[(String, Entry)],
      transform: DataFrame => DataFrame,
      statsColumns: Seq[String],
      extraUpdates: Seq[(String, String, DataFrame)] = Nil,
      extraDrops: Seq[(String, String)] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, element_at, regexp_extract, typedLit}
    val f = fs(spark, root)
    val dirMap: Map[String, String] = parts.map { case (p, e) =>
      f.makeQualified(new Path(entryPath(root, table, p, e.dir)))
        .toString -> p
    }.toMap
    val src = snap.readSelectedWithPos(table, parts).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$table'"))
    val keyed = src
      .withColumn(RwPartCol, element_at(typedLit(dirMap),
        regexp_extract(col(DvPathColumn), "^(.*)/[^/]+$", 1)))
      .drop(DvPathColumn, DvPosColumn)
    val transformed = transform(keyed)
    if (transformed.limit(1).isEmpty) {
      // the rewrite empties EVERY touched partition: keep one empty
      // entry under the first name so the table — and its schema —
      // survive for later reads and appends (the per-entry path's
      // behavior), and drop the rest
      val schema = org.apache.spark.sql.types.StructType(
        transformed.schema.fields.filterNot(_.name == RwPartCol))
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // only row-deleting rewrites can get here (column rewrites keep
      // every row), and those carry no extra entries
      require(extraUpdates.isEmpty,
        "a rewrite with extra entries cannot empty the table")
      return commitPartitionsHooked(spark, root,
        Seq((table, parts.head._1, empty)),
        statsColumns,
        drops = parts.tail.map { case (p, _) => (table, p) } ++ extraDrops,
        expectedTxn = Some(snap.txn),
        bloomColumns = bloomColumns)(() => ())
    }
    commitPartitioned(spark, root, table, transformed,
      keyCol = RwPartCol, keyExpr = Some(col(RwPartCol)),
      partNameOf = Some(identity[String]),
      dropData = Seq(RwPartCol),
      statsColumns = statsColumns,
      extraUpdates = extraUpdates,
      drops = parts.map { case (p, _) => (table, p) } ++ extraDrops,
      expectedTxn = Some(snap.txn),
      bloomColumns = bloomColumns)
  }

  /** Spec-aware OPTIMIZE ([[graft.storage.PartitionSpec]] tables): fold
    * `parts` into ONE partition PER LOGICAL TRANSFORM GROUP instead of
    * one blob — a hidden-partitioned table's nonce'd same-day batches
    * re-land as one `c<txn>.<label>=<v>` entry per day/bucket, keeping
    * the per-group stats exactly as tight as the transform guarantees
    * (a single-blob fold would smear every day's min/max across the
    * whole span and kill pruning). O(1) Spark jobs via the bulk path;
    * sources read through the delete-applying funnel; the fold carries
    * the sources' max data txn so incremental consumers skip it like
    * any reorganization. Conditional by construction (the bulk CAS
    * fails on any rival commit); throws [[CommitConflict]] to retry. */
  def compactPartitionsBy(spark: SparkSession, root: String, table: String,
      parts: Seq[String], keyExpr: org.apache.spark.sql.Column,
      label: String, statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    require(parts.nonEmpty, "nothing to compact")
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val src = snap.readPartitions(table, parts).getOrElse(
      throw new IllegalArgumentException(s"unknown partitions of '$table'"))
    val carried = parts.map(p => entryDataTxn(snap.entries((table, p)))).max
    commitPartitioned(spark, root, table, src,
      keyCol = label, keyExpr = Some(keyExpr),
      partPrefix = s"c${snap.txn + 1}.",
      statsColumns = statsColumns,
      drops = parts.map((table, _)),
      dataTxn = Some(carried),
      expectedTxn = Some(snap.txn),
      bloomColumns = bloomColumns)
  }

  /** Compact N small partitions of `table` into ONE (`into`), atomically:
    * the merged data is staged, then a single manifest commit publishes
    * the new partition and drops the old ones — readers see either all
    * the small batches or the compacted one, never both, and pinned
    * snapshots keep reading the old batches until [[vacuum]] ages them
    * out. This is the small-file answer for append-heavy tables (a
    * streaming [[TwinCommit]] sink lands one batch partition per
    * micro-batch; compaction folds them up without pausing the stream).
    *
    * Conditional on the catalog still standing at the pinned snapshot's
    * txn: a rival commit (even to an unrelated partition) between pin
    * and publish throws [[CommitConflict]] and the compaction simply
    * retries —
    * the alternative (carrying drops forward over a stale view) could
    * silently discard a rival's concurrent rewrite of a source
    * partition. Source partitions' data files are untouched until
    * vacuum. Returns the committed txn. */
  def compactPartitions(spark: SparkSession, root: String, table: String,
      parts: Seq[String], into: String, numFiles: Int = 0,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long =
    compactPartitionsHooked(spark, root, table, parts, into, numFiles,
      statsColumns, bloomColumns)(() => ())

  /** [[compactPartitions]] with the test-only pre-publish seam.
    * `numFiles` 0 (the default) AUTO-SIZES the fold like clustering
    * does: source bytes / `spark.sql.files.maxPartitionBytes` (1 MB
    * floor, 1024 cap) — micro-batch folds stay one file, a fold of GBs
    * is written by that many parallel tasks instead of coalesce(1).
    * With no explicit stats/Bloom columns the fold re-measures whatever
    * the SOURCE entries tracked (stats-preserving by default). */
  private[graft] def compactPartitionsHooked(spark: SparkSession,
      root: String, table: String, parts: Seq[String], into: String,
      numFiles: Int = 0, statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil)(
      beforePublish: () => Unit): Long = {
    require(parts.nonEmpty, "nothing to compact")
    require(numFiles >= 0, "numFiles must be >= 1, or 0 for auto-sizing")
    checkPartitionName(into)
    require(!parts.contains(into),
      s"target partition '$into' is among the sources")
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val nf =
      if (numFiles >= 1) numFiles
      else {
        val f = fs(spark, root)
        val srcBytes = parts.map { p =>
          f.getContentSummary(new Path(
            entryPath(root, table, p, snap.entries((table, p)).dir)))
            .getLength
        }.sum
        val target = math.max(1L << 20,
          spark.sessionState.conf.filesMaxPartitionBytes)
        math.max(1L, math.min(1024L, (srcBytes + target - 1) / target)).toInt
      }
    val merged = snap.readPartitions(table, parts).get.coalesce(nf)
    // stats-PRESERVING by default: with no explicit columns, re-measure
    // whatever the source entries already tracked — a compaction must
    // never silently downgrade a skipping-ready table to unprunable
    // (table-configured columns still merge in at publish)
    val srcStats = parts.flatMap(p =>
      snap.entries((table, p)).stats.keys).distinct.sorted
    val srcBlooms = parts.flatMap(p =>
      snap.entries((table, p)).stats.collect {
        case (c, st) if st.bloom.nonEmpty => c }).distinct.sorted
    commitPartitionsHooked(spark, root, Seq((table, into, merged)),
      if (statsColumns.nonEmpty) statsColumns else srcStats,
      drops = parts.map((table, _)),
      expectedTxn = Some(snap.txn),
      bloomColumns = if (bloomColumns.nonEmpty) bloomColumns else srcBlooms,
      // a pure reorganization: the folded entry's DATA is no newer than
      // its newest source, and diffData consumers may skip it as such
      dataTxns = Map((table, into) ->
        parts.map(p => entryDataTxn(snap.entries((table, p)))).max))(
      beforePublish)
  }

  /** `DELETE FROM table WHERE column BETWEEN lo AND hi` (inclusive, the
    * [[Snapshot.readWhere]] probe form), rewriting ONLY the partitions
    * whose manifest stats may overlap the range — the Delta/Iceberg
    * "rewrite matching files" DELETE, at partition grain: on a
    * 10 000-partition clustered table a narrow delete reads and
    * rewrites the few overlapping tiles and never touches the rest
    * (their manifest entries carry forward byte-identical). Rows where
    * `column` is NULL survive, exactly like SQL DELETE (a null predicate
    * is not TRUE); partitions with no recorded stats for `column` are
    * rewritten (conservative — no stats, no skipping claim). Each
    * rewritten partition re-measures the stats and Blooms its entry
    * already carried, so skipping quality survives the delete.
    *
    * Same optimistic concurrency as [[compactPartitions]]: conditional
    * on the pinned snapshot's txn, so a rival commit in the window fails
    * this delete cleanly ([[CommitConflict]] — retry against the new
    * snapshot)
    * instead of resurrecting rows a rival rewrote. Whole-table entries
    * rewrite through the whole-table commit path. Returns the committed
    * txn; a delete that provably touches nothing commits nothing and
    * returns the pinned txn unchanged. */
  def deleteWhere(spark: SparkSession, root: String, table: String,
      column: String, lo: Any, hi: Any): Long =
    deleteWhereHooked(spark, root, table, column, lo, hi)(() => ())

  /** [[deleteWhere]] with a test-only seam in the rewrite window: it
    * runs after the snapshot pin, right before the commit. */
  private[graft] def deleteWhereHooked(spark: SparkSession, root: String,
      table: String, column: String, lo: Any, hi: Any)(
      beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val all = snap.dataEntries(table)
    require(all.nonEmpty, s"unknown table '$table'")
    // candidates: entries whose stats MAY hold a row in [lo, hi]
    // (stat-less or kind-mismatched entries are always candidates)
    val touched = all.filter { case (_, e) =>
      e.stats.get(column).forall(mayOverlap(_, lo, hi)) }
    if (touched.isEmpty) return snap.txn
    // the rows that survive, per entry or over the bulk union frame
    def survivors(df: DataFrame): DataFrame =
      if (!df.columns.contains(column)) df // evolved partition: no match
      else df.filter(!rangePredicate(df, column, lo, hi) || col(column).isNull)
    // read through the delete-applying funnel: the rewrite bumps the
    // entry's data txn, so pending equality deletes would stop applying
    // to it — they must be materialized into it here
    def rewritten(p: String, e: Entry): DataFrame =
      survivors(snap.readSelected(table, Seq((p, e))).get)
    // re-measure exactly the stats/Blooms the touched entries carried
    val statsCols = touched.flatMap(_._2.stats.keys).distinct
    val bloomCols = touched.flatMap { case (_, e) =>
      e.stats.collect { case (c, st) if st.bloom.nonEmpty => c } }.distinct
    beforePublish()
    touched match {
      case Seq((Whole, e)) =>
        commitHooked(spark, root, Seq(table -> rewritten(Whole, e)),
          expectedTxn = Some(snap.txn))(() => ())
      case _ if touched.sizeIs > BulkRewriteThreshold =>
        // many partitions: ONE funnel read + ONE staged write + ONE
        // grouped stats (+ bloom) pass instead of 2 jobs per
        // partition; fully-emptied partitions drop from the manifest
        rewritePartitionsBulk(spark, root, table, snap, touched,
          transform = survivors,
          statsColumns = statsCols, bloomColumns = bloomCols)
      case _ =>
        commitPartitionsHooked(spark, root,
          touched.map { case (p, e) => (table, p, rewritten(p, e)) },
          statsCols, drops = Nil, expectedTxn = Some(snap.txn),
          bloomColumns = bloomCols)(() => ())
    }
  }

  /** Skipping-aware UPDATE — the lake-level `UPDATE t SET ... WHERE ...`:
    * rewrite ONLY the partitions whose manifest stats MAY hold a row
    * matching `condSql` (candidates pruned by `bounds`, per-column
    * conjuncts the caller extracted from the condition — empty bounds
    * keep every partition: pruning is an optimization, never a
    * correctness bet), applying each assignment to matching rows and
    * leaving the rest byte-stable. `condSql`/assignment values are SQL
    * expression strings over the table's columns, re-resolved per
    * partition (evolved partitions lacking a referenced condition
    * column can't match — NULL condition per SQL — and skip the
    * rewrite; a partition lacking an ASSIGNED column gains it, null for
    * unmatched rows). One conditional txn; stats and Blooms re-measure
    * on the rewritten entries; the rewrite is a NEW data txn, so CDC
    * and streaming consumers see the surviving rows re-emitted —
    * documented upsert-on-key semantics. Returns the committed txn. */
  def updateWhere(spark: SparkSession, root: String, table: String,
      condSql: String, assignments: Seq[(String, String)],
      bounds: Seq[(String, Any, Any)] = Nil,
      condRefs: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val all = snap.dataEntries(table)
    require(all.nonEmpty, s"unknown table '$table'")
    val tableSchema = snap.read(table).get.schema
    val touched = all.filter { case (_, e) =>
      bounds.forall { case (c, lo, hi) =>
        e.stats.get(c).forall(mayOverlap(_, lo, hi)) } }
    if (touched.isEmpty) return snap.txn
    // the assignments, per entry or over the bulk union frame (whose
    // attribution column passes through untouched)
    def assign(df: DataFrame): DataFrame = {
      val cond = coalesce(expr(condSql), lit(false))
      val assigned = assignments.toMap
      val base = df.select(df.columns.toSeq.map { c0 =>
        assigned.get(c0) match {
          case Some(v) if c0 != RwPartCol => when(cond, expr(v))
            .otherwise(col(c0)).cast(df.schema(c0).dataType).as(c0)
          case _ => col(c0)
        }
      }: _*)
      // assigned columns this partition never had (schema evolution):
      // matched rows take the value, the rest stay null
      assignments.collect {
        case (c0, v) if !df.columns.contains(c0) &&
            tableSchema.fieldNames.contains(c0) => (c0, v)
      }.foldLeft(base) { case (acc, (c0, v)) =>
        acc.withColumn(c0, when(cond, expr(v))
          .otherwise(lit(null)).cast(tableSchema(c0).dataType))
      }
    }
    def rewritten(p: String, e: Entry): Option[DataFrame] = {
      // through the delete-applying funnel: the rewrite bumps the data
      // txn, so pending equality deletes must be materialized here
      val df = snap.readSelected(table, Seq((p, e))).get
      if (!condRefs.forall(df.columns.contains)) None // NULL cond: no match
      else Some(assign(df))
    }
    val updates = touched.flatMap { case (p, e) =>
      rewritten(p, e).map(df => (table, p, df)) }
    if (updates.isEmpty) return snap.txn
    val statsCols = touched.flatMap(_._2.stats.keys).distinct
    val bloomCols = touched.flatMap { case (_, e) =>
      e.stats.collect { case (c, st) if st.bloom.nonEmpty => c } }.distinct
    touched match {
      case Seq((Whole, e)) =>
        // a read-modify-write like the partitioned branch: conditional
        // on the pinned txn, or a rival INSERT landing in the rewrite
        // window would be silently overwritten by stale content
        commitHooked(spark, root,
          Seq(table -> rewritten(Whole, e).get),
          expectedTxn = Some(snap.txn))(() => ())
      case _ if touched.sizeIs > BulkRewriteThreshold &&
          condRefs.forall(tableSchema.fieldNames.contains) =>
        // many partitions: one funnel read + staged write + grouped
        // stats instead of 2 jobs per partition. Partitions whose
        // files lack a condition column rewrite as no-ops here (the
        // NULL condition matches nothing) where the per-entry path
        // skips them — same values, re-emitted to CDC per the
        // documented rewrite contract.
        rewritePartitionsBulk(spark, root, table, snap, touched,
          transform = assign,
          statsColumns = statsCols, bloomColumns = bloomCols)
      case _ =>
        commitPartitionsHooked(spark, root, updates,
          statsCols, drops = Nil, expectedTxn = Some(snap.txn),
          bloomColumns = bloomCols)(() => ())
    }
  }

  /** MERGE-ON-READ delete: subtract every row of `table` whose
    * `keyColumn` matches a key in `keys`, WITHOUT rewriting any data —
    * the write costs O(distinct keys) regardless of table size
    * (Iceberg's equality-delete files; Delta DV's cost profile at
    * partition grain). The keys land as an internal `~d-*` entry in one
    * atomic commit; every read path ([[Snapshot.read]],
    * `readPartition(s)`, the `readWhere*` family, [[GraftLake]] frames)
    * anti-joins applicable key lists automatically, and Spark's
    * size-based planning broadcasts the (small) key list under the
    * anti-join. A delete applies only to data committed BEFORE it:
    * re-inserting a deleted key later works, exactly like
    * Iceberg sequence numbers. Reorganizations (compaction,
    * clustering) read through the delete-applying funnel, so an
    * OPTIMIZE pass physically applies pending deletes to what it
    * rewrites for free; [[applyDeletes]] is the explicit
    * materialize-and-purge pass. Metadata-only answers
    * ([[Snapshot.rowCount]], [[Snapshot.columnBounds]]) return None
    * while a delete may still mask rows — never a stale guess.
    *
    * `keys` must contain `keyColumn`; null and duplicate keys are
    * dropped (a null key matches no row under SQL equality). Tables
    * holding a whole-table snapshot don't take merge-on-read deletes
    * (they're catalog-sized — rewrite via [[deleteWhere]] or
    * [[commit]]). Returns the committed txn; an empty key set commits
    * nothing and returns the current txn. */
  def deleteKeys(spark: SparkSession, root: String, table: String,
      keyColumn: String, keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    checkTableName(table)
    require(keys.columns.contains(keyColumn),
      s"keys frame lacks column '$keyColumn'")
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    require(snap.dataEntries(table).nonEmpty, s"unknown table '$table'")
    require(!snap.entries.contains((table, Whole)),
      s"table '$table' holds a whole-table snapshot; merge-on-read " +
        "deletes need a partitioned table (use deleteWhere or commit)")
    val keyList = keys.select(col(keyColumn).as(DeleteKeyColumn))
      .filter(col(DeleteKeyColumn).isNotNull).distinct()
    if (keyList.isEmpty) return snap.txn
    val part = s"~d-${java.util.UUID.randomUUID().toString.take(8)}"
    publish(spark, root, Seq((table, part, keyList)),
      statsColumns = Nil, expectedTxn = None,
      reconcile = identity,
      deleteKeyCols = Map((table, part) -> keyColumn))(() => ())
  }

  /** Merge-on-read POSITIONAL delete — a deletion vector (Delta DVs /
    * Iceberg position deletes, at this catalog's entry grain): mark
    * every current row matching `cond` by its physical coordinate
    * (`_metadata.file_path`, `_metadata.row_index`) and commit the
    * (path, pos, full row payload) list as an internal `~v-*` entry; no
    * data file is rewritten. This is the DELETE shape for ARBITRARY
    * predicates — anything a [[org.apache.spark.sql.Column]] can say,
    * including multi-column and OR shapes equality keys and single-axis
    * range rewrites can't address. Every read path applies DVs through
    * the same funnel as equality deletes ([[applyDeleteEntries]]);
    * [[applyDeletes]] materializes and purges them; compaction/
    * clustering read through the funnel, so a reorganization physically
    * applies the DV and the stale vector no-ops against the new file
    * names (exactly the equality-delete carry rule). The payload
    * columns make [[changeFeed]] emit FULL-ROW delete events for DV
    * deletes — row-precise CDC the null-payload equality shape can't
    * give.
    *
    * Positions are only meaningful against the file layout they were
    * computed on, so the commit is CONDITIONAL on the pinned snapshot
    * (any concurrent commit — especially a compaction renaming files —
    * fails the CAS) and retries by recomputing against the new
    * snapshot, bounded. Cost: one funnel scan of the table with `cond`
    * pushed toward the parquet readers + O(matching rows) written.
    * A predicate matching nothing commits nothing. Whole-table-snapshot
    * tables are refused (catalog-sized — rewrite via [[commit]]). */
  def deletePositions(spark: SparkSession, root: String, table: String,
      cond: org.apache.spark.sql.Column): Long = {
    checkTableName(table)
    // a lost race may have moved the layout the positions point into:
    // every attempt recomputes them against its own snapshot
    retryOnConflict { _ =>
      val snap = snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      require(snap.dataEntries(table).nonEmpty, s"unknown table '$table'")
      require(!snap.entries.contains((table, Whole)),
        s"table '$table' holds a whole-table snapshot; positional " +
          "deletes need a partitioned table (use commit)")
      val marked = snap.readSelectedWithPos(table, snap.dataEntries(table))
        .get.filter(cond)
      if (marked.isEmpty) snap.txn
      else {
        val part = s"~v-${java.util.UUID.randomUUID().toString.take(8)}"
        publish(spark, root, Seq((table, part, marked)),
          statsColumns = Nil, expectedTxn = Some(snap.txn),
          reconcile = identity,
          deleteKeyCols = Map((table, part) -> DeletePosMarker))(() => ())
      }
    }
  }

  /** Row-level UPDATE as a deletion vector + append, in ONE atomic txn
    * (Delta's DV-backed UPDATE): mark every row matching `cond` by its
    * physical (file, row) coordinate and append the assigned versions
    * as a fresh batch — the same-txn rule keeps the appended rows
    * unmasked by their own vector, so readers see an atomic swap. The
    * UPDATE shape for predicates manifest stats can't prune: cost is
    * one funnel scan plus O(matched rows) written, where the rewrite
    * path ([[updateWhere]] with no usable bounds) re-writes EVERY
    * partition — at fact-table scale the difference between touching
    * 0.1% of rows and touching all of them. Old entries keep their
    * stats (their visible rows are a subset of what the stats cover —
    * pruning stays conservative); the appended batch measures fresh
    * stats, so updated values prune from birth. [[changeFeed]] sees the
    * txn as full-payload delete events plus insert events — a
    * row-precise update pair. CHECK constraints validate the appended
    * batch like any data commit: an UPDATE cannot smuggle violating
    * rows past a table's constraints.
    *
    * `assignments` are `(column, SQL expression)` pairs evaluated over
    * the matched rows (expressions may reference any table column);
    * assigned values cast back to the column's current type. The
    * matched set is locally checkpointed before staging: the vector and
    * the appended batch are written from ONE materialization, so a
    * nondeterministic input can never delete one row set and append
    * another. Commit is conditional on the pinned snapshot with bounded
    * recompute-retries, exactly like [[deletePositions]]. */
  def updatePositions(spark: SparkSession, root: String, table: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, String)]): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    checkTableName(table)
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    // positions are recomputed on every attempt, as in deletePositions
    retryOnConflict { _ =>
      val snap = snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      require(snap.dataEntries(table).nonEmpty, s"unknown table '$table'")
      require(!snap.entries.contains((table, Whole)),
        s"table '$table' holds a whole-table snapshot; positional " +
          "updates need a partitioned table (use updateWhere)")
      val marked = snap.readSelectedWithPos(table, snap.dataEntries(table))
        .get.filter(cond).localCheckpoint()
      try {
        if (marked.isEmpty) snap.txn
        else {
          val data = marked.drop(DvPathColumn, DvPosColumn)
          val assigned = assignments.toMap
          assigned.keys.foreach(c0 => require(data.columns.contains(c0),
            s"unknown UPDATE column '$c0' on '$table'"))
          val updated = data.select(data.columns.toSeq.map { c0 =>
            assigned.get(c0) match {
              case Some(v) => expr(v).cast(data.schema(c0).dataType).as(c0)
              case None => col(c0)
            }
          }: _*)
          val nonce = java.util.UUID.randomUUID().toString.take(8)
          publish(spark, root,
            Seq((table, s"~v-$nonce", marked),
              (table, s"batch=u$nonce", updated)),
            statsColumns = Nil, expectedTxn = Some(snap.txn),
            reconcile = identity,
            deleteKeyCols = Map(
              (table, s"~v-$nonce") -> DeletePosMarker))(() => ())
        }
      } finally marked.unpersist()
    }
  }

  /** The storage half of a POSITIONAL merge ([[GraftMerge]]'s
    * arbitrary-ON path), in ONE atomic conditional txn: a deletion
    * vector masking `deleted` (payload + [[DvPathColumn]]/
    * [[DvPosColumn]] coordinates, as [[Snapshot.readSelectedWithPos]]
    * renders them) and the replacement/insert batch `append`. The
    * same-txn rule keeps appended rows unmasked by their own vector.
    * Positions are valid only against the layout they were computed on,
    * so the caller pins `expectedTxn` and drives recompute-retries on
    * the [[CommitConflict]] a lost race throws. */
  private[storage] def mergePositional(spark: SparkSession, root: String,
      table: String, expectedTxn: Long, deleted: Option[DataFrame],
      append: Option[DataFrame]): Long = {
    checkTableName(table)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dvEntry = deleted.map(df => (table, s"~v-$nonce", df))
    val appEntry = append.map(df => (table, s"batch=m$nonce", df))
    val updates = dvEntry.toSeq ++ appEntry.toSeq
    if (updates.isEmpty) return expectedTxn
    publish(spark, root, updates,
      statsColumns = Nil, expectedTxn = Some(expectedTxn),
      reconcile = identity,
      deleteKeyCols = dvEntry
        .map(e => (e._1, e._2) -> DeletePosMarker).toMap)(() => ())
  }

  /** The storage half of a keyed MERGE, in ONE atomic txn: an equality
    * delete masking `deleteKeys[keyColumn]` AND the replacement/insert
    * batch `append` — the merge-on-read upsert. The delete applies only
    * to entries whose data PREDATES this txn (the standard rule), so
    * the appended batch — same txn — is never masked by its own
    * delete: rows with masked keys are replaced by their appended
    * versions, keys absent from the append are deleted, keys absent
    * from the table just insert. O(source): no table rewrite, no scan
    * of unaffected partitions — a small MERGE against a 10 000-partition
    * fact table costs one key list and one batch partition. Readers pay
    * the usual merge-on-read anti-join until [[applyDeletes]]/
    * compaction folds it. Stats/Blooms measure on the appended batch so
    * it prunes from birth. Returns the committed txn. */
  private[graft] def mergeKeyed(spark: SparkSession, root: String,
      table: String, keyColumn: String,
      deleteKeys: Option[DataFrame], append: Option[DataFrame],
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    checkTableName(table)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    require(snap.dataEntries(table).nonEmpty, s"unknown table '$table'")
    require(!snap.entries.contains((table, Whole)),
      s"table '$table' holds a whole-table snapshot; merge-on-read " +
        "MERGE needs a partitioned table")
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val delEntry = deleteKeys.map { k =>
      require(k.columns.contains(keyColumn),
        s"delete keys frame lacks column '$keyColumn'")
      (table, s"~d-$nonce",
        k.select(col(keyColumn).as(DeleteKeyColumn))
          .filter(col(DeleteKeyColumn).isNotNull).distinct())
    }
    val appEntry = append.map(df => (table, s"batch=m$nonce", df))
    val updates = delEntry.toSeq ++ appEntry.toSeq
    if (updates.isEmpty) return snap.txn
    publish(spark, root, updates,
      statsColumns = statsColumns, expectedTxn = None,
      reconcile = identity,
      deleteKeyCols = delEntry
        .map(e => (e._1, e._2) -> keyColumn).toMap,
      bloomColumns = bloomColumns)(() => ())
  }

  /** The storage half of a STREAMING CDC APPLY ([[graft.streaming
    * .Streams.cdcApplySink]]): one micro-batch's key masks + final-state
    * upserts AND the ledger fact "`appId` applied `version`" land in ONE
    * atomic conditional txn — [[mergeKeyed]]'s merge-on-read upsert with
    * [[appendLedgered]]'s replay protection. Returns false (committing
    * nothing) when the ledger already covers `version`: a crashed
    * trigger's redelivery is a no-op no matter what maintenance renamed
    * since. Bootstraps the target table on its first batch (no delete
    * entry is written while there is no data to mask). */
  private[graft] def mergeBatchLedgered(spark: SparkSession, root: String,
      table: String, keyColumn: String,
      deleteKeys: Option[DataFrame], append: Option[DataFrame],
      appId: String, version: Long,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Boolean = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    retryOnConflict { _ =>
      val snap = snapshot(spark, root)
      val props = snap.map(_.properties(table)).getOrElse(Map.empty)
      if (props.get(ledgerKey(appId)).exists(_.toLong >= version)) false
      else {
        require(snap.forall(s => !s.entries.contains((table, Whole))),
          s"table '$table' holds a whole-table snapshot; merge-on-read " +
            "CDC apply needs a partitioned table")
        val nonce = java.util.UUID.randomUUID().toString.take(8)
        val exists = snap.exists(_.dataEntries(table).nonEmpty)
        val delEntry =
          if (!exists) None // nothing to mask before the first batch
          else deleteKeys.map { k =>
            require(k.columns.contains(keyColumn),
              s"delete keys frame lacks column '$keyColumn'")
            (table, s"~d-$nonce",
              k.select(col(keyColumn).as(DeleteKeyColumn))
                .filter(col(DeleteKeyColumn).isNotNull).distinct())
          }
        val appEntry = append.map(df => (table, s"batch=m$nonce", df))
        val merged = props + (ledgerKey(appId) -> version.toString)
        val kv = spark.createDataFrame(
          spark.sparkContext.parallelize(
            merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
          StructType(Seq(StructField("key", StringType, nullable = false),
            StructField("value", StringType, nullable = false))))
        val updates = delEntry.toSeq ++ appEntry.toSeq :+
          ((table, PropsPartition, kv))
        publish(spark, root, updates,
          statsColumns = statsColumns,
          expectedTxn = Some(snap.map(_.txn).getOrElse(0L)),
          reconcile = identity,
          deleteKeyCols = delEntry
            .map(e => (e._1, e._2) -> keyColumn).toMap,
          bloomColumns = bloomColumns)(() => ())
        true
      }
    }
  }

  /** The subset of `entries` a set of equality deletes can possibly
    * mask: the txn rule (the delete is newer than the entry's data)
    * AND key-bounds overlap between each delete key list's [min, max]
    * (one tiny agg job per delete — the key list is one small dir) and
    * the entry's recorded stats on the key column. Entries or kinds
    * without usable stats stay conservatively IN, and an empty key
    * list masks nothing. Shared by the delta export ([[exportTables]])
    * and the subtractive MV refresh ([[MaterializedAgg.refresh]]) —
    * the reason a handful of deleted keys costs a handful of
    * partitions, not the table. */
  private[storage] def deleteMaskCandidates(spark: SparkSession,
      dels: Seq[(String, Long, String, String)],
      entries: Seq[(String, Entry)]): Seq[(String, Entry)] = {
    if (dels.isEmpty) return Nil
    val bounds: Seq[(Long, String, Option[(String, String)])] =
      dels.map { case (_, dtxn, keyCol, path) =>
        val r = spark.read.parquet(path)
          .agg(org.apache.spark.sql.functions.min(
              org.apache.spark.sql.functions.col(DeleteKeyColumn))
              .cast("string"),
            org.apache.spark.sql.functions.max(
              org.apache.spark.sql.functions.col(DeleteKeyColumn))
              .cast("string")).head
        (dtxn, keyCol,
          if (r.isNullAt(0) || r.isNullAt(1)) None // empty key list
          else Some((r.getString(0), r.getString(1))))
      }
    entries.filter { case (_, e) =>
      bounds.exists {
        case (_, _, None) => false
        case (dtxn, keyCol, Some((lo, hi))) =>
          dtxn > entryDataTxn(e) && (e.stats.get(keyCol) match {
            case Some(st) if st.kind == "n" =>
              try !(BigDecimal(hi) < BigDecimal(st.min) ||
                BigDecimal(lo) > BigDecimal(st.max))
              catch { case _: NumberFormatException => true }
            case Some(st) if st.kind == "s" =>
              !(hi < st.min || lo > st.max)
            case _ => true // no usable stats: conservative
          })
      }
    }
  }

  /** Materialize pending equality deletes: rewrite every data entry an
    * applicable delete may mask (reading through the delete-applying
    * funnel, so the staged data is already subtracted), drop ALL of the
    * table's delete entries, in one conditional commit — after this,
    * reads pay no anti-join and metadata answers come back. Entries no
    * delete applies to carry forward untouched (the usual skipping
    * trade: only data committed before the oldest pending delete is
    * rewritten). Stats and Blooms re-measure per rewritten entry.
    * Returns the committed txn (the pinned one when nothing is
    * pending); [[CommitConflict]] on losing the commit race — retry. */
  def applyDeletes(spark: SparkSession, root: String,
      table: String): Long = {
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val dels = snap.deleteEntries(table)
    if (dels.isEmpty) return snap.txn
    val data = snap.dataEntries(table)
    val affected = data.filter { case (_, e) =>
      dels.exists { case (_, txn, _, _) => txn > entryDataTxn(e) } }
    val statsCols = affected.flatMap(_._2.stats.keys).distinct
    val bloomCols = affected.flatMap { case (_, e) =>
      e.stats.collect { case (c, st) if st.bloom.nonEmpty => c } }.distinct
    val dropKeys = dels.map { case (p, _, _, _) => (table, p) }
    if (affected.sizeIs > BulkRewriteThreshold)
      // many affected partitions: ONE funnel read (deletes subtract
      // inside it) + one staged write + one grouped stats (+ bloom)
      // pass instead of 2 jobs per partition; the delete entries drop
      // in the same txn, and a fully-emptied partition drops too
      rewritePartitionsBulk(spark, root, table, snap, affected,
        transform = identity, statsColumns = statsCols,
        extraDrops = dropKeys, bloomColumns = bloomCols)
    else {
      val updates = affected.map { case (p, e) =>
        (table, p, snap.readSelected(table, Seq((p, e))).get) }
      publish(spark, root, updates, statsCols, expectedTxn = Some(snap.txn),
        reconcile = carried => {
          val missing = dropKeys.filterNot(carried.contains)
          require(missing.isEmpty, "delete entries vanished under " +
            s"applyDeletes: ${missing.mkString(", ")}")
          carried -- dropKeys
        },
        bloomColumns = bloomCols)(() => ())
    }
  }

  /** Deep-EXPORT a pinned snapshot of `tables` into the catalog at
    * `destRoot` — cross-root promotion/DR/sharing as ONE conditional
    * commit at the destination: every listed table's data lands with
    * its partition grain, table properties, and skipping config intact,
    * or nothing lands at all. Reads go through the source's
    * delete-applying funnel, so pending merge-on-read deletes are
    * MATERIALIZED at the destination (a clean table — no cross-root
    * delete entries whose positional coordinates would dangle against
    * re-encoded files) and hive-synthesized / exists-default columns
    * arrive as real data. Stats and Blooms re-measure on the
    * destination's own write path under the source's declared config,
    * so skipping is tight from birth there. `asOf` exports a time-travel
    * state; pair with a source TAG to keep the exported txn stable
    * against vacuum while a large copy runs. Refuses when any target
    * table already exists at the destination (full mode — the delta
    * mode below expects them), when the roots are the same (use
    * branches/clones inside one catalog — they are zero-copy), and
    * the empty list exports every non-shadow table.
    * Scale: each many-partition table stages through the O(1)-jobs
    * bulk funnel (one attributed read + one dynamic-partition write +
    * one grouped stats pass per TABLE, honoring the source's declared
    * sort order and parquet Blooms), small tables per-entry — the
    * honest cost of leaving the root; within one catalog, fork/clone
    * stay the zero-copy paths.
    *
    * DELTA / CATCH-UP: every export stamps
    * [[ExportSrcTxnProp]] — the source txn the copied rows are complete
    * as of — on each destination table. `catchUp = true` resumes each
    * table from ITS recorded watermark; `sinceTxn = Some(w)` resumes
    * every table from an explicit one. Only what changed at the source
    * since the watermark moves: partitions whose resolved dir changed,
    * partitions a window delete's key bounds can actually mask
    * ([[deleteMaskCandidates]] — this covers a VANISHED delete over
    * unrewritten data too, re-copying to unmask), source-dropped
    * partitions drop at the destination, new tables copy fully — and
    * the result is REQUIRED to be indistinguishable from a fresh full
    * export of the same snapshot, so table-property changes that can
    * alter read synthesis re-copy the whole table: correct, just not
    * incremental. Refuses when the watermark's source manifest was
    * vacuumed (run a full export to a fresh root), when the
    * destination diverged (partitions the watermark state doesn't
    * have, or destination-side merge-on-read deletes an export never
    * writes — a delta would silently fold over foreign writes), or
    * when a catch-up target records no watermark. Same one-commit
    * discipline: all tables' deltas land in one conditional commit.
    * Non-goal: a table DROPPED at the source since the watermark stays
    * at the destination (the delta updates the tables it exports, it
    * never deletes a whole table behind the operator — drop it there
    * explicitly).
    *
    * REFERENCE catch-up (`catchUp = true, mode = "reference"`): a
    * reference destination is a pure DERIVATION of the source — every
    * data entry `~ext:` into it — so catching it up is a wholesale
    * re-derivation at manifest cost: drop every recorded dest
    * partition, re-reference the current snapshot, one conditional
    * commit, no change classification needed (a full reference export
    * IS its own delta-optimal form — no bytes move either way).
    * Mode-mismatch refusals are symmetric: a copy catch-up refuses a
    * reference destination and vice versa (silently flipping a
    * destination's storage mode would change its vacuum/retention
    * story). `sinceTxn` stays copy-only — it buys nothing here.
    *
    * Returns the destination's committed txn and the exact table list
    * exported (derived from the pinned snapshot — what actually
    * landed, not a later re-read). */
  def exportTables(spark: SparkSession, srcRoot: String, destRoot: String,
      tables: Seq[String] = Nil, asOf: Option[Long] = None,
      mode: String = "copy", pinTag: Option[String] = None,
      sinceTxn: Option[Long] = None,
      catchUp: Boolean = false): (Long, Seq[String]) = {
    require(mode == "copy" || mode == "reference",
      s"unknown export mode '$mode' (copy | reference)")
    require(tables.distinct.sizeIs == tables.size,
      s"duplicate table names in the export list: ${tables.diff(tables.distinct).distinct.mkString(", ")}")
    val delta = sinceTxn.isDefined || catchUp
    require(!(sinceTxn.isDefined && catchUp),
      "pass since_txn OR catch_up, not both")
    require(sinceTxn.isEmpty || mode == "copy",
      "since_txn applies to mode => 'copy' only (a reference catch-up " +
        "re-derives the whole manifest anyway — use catch_up => true)")
    sinceTxn.foreach(w => require(w > 0, s"since_txn must be positive: $w"))
    // same-root check on the FULLY-QUALIFIED URIs (scheme + authority +
    // path): the canonical DR layout is the same path under a different
    // bucket/namenode, which a bare-path compare would wrongly refuse
    require(fs(spark, srcRoot).makeQualified(new Path(srcRoot)) !=
        fs(spark, destRoot).makeQualified(new Path(destRoot)),
      "export needs a DIFFERENT destination root (within one catalog, " +
        "branches and shallow clones are the zero-copy paths)")
    val snap = asOf.map(snapshotAt(spark, srcRoot, _)).orElse(
      snapshot(spark, srcRoot)).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $srcRoot"))
    val tabs =
      if (tables.nonEmpty) tables.sorted
      else snap.tables.filterNot(_.contains("~")).sorted
    require(tabs.nonEmpty, s"nothing to export from $srcRoot")
    tabs.foreach(t => require(snap.tables.contains(t),
      s"unknown table '$t' under $srcRoot"))
    // a materialized view travels only WITH its source: its
    // `graft.mv.source` must resolve at the destination or every
    // refresh there dangles
    tabs.foreach { t =>
      (snap.properties(t).get(MaterializedAgg.SourceProp).toSeq ++
        snap.properties(t).get(MaterializedAgg.DimProp).toSeq
          .flatMap(_.split(','))).foreach { src =>
        require(tabs.contains(src),
          s"'$t' is a materialized view over '$src', which is not in " +
            "the export list — export both, or re-create the view at " +
            "the destination")
      }
    }
    if (mode == "reference") tabs.foreach { t =>
      // reference entries keep the SOURCE's physical dirs but lose its
      // txn axis, so anything whose semantics depend on relative txn
      // ordering cannot travel: pending deletes (mask-vs-data order)
      // and exists-default fills (fill-vs-entry order) must be
      // materialized first — apply_deletes / copy mode
      require(snap.deleteEntries(t).isEmpty,
        s"'$t' has pending merge-on-read deletes; CALL " +
          "system.apply_deletes first or export with mode => 'copy'")
      require(!snap.properties(t).keys.exists(
          _.startsWith(ExistsDefaultPrefix)),
        s"'$t' carries exists-default fills; export with mode => 'copy'")
    }
    // markers that are facts about the SOURCE catalog's history, not
    // the table: restore lineage, branch/clone bookkeeping. Copy mode
    // additionally drops read-time synthesis markers the funnel read
    // has MATERIALIZED into the copied files (exists-default fills,
    // hive-synthesized partition columns) — carrying them would
    // re-apply a fill over data that already contains it (an explicit
    // post-alter NULL would wrongly read as the default at the
    // destination). Reference mode keeps the hive marker: its ext-hive
    // entries still need the synthesis.
    val dropKeys = Set(RestoreTxnProp, Branch.BranchOfProp,
      Branch.BranchBaseProp, Branch.BranchPublishedProp, Branch.CloneOfProp)
    def exportProps(t: String, destNext: Long): Map[String, String] = {
      val base0 = snap.properties(t) -- dropKeys
      // an MV watermark is a fact about the SOURCE txn axis; the
      // destination's axis restarts, so the carried watermark pins the
      // DESTINATION commit the exported rows are complete as of —
      // refresh there starts as a clean noop instead of resolving
      // source txns that don't exist (or, worse, silently skipping
      // appended rows once the destination axis passes them)
      val base =
        (if (base0.contains(MaterializedAgg.SourceProp))
          base0 + (MaterializedAgg.WatermarkProp -> destNext.toString)
        else base0) +
          // the delta/catch-up watermark: the source txn these rows
          // are complete as of
          (ExportSrcTxnProp -> snap.txn.toString)
      if (mode == "reference") base
      else base.filterNot { case (k, _) =>
        k.startsWith(ExistsDefaultPrefix) } - HivePartColsProp
    }
    // a reference export's bytes stay under the SOURCE root, exposed
    // to the source's own vacuum once its txns age out — `pinTag`
    // tags the exported txn there (vacuum-exempt until dropped), the
    // explicit retention handshake a long-lived reference needs. Also
    // honored for copy mode (pin the provenance txn). The destination
    // is pre-flighted FIRST (the common refusal — a target table
    // already exists — must not leave a stray vacuum-exempt tag at the
    // source; the commit loop re-checks under its CAS), and any
    // non-retryable failure after this point drops the tag again.
    if (!delta) snapshot(spark, destRoot).foreach { d =>
      tabs.foreach(t => require(!d.tables.contains(t),
        s"table '$t' already exists under $destRoot"))
    }
    pinTag.foreach(createTag(spark, srcRoot, _, snap.txn))
    try {
    // stats/Bloom columns to re-measure at the destination: what the
    // source ACTUALLY measured (the union of its entries' recorded
    // stat/Bloom columns) plus anything its declared config names —
    // per-commit stats choices aren't a table property, and an export
    // must not silently lose the skipping the source had
    val statsCols = (tabs.flatMap(t => snap.properties(t)
        .get(StatsColumnsProp).toSeq.flatMap(_.split(',')))
        .map(_.trim).filter(_.nonEmpty) ++
      tabs.flatMap(t =>
        snap.dataEntries(t).flatMap(_._2.stats.keys))).distinct
    val bloomCols = (tabs.flatMap(t => snap.properties(t)
        .get(BloomColumnsProp).toSeq.flatMap(_.split(',')))
        .map(_.trim).filter(_.nonEmpty) ++
      tabs.flatMap(t => snap.dataEntries(t).flatMap(_._2.stats.collect {
        case (c, st) if st.bloom.nonEmpty => c }))).distinct
    def kvFrame(props: Map[String, String]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          props.toSeq.sorted.map { case (k, v) =>
            org.apache.spark.sql.Row(k, v) }, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.StringType, nullable = false))))
    // the layout/skipping declarations the destination's bulk writes
    // must honor — the dest has no `~p` entry yet (its props land in
    // this same commit), so they come from the SOURCE: declared write
    // sort order and parquet-level Blooms apply to the copied files
    // exactly as a source-side write would. CHECK constraints are
    // deliberately excluded: the rows were validated at the source and
    // a delete-applying funnel read cannot invent violations.
    def layoutProps(t: String): Map[String, String] =
      snap.properties(t).filter { case (k, _) =>
        k == SortColumnsProp || k == SortModeProp ||
          k == ParquetBloomColumnsProp || k == BloomColumnsProp ||
          k == StatsColumnsProp }
    // COPY of a MANY-partition table routes through the O(1)-jobs bulk
    // path — PER TABLE, all landing in the single destination commit:
    // one attributed funnel read + one dynamic-partition staged write +
    // one grouped stats pass each, instead of 2-3 driver-serialized
    // jobs per partition — the difference between minutes and hours on
    // a 10 000-partition fact table, and a 2-fact-table DR export pays
    // it once per table, not once per partition. A fully-masked table
    // stages ZERO groups (zero-row partitions carry no rows through the
    // funnel), which would lose the schema — it falls back to the
    // per-entry loop, whose empty staged entries keep the table (and
    // its schema) readable at the destination.
    def bulkKeyed(t: String, parts: Seq[(String, Entry)]): DataFrame = {
      val dirMap: Map[String, String] = {
        val sf = fs(spark, srcRoot)
        parts.map { case (p, e) =>
          sf.makeQualified(new Path(entryPath(srcRoot, t, p, e.dir)))
            .toString -> p
        }.toMap
      }
      val src = snap.readSelectedWithPos(t, parts).getOrElse(
        throw new IllegalStateException(s"unreadable table '$t'"))
      src.withColumn(RwPartCol, org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.typedLit(dirMap),
          org.apache.spark.sql.functions.regexp_extract(
            org.apache.spark.sql.functions.col(DvPathColumn),
            "^(.*)/[^/]+$", 1)))
        .drop(DvPathColumn, DvPosColumn)
    }
    // one table's DELTA plan against the destination's recorded state:
    // (entries to copy, dest partitions to drop). Copying everything
    // and dropping every dest partition is the conservative fallback —
    // staged entries re-add the live ones in the same commit.
    def deltaPlan(t: String, d: Snapshot)
        : (Seq[(String, Entry)], Seq[String]) = {
      // a copy export never writes delete entries, so any at the dest
      // mean someone wrote there independently — their masks would
      // keep applying to carried entries a delta doesn't replace
      require(d.deleteEntries(t).isEmpty,
        s"'$t' at $destRoot carries merge-on-read deletes an export " +
          "never writes — the destination diverged; export to a fresh root")
      val refParts = d.dataEntries(t)
        .filter(_._2.dir.startsWith(ExtPrefix)).map(_._1)
      require(refParts.isEmpty,
        s"'$t' at $destRoot is a REFERENCE export (zero-copy entries): " +
          "catch up with mode => 'reference', or export to a fresh root")
      val destParts = d.dataEntries(t).map(_._1)
      val w = sinceTxn.getOrElse(
        d.properties(t).get(ExportSrcTxnProp).map(_.toLong).getOrElse(
          throw new IllegalArgumentException(
            s"'$t' at $destRoot records no $ExportSrcTxnProp — it was " +
              "not created by an export; pass since_txn explicitly or " +
              "export to a fresh root")))
      require(w <= snap.txn,
        s"delta base txn $w is ahead of the exported snapshot ${snap.txn}")
      val fromSnap =
        try snapshotAt(spark, srcRoot, w)
        catch { case _: IllegalArgumentException =>
          throw new IllegalStateException(
            s"source txn $w (the delta base for '$t') has been " +
              "vacuumed; run a full export to a fresh root")
        }
      if (!fromSnap.tables.contains(t))
        return (snap.dataEntries(t), destParts) // re-created: recopy all
      val fromData = fromSnap.dataEntries(t).toMap
      val toData = snap.dataEntries(t).toMap
      // a dest partition the watermark state never had means the
      // destination was written independently: a delta would silently
      // fold over those rows — refuse
      val foreign = destParts.filterNot(fromData.contains)
      require(foreign.isEmpty,
        s"'$t' at $destRoot holds partitions the delta base (txn $w) " +
          s"doesn't: ${foreign.sorted.take(3).mkString(", ")} — the " +
          "destination diverged; export to a fresh root")
      // table-property changes can alter what a READ synthesizes
      // (exists-defaults, hive columns, widened types): unclassifiable
      // additively — recopy the whole table (volatile markers and the
      // MV watermark excluded; their churn is not content)
      val volatile = dropKeys + MaterializedAgg.WatermarkProp
      if ((snap.properties(t) -- volatile) !=
          (fromSnap.properties(t) -- volatile))
        return (snap.dataEntries(t), destParts)
      val curDels = snap.deleteEntries(t)
      val fromDelNames = fromSnap.deleteEntries(t)
        .map { case (p, _, _, _) => p }.toSet
      val newDels = curDels.filter { case (p, _, _, _) =>
        !fromDelNames.contains(p) }
      val curDelNames = curDels.map { case (p, _, _, _) => p }.toSet
      val removedDels = fromSnap.deleteEntries(t).filter {
        case (p, _, _, _) => !curDelNames.contains(p) }
      // a delete in the window can only change partitions the funnel
      // would actually subtract from ([[deleteMaskCandidates]]'s txn +
      // key-bounds rule), so a pending delete of a handful of keys
      // re-copies a handful of partitions, not the table. New deletes
      // mask rows the dest still has; a delete the dest's copy already
      // materialized that vanished WITHOUT a rewrite of the data it
      // masked must also recopy (to unmask).
      val maskedParts: Set[String] = deleteMaskCandidates(spark,
        newDels ++ removedDels, snap.dataEntries(t))
        .map(_._1).toSet
      val copy = snap.dataEntries(t).filter { case (p, e) =>
        !fromData.get(p).map(_.dir).contains(e.dir) || // new or rewritten
          maskedParts(p)
      }
      val drops = (fromData.keySet -- toData.keySet).toSeq.sorted
        .filter(destParts.contains)
      (copy, drops)
    }
    // one table's REFERENCE catch-up plan: the destination is a pure
    // derivation of the source (every data entry `~ext:` into it), so
    // catching it up is a wholesale re-derivation at manifest cost —
    // drop every recorded dest partition, re-add the current reference
    // set ([[refEntries]] below), one conditional commit, no change
    // classification needed (a full reference export IS its own
    // delta-optimal form — no bytes move either way). Refusals mirror
    // [[deltaPlan]]'s divergence discipline, plus the symmetric
    // mode-mismatch refusal: re-referencing a COPY destination would
    // silently orphan its owned files and flip its retention story
    // onto the source's vacuum.
    def refCatchUpPlan(t: String, d: Snapshot): Seq[String] = {
      require(d.deleteEntries(t).isEmpty,
        s"'$t' at $destRoot carries merge-on-read deletes an export " +
          "never writes — the destination diverged; export to a fresh root")
      require(d.properties(t).contains(ExportSrcTxnProp),
        s"'$t' at $destRoot records no $ExportSrcTxnProp — it was not " +
          "created by an export; export to a fresh root")
      val owned = d.dataEntries(t)
        .filterNot(_._2.dir.startsWith(ExtPrefix)).map(_._1)
      require(owned.isEmpty,
        s"'$t' at $destRoot owns its data files (a COPY export): catch " +
          "up with mode => 'copy', or export to a fresh root")
      d.dataEntries(t).map(_._1)
    }
    val destF = fs(spark, destRoot)
    retryOnConflict { _ =>
      val destPrev = snapshot(spark, destRoot)
      // per-table copy plan: full mode copies everything (and requires
      // a fresh target); delta mode copies each table's classified
      // change set against its watermark
      val plans: Map[String, (Seq[(String, Entry)], Seq[String])] =
        tabs.map { t =>
          val destHas = destPrev.exists(_.tables.contains(t))
          if (!delta) {
            require(!destHas, s"table '$t' already exists under $destRoot")
            t -> ((snap.dataEntries(t), Seq.empty[String]))
          } else if (!destHas) // new at the source since the last export
            t -> ((snap.dataEntries(t), Seq.empty[String]))
          else if (mode == "reference")
            t -> ((Seq.empty[(String, Entry)], refCatchUpPlan(t, destPrev.get)))
          else t -> deltaPlan(t, destPrev.get)
        }.toMap
      val destNext = destPrev.map(_.txn).getOrElse(0L) + 1L
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val dirName = s"v=$destNext.$nonce"
      // reference mode: no bytes move — the destination manifest names
      // the source's physical dirs (`~ext:` — never owned, so a dest
      // vacuum forgets them, never deletes), stats/rows/bytes carried
      // verbatim (content identical). The source's OWN vacuum does not
      // know about foreign references: pin a source TAG for as long as
      // the reference export must stay readable.
      val refEntries: Map[(String, String), Entry] =
        if (mode != "reference") Map.empty
        else tabs.flatMap { t =>
          snap.dataEntries(t).map { case (p, e) =>
            val dir =
              if (e.dir.startsWith(ExtPrefix)) e.dir // already external
              else ExtPrefix + entryPath(srcRoot, t, p, e.dir)
            (t, p) -> Entry(dir, e.stats, dataTxn = Some(destNext),
              rows = e.rows, bytes = e.bytes)
          }
        }.toMap
      // bulk-stage each many-partition copy set at the destination;
      // the entries ride the ONE commit below via reconcile
      val bulkStaged: Map[(String, String), Entry] =
        if (mode != "copy") Map.empty
        else plans.toSeq.sortBy(_._1)
          .filter(_._2._1.sizeIs > BulkRewriteThreshold)
          .flatMap { case (t, (copy, _)) =>
            stageBulk(spark, destF, destRoot, BulkLoad(t, bulkKeyed(t, copy),
              RwPartCol, org.apache.spark.sql.functions.col(RwPartCol),
              statsCols, bloomCols, partNameOf = Some(identity[String]),
              dropData = Seq(RwPartCol)), layoutProps(t), dirName)
          }.toMap
      // everything the bulk pass did not stage goes per-entry inside
      // publish: small tables, and ZERO-ROW copy partitions (no rows
      // survive the funnel, so the dynamic-partition write stages no
      // group — but the entry must still land, or a fresh table loses
      // its schema/grain and a delta leaves the dest's STALE rows in
      // place of an emptied partition) + every table's props. The
      // source's declared write sort order applies here too (publish
      // itself would consult the DEST's props, which land only in this
      // commit), so per-entry-copied files keep the layout the bulk
      // path guarantees.
      val updates: Seq[(String, String, DataFrame)] = tabs.flatMap { t =>
        val sortCols = layoutProps(t).get(SortColumnsProp).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        val data =
          if (mode == "reference") Nil
          else plans(t)._1
            .filter { case (p, _) => !bulkStaged.contains((t, p)) }
            .map { case (p, e) =>
              val df = snap.readSelected(t, Seq((p, e))).getOrElse(
                throw new IllegalStateException(s"unreadable entry $t/$p"))
              val cs = sortCols.filter(df.columns.contains)
                .map(org.apache.spark.sql.functions.col)
              (t, p, if (cs.isEmpty) df else df.sortWithinPartitions(cs: _*))
            }
        data :+ ((t, PropsPartition, kvFrame(exportProps(t, destNext))))
      }
      // dest partitions the delta classified as source-dropped (or that
      // a conservative recopy-all replaces) leave in the same commit
      val destDrops: Set[(String, String)] = plans.iterator.flatMap {
        case (t, (_, drops)) => drops.map((t, _)) }.toSet
      try {
        (publish(spark, destRoot, updates,
          statsColumns = statsCols,
          expectedTxn = Some(destPrev.map(_.txn).getOrElse(0L)),
          reconcile = carried =>
            carried -- destDrops ++ refEntries ++ bulkStaged,
          bloomColumns = bloomCols)(() => ()), tabs)
      } catch {
        case c: CommitConflict =>
          // lost the destination CAS: unstage this attempt's bulk dirs
          // (publish cleans only its own staging) before retrying
          bulkStaged.foreach { case ((t, p), e) =>
            destF.delete(new Path(entryPath(destRoot, t, p, e.dir)), true)
          }
          throw c
      }
    }
    } catch {
      case ex if scala.util.control.NonFatal(ex) =>
        // a refused or failed export must not strand the tag it just
        // created (an already-existing name threw BEFORE this block)
        pinTag.foreach(n =>
          try dropTag(spark, srcRoot, n) catch { case _: Throwable => () })
        throw ex
    }
  }

  /** Re-cluster N partitions of `table` into up to `buckets` partitions
    * that are contiguous RANGES of the Morton (Z-order) code of
    * (`aCol`, `bCol`), in one atomic conditional commit — the lakehouse
    * `OPTIMIZE … ZORDER BY` for this catalog. Append-order partitions
    * keep manifest stats tight on the arrival axis only: every batch
    * spans the full range of any other column, so [[Snapshot.readWhere]]
    * on that column prunes nothing. After clustering, each partition
    * covers a small tile of the (a, b) plane, so the recorded min/max
    * stats prune on EITHER dimension — the same rewrite that keeps
    * parquet row-group stats tight inside each file (rows are written
    * Z-sorted).
    *
    * Mechanics: both columns are min-max scaled to `bits`-bit grid cells
    * (nulls land in cell 0 — pruning stays correct because range
    * predicates never match null anyway), interleaved with
    * [[graft.ops.Layout.interleaveBits]], and split at approximate
    * Z-quantiles so buckets are near-equal-sized regardless of data
    * skew; duplicate quantile boundaries (heavy ties) just yield fewer,
    * never wrong, buckets. Target partitions are named
    * `<intoPrefix><i>` and must not collide with live partitions outside
    * the sources. Stats on (`aCol`, `bCol`, `extraStatsColumns`) are
    * measured off the staged files by the commit itself.
    *
    * Cost: one min/max pass, one quantile + one count pass over the
    * Z-augmented frame (persisted MEMORY_AND_DISK), then one staged
    * write per non-empty bucket — the same data volume any sorted
    * rewrite pays, each bucket write independent. `filesPerBucket`
    * controls the write parallelism INSIDE a bucket: the default 0
    * AUTO-SIZES it as sourceBytes / buckets / the session's
    * `spark.sql.files.maxPartitionBytes` (measured from the source
    * entries' file sizes, driver-side manifest-scale work) — one file
    * per reader split, so a catalog-sized table still gets one Z-sorted
    * file per bucket while a fact-table bucket of GBs is
    * range-partitioned on the Z-code into that many Z-sorted files —
    * N parallel write tasks, N files whose row groups tile disjoint
    * Z-ranges. Partition-grain stats and pruning are unaffected (stats
    * are measured per partition, not per file), and parquet row-group
    * pushdown inside each file stays as tight as the single-file form
    * because each file still covers a contiguous Z-range. Same
    * optimistic concurrency as [[compactPartitions]]: conditional on
    * the pinned txn, a rival commit in the window fails this commit
    * cleanly ([[CommitConflict]]) and the caller retries against the new
    * snapshot. Returns the committed txn. */
  def clusterPartitions(spark: SparkSession, root: String, table: String,
      parts: Seq[String], intoPrefix: String, aCol: String, bCol: String,
      buckets: Int = 16, bits: Int = 8,
      extraStatsColumns: Seq[String] = Nil, filesPerBucket: Int = 0,
      bloomColumns: Seq[String] = Nil): Long =
    clusterPartitionsHooked(spark, root, table, parts, intoPrefix,
      Seq(aCol, bCol), buckets, bits, extraStatsColumns,
      filesPerBucket, bloomColumns)(() => ())

  /** [[clusterPartitions]] over N ≥ 2 dimensions (Delta's
    * `ZORDER BY (c1, …, cN)`): bit i of dimension j lands at Z-bit
    * N·i + j, so each tile bounds EVERY listed column and
    * [[Snapshot.readWhere]]/[[Snapshot.readWhereAll]] prune on any of
    * them. More dimensions dilute per-dimension tightness (each gets
    * bits/N of the Z-range's resolution) — list only the columns
    * queries actually filter on, and put the most-filtered column LAST:
    * dimension j holds Z-bit N·i + j, so later dims carry the higher
    * bits and prune tighter. */
  def clusterPartitionsN(spark: SparkSession, root: String, table: String,
      parts: Seq[String], intoPrefix: String, dims: Seq[String],
      buckets: Int = 16, bits: Int = 8,
      extraStatsColumns: Seq[String] = Nil, filesPerBucket: Int = 0,
      bloomColumns: Seq[String] = Nil): Long =
    clusterPartitionsHooked(spark, root, table, parts, intoPrefix,
      dims, buckets, bits, extraStatsColumns, filesPerBucket,
      bloomColumns)(() => ())

  /** [[clusterPartitionsN]] with the test-only pre-publish seam. */
  private[graft] def clusterPartitionsHooked(spark: SparkSession,
      root: String, table: String, parts: Seq[String], intoPrefix: String,
      dims: Seq[String], buckets: Int, bits: Int,
      extraStatsColumns: Seq[String], filesPerBucket: Int = 0,
      bloomColumns: Seq[String] = Nil)(
      beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, floor, lit, max, min, unix_micros}
    import org.apache.spark.sql.types.{NumericType, TimestampType}
    require(parts.nonEmpty, "nothing to cluster")
    require(buckets >= 2, "buckets must be >= 2")
    require(filesPerBucket >= 0,
      "filesPerBucket must be >= 1, or 0 for auto-sizing")
    val targets = (0 until buckets).map(i => s"$intoPrefix$i")
    targets.foreach(checkPartitionName)
    require(!parts.exists(targets.contains),
      "target partitions overlap the sources — pick a fresh intoPrefix")
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val clash = targets.toSet intersect
      (snap.partitions(table).toSet -- parts)
    require(clash.isEmpty, "target partitions collide with live " +
      s"partitions outside the sources: ${clash.toSeq.sorted.mkString(", ")}")
    require(dims.size >= 2 && dims.distinct.size == dims.size,
      s"need >= 2 distinct cluster dimensions, got ${dims.mkString(", ")}")
    val merged = snap.readPartitions(table, parts).get
    // AUTO file sizing (filesPerBucket = 0, the default): a caller who
    // doesn't pass the knob must not get a 100 GB coalesce(1) at
    // fact-table scale. Sum the SOURCE entries' bytes (driver-side
    // manifest-scale listing — these are exactly the bytes the rewrite
    // re-lays-out) and target one output file per reader split
    // (spark.sql.files.maxPartitionBytes), capped so a degenerate
    // session conf cannot explode the file count. Explicit values win.
    val fpb =
      if (filesPerBucket >= 1) filesPerBucket
      else {
        val f = fs(spark, root)
        val srcBytes = parts.map { p =>
          f.getContentSummary(new Path(
            entryPath(root, table, p, snap.entries((table, p)).dir)))
            .getLength
        }.sum
        val target = math.max(1L << 20,
          spark.sessionState.conf.filesMaxPartitionBytes)
        math.max(1L, math.min(1024L,
          (srcBytes + target * buckets - 1) / (target * buckets))).toInt
      }
    for (c <- dims) {
      require(merged.schema.fieldNames.contains(c),
        s"no column '$c' in '$table'")
      require(merged.schema(c).dataType.isInstanceOf[NumericType] ||
          merged.schema(c).dataType == TimestampType,
        s"cluster column '$c' must be numeric or timestamp, " +
          s"is ${merged.schema(c).dataType}")
    }
    // timestamps cluster on their micros-since-epoch axis
    def dim(c: String) =
      (if (merged.schema(c).dataType == TimestampType) unix_micros(col(c))
       else col(c)).cast("double")
    val bounds = merged.agg(
      min(dim(dims.head)).as("lo0"),
      (Seq(max(dim(dims.head)).as("hi0")) ++
        dims.tail.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(dim(c)).as(s"lo${i + 1}"), max(dim(c)).as(s"hi${i + 1}"))
        }): _*).collect()(0)
    dims.zipWithIndex.foreach { case (c, i) =>
      require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
        s"cluster dimension '$c' has no non-null values in the source " +
          "partitions (all-null column, or empty sources) — it cannot " +
          "contribute a Z-axis; drop it from dims or fill it first")
    }
    val cells = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double) = {
      val s = if (hi > lo) cells / (hi - lo) else 0.0
      coalesce(floor((dim(c) - lit(lo)) * lit(s)), lit(0L))
    }
    val z = graft.ops.Layout.interleaveBitsN(
      dims.zipWithIndex.map { case (c, i) =>
        scaled(c, bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1)) },
      bits)
    val withZ = merged.withColumn("__z", z)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val splits = withZ.stat.approxQuantile("__z",
        (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
        .distinct.sorted
      val bucket = splits.zipWithIndex.foldLeft(lit(0)) {
        case (acc, (b, i)) =>
          org.apache.spark.sql.functions.when(col("__z") >= lit(b), lit(i + 1))
            .otherwise(acc)
      }
      val withB = withZ.withColumn("__b", bucket)
      val nonEmpty = withB.groupBy("__b").agg(count(lit(1)))
        .collect().map(_.getInt(0)).toSet
      val updates = (0 to splits.length).filter(nonEmpty).map { i =>
        val slice = withB.filter(col("__b") === i)
        // one Z-sorted file through one task for catalog-sized buckets;
        // range-split on the Z-code into N parallel Z-sorted files when
        // a bucket is bigger than one task should write
        val laid =
          if (fpb == 1) slice.coalesce(1)
          else slice.repartitionByRange(fpb, col("__z"))
        (table, targets(i),
          laid.sortWithinPartitions("__z").drop("__z", "__b"))
      }
      // clustering is a pure reorganization too: every tile inherits
      // the newest SOURCE data txn, so diffData-driven consumers who
      // have already seen the sources skip the whole rewrite
      val srcDataTxn =
        parts.map(p => entryDataTxn(snap.entries((table, p)))).max
      commitPartitionsHooked(spark, root, updates,
        statsColumns = (dims ++ extraStatsColumns).distinct,
        drops = parts.map((table, _)),
        expectedTxn = Some(snap.txn), bloomColumns = bloomColumns,
        dataTxns = updates.map(u => (u._1, u._2) -> srcDataTxn).toMap)(
        beforePublish)
    } finally withZ.unpersist()
  }

  /** Threshold-gated incremental clustering — the maintenance entry
    * point a streaming sink calls between batches, the clustering
    * counterpart of [[TwinCommit.maintain]]'s compaction: without it a
    * streamed lake decays to append-order batches (every batch spans the
    * full range of every non-arrival column, so [[Snapshot.readWhere]]
    * prunes nothing) until someone runs [[clusterPartitionsN]] by hand.
    *
    * When `table` has accumulated at least `minBatches` partitions NOT
    * produced by a previous clustering pass (any name not starting with
    * `intoPrefix` — streamed `batch=*` appends and `c*` compaction folds
    * alike), exactly those partitions are clustered into a fresh
    * GENERATION of Z-tiles named `<intoPrefix><txn>-<i>`; otherwise
    * no-op. Generations are INCREMENTAL: a pass rewrites only the new
    * batches — O(new data), never O(table) — so a long-lived stream pays
    * for each row's re-layout once. Earlier generations keep their own
    * tight tiles, and [[Snapshot.readWhere]]/[[Snapshot.readWhereAll]]
    * prune across all generations uniformly (stats are per-partition;
    * nothing distinguishes tiles of different passes). The trade: K
    * generations mean up to K tiles may overlap a given query box where
    * a from-scratch rewrite would have one — a periodic full
    * re-optimization (call [[clusterPartitionsN]] over ALL partitions
    * with a fresh prefix) folds generations back to a single tiling;
    * both coexist because generation tiles also start with `intoPrefix`
    * and are therefore never re-consumed by the incremental path.
    *
    * Same CONDITIONAL-txn protection as [[clusterPartitionsN]]: a rival
    * commit (a concurrent micro-batch append) between pin and publish
    * fails the pass cleanly and it retries against the moved catalog
    * ([[retryOnConflict]]) — appends are never blocked or lost, the next
    * trigger simply sees one more pending batch. The generation name
    * carries the pinned txn, so retries can never collide with a
    * previous generation's tiles. Returns the committed txn when a
    * clustering landed. */
  def maintainClustered(spark: SparkSession, root: String, table: String,
      dims: Seq[String], intoPrefix: String = "z", minBatches: Int = 8,
      buckets: Int = 16, bits: Int = 8, filesPerBucket: Int = 0,
      extraStatsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Option[Long] = {
    require(minBatches >= 1, "minBatches must be >= 1")
    retryOnConflict { _ =>
      snapshot(spark, root).flatMap { snap =>
        val pending =
          snap.partitions(table).filterNot(_.startsWith(intoPrefix))
        if (pending.size < minBatches) None
        else Some(clusterPartitionsN(spark, root, table, pending,
          s"$intoPrefix${snap.txn}-", dims, buckets, bits,
          extraStatsColumns, filesPerBucket, bloomColumns))
      }
    }
  }

  /** Full re-optimization: re-cluster EVERY live partition of `table` —
    * accumulated [[maintainClustered]] generations, compaction folds and
    * raw batches alike — into one fresh tiling, so K generations' up-to-K
    * overlapping tiles per query box fold back to one. O(table) by
    * nature (it rewrites everything — run it off-peak at the cadence
    * generation overlap warrants, the way Delta users schedule full
    * OPTIMIZE); the generation counter in the target prefix keeps the
    * rewrite collision-free with the tiles it consumes, and the commit
    * is CONDITIONAL like every reorganization here. diffData consumers
    * skip the result (it inherits the newest source data txn). Returns
    * the committed txn; throws [[CommitConflict]] on losing a commit race
    * (retry against the moved catalog). */
  def reclusterFull(spark: SparkSession, root: String, table: String,
      dims: Seq[String], intoPrefix: String = "z", buckets: Int = 16,
      bits: Int = 8, filesPerBucket: Int = 0,
      extraStatsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val parts = snap.partitions(table)
    require(parts.nonEmpty, s"no partitions to recluster in '$table'")
    clusterPartitionsN(spark, root, table, parts,
      s"$intoPrefix${snap.txn}-", dims, buckets, bits,
      extraStatsColumns, filesPerBucket, bloomColumns)
  }

  /** Per-partition Bloom sizing: capacity tracks the partition's
    * MEASURED non-null row count (an upper bound on distinct values —
    * counted in the same pass as min/max, so sizing is free), floored at
    * 4k so tiny partitions still get a useful filter and CAPPED at 64k
    * items (~60 KB serialized, ~80 KB base64) so one manifest line stays
    * KB-scale even for a 100M-row partition. Beyond the cap the filter
    * saturates and the false-positive rate degrades toward 1 — equality
    * skipping weakens to range-only, never breaks (false positives only
    * cost a read). The knob that matters at scale is still WHICH columns
    * get blooms (point-lookup keys), not their size. */
  private val BloomMinCapacity = 4096L
  private val BloomMaxCapacity = 65536L
  private val BloomFpp = 0.03

  /** Physical parquet bytes under a just-staged entry dir — ONE driver
    * listStatus, no cluster job. None only when the listing fails (the
    * budget walks treat unknown sizes conservatively). */
  private def dirBytes(spark: SparkSession, path: String): Option[Long] =
    scala.util.Try {
      val p = new Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    }.toOption

  /** Exact row count of a just-staged entry dir from its parquet
    * FOOTERS — driver-direct, zero cluster jobs (block counts are
    * footer metadata; no pages are read). Used when no stats aggregate
    * runs over the staged files (no declared stats columns, internal
    * zero-row schema batches, delete-key lists) so EVERY entry still
    * records its row count: `count(*)` keeps folding to the manifest
    * after a CREATE-shell or ALTER schema batch, and zero-row entries
    * stay attributable in the grouped folds. None when any footer
    * fails to read — exact or absent, like every manifest stat. */
  private def footerRowCount(spark: SparkSession,
      path: String): Option[Long] =
    scala.util.Try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      val dir = new Path(path)
      val fs = dir.getFileSystem(conf)
      fs.listStatus(dir).iterator
        .filter { st =>
          val n = st.getPath.getName
          st.isFile && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }
        .map { st =>
          val r = ParquetFileReader.open(
            HadoopInputFile.fromStatus(st, conf))
          try r.getRecordCount finally r.close()
        }.sum
    }.toOption

  /** The decimal(38, scale) rendering scale of a column eligible for
    * EXACT sum stats — integral types at scale 0, decimals at their own
    * scale. 38 digits of headroom make a per-entry overflow practically
    * unreachable (and `try_sum` nulls it out — no stat — if it happens).
    * Float/double refuse: their scan-side sum is evaluation-order-
    * dependent, so no recorded value could be exact-versus-scan. */
  private def sumScaleOf(
      dt: org.apache.spark.sql.types.DataType): Option[Int] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(0)
      case d: DecimalType => Some(d.scale)
      case _ => None
    }
  }

  /** The comma-separated column list table property `key` declares. */
  private def propColumns(props: Map[String, String],
      key: String): Seq[String] =
    props.get(key).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** The stat kind of each of `cols` in `schema` — "n" numeric, "s"
    * string, "t" timestamp; absent columns and other types get none. */
  private def statKinds(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.types.{NumericType, StringType, TimestampType}
    cols.distinct.filter(schema.fieldNames.contains)
      .map(c => c -> (schema(c).dataType match {
        case _: NumericType => "n"
        case StringType     => "s"
        case TimestampType  => "t"
        case _              => ""
      })).filter(_._2.nonEmpty).toMap
  }

  /** The stats measurer every commit path shares, run on STAGED data
    * files (read back, so the stats describe exactly the bytes a reader
    * will scan — a nondeterministic input cannot publish stats that
    * disagree with the written data, and MetadataOnlyAgg answers
    * count/min/max from them as exact). Measures the row count and, per
    * column of `cols`, `bloomCols` and the table's declared
    * [[StatsColumnsProp]] / [[BloomColumnsProp]] columns: min/max cast
    * to string, the null count and, for integral/decimal columns, the
    * exact sum (see sumScaleOf). One global aggregate without `key`, one
    * `groupBy(key)` aggregate with it; results are keyed by the group's
    * string key (None for the null group, and for the global result).
    * Columns absent from the schema, of un-stat-able types, or all-null
    * record nothing — readers treat a missing stat as "may contain
    * anything". Bloom columns get a Bloom filter from a second aggregate
    * of the same shape. */
  private def measureStaged(staged: DataFrame, props: Map[String, String],
      cols: Seq[String], bloomCols: Seq[String],
      key: Option[org.apache.spark.sql.Column])
      : Map[Option[String], (Map[String, ColStat], Long)] = {
    import org.apache.spark.sql.{Column, GraftSqlBridge, Row}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.functions.{col, count, lit, max, min, try_sum,
      unix_micros}
    import org.apache.spark.sql.types.DecimalType
    val statCols = (cols ++ propColumns(props, StatsColumnsProp)).distinct
    val bloomCfg = (bloomCols ++ propColumns(props, BloomColumnsProp)).distinct
    val kinds = statKinds(staged.schema, statCols ++ bloomCfg)
    def aggregate(aggs: Seq[Column]): Map[Option[String], Row] = key match {
      case Some(k) =>
        staged.groupBy(k.as("key:")).agg(aggs.head, aggs.tail: _*)
          .collect().map(r => Option(r.getAs[String]("key:")) -> r).toMap
      case None => Map(None -> staged.agg(aggs.head, aggs.tail: _*).head())
    }
    // timestamps are measured in micros-since-epoch: an integer min/max
    // compares exactly, where the rendered-string form would be
    // session-zone- and fraction-format-sensitive
    def m(c: String) =
      if (kinds(c) == "t") unix_micros(col(c)) else col(c)
    val sumScales: Map[String, Int] = kinds.keys.toSeq
      .flatMap(c => sumScaleOf(staged.schema(c).dataType).map(c -> _)).toMap
    val aggs = count(lit(1)).as("rows:") +:
      (kinds.keys.toSeq.sorted.flatMap(c =>
        Seq(min(m(c)).cast("string").as(s"min:$c"),
            max(m(c)).cast("string").as(s"max:$c"),
            count(col(c)).as(s"cnt:$c"))) ++
        sumScales.toSeq.sortBy(_._1).map { case (c, sc) =>
          try_sum(col(c).cast(DecimalType(38, sc)))
            .cast("string").as(s"sum:$c")
        })
    val measured = aggregate(aggs).map { case (k, row) =>
      val rows = row.getAs[Long]("rows:")
      val stats = kinds.flatMap { case (c, kind) =>
        (Option(row.getAs[String](s"min:$c")),
          Option(row.getAs[String](s"max:$c"))) match {
          // null count = rows - non-null count, free off the same pass:
          // lets IS NULL prune (nulls = 0) and count(col) fold to
          // metadata (see ManifestFileIndex / MetadataOnlyAgg)
          case (Some(mi), Some(ma)) => Some(c -> ColStat(kind, mi, ma,
            nulls = Some(rows - row.getAs[Long](s"cnt:$c")),
            sum = sumScales.get(c)
              .flatMap(_ => Option(row.getAs[String](s"sum:$c")))))
          case _ => None
        }
      }
      k -> ((stats, rows))
    }
    // Blooms stay n/s-only: a timestamp probe's string rendering is not
    // canonical across callers, so membership would be unreliable.
    // Spark's BloomFilterAggregate hashes each value's canonical
    // rendering — strings raw, numerics via DECIMAL(38,18), the one
    // rendering a driver-side probe can reproduce exactly whatever the
    // column's source type (see bloomProbeRendering); out-of-range
    // values null out of the cast AND out of any exact probe, so both
    // sides stay conservative together. It serializes through the same
    // sketch writeTo format the manifest's BloomV2 payloads use. Its
    // capacity must be a literal: the column's largest measured non-null
    // count over the groups (smaller groups just get a lower FPP), sized
    // as BloomMinCapacity documents. All-null columns get none.
    val nonNull: Map[String, Long] = bloomCfg
      .filter(c => kinds.get(c).exists(k => k == "n" || k == "s"))
      .flatMap(c => measured.values.flatMap { case (st, rows) =>
        st.get(c).map(s => rows - s.nulls.getOrElse(0L)) }.maxOption
        .map(c -> _)).toMap
    if (nonNull.isEmpty) return measured
    val blooms = aggregate(nonNull.toSeq.sorted.map { case (c, n) =>
      val capacity = math.min(BloomMaxCapacity, math.max(BloomMinCapacity, n))
      val numBits = org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(capacity, BloomFpp)
      val rendered =
        if (kinds(c) == "n") col(c).cast(DecimalType(38, 18)).cast("string")
        else col(c).cast("string")
      GraftSqlBridge.column(new BloomFilterAggregate(
          GraftSqlBridge.expression(rendered),
          Literal(capacity), Literal(numBits)).toAggregateExpression())
        .as(s"bloom:$c")
    })
    measured.map { case (k, (stats, rows)) =>
      k -> ((stats.map { case (c, st) =>
        c -> blooms.get(k).filter(_ => nonNull.contains(c))
          .flatMap(r => Option(r.getAs[Array[Byte]](s"bloom:$c")))
          .fold(st)(b => st.copy(bloom =
            BloomV2 + java.util.Base64.getEncoder.encodeToString(b)))
      }, rows))
    }
  }

  /** [[measureStaged]] over ONE staged entry dir: its stats and exact
    * row count. With nothing to measure, the count comes from the
    * parquet footers instead (no job). A caller that just WROTE the
    * files passes their `schema`, skipping the schema-inference job
    * (pure scheduler overhead that a many-partition commit pays N
    * times). */
  private def entryStats(spark: SparkSession, path: String,
      props: Map[String, String], cols: Seq[String], bloomCols: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Map[String, ColStat], Option[Long]) = {
    val wanted = cols ++ bloomCols ++ propColumns(props, StatsColumnsProp) ++
      propColumns(props, BloomColumnsProp)
    lazy val staged = schema.fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))
    if (wanted.isEmpty || statKinds(staged.schema, wanted).isEmpty)
      (Map.empty, footerRowCount(spark, path))
    else {
      // the single global result sits under the None key
      val (stats, rows) = measureStaged(staged, props, cols, bloomCols,
        key = None)(None)
      (stats, Some(rows))
    }
  }

  /** CHECK-constraint enforcement over freshly staged DATA (`staged`
    * reads the staged files, only when the table has constraints): the
    * first of `props`' constraints, in name order, that some row
    * violates throws before the catalog can move. A NULL verdict passes,
    * as in SQL. */
  private def checkConstraints(table: String, props: Map[String, String],
      staged: => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    lazy val df = staged
    props.toSeq.filter(_._1.startsWith(ConstraintPrefix)).sorted
      .foreach { case (k, v) =>
        if (!df.filter(not(coalesce(expr(v), lit(true)))).limit(1).isEmpty)
          throw new IllegalArgumentException(
            s"commit to '$table' violates $k ($v); nothing was published")
      }
  }

  /** The write layout of a new data entry of a table with `props`: `df`
    * sorted within the write tasks by the declared write sort order
    * ([[SortColumnsProp]]; range-partitioned first in "global"
    * [[SortModeProp]]) behind any `lead` columns, so row-group stats are
    * tight from birth — unless the write is a reorganization (`reorg`:
    * compaction/Z-cluster chose their own order) — plus the writer
    * options for the declared parquet Bloom columns
    * ([[ParquetBloomColumnsProp]]: file-grain equality skipping inside
    * partitions the manifest couldn't prune). */
  private def writeLayout(df: DataFrame, props: Map[String, String],
      reorg: Boolean, lead: Seq[org.apache.spark.sql.Column] = Nil)
      : (DataFrame, Map[String, String]) = {
    val sortCols =
      if (reorg) Nil
      else propColumns(props, SortColumnsProp).filter(df.columns.contains)
    val arranged =
      if (sortCols.isEmpty) df
      else {
        val cs = lead ++ sortCols.map(org.apache.spark.sql.functions.col)
        val base =
          if (props.get(SortModeProp).contains("global"))
            df.repartitionByRange(cs: _*)
          else df
        base.sortWithinPartitions(cs: _*)
      }
    (arranged, propColumns(props, ParquetBloomColumnsProp)
      .filter(df.columns.contains)
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true").toMap)
  }

  /** Lost-commit retry, the one rule for every conditional commit: run
    * `body(attempt)` (attempt counts from 1) and re-run it only when it
    * throws [[CommitConflict]]. Any other failure propagates at once.
    * `body` must re-plan from a fresh snapshot on every attempt — a
    * lost attempt's plan was made against a catalog that has moved.
    * Policy: at most 20 attempts, `min(200, 20 * attempt)` ms apart
    * (about 2.9 s of backoff in all), then the last conflict is
    * rethrown. The backoff un-herds writers racing for the same txn
    * number, and 20 attempts let a burst of rival appends all land.
    * There is no per-caller knob: every conditional commit loses the
    * same way, so every one retries the same way. */
  private[graft] def retryOnConflict[T](body: Int => T): T = {
    @scala.annotation.tailrec
    def run(attempt: Int): T = {
      val out =
        try Some(body(attempt))
        catch { case _: CommitConflict if attempt < 20 => None }
      out match {
        case Some(v) => v
        case None =>
          Thread.sleep(math.min(200L, attempt * 20L))
          run(attempt + 1)
      }
    }
    run(1)
  }

  /** The commit path every lake write shares. It pins the current txn
    * (conditional on `expectedTxn` when given), lets `reconcile` turn
    * the current manifest into the carried-forward one (dropping
    * superseded entries, validating before any staging work), stages
    * `bulk` ([[stageBulk]]) and each per-entry update into dirs unique
    * to this attempt — data entries in the table's write layout,
    * constraint-checked and measured off the staged files — and
    * publishes everything via one rename CAS. A failure before the CAS
    * throws and the catalog never moves. */
  private[storage] def publish(spark: SparkSession, root: String,
      updates: Seq[(String, String, DataFrame)],
      statsColumns: Seq[String],
      expectedTxn: Option[Long],
      reconcile: Map[(String, String), Entry] => Map[(String, String), Entry],
      bloomColumns: Seq[String] = Nil,
      dataTxns: Map[(String, String), Long] = Map.empty,
      deleteKeyCols: Map[(String, String), String] = Map.empty,
      bulk: Option[BulkLoad] = None)(
      beforePublish: () => Unit): Long = {
    val f = fs(spark, root)
    val prev = currentTxn(spark, root)
    expectedTxn.foreach { e =>
      if (prev.getOrElse(0L) != e) throw new CommitConflict(
        s"catalog moved to txn ${prev.getOrElse(0L)} since snapshot $e; retry")
    }
    val prevManifest = prev.map(manifest(f, root, _)).getOrElse(Map.empty)
    val carried = reconcile(prevManifest)
    val next = prev.getOrElse(0L) + 1L
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"v=$next.$nonce"
    // table properties, read once per table per publish (KB-scale
    // driver parquet; absent for propless tables at zero cost). Their
    // declared stats/Bloom columns merge into EVERY commit to that
    // table — SQL INSERT, streaming sink, compaction, clustering — so
    // skipping doesn't depend on each writer remembering the knob; the
    // config lives with the table, the way Delta's
    // dataSkippingNumIndexedCols does. Explicit caller columns always
    // measure too (union).
    val propsCache = scala.collection.mutable.Map.empty[String, Map[String, String]]
    def tableProps(t: String): Map[String, String] =
      propsCache.getOrElseUpdate(t, prevManifest.get((t, "~p")).map { e =>
        readPropsDirect(spark, entryPath(root, t, "~p", e.dir))
      }.getOrElse(Map.empty))
    var staged = Map.empty[(String, String), Entry]
    try {
      bulk.foreach { load =>
        staged = stageBulk(spark, f, root, load, tableProps(load.table),
          dirName)
        // only a bulk REWRITE (which pre-guards full emptiness itself)
        // may stage zero groups beside drops or extra entries: a bulk
        // LOAD or spec-aware COMPACTION whose input evaporated must not
        // silently erase its sources
        require(staged.nonEmpty || load.partNameOf.isDefined ||
          (updates.isEmpty && carried.size == prevManifest.size),
          "bulk commit staged zero partitions but carries drops or extra " +
            "entries; refusing to erase the sources — if pending deletes " +
            "emptied them, run applyDeletes or deleteWhere instead")
      }
      updates.foreach { case (t, p, df) =>
        require(!staged.contains((t, p)),
          s"update collides with a bulk partition: ($t, $p)")
        val path = entryPath(root, t, p, dirName)
        staged += (t, p) -> Entry(dirName) // unstaged on a refusal below
        // internal entries (`~p` properties, `~d-`/`~v-` delete entries)
        // are not data: written verbatim, never constraint-checked or
        // measured — a DV's row payload would otherwise leak DELETED
        // values into skipping metadata that pruning paths must never
        // consult. Reorganizations (explicit dataTxns) re-stage data
        // that was validated when first committed.
        val internal = p.startsWith("~")
        val reorg = dataTxns.contains((t, p))
        val (arranged, opts) =
          if (internal) (df, Map.empty[String, String])
          else writeLayout(df, tableProps(t), reorg)
        arranged.write.mode("errorifexists").options(opts).parquet(path)
        if (!internal && !reorg)
          checkConstraints(t, tableProps(t),
            spark.read.schema(df.schema).parquet(path))
        val (stats, rows) =
          if (internal) (Map.empty[String, ColStat], footerRowCount(spark, path))
          else entryStats(spark, path, tableProps(t), statsColumns,
            bloomColumns, Some(df.schema))
        staged += (t, p) -> Entry(dirName, stats, dataTxns.get((t, p)), rows,
          deleteKeyCols.get((t, p)), bytes = dirBytes(spark, path))
      }
    } catch {
      // a refused commit (CHECK violation, colliding entries) unstages
      // everything; a crash mid-staging leaves invisible orphans, like
      // any crash before the CAS, for [[vacuum]] to clear
      case ex: IllegalArgumentException =>
        staged.foreach { case ((t, p), e) =>
          f.delete(new Path(entryPath(root, t, p, e.dir)), true)
        }
        throw ex
    }
    casPublish(f, root, next, nonce, carried, staged)(beforePublish)
    next
  }

  /** Named TAGS: durable references pinning a committed txn by name
    * (Iceberg's tags on this catalog's txn axis) — `release-2026-08`,
    * `pre-migration`, a training-run's exact input state. A tagged txn
    * and everything it references are EXEMPT from [[vacuum]]'s
    * retention window until the tag is dropped, and SQL reads resolve
    * tags through time travel: `VERSION AS OF 'name'`. One file per
    * tag under `_refs/`, placed by the same atomic no-overwrite
    * primitive as txn manifests — concurrent creates of one name get
    * exactly one winner. */
  private def refsDir(root: String) = s"$root/_refs"

  private def checkTagName(n: String): Unit =
    require(n.nonEmpty && !n.contains('/') && !n.contains('\t') &&
      !n.startsWith(".") && n.toLongOption.isEmpty,
      s"illegal tag name '$n' (path-safe, non-numeric)")

  /** Tag `txn` as `name`. Throws if the txn is not committed (or
    * vacuumed) or the tag already exists. */
  def createTag(spark: SparkSession, root: String, name: String,
      txn: Long): Unit = {
    checkTagName(name)
    val f = fs(spark, root)
    require(f.exists(new Path(txnsDir(root), txn.toString)),
      s"txn $txn is not committed (or already vacuumed) under $root")
    val dir = new Path(refsDir(root))
    f.mkdirs(dir)
    val tmp = new Path(dir, s".$name.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    out.write(s"$txn\n".getBytes("UTF-8"))
    out.close()
    if (!atomicPlace(f, tmp, new Path(dir, name))) {
      f.delete(tmp, false)
      throw new IllegalArgumentException(s"tag '$name' already exists")
    }
  }

  /** Drop tag `name`; false when it did not exist. The txn it pinned
    * re-enters vacuum's ordinary retention. */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    checkTagName(name)
    fs(spark, root).delete(new Path(refsDir(root), name), false)
  }

  /** Every tag, name → pinned txn. */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val f = fs(spark, root)
    val dir = new Path(refsDir(root))
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        body.toLongOption.map(st.getPath.getName -> _)
      }.toMap
  }

  /** Pin the snapshot a tag names — time travel by name. */
  def snapshotAtTag(spark: SparkSession, root: String,
      name: String): Snapshot = {
    val txn = tags(spark, root).getOrElse(name,
      throw new IllegalArgumentException(s"unknown tag '$name'"))
    snapshotAt(spark, root, txn)
  }

  /** RENAME a column across every live partition of `table` — a full
    * data rewrite committed as ONE conditional txn, partition layout
    * preserved (each entry rewrites under its own partition name, so
    * grain and pruning shape survive; stats re-measure under the new
    * name). Delta without column-mapping refuses RENAME outright; this
    * catalog makes the rewrite explicit instead — at fact scale, run
    * OPTIMIZE first so the rewrite streams partition-sized jobs.
    *
    * Refused (IllegalArgumentException, nothing committed) when the
    * column is missing, the target name exists, equality deletes are
    * pending (apply_deletes first — their key lists name columns), a
    * CHECK constraint references the column (alter the constraint
    * first), or a materialized view aggregates it (drop the view
    * first). Skipping/Bloom config follows the rename; a bucketed
    * layout claim is dropped (the rewrite re-stages files unbranded —
    * re-run bucketTable). A rewrite is a DATA change: the new entries
    * carry this txn, and incremental consumers re-receive the rows
    * under the new schema. Returns the committed txn. */
  def renameColumn(spark: SparkSession, root: String, table: String,
      from: String, to: String): Long = {
    import org.apache.spark.sql.functions.col
    rewriteColumns(spark, root, table, from,
      df => df.withColumnRenamed(from, to),
      cols => cols.map(c => if (c == from) to else c),
      beforeCheck = (schema: Seq[String]) =>
        require(!schema.contains(to),
          s"column '$to' already exists in '$table'"))
  }

  /** DROP a column across every live partition of `table` — same
    * mechanics, guards, and trade as [[renameColumn]] (Delta requires
    * column-mapping for a zero-rewrite drop; here the rewrite is the
    * contract). Returns the committed txn. */
  def dropColumn(spark: SparkSession, root: String, table: String,
      colName: String): Long =
    rewriteColumns(spark, root, table, colName,
      df => df.drop(colName),
      cols => cols.filterNot(_ == colName),
      beforeCheck = (schema: Seq[String]) =>
        require(schema.size > 1,
          s"cannot drop the only column of '$table'"))

  private def rewriteColumns(spark: SparkSession, root: String,
      table: String, target: String,
      transform: DataFrame => DataFrame,
      mapCols: Seq[String] => Seq[String],
      beforeCheck: Seq[String] => Unit): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val data = snap.dataEntries(table)
    require(data.nonEmpty, s"unknown or empty table '$table'")
    require(snap.deleteEntries(table).isEmpty,
      s"table '$table' has pending equality deletes; run applyDeletes " +
        "first — their key lists are named by column")
    val schema = snap.read(table).get.columns.toSeq
    require(schema.contains(target), s"no column '$target' in '$table'")
    beforeCheck(schema)
    val props = snap.properties(table)
    // CHECK constraints referencing the column would silently stop
    // matching (or fail analysis) after the change — make the caller
    // resolve the conflict explicitly
    props.foreach { case (k, v) =>
      if (k.startsWith(ConstraintPrefix)) {
        val refs =
          try spark.sessionState.sqlParser.parseExpression(v).collect {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.name
          } catch { case scala.util.control.NonFatal(_) => Seq(target) }
        require(!refs.contains(target),
          s"constraint $k references column '$target'; drop or rewrite " +
            "the constraint first")
      }
    }
    // materialized views aggregating the column would refresh against a
    // schema that no longer has it
    snap.tables.foreach { v =>
      val p = snap.properties(v)
      if (p.get(MaterializedAgg.SourceProp).contains(table) ||
          p.get(MaterializedAgg.DimProp)
            .exists(_.split(',').contains(table))) {
        val used = p.getOrElse(MaterializedAgg.GroupProp, "").split(',') ++
          p.getOrElse(MaterializedAgg.AggsProp, "")
            .split(',').map(_.split(":", 2).last) ++
          p.getOrElse(MaterializedAgg.JoinOnProp, "").split("[,;]")
            .flatMap(_.split("=", 2))
        require(!used.contains(target),
          s"materialized view '$v' uses column '$target'; drop the view first")
      }
    }
    def mapList(key: String): Option[(String, String)] =
      props.get(key).map(s => key ->
        mapCols(s.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .mkString(","))
    val newProps = (props
      ++ mapList(StatsColumnsProp) ++ mapList(BloomColumnsProp))
      .removedAll(Seq(BucketColumnProp, BucketCountProp, BucketTxnProp,
        BucketSortedProp)) // rewritten files are unbranded: claim drops
      .filter(_._2.nonEmpty)
    val kv = spark.createDataFrame(
      spark.sparkContext.parallelize(
        newProps.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
      StructType(Seq(StructField("key", StringType, nullable = false),
        StructField("value", StringType, nullable = false))))
    // measure under the POST-change column names (the publish path's
    // table-config merge still reads the pre-change properties)
    val newStats = propColumns(newProps, StatsColumnsProp)
    val newBlooms = propColumns(newProps, BloomColumnsProp)
    if (data.sizeIs > BulkRewriteThreshold)
      // many partitions: ONE read + ONE staged write + ONE grouped
      // stats (+ bloom) pass + ONE CAS (a 10 000-partition ALTER is a
      // handful of jobs, not 20 000); the rewritten properties ride
      // the same txn
      rewritePartitionsBulk(spark, root, table, snap, data,
        transform = transform, statsColumns = newStats,
        extraUpdates = Seq((table, PropsPartition, kv)),
        bloomColumns = newBlooms)
    else {
      val updates = data.map { case (p, e) =>
        (table, p, transform(snap.readSelected(table, Seq((p, e))).get))
      } :+ ((table, PropsPartition, kv))
      publish(spark, root, updates, statsColumns = newStats, expectedTxn = Some(snap.txn), reconcile = identity,
        bloomColumns = newBlooms)(() => ())
    }
  }

  /** Place `tmp` at `marker` ATOMICALLY, failing (false) if `marker`
    * already exists — the win arbitration of the manifest CAS and of
    * tag creation. On HDFS, exists+rename is sound: the NameNode
    * rejects a rename onto an existing path atomically. On the LOCAL
    * filesystem it is NOT — Hadoop's local rename is POSIX rename(2),
    * which silently REPLACES an existing destination, so two writers
    * both passing the exists() check before either renames would both
    * "win", the second overwriting the first's marker: a silent lost
    * update (observed as 5-of-6 racing SQL INSERTs landing under
    * load). On file:// the hardlink syscall is the atomic no-overwrite
    * primitive: link(2) fails with EEXIST when the marker exists, and
    * a successful link exposes the COMPLETE tmp content instantly
    * (same inode). Filesystems without link support fall back to
    * exists+rename (their rename semantics are their contract). */
  private def atomicPlace(f: org.apache.hadoop.fs.FileSystem,
      tmp: Path, marker: Path): Boolean =
    if (f.getScheme == "file") {
      val linked =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(marker.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            !f.exists(marker) && f.rename(tmp, marker)
        }
      if (linked) f.delete(tmp, false)
      linked
    } else !f.exists(marker) && f.rename(tmp, marker)

  /** Serialize `carried ++ staged` as txn `next`'s manifest and publish
    * it via the rename CAS — one rename commits every table and
    * partition at once. A lost race deletes the tmp manifest AND every
    * staged dir, then throws. */
  private def casPublish(f: org.apache.hadoop.fs.FileSystem, root: String,
      next: Long, nonce: String,
      carried: Map[(String, String), Entry],
      staged: Map[(String, String), Entry])(
      beforePublish: () => Unit): Unit = {
    val entries = (carried ++ staged).toSeq.sortBy(_._1)
      .map { case ((t, p), e) =>
        val props = propsField(e)
        if (props.nonEmpty) s"$t\t$p\t${e.dir}\t${statsField(e.stats)}\t$props"
        else if (e.stats.isEmpty) s"$t\t$p\t${e.dir}"
        else s"$t\t$p\t${e.dir}\t${statsField(e.stats)}"
      }.mkString("", "\n", "\n")
    val tdir = new Path(txnsDir(root))
    f.mkdirs(tdir)
    val tmp = new Path(tdir, s".$next.inprogress.$nonce")
    val out = f.create(tmp, true)
    out.write(entries.getBytes("UTF-8"))
    out.close()
    val marker = new Path(tdir, next.toString)
    beforePublish()
    val won = atomicPlace(f, tmp, marker) &&
      manifest(f, root, next) == (carried ++ staged)
    if (!won) {
      if (f.exists(tmp)) f.delete(tmp, false)
      staged.foreach { case ((t, p), e) =>
        f.delete(new Path(entryPath(root, t, p, e.dir)), true)
      }
      throw new CommitConflict(
        s"lost the commit race publishing txn manifest $marker")
    }
  }

  /** ANALYZE: backfill per-partition manifest stats (and Blooms) for
    * EXISTING entries without rewriting a single data file — stats ride
    * the manifest, so this is a measure pass plus one manifest-only CAS
    * (Delta's `ANALYZE ... COMPUTE DELTA STATISTICS`, same trade). The
    * path for tables whose partitions were committed before skipping
    * columns were configured (or before [[StatsColumnsProp]] was set):
    * afterwards every existing partition prunes like a fresh commit's.
    *
    * `onlyMissing` (default) measures only entries lacking a requested
    * stat (or, for `bloomColumns`, lacking the Bloom) — re-running is a
    * cheap no-op; pass false to force re-measurement. Entries keep
    * their dirs and dataTxns: incremental consumers (streams, CDC) see
    * NO new data — the same invisibility OPTIMIZE reorganizations get,
    * here for free because nothing moves. Concurrency is the usual
    * conditional CAS: a rival commit in the measure window loses us the
    * rename and the pass retries against the moved catalog (bounded),
    * re-measuring only what still needs it. Returns the committed txn,
    * or None when nothing needed measuring (or the table is absent). */
  def analyzeTable(spark: SparkSession, root: String, table: String,
      statsColumns: Seq[String], bloomColumns: Seq[String] = Nil,
      onlyMissing: Boolean = true): Option[Long] =
    analyzeTableHooked(spark, root, table, statsColumns, bloomColumns,
      onlyMissing)(() => ())

  /** [[analyzeTable]] with the test-only pre-publish seam (races a
    * rival commit into the measure window). */
  private[graft] def analyzeTableHooked(spark: SparkSession, root: String,
      table: String, statsColumns: Seq[String],
      bloomColumns: Seq[String] = Nil,
      onlyMissing: Boolean = true)(
      beforePublish: () => Unit): Option[Long] = {
    require(statsColumns.nonEmpty || bloomColumns.nonEmpty,
      "analyze needs at least one stats or bloom column")
    checkTableName(table)
    val f = fs(spark, root)
    retryOnConflict { _ =>
      snapshot(spark, root).flatMap { snap =>
        val targets = snap.dataEntries(table).filter { case (_, e) =>
          !onlyMissing ||
            statsColumns.exists(c => !e.stats.contains(c)) ||
            bloomColumns.exists(c => e.stats.get(c).forall(_.bloom.isEmpty))
        }
        if (targets.isEmpty) None
        else {
          val measured: Map[(String, String), Entry] = targets.map {
            case (p, e) =>
              val path = entryPath(root, table, p, e.dir)
              val (st, rows) = entryStats(spark, path, Map.empty,
                statsColumns, bloomColumns)
              (table, p) -> e.copy(stats = e.stats ++ st,
                rows = rows.orElse(e.rows),
                bytes = e.bytes.orElse(dirBytes(spark, path)))
          }.toMap
          val nonce = java.util.UUID.randomUUID().toString.take(8)
          // staged is EMPTY: a lost race deletes nothing but the tmp
          // manifest — the measured entries' dirs are live data
          casPublish(f, root, snap.txn + 1, nonce,
            manifest(f, root, snap.txn) ++ measured, Map.empty)(beforePublish)
          Some(snap.txn + 1)
        }
      }
    }
  }

  /** Table property recording the most recent RESTORE of the table:
    * `<restoreCommitTxn>:<restoredToTxn>`. Restored entries carry
    * their ORIGINAL dataTxns (that is what makes the restored read
    * state provably identical to the target snapshot, delete-vs-data
    * ordering included), so incremental consumers cannot see the
    * reversion through `diffData` — this marker is how
    * [[LakeStreamSource]] detects that a restore landed inside an
    * offset window and fails the stream instead of silently diverging
    * (Delta's streaming-source behavior on a non-append change). */
  val RestoreTxnProp = "graft.restore.last"

  /** RESTORE: revert `table` to its exact state at committed txn
    * `toTxn` — data entries, equality-delete lists, AND table
    * properties — as ONE new conditional commit, copying no data
    * (Delta's `RESTORE TABLE ... TO VERSION AS OF`, same trade: the
    * old txn's files are still on disk inside [[vacuum]]'s retention
    * window, so rollback is a manifest-only CAS).
    *
    * Entries are reinstated VERBATIM, original `dataTxn`s included:
    * `snapshotAt(restoreTxn).read(table)` is byte-identical to
    * `snapshotAt(toTxn).read(table)` by construction, and merge-on-read
    * delete sequencing (a delete masks only data that predates it) is
    * preserved exactly. The flip side is that the reversion is
    * INVISIBLE to `diffData`/`changeFeed` consumers — a rollback is not
    * an append — so the commit also stamps [[RestoreTxnProp]] into the
    * restored properties; streaming reads crossing it fail fast with a
    * restart-from-scratch message rather than silently missing the
    * reversion (set `ignoreRestores` on the stream to opt out).
    *
    * No-op (returns the CURRENT txn, committing nothing) when the
    * table's entries and properties already match the target snapshot.
    * Throws if `toTxn` was never committed or has been vacuumed, or if
    * the table did not exist at `toTxn`. Concurrency is the usual
    * conditional CAS with bounded retry: a rival commit landing between
    * pin and publish fails the attempt cleanly and the restore re-pins
    * against the moved catalog. Returns the committed (or current,
    * when no-op) txn. */
  def restoreTable(spark: SparkSession, root: String, table: String,
      toTxn: Long): Long =
    restoreTableHooked(spark, root, table, toTxn)(() => ())

  /** [[restoreTable]] with the test-only pre-publish seam. */
  private[graft] def restoreTableHooked(spark: SparkSession, root: String,
      table: String, toTxn: Long)(
      beforePublish: () => Unit): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    val f = fs(spark, root)
    val old = snapshotAt(spark, root, toTxn)
    val oldT: Map[(String, String), Entry] =
      old.entries.filter(_._1._1 == table)
    require(oldT.nonEmpty, s"table '$table' does not exist at txn $toTxn")
    // vacuum keeps data referenced by any surviving manifest, so a
    // readable snapshotAt implies live dirs — but verify anyway: a
    // clear error here beats a manifest pointing at missing data
    oldT.foreach { case ((t, p), e) =>
      require(f.exists(new Path(entryPath(root, t, p, e.dir))),
        s"data for '$t'/$p at txn $toTxn is gone (vacuumed?); cannot restore")
    }
    val oldProps = old.properties(table) - RestoreTxnProp
    val oldNonProps = oldT.filter(_._1._2 != PropsPartition)
    retryOnConflict { _ =>
      val cur = snapshot(spark, root).getOrElse(
        throw new IllegalArgumentException(s"empty catalog under $root"))
      val curNonProps = cur.entries.filter { case ((t, p), _) =>
        t == table && p != PropsPartition }
      if (curNonProps == oldNonProps &&
          (cur.properties(table) - RestoreTxnProp) == oldProps)
        cur.txn // already in the target state — idempotent
      else {
        val marker = s"${cur.txn + 1}:$toTxn"
        val merged = (oldProps + (RestoreTxnProp -> marker))
          .filter(_._2.nonEmpty)
        val kv = spark.createDataFrame(
          spark.sparkContext.parallelize(
            merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
          StructType(Seq(StructField("key", StringType, nullable = false),
            StructField("value", StringType, nullable = false))))
        publish(spark, root, Seq((table, PropsPartition, kv)),
          statsColumns = Nil, expectedTxn = Some(cur.txn),
          reconcile = carried => carried.filterNot(_._1._1 == table) ++
            oldNonProps)(beforePublish)
      }
    }
  }

  /** Table properties recording a BUCKETED layout: the hash-bucket
    * column, the bucket count, and the txn whose rewrite produced the
    * layout. The read path surfaces a Spark `BucketSpec` (shuffle-free
    * co-located joins and aggregations on the bucket key) ONLY while
    * every live data entry still belongs to [[BucketTxnProp]]'s
    * rewrite — any later append or partition rewrite drops the claim
    * conservatively (correct plans, just with the shuffle back) until
    * [[bucketTable]] runs again. */
  val BucketColumnProp = "graft.bucket.column"
  val BucketCountProp = "graft.bucket.count"
  val BucketTxnProp = "graft.bucket.txn"
  /** "true" when each bucket file is SORTED by the bucket column —
    * written by [[bucketTable]] (always sorts; one file per bucket, the
    * shape Spark requires to use a declared sort order). The read path
    * then declares `sortColumnNames` too, and a sort-merge join of two
    * such tables skips BOTH its sorts on top of both its shuffles. */
  val BucketSortedProp = "graft.bucket.sorted"

  /** Rewrite `table` into a HASH-BUCKETED layout on `keyCol`: one
    * shuffle into exactly `numBuckets` write tasks — task `k` holds the
    * rows with `pmod(murmur3(key), n) = k`, the SAME partition-id
    * expression Spark's own bucketed write uses — and each staged file
    * is renamed to carry its bucket id in the suffix Spark's bucketed
    * scan parses. [[GraftLake.tableAt]] then declares the layout as a
    * `BucketSpec`, and a join (or aggregation) of two such tables on
    * the bucket key plans with NO exchange on either side: at fact
    * scale that shuffle is the dominant cost of every key join, and
    * bucketing pays it ONCE at layout time instead of per-query —
    * Spark's `bucketBy` tables and Iceberg's `bucket(n, col)` partition
    * transform, re-expressed as a manifest commit.
    *
    * A pure REORGANIZATION: content is byte-identical to the pre-rewrite
    * table (the new entry carries the max source dataTxn, so streams and
    * CDC consumers skip it exactly like a compaction). Pending equality
    * deletes must be applied first ([[applyDeletes]]) — folding them in
    * here would change content and break reorg semantics. Size
    * `numBuckets` to target parallelism (each bucket is one read split
    * when the bucketed scan is used; Spark's auto-bucketed-scan rule
    * restores split-based parallelism for scans that don't need the
    * bucketing). Conditional on the pinned txn like every
    * reorganization: a rival commit fails this cleanly
    * ([[CommitConflict]]) and the caller retries. Returns the committed txn. */
  def bucketTable(spark: SparkSession, root: String, table: String,
      keyCol: String, numBuckets: Int,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.{GraftSqlBridge, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    checkTableName(table)
    require(numBuckets >= 1 && numBuckets <= 100000,
      s"numBuckets out of range: $numBuckets")
    val f = fs(spark, root)
    val snap = snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val data = snap.dataEntries(table)
    require(data.nonEmpty, s"unknown or empty table '$table'")
    require(snap.deleteEntries(table).isEmpty,
      s"table '$table' has pending equality deletes; run applyDeletes " +
        "first — bucketing is a pure reorganization and cannot fold them in")
    val df = snap.read(table).get
    require(df.columns.contains(keyCol), s"no bucket column '$keyCol'")
    val next = snap.txn + 1
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val dirName = s"v=$next.$nonce"
    val part = "bk"
    val stagingDir = new Path(s"$root/$table/.bucket.$next.$nonce")
    // sorted within each bucket: one file per bucket (one write task
    // each), so the read can declare the sort order and a sort-merge
    // join skips its sorts as well as its shuffles
    df.repartition(numBuckets, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.parquet(stagingDir.toString)
    // brand each staged file with its bucket id: the write task index
    // (the leading part-NNNNN) IS the bucket id, because repartition's
    // HashPartitioning and BucketSpec's bucket-id expression are the
    // same Pmod(Murmur3Hash(key), n)
    val target = new Path(entryPath(root, table, part, dirName))
    f.mkdirs(target)
    try {
      f.listStatus(stagingDir)
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .foreach { st =>
          val name = st.getPath.getName
          val idx = name.stripPrefix("part-").takeWhile(_.isDigit)
          require(idx.nonEmpty, s"unexpected staged file name '$name'")
          val dot = name.indexOf('.')
          val (base, ext) =
            if (dot >= 0) name.splitAt(dot) else (name, "")
          val renamed = f"${base}_${idx.toInt}%05d$ext"
          // provably in sync with the reader: Spark's own parser must
          // recover the id we just branded
          require(GraftSqlBridge.bucketIdOf(renamed).contains(idx.toInt),
            s"bucket branding '$renamed' unreadable by Spark's parser")
          require(f.rename(st.getPath, new Path(target, renamed)),
            s"staging move failed for '$name'")
        }
      f.delete(stagingDir, true) // _SUCCESS and empty shell
      val tblProps = snap.properties(table)
      val (stats, rows) = entryStats(spark, target.toString, tblProps,
        statsColumns :+ keyCol, bloomColumns)
      val dataTxn = data.map { case (_, e) => entryDataTxn(e) }.max
      val mergedProps = tblProps ++ Map(
        BucketColumnProp -> keyCol,
        BucketCountProp -> numBuckets.toString,
        BucketTxnProp -> next.toString,
        BucketSortedProp -> "true")
      val kv = spark.createDataFrame(
        spark.sparkContext.parallelize(
          mergedProps.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
        StructType(Seq(StructField("key", StringType, nullable = false),
          StructField("value", StringType, nullable = false))))
      kv.write.mode("errorifexists")
        .parquet(entryPath(root, table, PropsPartition, dirName))
      casPublish(f, root, next, nonce,
        carried = manifest(f, root, snap.txn)
          .filterNot(_._1._1 == table),
        staged = Map(
          (table, part) -> Entry(dirName, stats, Some(dataTxn), rows,
            bytes = dirBytes(spark,
              entryPath(root, table, part, dirName))),
          (table, PropsPartition) -> Entry(dirName)))(() => ())
      next
    } catch {
      case scala.util.control.NonFatal(ex) =>
        // casPublish cleans its own staged dirs on a lost race; cover
        // the windows before it (rename/measure/props-write failures)
        f.delete(stagingDir, true)
        ex match {
          case _: CommitConflict => // lost the race: already clean
          case _ =>
            f.delete(target, true)
            f.delete(new Path(
              entryPath(root, table, PropsPartition, dirName)), true)
        }
        throw ex
    }
  }

  /** Drop snapshots referenced only by txns older than the `keep` most
    * recent ones, plus orphan staging dirs of crashed or race-losing
    * attempts at already-committed txn numbers. Data still referenced by
    * any SURVIVING manifest is never touched; manifests are removed AFTER
    * the data they exclusively reference. `minAgeMs` is the retention
    * window against vacuum-vs-long-reader races: a txn is reclaimed only
    * once its successor has been committed at least that long, and an
    * orphan staging dir only once it has sat unreferenced that long (its
    * writer may still be mid-job after losing the race). */
  /** Everything [[vacuum]] with the same arguments WOULD remove,
    * without removing it — `(kind, path)` pairs: `"data"` (owned entry
    * dirs of dropped txns no surviving manifest references), `"orphan"`
    * (unreferenced `v=` staging dirs), `"staging"` (crashed bulk-load
    * dirs), `"manifest"` (the dropped txn files themselves). The
    * safety loop before an irreversible delete on a 100 TB lake:
    * audit the list (`CALL system.vacuum(dry_run => true)`), then run
    * the real one. Computed by the SAME liveness/retention/tag-pinning
    * rules as the delete path — [[vacuum]] executes exactly this plan,
    * so the dry run can never disagree with the real run against the
    * same catalog state. */
  def vacuumPlan(spark: SparkSession, root: String, keep: Int = 1,
      minAgeMs: Long = 0L): Seq[(String, Path)] = {
    require(keep >= 1, "must keep at least the current txn")
    val f = fs(spark, root)
    val tdir = new Path(txnsDir(root))
    if (!f.exists(tdir)) return Nil
    val committed = f.listStatus(tdir).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .flatMap(n => scala.util.Try(n.toLong).toOption).sorted
    if (committed.isEmpty) return Nil
    val now = System.currentTimeMillis()
    def successorAge(t: Long): Long = {
      val next = committed.find(_ > t).get
      now - f.getFileStatus(new Path(tdir, next.toString)).getModificationTime
    }
    // tagged txns are pinned outright: a tag is a durable promise that
    // this exact state stays readable until the tag is dropped
    val tagged = tags(spark, root).values.toSet
    val dropped = committed.dropRight(keep)
      .filterNot(tagged)
      .filter(t => minAgeMs <= 0L || successorAge(t) >= minAgeMs)
    val survivors = committed.filterNot(dropped.contains)
    // liveness is PATH-based, not (table, partition, dir)-based: a
    // branch fork/publish references the same physical dir under a
    // DIFFERENT table name (`~ref:` entries — see [[RefPrefix]]), and
    // the bytes must survive as long as any surviving manifest resolves
    // to them, whatever name it uses
    val live: Set[String] = survivors
      .flatMap(t => manifest(f, root, t).toSeq.map { case ((tab, p), e) =>
        entryPath(root, tab, p, e.dir) }).toSet
    val plan = Seq.newBuilder[(String, Path)]
    // dedup on the QUALIFIED form: "data" paths are built from entry
    // strings (no scheme) while "orphan"/"staging" come from listStatus
    // fully qualified — raw Path equality would never match across the
    // arms and a dropped txn's dead dir (which also meets the orphan
    // criteria) would be planned twice with double-counted bytes
    val planned = scala.collection.mutable.Set.empty[Path]
    def add(kind: String, p: Path): Unit =
      if (planned.add(f.makeQualified(p))) plan += (kind -> p)
    dropped.foreach { t =>
      manifest(f, root, t).foreach { case ((tab, p), e) =>
        // external (~ext:) data is never owned: forget, don't delete
        if (!e.dir.startsWith(ExtPrefix) &&
            !live.contains(entryPath(root, tab, p, e.dir)))
          add("data", new Path(entryPath(root, tab, p, e.dir)))
      }
      add("manifest", new Path(tdir, t.toString))
    }
    // orphans: unreferenced v=<n>.<nonce> dirs at committed txn numbers,
    // at both grains (whole-table dirs and per-partition dirs)
    val maxCommitted = committed.last
    def reclaimOrphans(parent: Path, mkPath: String => String): Unit =
      f.listStatus(parent).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filterNot(s => live.contains(mkPath(s.getPath.getName)))
        .filter { s =>
          val base = s.getPath.getName.stripPrefix("v=").takeWhile(_ != '.')
          scala.util.Try(base.toLong).toOption.exists(_ <= maxCommitted)
        }
        // retention applies to orphan staging dirs too: never delete a
        // possibly-still-writing loser's staging dir inside the window
        .filter(s => minAgeMs <= 0L || now - s.getModificationTime >= minAgeMs)
        // a dir can be both a dropped txn's dead data AND unreferenced:
        // `add` plans it once, under the more specific "data" kind
        .foreach(s => add("orphan", s.getPath))
    // crashed bulk-load staging dirs (.bulk.<n>.<nonce>): nothing ever
    // references them once <n> is committed — same retention window as
    // other orphans (the writer may still be mid-job after losing)
    def reclaimBulkStaging(parent: Path): Unit =
      f.listStatus(parent).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(".bulk."))
        .filter { s =>
          val base = s.getPath.getName.stripPrefix(".bulk.")
            .takeWhile(_ != '.')
          scala.util.Try(base.toLong).toOption.exists(_ <= maxCommitted)
        }
        .filter(s => minAgeMs <= 0L || now - s.getModificationTime >= minAgeMs)
        .foreach(s => add("staging", s.getPath))
    f.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .foreach { tdirStatus =>
        val tab = tdirStatus.getPath.getName
        reclaimOrphans(tdirStatus.getPath, d => s"$root/$tab/$d")
        reclaimBulkStaging(tdirStatus.getPath)
        f.listStatus(tdirStatus.getPath).toSeq
          .filter(s => s.isDirectory && !s.getPath.getName.startsWith("v=") &&
            !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
          .foreach { pdir =>
            val part = pdir.getPath.getName
            reclaimOrphans(pdir.getPath, d => s"$root/$tab/$part/$d")
          }
      }
    plan.result()
  }

  def vacuum(spark: SparkSession, root: String, keep: Int = 1,
      minAgeMs: Long = 0L): Unit = {
    val f = fs(spark, root)
    // data/orphan/staging dirs first, dropped manifests LAST: a crash
    // mid-vacuum leaves manifests whose data is partially gone — but
    // those txns are already outside the retention window (no reader
    // may pin them), and the next vacuum re-plans and finishes. The
    // reverse order could drop a manifest while a parallel planner
    // still counts its dirs as owned.
    val plan = vacuumPlan(spark, root, keep, minAgeMs)
    val (manifests, dirs) = plan.partition(_._1 == "manifest")
    dirs.foreach { case (_, p) => f.delete(p, true) }
    manifests.foreach { case (_, p) => f.delete(p, false) }
  }
}
