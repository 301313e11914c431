package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** ZERO-COPY ONBOARDING of existing parquet into the lake (Iceberg's
  * `add_files`, Delta's `CONVERT TO DELTA` — without rewriting or even
  * reading the data): each immediate child of the source directory
  * (a parquet file or a flat subdirectory) becomes one manifest entry
  * whose dir field is an EXTERNAL reference (`~ext:<absolute path>`),
  * committed in ONE conditional manifest txn. Nothing is copied,
  * nothing is scanned — onboarding 100 TB costs one directory listing,
  * one footer-level schema check, and one manifest CAS.
  *
  * HIVE-PARTITIONED layouts (`key=value` subdirs — how Spark/Hive
  * themselves lay out a partitioned lake, the most common onboarding
  * shape) import the same way: each LEAF directory becomes one entry
  * tagged `~ext:hive=<n>;<path>`, and the partition columns the files
  * do not physically carry are SYNTHESIZED from the directory names at
  * read time — declared once in [[TxnCatalog.HivePartColsProp]] with
  * types inferred over all values (every value a long → LongType, else
  * StringType; `__HIVE_DEFAULT_PARTITION__` reads NULL), recorded as
  * per-entry min=max stats so both pruning stacks skip on them from
  * day one, and appended to `graft.stats-columns` so any future
  * rewrite that materializes them keeps them skippable. This is how
  * Iceberg's `add_files` onboards an existing hive lake; here the read
  * path does it with a partition-aware [[ManifestFileIndex]] (Catalyst
  * plans them as constant partition values — stock scan stack) and
  * typed-literal projection on the direct-read stack.
  *
  * After import the entries are ordinary lake citizens: reads resolve
  * them through [[TxnCatalog.entryPath]] like any `~ref:` entry,
  * `CALL system.analyze` backfills min/max stats and Blooms so
  * skipping works (the one pass that does read the data — optional,
  * prunability for a scan-everything workload isn't mandatory), and
  * OPTIMIZE/cluster rewrites fold them into owned storage whenever
  * maintenance decides to — materializing synthesized columns
  * physically in the process. [[TxnCatalog.vacuum]] NEVER deletes
  * external paths — the lake does not own them; dropping the last
  * reference simply forgets them.
  *
  * Refused shapes, all at planning cost (directory listings):
  *  - mixed layouts (hive `key=value` dirs beside flat files/dirs at
  *    any level), ragged depth, or inconsistent key names per level —
  *    a layout that ambiguous was not written by a partitioned writer;
  *  - a partition key that collides with a FOOTER column (the files
  *    already carry it — nothing to synthesize) or with an existing
  *    DATA column of the target table;
  *  - a partition key whose inferred type conflicts with an earlier
  *    import's declaration (a column's type never changes with churn);
  *  - schema conflicts with an existing table that the engine's
  *    width-tolerant footer merge cannot reconcile.
  */
object Importer {

  /** One hive leaf: absolute path + its (column, value) pairs in path
    * order (None = `__HIVE_DEFAULT_PARTITION__`). */
  private final case class Leaf(path: String,
      values: Seq[(String, Option[String])])

  /** Import `sourcePath`'s parquet as table `table` (created if
    * absent, appended-by-reference if present). Returns the committed
    * txn and the number of entries added. */
  def addFiles(spark: SparkSession, root: String, table: String,
      sourcePath: String): (Long, Int) = {
    TxnCatalog.checkTableName(table)
    val hconf = spark.sparkContext.hadoopConfiguration
    val src = new Path(sourcePath)
    val fsys = src.getFileSystem(hconf)
    require(fsys.exists(src), s"no such path: $sourcePath")
    require(fsys.getFileStatus(src).isDirectory,
      s"$sourcePath is not a directory — point add_files at the " +
        "directory holding the parquet")
    def ls(p: Path): Seq[FileStatus] = fsys.listStatus(p).toSeq
      .filterNot(_.getPath.getName.startsWith("."))
      .filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    val children = ls(src)
    require(children.nonEmpty, s"$sourcePath is empty")
    val hiveMode = children.forall(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    require(hiveMode || !children.exists(st =>
      st.isDirectory && st.getPath.getName.contains("=")),
      s"$sourcePath mixes hive-partitioned (key=value) children with " +
        "flat ones — import each layout separately")

    val unescape = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName _
    /** Descend a consistent hive tree: every level is all-dirs sharing
      * ONE key, leaves are all-files; ragged shapes refuse. */
    def walk(dirs: Seq[FileStatus],
        acc: Seq[(String, Option[String])]): Seq[Leaf] = {
      val keys = dirs.map { st =>
        val n = st.getPath.getName
        val i = n.indexOf('=')
        require(st.isDirectory && i > 0,
          s"'$n' breaks the hive layout (expected key=value directories " +
            "at every level)")
        unescape(n.substring(0, i))
      }.distinct
      require(keys.sizeIs == 1,
        s"inconsistent partition keys at one level: ${keys.mkString(", ")}")
      dirs.flatMap { st =>
        val n = st.getPath.getName
        val raw = unescape(n.substring(n.indexOf('=') + 1))
        val v = if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
        val inner = ls(st.getPath)
        require(inner.nonEmpty, s"'$n' is an empty directory")
        if (inner.forall(_.isFile)) {
          inner.foreach(f => require(
            f.getPath.getName.endsWith(".parquet") ||
              f.getPath.getName.endsWith(".parq"),
            s"'${f.getPath.getName}' under '$n' is not a parquet file"))
          Seq(Leaf(st.getPath.toUri.getPath, acc :+ (keys.head, v)))
        } else {
          require(inner.forall(s =>
            s.isDirectory && s.getPath.getName.contains("=")),
            s"'$n' mixes files and subdirectories — not a hive layout")
          walk(inner, acc :+ (keys.head, v))
        }
      }
    }

    val leaves: Seq[Leaf] =
      if (hiveMode) {
        val ls0 = walk(children, Nil)
        val shapes = ls0.map(_.values.map(_._1)).distinct
        require(shapes.sizeIs == 1,
          s"ragged hive layout (different key paths): ${shapes.mkString("; ")}")
        val names = shapes.head
        require(names.distinct.sizeIs == names.size,
          s"repeated partition key in ${names.mkString("/")}")
        names.foreach(n => require(
          n.nonEmpty && !n.contains('/') && !n.contains('\t') &&
            !n.startsWith("_") && !n.startsWith("."),
          s"illegal partition column name '$n'"))
        ls0
      } else {
        children.foreach { st =>
          val n = st.getPath.getName
          if (st.isDirectory) {
            val inner = ls(st.getPath)
            require(inner.forall(_.isFile),
              s"'$n' has nested subdirectories — only one level of " +
                "grouping is importable by reference")
            require(inner.nonEmpty, s"'$n' is an empty directory")
          } else {
            require(n.endsWith(".parquet") || n.endsWith(".parq"),
              s"'$n' is not a parquet file")
          }
        }
        children.map(st => Leaf(st.getPath.toUri.getPath, Nil))
      }

    // per-column type inference over ALL values: long iff every
    // non-null value parses as one (the ColStat "n" kind — stats and
    // read type agree by construction); everything else reads string
    val synthKinds: Seq[(String, String)] =
      if (!hiveMode) Nil
      else leaves.head.values.map(_._1).zipWithIndex.map { case (c, i) =>
        val vs = leaves.flatMap(_.values(i)._2)
        (c, if (vs.nonEmpty && vs.forall(_.toLongOption.isDefined)) "n"
            else "s")
      }

    val childPaths = leaves.map(_.path)
    // ONE footer-level job: the merged schema of everything imported.
    // This is the only data the import touches — footers, not rows.
    val imported = spark.read
      .option("mergeSchema", "true").parquet(childPaths: _*).schema
    require(imported.nonEmpty, "imported files carry no columns")
    synthKinds.foreach { case (c, _) =>
      require(!imported.fieldNames.contains(c),
        s"partition key '$c' is already a footer column of the " +
          "imported files — nothing to synthesize; import the files flat")
    }
    val importedFull = org.apache.spark.sql.types.StructType(
      imported.fields.toSeq ++ synthKinds.map { case (c, k) =>
        org.apache.spark.sql.types.StructField(c,
          if (k == "n") org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.StringType, nullable = true)
      })
    TxnCatalog.retryOnConflict { _ =>
      val cur = TxnCatalog.snapshot(spark, root)
      val curProps: Map[String, String] = cur
        .filter(_.tables.contains(table))
        .map(_.properties(table)).getOrElse(Map.empty)
      val declared = TxnCatalog.hivePartCols(curProps)
        .map { case (n, dt) =>
          (n, if (dt == org.apache.spark.sql.types.LongType) "n" else "s") }
      cur.filter(_.tables.contains(table)).foreach { snap =>
        require(!snap.entries.contains((table, TxnCatalog.Whole)),
          s"'$table' holds a whole-table snapshot; import needs a " +
            "partitioned table")
        val existing = GraftLake.schemaOf(spark, root, table, snap)
          .getOrElse(throw new IllegalStateException(
            s"cannot read schema of '$table'"))
        synthKinds.foreach { case (c, k) =>
          declared.find(_._1 == c) match {
            case Some((_, dk)) => require(dk == k,
              s"partition key '$c' was declared ${tname(dk)} by an " +
                s"earlier import but these values infer ${tname(k)} — " +
                "a declared type never changes")
            case None => require(!existing.fieldNames.contains(c),
              s"partition key '$c' is already a data column of " +
                s"'$table' — the provenance would be ambiguous")
          }
        }
        // same contract as an evolved append: the union of old and
        // imported footers must merge (width-tolerant); conflicts die
        // here, before anything is committed
        try TxnCatalog.widenMergeSchemas(existing, importedFull,
          new IllegalArgumentException(
            s"imported schema is incompatible with '$table' " +
              "(only numeric-widening clashes merge)"))
        catch {
          case e: IllegalArgumentException => throw e
          case e: Exception => throw new IllegalArgumentException(
            s"imported schema is incompatible with '$table': " +
              e.getMessage, e)
        }
        ()
      }
      val nextTxn = cur.map(_.txn).getOrElse(0L) + 1
      val taken: Set[String] = cur.toSeq
        .flatMap(_.partitions(table)).toSet
      val depth = if (hiveMode) leaves.head.values.size else 0
      val kindOf = synthKinds.toMap
      val entries: Map[(String, String), TxnCatalog.Entry] =
        leaves.zipWithIndex.map { case (leaf, i) =>
          // name carries the txn so repeated imports land beside each
          // other; collisions with existing names are re-suffixed
          var part = s"import$nextTxn.$i"
          while (taken.contains(part)) part = s"$part.x"
          // synthesized values double as min=max stats: both pruning
          // stacks skip on the partition columns with zero extra IO
          val stats: Map[String, TxnCatalog.ColStat] =
            leaf.values.collect { case (c, Some(v)) =>
              c -> TxnCatalog.ColStat(kindOf(c), v, v, "", Some(0L))
            }.toMap
          val dir =
            if (hiveMode)
              s"${TxnCatalog.ExtPrefix}${TxnCatalog.ExtHiveHeader}$depth;${leaf.path}"
            else TxnCatalog.ExtPrefix + leaf.path
          (table, part) -> TxnCatalog.Entry(
            dir = dir, stats = stats, dataTxn = Some(nextTxn))
        }.toMap
      // hive imports also commit the declared partition columns (and
      // fold them into stats-columns so future rewrites that
      // materialize them keep measuring) — SAME txn as the entries
      val propUpdates: Seq[(String, String, org.apache.spark.sql.DataFrame)] =
        if (!hiveMode) Nil
        else {
          val mergedDecl = (declared ++
            synthKinds.filterNot(k => declared.exists(_._1 == k._1)))
            .map { case (c, k) => s"$c:$k" }.mkString(",")
          val statsCols = (curProps.get(TxnCatalog.StatsColumnsProp).toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) ++
            synthKinds.map(_._1)).distinct.mkString(",")
          val merged = (curProps ++ Map(
            TxnCatalog.HivePartColsProp -> mergedDecl,
            TxnCatalog.StatsColumnsProp -> statsCols))
            .filter(_._2.nonEmpty)
          import org.apache.spark.sql.Row
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          val kv = spark.createDataFrame(
            spark.sparkContext.parallelize(
              merged.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1),
            StructType(Seq(
              StructField("key", StringType, nullable = false),
              StructField("value", StringType, nullable = false))))
          Seq((table, TxnCatalog.PropsPartition, kv))
        }
      val txn = TxnCatalog.publish(spark, root, propUpdates,
        statsColumns = Nil,
        expectedTxn = Some(cur.map(_.txn).getOrElse(0L)),
        reconcile = carried => carried ++ entries)(() => ())
      (txn, entries.size)
    }
  }

  private def tname(kind: String): String =
    if (kind == "n") "BIGINT" else "STRING"
}
