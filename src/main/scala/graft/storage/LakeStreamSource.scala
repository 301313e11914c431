package graft.storage

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** The lake as a Structured Streaming SOURCE — Delta's streaming reads
  * for this catalog: `spark.readStream.format("graft-lake")
  * .option("root", lakeRoot).option("table", t).load()` delivers each
  * committed batch of `t` exactly once, with the catalog's own txn
  * numbers as offsets.
  *
  * Semantics, all inherited from the manifest layer rather than
  * re-invented:
  *  - **Offset = txn.** `getOffset` is the current committed txn;
  *    `getBatch((from, to])` reads the data entries with
  *    `dataTxn ∈ (from, to]` out of `snapshotAt(to)` — deterministic
  *    replay for as long as [[TxnCatalog.vacuum]] retention covers the
  *    checkpoint (size the retention window to the longest stream
  *    downtime, same rule as any pinned reader).
  *  - **Reorganizations are invisible.** Compaction, clustering and
  *    [[TxnCatalog.reclusterFull]] carry their sources' data txn, so an
  *    OPTIMIZE between micro-batches delivers ZERO duplicate rows —
  *    `dataTxn` is exactly the `diffData` skippability rule.
  *  - **Merge-on-read deletes apply within the window.** A batch's
  *    frame anti-joins the delete key lists applicable to the entries
  *    it delivers, so rows deleted before they were ever delivered
  *    never appear. Rows ALREADY delivered in an earlier micro-batch
  *    are not retracted (append-mode streams cannot retract — consume
  *    the `~d` entries via [[TxnCatalog.diff]] for CDC-style delete
  *    propagation).
  *  - **Updates re-deliver.** A rewritten partition (UPDATE/upsert) is
  *    a new data txn; its entry re-emits in full — declare downstream
  *    idempotence on a key, or keep update tables out of streaming
  *    reads (Delta's default even errors here; re-delivery is the
  *    documented permissive choice).
  *
  * Each batch frame plans through [[ManifestFileIndex]] +
  * HadoopFsRelation (marked streaming), so filters a streaming query
  * pushes below stateful operators still prune partitions at the
  * manifest, and the scan is the stock vectorized parquet path.
  */
final class LakeStreamSource(
    spark: SparkSession, root: String, table: String,
    override val schema: StructType, startingTxn: Long,
    maxTxnsPerBatch: Long = Long.MaxValue,
    changeFeed: Boolean = false,
    ignoreRestores: Boolean = false,
    maxRowsPerBatch: Option[Long] = None,
    maxBytesPerBatch: Option[Long] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{
    CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes,
    ReadMaxFiles, ReadMaxRows}

  /** Highest txn this source has delivered (admission-control floor).
    * After a checkpoint restart the true floor lives in the checkpoint,
    * not here; the engine's recovery replay (getBatch over the
    * committed range) re-floors it at the checkpoint's `from` before
    * any capped getOffset is acted on, so the cap resumes from the
    * checkpoint rather than re-proposing long-vacuumed txns. */
  @volatile private var delivered: Long = startingTxn

  /** End pinned by [[prepareForTriggerAvailableNow]]: under
    * `Trigger.AvailableNow` the stream drains the backlog UP TO the txn
    * committed at start — in `maxTxnsPerBatch`-bounded micro-batches —
    * then stops, ignoring data that lands mid-drain. Without this
    * interface Spark's v1 wrapper would pin the FIRST `getOffset` as
    * the final end, i.e. one rate-limited increment instead of the
    * backlog (and, uncapped, the whole backlog as ONE micro-batch —
    * unbounded at lake scale). The nightly-catch-up pattern needs both:
    * a fixed goalpost and bounded steps. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(TxnCatalog.currentTxn(spark, root).getOrElse(startingTxn))

  override def getDefaultReadLimit: ReadLimit =
    (maxRowsPerBatch, maxBytesPerBatch) match {
      case (Some(r), Some(b)) => ReadLimit.compositeLimit(
        Array(ReadLimit.maxRows(r), ReadLimit.maxBytes(b)))
      case (Some(r), None) => ReadLimit.maxRows(r)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ if maxTxnsPerBatch == Long.MaxValue => ReadLimit.allAvailable()
      case _ => ReadLimit.maxFiles(
        math.min(maxTxnsPerBatch, Int.MaxValue.toLong).toInt)
    }

  /** Uncapped latest committed txn — progress reporting only. */
  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    TxnCatalog.currentTxn(spark, root)
      .filter(_ > startingTxn).map(LongOffset(_)).orNull

  /** The admission-control offset path ([[Source.getOffset]] is never
    * called once this interface is present): propose at most the read
    * limit's txns past `start`, clamped to the AvailableNow goalpost
    * when one is pinned. Returning `start` unchanged means "no new
    * data" — under `Trigger.AvailableNow` that is the drain-complete
    * signal that stops the query. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map(_.json().toLong).getOrElse(startingTxn)
    val base = math.max(math.max(delivered, startingTxn), from)
    val current0 = TxnCatalog.currentTxn(spark, root).getOrElse(startingTxn)
    val current = availableNowCap.fold(current0)(math.min(_, current0))
    val end = endFor(base, current, limit)
    if (end > base && end > startingTxn) LongOffset(end) else start
  }

  /** One read limit → the proposed end txn. A composite limit is the
    * MIN of its members (every budget must hold — Delta's
    * maxFiles+maxBytes composition); rows and bytes walk the manifest
    * ([[budgetEnd]]); everything else is a txn-count step. */
  private def endFor(base: Long, current: Long, limit: ReadLimit): Long =
    limit match {
      case c: CompositeReadLimit =>
        c.getReadLimits.map(endFor(base, current, _)).min
      case m: ReadMaxRows =>
        math.min(current, budgetEnd(base, current, m.maxRows())(_.rows))
      case m: ReadMaxBytes =>
        math.min(current, budgetEnd(base, current, m.maxBytes())(_.bytes))
      case other =>
        val step = other match {
          case _: ReadAllAvailable => Long.MaxValue
          case m: ReadMaxFiles => m.maxFiles().toLong
          case _ => maxTxnsPerBatch // unknown: keep the own cap
        }
        // saturating add: the unlimited default must never wrap
        val cap =
          if (step > Long.MaxValue - base) Long.MaxValue else base + step
        math.min(current, cap)
    }

  /** Budgeted admission ([[ReadLimit.maxRows]]/[[ReadLimit.maxBytes]] —
    * Delta's maxBytesPerTrigger shape on the txn axis): walk txns past
    * `base`, summing each txn's DELIVERABLE size from its manifest
    * (data entries whose dataTxn IS that txn — appends and rewrites
    * alike, because a rewrite re-delivers; `of` picks rows or bytes),
    * and stop before the txn that would overflow the budget. Always
    * admits at least one txn (a single oversized commit must still
    * make progress — Delta's at-least-one-file rule); a txn with an
    * unrecorded size stops the walk AFTER itself (can't budget past an
    * unknown). Manifest reads are driver-side text, one per walked
    * txn, bounded by the budget walk and additionally by
    * maxTxnsPerBatch when both options are set. */
  private def budgetEnd(base: Long, current: Long, budget: Long)(
      of: TxnCatalog.Entry => Option[Long]): Long = {
    var end = base
    var spent = 0L
    val walkCap =
      if (maxTxnsPerBatch > current - base) current
      else base + maxTxnsPerBatch
    while (end < walkCap) {
      val t = end + 1
      val txnRows: Option[Long] = scala.util.Try {
        TxnCatalog.snapshotAt(spark, root, t).dataEntries(table)
          .collect { case (_, e) if TxnCatalog.entryDataTxn(e) == t =>
            of(e) }
      }.toOption.map(rs => if (rs.exists(_.isEmpty)) -1L
        else rs.flatten.sum).filter(_ >= 0L)
      txnRows match {
        case Some(r) =>
          if (end > base && spent + r > budget) return end
          spent += r
          end = t
          if (spent >= budget) return end
        case None =>
          // unknown size: admit it (progress) and stop the batch here
          return t
      }
    }
    end
  }

  override def getOffset: Option[Offset] =
    TxnCatalog.currentTxn(spark, root)
      .filter(_ > startingTxn)
      .map { c =>
        val base = math.max(delivered, startingTxn)
        // saturating add: the unlimited default must never wrap
        val cap =
          if (maxTxnsPerBatch > Long.MaxValue - base) Long.MaxValue
          else base + maxTxnsPerBatch
        LongOffset(math.min(c, cap))
      }
      .filter(_.offset > startingTxn)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(_.json().toLong).getOrElse(startingTxn)
    val to = end.json().toLong
    // floor at `from` too: on a checkpoint restart the recovery replay
    // hands the committed range here, and `from` IS the committed
    // offset — without it a capped getOffset would propose offsets
    // BELOW the checkpoint until `delivered` climbed batch by batch,
    // and snapshotAt on those stale txns throws once vacuum has
    // trimmed their manifests (a permanent stream failure, not a
    // catch-up)
    delivered = math.max(delivered, math.max(from, to))
    val snap = TxnCatalog.snapshotAt(spark, root, to)
    // A RESTORE reinstates entries with their ORIGINAL dataTxns — the
    // reversion is invisible to the incremental rules both branches
    // below rely on. Delivering past it would silently diverge from
    // the table, so fail fast (Delta's source behavior on a non-append
    // change) unless the stream explicitly opted out.
    if (!ignoreRestores)
      snap.properties(table).get(TxnCatalog.RestoreTxnProp)
        .map(_.split(':').head.toLong)
        .filter(r => r > from && r <= to)
        .foreach { r =>
          throw new IllegalStateException(
            s"table '$table' was RESTORED at txn $r, inside this " +
              s"batch's offset window ($from, $to]: a rollback is not " +
              "an append and this stream would silently miss it. " +
              "Restart the stream from a fresh checkpoint (full " +
              "re-read), or set option ignoreRestores=true to skip " +
              "reverted history knowingly.")
        }
    if (changeFeed)
      // the manifest-derived CDC feed over exactly this offset window —
      // same incremental contract as the data path (reorgs silent,
      // deletes as null-payload events), leaves re-marked streaming
      return TxnCatalog.changeFeed(spark, root, table, from, to)
        .map(GraftSqlBridge.asStreaming)
        .getOrElse(GraftSqlBridge.emptyStreaming(spark, schema))
    val fresh = snap.dataEntries(table)
      .filter { case (_, e) => TxnCatalog.entryDataTxn(e) > from }
    GraftLake.composedRead(spark, root, table, snap, fresh, schema,
      streaming = true)
      .map { df =>
        // the engine requires getBatch's columns to match the declared
        // source schema positionally; the hive/plain union is by-name,
        // so re-project when a synthesized-partition table's frame
        // surfaces columns in a different order
        if (df.columns.toSeq == schema.fieldNames.toSeq) df
        else df.select(schema.fieldNames.toIndexedSeq.map(
          org.apache.spark.sql.functions.col): _*)
      }
      .getOrElse(GraftSqlBridge.emptyStreaming(spark, schema))
  }

  override def stop(): Unit = ()
}

/** `format("graft-lake")` provider — streaming READS and batch WRITES
  * under one format name.
  *
  * Streaming read options: `root` (the catalog root; `path` is accepted
  * as an alias), `table`, and optional `startingTxn` (deliver only data
  * committed AFTER this txn — skip the initial load, Delta's
  * `startingVersion`) or `startingTimestamp` (ISO-8601 instant or epoch
  * millis; deliver txns committed at or after it — Delta's
  * `startingTimestamp`, resolved against manifest mtimes once at
  * source construction). The schema is the table's merged footer schema at
  * stream start and stays fixed for the stream's lifetime (columns added
  * later are dropped until restart; columns removed read as null).
  *
  * Batch write (`df.write.format("graft-lake").option("root", r)
  * .option("table", t).mode(m).save()`):
  *  - `Append` — one atomic `batch=<uuid>` partition commit
  *    ([[TxnCatalog.appendBatch]]); with option `keyColumn`, a BULK
  *    partitioned append instead ([[TxnCatalog.commitPartitioned]], one
  *    write job for every key, generation-prefixed when the table
  *    already exists so nothing is replaced);
  *  - `Overwrite` — one whole-table snapshot commit (replaces every
  *    entry; table properties survive); `keyColumn` + Overwrite is
  *    rejected — drop-and-bulk-load through the TxnCatalog API instead;
  *  - `ErrorIfExists` / `Ignore` — SQL semantics against the table's
  *    existence in the current manifest.
  * Optional `statsColumns`/`bloomColumns` (comma-separated) thread into
  * the commit so written data is prunable from day one. Batch READS go
  * through [[GraftLakeRelation]] (delegating to [[GraftLake.table]]'s
  * delete-composed plan, optional `versionAsOf` for time travel).
  */
final class LakeSourceProvider
    extends StreamSourceProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-lake"

  /** Streaming WRITE: `df.writeStream.format("graft-lake")
    * .option("root", r).option("table", t).option("checkpointLocation",
    * ck).start()` — the declarative form of [[graft.streaming.Streams]]'
    * lakeSink helper. Append mode lands each micro-batch as one atomic
    * `batch=b<id>` partition, exactly-once via the (appId → version)
    * ledger keyed on the checkpoint location (so replay evidence
    * survives any later compaction/clustering of the table); Complete
    * mode (aggregate streams) publishes each trigger as a whole-table
    * snapshot — naturally idempotent on replay. Update mode is refused
    * (no key contract at this surface). `statsColumns`/`bloomColumns`
    * thread into every commit; `compactEvery`/`clusterEvery`+
    * `clusterDims` turn on the same inline maintenance as
    * [[graft.streaming.Streams.lakeSink]] (option parity — the ledger
    * keeps exactly-once honest across those reorganizations). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val (root, table, _) = parse(parameters)
    require(partitionColumns.isEmpty,
      "partitionBy is not supported — bulk-partition via the batch " +
        "writer's keyColumn, or cluster with maintainClustered")
    require(outputMode != OutputMode.Update(),
      "graft-lake sink supports Append and Complete output modes")
    def cols(key: String): Seq[String] = parameters.get(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    // the checkpoint location IS the stream's replay identity; without
    // one there is nothing to replay from, so a per-sink nonce is safe
    val appId = parameters.get("checkpointLocation")
      .orElse(parameters.get("checkpointlocation"))
      .getOrElse(s"nonce-${java.util.UUID.randomUUID()}")
    def int(key: String): Int = parameters.get(key)
      .orElse(parameters.get(key.toLowerCase(java.util.Locale.ROOT)))
      .map(_.toInt).getOrElse(0)
    new LakeSink(root, table,
      cols("statsColumns") ++ cols("statscolumns"),
      cols("bloomColumns") ++ cols("bloomcolumns"),
      appId, complete = outputMode == OutputMode.Complete(),
      compactEvery = int("compactEvery"),
      clusterEvery = int("clusterEvery"),
      clusterDims = cols("clusterDims") ++ cols("clusterdims"),
      mergeSchema = parameters.get("mergeSchema")
        .orElse(parameters.get("mergeschema")).exists(_.toBoolean))
  }

  /** Batch READ: `spark.read.format("graft-lake").option("root", r)
    * .option("table", t).load()` — closes the r7 asymmetry where the
    * format wrote and stream-read but batch reads needed the
    * [[GraftLake]] API. The relation delegates its pruned/filtered scan
    * to the lake DataFrame (one snapshot pinned at load), so
    * merge-on-read deletes apply and pushed filters reach the manifest
    * index inside; filters this v1 surface can't translate are simply
    * re-applied by Spark above (conservative, never wrong). Optional
    * `versionAsOf` time-travels like SQL `VERSION AS OF`. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val (root, table, _) = parse(parameters)
    val spark = sqlContext.sparkSession
    val df = parameters.get("versionAsOf").orElse(parameters.get("versionasof"))
      .map(_.toLong) match {
      case Some(v) => GraftLake.tableAsOf(spark, root, table, v).getOrElse(
        throw new IllegalArgumentException(
          s"table '$table' does not exist at txn $v under $root"))
      case None => GraftLake.table(spark, root, table).getOrElse(
        throw new IllegalArgumentException(
          s"table '$table' does not exist under $root"))
    }
    new GraftLakeRelation(sqlContext, df)
  }

  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val (root, table, _) = parse(parameters)
    val spark = sqlContext.sparkSession
    def cols(key: String): Seq[String] = parameters.get(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val stats = cols("statsColumns") ++ cols("statscolumns")
    val blooms = cols("bloomColumns") ++ cols("bloomcolumns")
    val keyCol = parameters.get("keyColumn").orElse(parameters.get("keycolumn"))
    val exists = TxnCatalog.snapshot(spark, root).exists(_.tables.contains(table))
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalArgumentException(
          s"table '$table' already exists under $root (mode ErrorIfExists)")
      case SaveMode.Ignore if exists => () // no-op
      case SaveMode.Overwrite =>
        require(keyCol.isEmpty, "Overwrite with keyColumn is not supported " +
          "through the format — drop and bulk-load via TxnCatalog instead")
        TxnCatalog.commit(spark, root, Seq((table, data)))
        ()
      case _ => // Append, or first write under ErrorIfExists/Ignore
        // writer-side schema enforcement (Delta's write contract): a
        // mismatched append fails here, not as silent read-side drift;
        // option mergeSchema=true opts into widening instead
        val mergeSchema = parameters.get("mergeSchema")
          .orElse(parameters.get("mergeschema")).exists(_.toBoolean)
        val conformed =
          if (exists) SchemaConform.conform(spark, root, table, data,
            mergeSchema)
          else data
        keyCol match {
          case Some(k) =>
            val prefix =
              if (exists)
                s"g${TxnCatalog.currentTxn(spark, root).getOrElse(0L) + 1}-"
              else ""
            TxnCatalog.commitPartitioned(spark, root, table, conformed, k,
              statsColumns = stats, partPrefix = prefix)
            ()
          case None =>
            TxnCatalog.appendBatch(spark, root, table,
              java.util.UUID.randomUUID().toString.take(8), conformed,
              statsColumns = stats, bloomColumns = blooms)
        }
    }
    val ctx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  private def parse(params: Map[String, String]): (String, String, Long) = {
    val root = params.get("root").orElse(params.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-lake source needs option 'root' (or 'path')"))
    val table = params.getOrElse("table",
      throw new IllegalArgumentException(
        "graft-lake source needs option 'table'"))
    val byTxn = params.get("startingtxn")
      .orElse(params.get("startingTxn")).map(_.toLong)
    // Delta's startingTimestamp: deliver every txn committed AT OR
    // AFTER the instant — the exclusive floor is the last txn whose
    // manifest mtime (the commit clock) PRECEDES it. ISO-8601 instant
    // or epoch millis; resolved once at source construction, so a
    // checkpointed stream replays identically whatever the clock does.
    val byTs = params.get("startingtimestamp")
      .orElse(params.get("startingTimestamp")).map { raw =>
        val cutoffMs = raw.toLongOption.getOrElse(
          java.time.Instant.parse(raw).toEpochMilli)
        TxnCatalog.txnMtimes(SparkSession.active, root)
          .filter(_._2 < cutoffMs).map(_._1).sorted.lastOption
          .getOrElse(0L)
      }
    require(byTxn.isEmpty || byTs.isEmpty,
      "options startingTxn and startingTimestamp are mutually exclusive")
    (root, table, byTxn.orElse(byTs).getOrElse(0L))
  }

  /** Admission control: at most this many txns per micro-batch (option
    * `maxTxnsPerBatch` — Delta's maxFilesPerTrigger at this catalog's
    * granularity). Default unlimited. */
  private def maxTxns(params: Map[String, String]): Long =
    params.get("maxtxnsperbatch").orElse(params.get("maxTxnsPerBatch"))
      .map(_.toLong).map { n =>
        require(n >= 1, "maxTxnsPerBatch must be >= 1"); n
      }.getOrElse(Long.MaxValue)

  /** Streaming CDC reads: option `readChangeFeed=true` turns the source
    * into an incremental change feed (Delta's `readChangeData`) — each
    * micro-batch is [[TxnCatalog.changeFeed]] over the delivered txn
    * window, so consumers see inserts at their data txn, deletes as
    * null-payload key events, and nothing for reorganizations. The
    * schema gains `_change_type` (string) and `_txn` (long). */
  private def isChangeFeed(params: Map[String, String]): Boolean =
    params.get("readchangefeed").orElse(params.get("readChangeFeed"))
      .exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (root, table, _) = parse(parameters)
    val resolved = schema.getOrElse {
      TxnCatalog.snapshot(sqlContext.sparkSession, root)
        .flatMap(_.read(table)).map(_.schema).getOrElse(
          throw new IllegalArgumentException(
            s"table '$table' does not exist (yet) under $root — " +
              "commit it first or pass an explicit schema"))
    }
    val out =
      if (isChangeFeed(parameters))
        StructType(resolved.fields.toSeq ++ Seq(
          org.apache.spark.sql.types.StructField(
            TxnCatalog.ChangeTypeColumn,
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField(
            TxnCatalog.ChangeTxnColumn,
            org.apache.spark.sql.types.LongType, nullable = false)))
      else resolved
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (root, table, starting) = parse(parameters)
    val (_, resolved) = sourceSchema(sqlContext, schema, providerName,
      parameters)
    new LakeStreamSource(sqlContext.sparkSession, root, table, resolved,
      starting, maxTxns(parameters), isChangeFeed(parameters),
      ignoreRestores = parameters.get("ignorerestores")
        .orElse(parameters.get("ignoreRestores")).exists(_.toBoolean),
      maxRowsPerBatch = parameters.get("maxrowsperbatch")
        .orElse(parameters.get("maxRowsPerBatch")).map(_.toLong)
        .map { n =>
          require(n >= 1, "maxRowsPerBatch must be >= 1"); n
        },
      maxBytesPerBatch = parameters.get("maxbytesperbatch")
        .orElse(parameters.get("maxBytesPerBatch")).map(_.toLong)
        .map { n =>
          require(n >= 1, "maxBytesPerBatch must be >= 1"); n
        })
  }
}

/** v1 streaming sink over the txn lake (see
  * [[LakeSourceProvider.createSink]]). The micro-batch frame is
  * re-wrapped over its physical rows (ofInternalRows) so the plan runs
  * exactly once, inside the sink's single staged write. */
private[storage] final class LakeSink(root: String, table: String,
    statsColumns: Seq[String], bloomColumns: Seq[String],
    appId: String, complete: Boolean,
    compactEvery: Int = 0, clusterEvery: Int = 0,
    clusterDims: Seq[String] = Nil, mergeSchema: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val raw = GraftSqlBridge.ofInternalRows(data)
    // same write contract as the batch path: enforce the table schema
    // (or widen under mergeSchema=true) before anything is staged
    val fresh = SchemaConform.conform(spark, root, table, raw, mergeSchema)
    if (complete) {
      // whole-table snapshot per trigger: replays overwrite with the
      // same content, so no ledger is needed
      TxnCatalog.commit(spark, root, Seq((table, fresh)))
      return
    }
    // HIDDEN-PARTITIONED tables ([[PartitionSpec]]): split the
    // micro-batch by the declared transforms so per-day/bucket stats
    // stay tight from the stream — all groups + the ledger fact land in
    // ONE txn, replay-refused as a unit. A pathological trigger with
    // more than 64 groups falls back to one batch partition (correct,
    // just coarser stats until compaction re-clusters).
    val spec = TxnCatalog.snapshot(spark, root)
      .flatMap(_.properties(table).get(PartitionSpec.Prop))
      .map(PartitionSpec.parse).getOrElse(Nil)
    if (spec.nonEmpty) {
      val pinned = fresh.localCheckpoint() // one materialization for
      try {                                // the probe and the filters
        val g = PartitionSpec.groupExpr(spec, pinned.schema)
        val label = PartitionSpec.label(spec)
        val escape = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName _
        val groups = pinned.select(g.cast("string").as("__g")).distinct()
          .limit(65).collect().map(r => Option(r.getString(0)))
        if (groups.nonEmpty && groups.length <= 64) {
          val parts = groups.toSeq.map { v =>
            val part = s"batch=b$batchId.$label=" + v.map(escape)
              .getOrElse("__HIVE_DEFAULT_PARTITION__")
            val rows = v match {
              case Some(x) => pinned.filter(g.cast("string") === x)
              case None => pinned.filter(g.isNull)
            }
            (part, rows)
          }
          TxnCatalog.appendBatchMulti(spark, root, table, parts,
            appId, batchId, statsColumns, bloomColumns)
        } else if (groups.nonEmpty)
          TxnCatalog.appendBatch(spark, root, table, s"b$batchId", pinned,
            statsColumns, bloomColumns, ledger = Some((appId, batchId)))
      } finally { pinned.unpersist(); () }
    } else
      TxnCatalog.appendBatch(spark, root, table, s"b$batchId", fresh,
        statsColumns, bloomColumns, ledger = Some((appId, batchId)))
    // inline maintenance, exactly [[graft.streaming.Streams.lakeSink]]'s
    // (option parity for the declarative form): the txn LEDGER above is
    // what keeps replay evidence durable across these reorganizations
    if (compactEvery > 1) {
      val batches = TxnCatalog.partitions(spark, root, table)
        .filter(_.startsWith("batch="))
      if (batches.size >= compactEvery) {
        val into = "c" + (TxnCatalog.currentTxn(spark, root).getOrElse(0L) + 1)
        try {
          if (spec.isEmpty)
            TxnCatalog.compactPartitions(spark, root, table, batches, into,
              statsColumns = statsColumns, bloomColumns = bloomColumns)
          else {
            // per-logical-group fold: day/bucket stat tightness survives
            val schema = TxnCatalog.snapshot(spark, root).get
              .readPartitions(table, batches).get.schema
            TxnCatalog.compactPartitionsBy(spark, root, table, batches,
              PartitionSpec.groupExpr(spec, schema),
              PartitionSpec.label(spec), statsColumns = statsColumns,
              bloomColumns = bloomColumns)
          }
          ()
        }
        catch { case _: CommitConflict => () } // rival won; next trigger
      }
    }
    if (clusterEvery > 0 && clusterDims.nonEmpty) {
      TxnCatalog.maintainClustered(spark, root, table, clusterDims,
        minBatches = clusterEvery, extraStatsColumns = statsColumns,
        bloomColumns = bloomColumns)
      ()
    }
  }
  override def toString: String = s"GraftLakeSink[$root/$table]"
}

/** v1 relation over a pinned lake frame: column pruning and the
  * translatable filters push into the inner DataFrame plan (whose scan
  * prunes at the manifest); whatever doesn't translate is re-applied by
  * Spark above the scan — the conservative v1 contract. */
private[storage] final class GraftLakeRelation(ctx: SQLContext,
    df: org.apache.spark.sql.DataFrame)
    extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.{sources => f}
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.Column

  override def sqlContext: SQLContext = ctx
  override val schema: StructType = df.schema

  private def translate(filter: f.Filter): Option[Column] = filter match {
    case f.EqualTo(a, v) => Some(col(a) === lit(v))
    case f.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case f.GreaterThan(a, v) => Some(col(a) > lit(v))
    case f.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case f.LessThan(a, v) => Some(col(a) < lit(v))
    case f.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case f.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case f.IsNull(a) => Some(col(a).isNull)
    case f.IsNotNull(a) => Some(col(a).isNotNull)
    case f.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case f.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case f.StringContains(a, v) => Some(col(a).contains(v))
    case f.And(l, r) =>
      // partial conjunctions are sound: each conjunct narrows
      (translate(l), translate(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other) => one.orElse(other)
      }
    case f.Or(l, r) => for (a <- translate(l); b <- translate(r)) yield a || b
    case f.Not(c) => translate(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[f.Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.toSeq.flatMap(translate(_))
      .reduceOption(_ && _).map(df.filter).getOrElse(df)
    filtered.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }
}
