package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Output row of [[Streams.assignPerKeySequence]] (top-level — encoder
  * codegen cannot reference object-nested classes). */
case class KeyedSeq(key: Long, ts: java.sql.Timestamp, seq: Long)

/** Structured Streaming surface (SURVEY.md §2.2 streaming rows, §7 Phase 6).
  *
  * The reference has no streaming — it re-runs a script per batch and logs
  * each run to PROC_EJECUCION (mysql_process.py:28-43); these operators are
  * the incremental re-expression: continuous file ingest, event-time
  * windows, watermarked late-data handling, and stateful dedupe (the
  * streaming upgrade of the J5 catalog-idempotence anti-join).
  *
  * Every transform here is expressed on plain DataFrames so the SAME
  * function serves batch and streaming inputs — Spark's unified model; tests
  * drive them with MemoryStream micro-batches, production wires
  * `spark.readStream` file sources over the landing prefix.
  *
  * Scale: all aggregations are keyed (window, type) → state is bounded by
  * watermark horizon × key cardinality; no global windows, no unbounded
  * state. Sums accumulate in DECIMAL (exact, order-independent — micro-batch
  * arrival order cannot change results).
  */
object Streams {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 6))

  /** Run `start` (a `writeStream...start()` call) with the stream's
    * shuffle partitions — and therefore its STATE-STORE instance count —
    * pinned to `n`, independent of the session's batch default.
    *
    * Stateful streams must size shuffle partitions to state volume, not
    * to the batch-scan default: each state-store instance (one per
    * shuffle partition PER stateful-operator store — a stream-stream
    * join keeps four) pays a fixed per-trigger commit cost (version-map
    * maintenance + delta write + fsync). Measured on this engine at
    * local[32]: a 4-store join at the session's 32-partition default ran
    * 128 instances at ~350 ms cumulative commit each (~45 s of commit
    * work per trigger for kilobytes of state); at n=4 the same trigger's
    * total commit cost is ~0.6 s — a 2.5× end-to-end speedup
    * (NOTES.md round 10). The instance count is also FROZEN into the
    * checkpoint at first start, so it must be chosen deliberately, and
    * up-front: on a 1000-executor cluster against 100 TB you raise it to
    * spread state, on a per-table incremental hop you size it to the
    * trigger's key cardinality.
    *
    * The session conf is restored before this returns: StreamExecution
    * clones the session synchronously inside `start()`, so the running
    * stream keeps `n` for its lifetime while concurrent batch work sees
    * the original value (pinned by StreamsSpec). */
  def withStatePartitions[A](spark: org.apache.spark.sql.SparkSession,
      n: Int)(start: => A): A = {
    require(n >= 1, "state partition count must be >= 1")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try start finally spark.conf.set(key, prev)
  }

  /** Tumbling event-time windows with per-type aggregates.
    * @param watermark e.g. "1 hour" — late rows beyond it are dropped. */
  def tumblingAgg(events: DataFrame, tsCol: String, width: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows (width, slide) — each event lands in width/slide windows. */
  def slidingAgg(events: DataFrame, tsCol: String, width: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Session windows: per-user activity sessions closed after `gap` idle. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stateful streaming dedupe: first arrival per key wins; duplicate
    * arrivals within the watermark horizon are dropped, and state for keys
    * older than the watermark is evicted (bounded memory — the streaming
    * form of catalog-ingest idempotence, J5). */
  def dedupeWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
      keyCols: String*): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming atomic twin-table sink: each micro-batch is split into
    * (catalog rows, lineage rows) and committed through
    * [[graft.storage.TwinCommit]] (the 2-table special case of
    * [[graft.storage.TxnCatalog]] partition commits) — both tables appear
    * atomically per batch, and foreachBatch's at-least-once redelivery
    * becomes exactly-once because TwinCommit replays committed batch ids
    * as no-ops and torn remnants are invisible by construction. The
    * streaming form of the reference's single-transaction catalog+lineage
    * insert (mysql_process.py:53-56).
    *
    * `compactEvery` > 0 turns on inline small-file maintenance: after
    * each append, once the committed batch count reaches the threshold,
    * [[graft.storage.TwinCommit.maintain]] folds all batches into one
    * partition per table (one atomic commit, both tables together) — a
    * day of 10 s micro-batches stays a handful of data files instead of
    * 8 640 per table, with no pause in the stream and no extra process.
    *
    * `clusterEvery` > 0 (with `clusterDims`) additionally turns on
    * inline LAYOUT maintenance for the CATALOG table: once that many
    * unclustered batches have accumulated,
    * [[graft.storage.TxnCatalog.maintainClustered]] rewrites exactly
    * those batches into a fresh generation of Z-tiles, so
    * `readWhere`/`readWhereAll` range probes on `clusterDims` prune a
    * streamed lake the way they prune a batch-built one — without it the
    * lake decays to append-order batches whose stats are tight on
    * arrival time only. Runs AFTER compaction in the same trigger, so a
    * compaction fold (`batch=c*`) is itself picked up as a pending batch
    * by the next clustering pass; both maintenance steps are conditional
    * commits that simply skip a trigger if they lose a race. The lineage
    * table keeps batch-grain partitions (its consumers join by batch, so
    * arrival order IS its natural layout) but must not rot as clustering
    * drains the catalog's batch list out from under
    * [[graft.storage.TwinCommit.maintain]]: each clustering pass
    * therefore folds the lineage partitions the catalog no longer
    * mirrors (previous folds included) into one `lfold<txn>` partition —
    * lineage file counts stay O(1) per generation, not one per
    * micro-batch, with or without `compactEvery`.
    *
    * Returns the started query; caller owns its lifecycle.
    */
  def twinCommitSink(stream: DataFrame,
      split: DataFrame => (DataFrame, DataFrame),
      root: String, catalogTable: String, lineageTable: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      clusterEvery: Int = 0,
      clusterDims: Seq[String] = Nil,
      clusterBuckets: Int = 16,
      clusterBits: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (cat, lin) = split(batch)
        // ledgered like lakeSink: maintain/maintainClustered below rename
        // batch partitions, so replay evidence must outlive the names
        graft.storage.TwinCommit.append(batch.sparkSession, root, s"b$id",
          cat, catalogTable, lin, lineageTable, statsColumns, bloomColumns,
          ledger = Some((checkpointDir, id)))
        if (compactEvery > 0) {
          graft.storage.TwinCommit.maintain(batch.sparkSession, root,
            catalogTable, lineageTable, maxBatches = compactEvery,
            statsColumns = statsColumns, bloomColumns = bloomColumns)
          ()
        }
        if (clusterEvery > 0 && clusterDims.nonEmpty) {
          val s = batch.sparkSession
          graft.storage.TxnCatalog.maintainClustered(s, root, catalogTable,
            clusterDims, minBatches = clusterEvery,
            buckets = clusterBuckets, bits = clusterBits,
            extraStatsColumns = statsColumns,
            bloomColumns = bloomColumns).foreach { txn =>
            // fold the lineage batches the clustering just consumed on
            // the catalog side (plus any previous fold) — conditional
            // like everything else; a lost race retries next generation
            val catParts = graft.storage.TxnCatalog
              .partitions(s, root, catalogTable).toSet
            val orphan = graft.storage.TxnCatalog
              .partitions(s, root, lineageTable)
              .filterNot(catParts.contains)
            if (orphan.size >= 2) {
              try graft.storage.TxnCatalog.compactPartitions(s, root,
                lineageTable, orphan, s"lfold$txn",
                statsColumns = statsColumns, bloomColumns = bloomColumns)
              catch { case _: graft.storage.CommitConflict => () }
              ()
            }
          }
        }
      }
      .start()

  /** Generic exactly-once SINGLE-TABLE lake sink: each micro-batch lands
    * as one atomic `batch=<id>` partition of `table` through
    * [[graft.storage.TxnCatalog.appendBatch]] (idempotent on replay, so
    * foreachBatch's at-least-once redelivery is exactly-once), with the
    * same inline maintenance options as [[twinCommitSink]] —
    * threshold-gated compaction and generational Z-clustering.
    *
    * This is the medallion building block: read a lake with
    * `spark.readStream.format("graft-lake")` (bronze), transform, land
    * in another lake with this sink (silver), repeat. Every hop is
    * INCREMENTAL (txn offsets deliver only new data — a 1-of-10 000
    * partition commit upstream costs one partition of reprocessing
    * downstream), exactly-once end to end (txn-offset checkpoints
    * upstream, idempotent batch ids downstream), and OPTIMIZE-tolerant
    * on both sides (reorganizations carry their sources' data txn). */
  def lakeSink(stream: DataFrame, root: String, table: String,
      checkpointDir: String,
      compactEvery: Int = 0,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      clusterEvery: Int = 0,
      clusterDims: Seq[String] = Nil,
      clusterBuckets: Int = 16,
      clusterBits: Int = 8,
      refreshViews: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        // the ledger (appId = this stream's checkpoint identity) keeps
        // replay evidence durable across the inline maintenance below —
        // partition-existence alone breaks once compaction/clustering
        // folds batch=* partitions into c*/z* names, and a post-crash
        // redelivery would then re-append already-folded rows
        graft.storage.TxnCatalog.appendBatch(s, root, table, s"b$id", batch,
          statsColumns, bloomColumns, ledger = Some((checkpointDir, id)))
        if (compactEvery > 1) {
          val batches = graft.storage.TxnCatalog.partitions(s, root, table)
            .filter(_.startsWith("batch="))
          if (batches.size >= compactEvery) {
            val into = "c" +
              (graft.storage.TxnCatalog.currentTxn(s, root).getOrElse(0L) + 1)
            // conditional like every maintenance step: a rival commit
            // between pin and publish skips this trigger's fold
            try {
              graft.storage.TxnCatalog.compactPartitions(s, root, table,
                batches, into, statsColumns = statsColumns,
                bloomColumns = bloomColumns)
              ()
            } catch { case _: graft.storage.CommitConflict => () }
          }
        }
        if (clusterEvery > 0 && clusterDims.nonEmpty) {
          graft.storage.TxnCatalog.maintainClustered(s, root, table,
            clusterDims, minBatches = clusterEvery,
            buckets = clusterBuckets, bits = clusterBits,
            extraStatsColumns = statsColumns,
            bloomColumns = bloomColumns)
          ()
        }
        // keep this table's materialized views current as part of the
        // trigger: each refresh folds just the batch that landed
        // (incremental by classification) and is idempotent on replay —
        // a redelivered batch was already appended, so the view's
        // watermark already covers it and refresh settles to noop.
        // Maintenance above may force a full recompute on the trigger
        // that reorganized; every other trigger stays delta-priced.
        if (refreshViews) {
          graft.storage.TxnCatalog.snapshot(s, root).foreach { snap =>
            snap.tables.filter { v =>
              val p = snap.properties(v)
              p.get(graft.storage.MaterializedAgg.SourceProp)
                .contains(table) ||
                p.get(graft.storage.MaterializedAgg.DimProp)
                  .exists(_.split(',').contains(table))
            }.foreach { v =>
              try {
                graft.storage.MaterializedAgg.refresh(s, root, v)
                ()
              } catch { case _: graft.storage.CommitConflict => () }
            }
          }
        }
      }
      .start()

  /** APPLY CHANGES INTO (Delta Live Tables' flagship CDC pattern): a
    * row-level change stream — the graft-lake source with
    * `readChangeFeed=true`, or any frame carrying
    * `_change_type`/`_txn` — maintains `table` as the LATEST-row-per-
    * key projection of the feed. Each micro-batch reduces to its final
    * state per key (highest `_txn` wins; at the same txn an insert
    * beats a delete — the engine's delete-before-data rule rendered on
    * the feed), then lands as ONE conditional txn: an equality-delete
    * masking every touched key + the final-state upsert batch + the
    * replay ledger ([[graft.storage.TxnCatalog.mergeBatchLedgered]]).
    * Exactly-once under crash-redelivery AND under downstream
    * OPTIMIZE/clustering, like [[lakeSink]]. O(changes) per trigger —
    * never a target rewrite — so a trickle of CDC against a
    * 10 000-partition silver table costs one key list + one batch.
    * NULL-keyed change rows are dropped (an equality key list cannot
    * address them — the engine-wide rule). `keyCol` must actually be a
    * key UPSTREAM: two different inserts of the same key in the same
    * source txn have no defined "latest" (the source table itself
    * holds both rows), and the projection keeps an arbitrary one —
    * the same contract as Delta Live Tables' APPLY CHANGES. */
  def cdcApplySink(changes: DataFrame, root: String, table: String,
      keyCol: String, checkpointDir: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val ct = graft.storage.TxnCatalog.ChangeTypeColumn
        val tx = graft.storage.TxnCatalog.ChangeTxnColumn
        val keyed = batch.filter(col(keyCol).isNotNull)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))
          .orderBy(col(tx).desc,
            when(col(ct) === "insert", 1).otherwise(0).desc)
        val ups = keyed
          .withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1 && col(ct) === "insert")
          .drop(ct, tx, "__graft_rn")
        // no pre-distinct: mergeBatchLedgered's delete entry distincts
        // the key list itself — a second shuffle here bought nothing
        val keys = keyed.select(keyCol)
        graft.storage.TxnCatalog.mergeBatchLedgered(s, root, table,
          keyCol, Some(keys), Some(ups), checkpointDir, id,
          statsColumns, bloomColumns)
        ()
      }
      .start()

  /** SCD TYPE 2 `APPLY CHANGES` (Delta Live Tables'
    * `STORED AS SCD TYPE 2`): the same row-level change stream as
    * [[cdcApplySink]], but `table` is maintained as the full VERSION
    * HISTORY per key — every change produces a history row carrying
    * `__valid_from` / `__valid_to` (the source txns bracketing the
    * version's validity; open versions have `__valid_to` NULL) and
    * `__current`. A delete event closes the key's open version without
    * opening a new one; a later re-insert starts a fresh version.
    *
    * Per micro-batch (ONE conditional txn, ledgered exactly-once like
    * [[cdcApplySink]]):
    *  - the batch's events sort per key by (`_txn`, delete-before-
    *    insert at the same txn — the feed's rendering of the engine's
    *    delete-before-data rule, so a same-txn replacement closes the
    *    old version and opens the new one at that txn); each insert
    *    becomes a version row valid until the key's NEXT event
    *    (`lead`), the last one open;
    *  - the target's OPEN versions for touched keys close at the key's
    *    first batch event — read via an O(changes) join (the touched-
    *    key frame is batch-sized and broadcastable; with Blooms on
    *    `__scd_key` the scan itself prunes to owning partitions);
    *  - history rows are IMMUTABLE once closed, so the equality delete
    *    masks by `__scd_key` = `<key>@<valid_from>` — a version's
    *    stable identity — never by the business key, and closed
    *    history survives every future change untouched.
    *
    * History grows append-only: O(changes) rows per trigger, no target
    * rewrite — a trickle of CDC against a 10 000-partition dimension
    * costs one version-key list + one batch, and the result is
    * point-in-time queryable (`WHERE __valid_from <= t AND
    * (__valid_to IS NULL OR __valid_to > t)`) at any txn. NULL-keyed
    * rows are dropped (equality keys cannot address them); batch
    * SPLIT-invariance — the same feed in 1 or N micro-batches yields
    * the identical table — is pinned by Scd2ApplySpec. */
  def scd2ApplySink(changes: DataFrame, root: String, table: String,
      keyCol: String, checkpointDir: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val ct = graft.storage.TxnCatalog.ChangeTypeColumn
        val tx = graft.storage.TxnCatalog.ChangeTxnColumn
        val keyed = batch.filter(col(keyCol).isNotNull)
          // the window below is evaluated twice (versions + touched
          // keys); pin the batch so a nondeterministic source cannot
          // desynchronize them — same discipline as GraftMerge
          .localCheckpoint(true)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))
          .orderBy(col(tx).asc,
            when(col(ct) === "insert", 1).otherwise(0).asc)
        // every insert event opens a version valid until the key's
        // next event in this batch (delete events only close)
        val versions = keyed
          .withColumn("__graft_next", lead(col(tx), 1).over(w))
          .filter(col(ct) === "insert")
          .withColumn("__valid_from", col(tx).cast("long"))
          .withColumn("__valid_to", col("__graft_next").cast("long"))
          .withColumn("__current", col("__graft_next").isNull)
          .drop(ct, tx, "__graft_next")
        // per touched key: the txn its first batch event lands at —
        // the instant any previously-open version stops being current
        val firstTxn = keyed.groupBy(col(keyCol))
          .agg(min(col(tx)).cast("long").as("__graft_close_at"))
        val existing = graft.storage.TxnCatalog.read(s, root, table)
        val closed = existing match {
          case None => None // bootstrap: nothing to close
          case Some(t) =>
            val open = t.filter(col("__current"))
              // recomputed below over the union (same value: closing
              // never moves __valid_from)
              .drop("__scd_key")
              .join(firstTxn, Seq(keyCol))
              .withColumn("__valid_to", col("__graft_close_at"))
              .withColumn("__current", lit(false))
              .drop("__graft_close_at")
              // batch-sized (touched keys only), and consumed TWICE —
              // by the append batch and by the delete-key list: pin it
              // so the target is scanned once per trigger, not twice
              .localCheckpoint(true)
            Some(open)
        }
        val scdKey = concat(col(keyCol).cast("string"), lit("@"),
          col("__valid_from").cast("string"))
        val append = closed
          .map(c => c.unionByName(versions))
          .getOrElse(versions)
          .withColumn("__scd_key", scdKey)
        val delKeys = closed.map(_.select(scdKey.as("__scd_key")))
        graft.storage.TxnCatalog.mergeBatchLedgered(s, root, table,
          "__scd_key", delKeys, Some(append), checkpointDir, id,
          statsColumns, bloomColumns)
        ()
      }
      .start()

  /** E1 as a continuous ingest: a stream of image rows is classified
    * against the STATIC parcel table (centroid → containment-first
    * classification with 1-NN fallback, [[graft.pipelines.Pipelines.ingestClassify]])
    * and committed atomically to catalog + lineage through
    * [[twinCommitSink]] — the streaming re-expression of the reference's
    * re-run-the-script-per-batch loop (script_geo.py:166-205 +
    * mysql_process.py:53-56) with exactly-once landing.
    *
    * ingestClassify is a per-batch transform (it runs inside foreachBatch
    * on a plain DataFrame), so the stream output is IDENTICAL row-for-row
    * to the batch pipeline over the concatenated input — the parity the
    * spec pins. Parcels are a dimension table, collected into a
    * [[graft.geo.ParcelIndex]] once per micro-batch; per-batch work scales
    * with the batch, not the corpus.
    */
  def classifyCommitSink(images: DataFrame, predios: DataFrame,
      cellSize: Double, runId: Long, root: String, catalogTable: String,
      lineageTable: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    twinCommitSink(images, batch => {
      val classified =
        graft.pipelines.Pipelines.ingestClassify(batch, predios, cellSize)
      (classified,
        classified.filter(col("RUTA_RESULTADO").isNotNull)
          .select(lit(runId).as("ID_EJECUCION"),
            col("RUTA_RESULTADO").as("RUTA_IMAGEN_FUENTE")))
    }, root, catalogTable, lineageTable, checkpointDir)

  /** Custom streaming state via `flatMapGroupsWithState`: contiguous
    * per-key sequence numbers that SURVIVE across micro-batches — the
    * streaming form of S11 deterministic key assignment (each key's counter
    * lives in the state store; a batch's events are numbered in event-time
    * order continuing from the stored counter).
    *
    * State is one Long per live key, evicted `idleEvictMs` after a key's
    * latest event falls behind the watermark (EventTimeTimeout) — bounded
    * by (active keys in horizon) × 8 bytes, the same bounded-state contract
    * as the windowed aggregates above.
    */
  def assignPerKeySequence(events: DataFrame, keyCol: String, tsCol: String,
      watermark: String, idleEvictMs: Long = 3600 * 1000L): Dataset[KeyedSeq] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, KeyedSeq](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var n = state.getOption.getOrElse(0L)
            val batch = rows.toSeq.sortBy(_._2.getTime)
            val out = batch.map { case (_, t) => n += 1; KeyedSeq(key, t, n) }
            state.update(n)
            state.setTimeoutTimestamp(batch.last._2.getTime + idleEvictMs)
            out.iterator
          }
      }
  }

  /** One `foreachBatch` step of incremental paragraph dedup (the streaming
    * form of [[graft.ops.Dedup.paragraphDedup]]): a paragraph survives iff
    * it is the first occurrence WITHIN the batch (same (id, para_idx)
    * order as the batch operator) and was never seen in any earlier batch.
    *
    * Exactly-once, like [[lakeSink]]: the cleaned docs (partition
    * `batch=b<batchId>` of `outTable`), the paragraphs this batch adds to
    * the seen-set (the same partition of `stateTable`) and the ledger
    * fact "`stateTable` applied `batchId`" land under `root` in ONE
    * manifest CAS ([[graft.storage.TxnCatalog.appendLedgered]]). A
    * redelivered batch finds its id in the ledger and commits nothing; a
    * crash before the CAS leaves neither output nor state, and the replay
    * lands both. The seen-set is read from the snapshot the commit is
    * conditional on, so a lost commit re-plans against the moved state.
    *
    * When doc ids arrive in increasing order across batches, the output is
    * IDENTICAL to running the batch operator over the concatenated stream
    * — the equivalence the spec pins. State is one row per distinct
    * paragraph (corpus-vocabulary-sized, not stream-sized) and each batch
    * writes only its new paragraphs, so the write cost is O(batch). The
    * state grows one partition per batch; a caller folds them with
    * [[graft.storage.TxnCatalog.compactPartitions]], and the ledger
    * survives the fold. */
  def paragraphDedupBatchStep(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      root: String, outTable: String, stateTable: String,
      paraWords: Int = 8): Unit = {
    val spark = batch.sparkSession
    val exploded = graft.ops.Dedup
      .paragraphs(batch, idCol, textCol, paraWords)
      .localCheckpoint(false) // two consumers: output + state delta
    val firstInBatch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para")).orderBy(col(idCol), col("para_idx"))
    val part = s"batch=b$batchId"
    graft.storage.TxnCatalog.retryOnConflict { _ =>
      val snap = graft.storage.TxnCatalog.snapshot(spark, root)
      // None only before the first commit — a transient read error
      // PROPAGATES instead of silently emptying the seen-set (which would
      // re-admit every previously-seen paragraph)
      val seen = snap.flatMap(_.read(stateTable))
        .getOrElse(exploded.select("para").limit(0))
      val marked = exploded
        .withColumn("__rn", row_number().over(firstInBatch))
        .join(seen.select(col("para"), lit(1).as("__seen")), Seq("para"), "left")
        .withColumn("__keep", col("__rn") === 1 && col("__seen").isNull)
      graft.storage.TxnCatalog.appendLedgered(spark, root, snap, Seq(
          (outTable, part, graft.ops.Dedup.reassembleParagraphs(marked, idCol)),
          (stateTable, part, exploded.select("para").except(seen))),
        stateTable, stateTable, batchId, Nil, Nil)(() => ())
    }
  }

  /** One `foreachBatch` step of incremental MinHash-LSH NEAR-dup dedup
    * (the streaming form of the [[graft.ops.Dedup.minHashLshPairs]] +
    * drop-matched-ids rule): a doc survives iff it near-dup-matches
    * (verified Jaccard ≥ `threshold`) no earlier doc — neither a
    * lower-`idCol` doc within its own batch nor ANY doc of ANY earlier
    * batch. Survivors land in `outTable` and the batch's unseen docs in
    * `stateTable`, with the ledger fact, in one exactly-once commit per
    * `batchId` (see [[paragraphDedupBatchStep]]: same partitions, same
    * replay and retry rules, same O(batch) writes and optional fold).
    *
    * State holds every SEEN doc, not just survivors — the batch rule
    * "drop any doc that matches a lower-id doc" counts matches against
    * dropped docs too, and only a full-seen state makes the streamed
    * output independent of where the stream was cut. With ids increasing
    * across batches and the hot-bucket cap disabled (the cap is a
    * per-run statistic, so per-batch caps and a whole-corpus cap can
    * disagree), the output is IDENTICAL to the batch rule over the
    * concatenated stream — the equivalence the spec pins.
    *
    * Scale: each batch pays one LSH self-join over the batch plus
    * bands·|batch| bucket probes against the state via
    * [[graft.ops.Dedup.minHashLshPairsAgainst]] — never a self-join over
    * the accumulated corpus. State is one (id, text) row per seen doc,
    * keyed for the hash joins a 100 TB run would bucket on. */
  def minHashDedupBatchStep(
      batch: DataFrame, batchId: Long, idCol: String, textCol: String,
      root: String, outTable: String, stateTable: String,
      shingleN: Int = 3, numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5, maxBucketSize: Int = 0): Unit = {
    val spark = batch.sparkSession
    val docs = batch.select(col(idCol), col(textCol)).localCheckpoint(false)
    val droppedInBatch = graft.ops.Dedup.minHashLshPairs(
      docs, idCol, textCol, shingleN, numHashes, bands, threshold,
      maxBucketSize).select(col("idb").as(idCol))
    val part = s"batch=b$batchId"
    graft.storage.TxnCatalog.retryOnConflict { _ =>
      val snap = graft.storage.TxnCatalog.snapshot(spark, root)
      // None only before the first commit; transient read errors PROPAGATE
      // (a silently-emptied seen-set would re-admit every earlier near-dup)
      val seen = snap.flatMap(_.read(stateTable)).getOrElse(docs.limit(0))
      val droppedByState = graft.ops.Dedup.minHashLshPairsAgainst(
        seen, docs, idCol, textCol, shingleN, numHashes, bands, threshold,
        maxBucketSize).select(col("idb").as(idCol))
      val survivors = docs.join(droppedInBatch.union(droppedByState)
        .distinct(), Seq(idCol), "left_anti")
      val unseen = docs.dropDuplicates(idCol)
        .join(seen.select(idCol), Seq(idCol), "left_anti")
      graft.storage.TxnCatalog.appendLedgered(spark, root, snap,
        Seq((outTable, part, survivors), (stateTable, part, unseen)),
        stateTable, stateTable, batchId, Nil, Nil)(() => ())
    }
  }
}
