package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Atomic twin-append over two Parquet tables — the reference commits
  * catalog + lineage in ONE MySQL transaction (`mysql_process.py:53-56`
  * insert_catalog: two INSERTs, one commit). Two bare Parquet appends are
  * not atomic: a crash between them leaves a catalog row whose lineage
  * never arrives.
  *
  * Implemented as the 2-table special case of [[TxnCatalog]] partition
  * commits — ONE commit protocol in the engine: each batch is the
  * partition `batch=<id>` of both tables, staged into unique dirs and
  * published by the single manifest rename, so both tables' batches
  * appear atomically and stay snapshot-consistent with every other table
  * under the same root. Append-only growth costs one new partition entry
  * per batch (no table copy — the partition-grain manifest's point).
  *
  * Scale posture: the manifest is one driver-side line per committed
  * batch; the data read is explicit-path Parquet, so committed-batch
  * selection doubles as partition pruning.
  */
object TwinCommit {

  private def part(batchId: String) = s"batch=$batchId"

  /** Append `a`→`tableA` and `b`→`tableB` as batch `batchId` under
    * `root`, atomically published by the txn manifest. Idempotent on
    * replay — the retry contract a streaming foreachBatch sink needs:
    *  - batch already committed (its partition is in the manifest):
    *    no-op, so a re-delivered micro-batch after a post-commit crash
    *    writes nothing twice;
    *  - batch torn (staging dirs exist, no manifest entry): the remnants
    *    are invisible by construction (unique staging dirs), the retry
    *    stages fresh dirs and commits; [[TxnCatalog.vacuum]] reclaims the
    *    orphans.
    * Concurrent appends of DIFFERENT batches serialize on the txn number;
    * a lost race is retried (bounded) so both land. Throws (and publishes
    * nothing) if a write fails or retries exhaust. */
  def append(spark: SparkSession, root: String, batchId: String,
      a: DataFrame, tableA: String, b: DataFrame, tableB: String,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      ledger: Option[(String, Long)] = None): Unit =
    appendHooked(spark, root, batchId, a, tableA, b, tableB,
      statsColumns, bloomColumns, ledger)(() => ())

  /** [[append]] with a test-only interleave seam before the FIRST
    * attempt's manifest publish (the window a concurrent append of a
    * different batch can steal the txn number). `statsColumns` /
    * `bloomColumns` apply to BOTH tables (columns absent from one
    * table's schema are simply skipped for that table), so streamed-in
    * batches are range- and point-prunable from day one instead of only
    * after their first compaction. */
  private[graft] def appendHooked(spark: SparkSession, root: String,
      batchId: String, a: DataFrame, tableA: String, b: DataFrame,
      tableB: String, statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      ledger: Option[(String, Long)] = None)(
      beforeFirstPublish: () => Unit): Unit = {
    require(!batchId.contains("/"), s"batch id must be path-safe: $batchId")
    // a lost txn-number race to a concurrent append of another batch
    // re-resolves the manifest and retries
    TxnCatalog.retryOnConflict { attempt =>
      val hook = if (attempt == 1) beforeFirstPublish else () => ()
      val snap = TxnCatalog.snapshot(spark, root)
      ledger match {
        case None =>
          // committed replay — exactly-once no-op (manifest publish was
          // all-or-nothing: presence in tableA implies presence in
          // tableB). Partition-name evidence is only safe while no
          // maintenance renames batch partitions — a sink running
          // inline compaction/clustering must pass `ledger`.
          if (!snap.exists(_.partitions(tableA).contains(part(batchId))))
            TxnCatalog.commitPartitionsHooked(spark, root, Seq(
              (tableA, part(batchId), a), (tableB, part(batchId), b)),
              statsColumns = statsColumns, bloomColumns = bloomColumns)(hook)
        case Some((appId, version)) =>
          // durable replay evidence: the (appId → version) ledger on
          // tableA rides the same manifest CAS as both tables' data,
          // so it survives compaction/clustering renaming `batch=*`
          TxnCatalog.appendLedgered(spark, root, snap, Seq(
            (tableA, part(batchId), a), (tableB, part(batchId), b)),
            tableA, appId, version, statsColumns, bloomColumns)(hook)
      }
    }
  }

  /** Fold N committed batches of BOTH twin tables into one `batch=<into>`
    * partition per table, in ONE atomic commit — the twin answer to the
    * streaming small-file problem (every micro-batch lands a new
    * partition in each table; unchecked, a day of 10 s batches is 8 640
    * tiny files per table). A single-table compaction would break the
    * twin shape: tableA's batch folded but tableB's still split means the
    * batch=<id> alignment readers rely on for per-batch lineage joins is
    * gone on one side only. Here both tables' merged partitions and all
    * 2N drops ride one manifest rename, conditional on the catalog still
    * standing at the pinned snapshot (a rival append in between throws
    * [[CommitConflict]]; just retry — the appends themselves are never
    * blocked or lost).
    * Pinned pre-compaction snapshots keep reading the small batches until
    * [[TxnCatalog.vacuum]] ages them out. */
  def compactBatches(spark: SparkSession, root: String, batchIds: Seq[String],
      into: String, tableA: String, tableB: String,
      numFiles: Int = 0, statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Unit = {
    require(batchIds.nonEmpty, "nothing to compact")
    require(numFiles >= 0, "numFiles must be >= 1, or 0 for auto-sizing")
    require(!batchIds.contains(into), s"target batch '$into' is a source")
    val snap = TxnCatalog.snapshot(spark, root).getOrElse(
      throw new IllegalArgumentException(s"empty catalog under $root"))
    val parts = batchIds.map(part)
    // numFiles 0 auto-sizes per table from its own source bytes, the
    // same rule as TxnCatalog.compactPartitionsHooked — the two twin
    // tables usually differ in width by orders of magnitude
    def nf(t: String): Int =
      if (numFiles >= 1) numFiles
      else {
        val f = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val srcBytes = parts.map { p =>
          f.getContentSummary(new org.apache.hadoop.fs.Path(
            TxnCatalog.entryPath(root, t, p, snap.entries((t, p)).dir)))
            .getLength
        }.sum
        val target = math.max(1L << 20,
          spark.sessionState.conf.filesMaxPartitionBytes)
        math.max(1L, math.min(1024L, (srcBytes + target - 1) / target)).toInt
      }
    val updates = Seq(tableA, tableB).map { t =>
      (t, part(into), snap.readPartitions(t, parts).get.coalesce(nf(t)))
    }
    val drops = for (t <- Seq(tableA, tableB); p <- parts) yield (t, p)
    // a fold is a pure reorg per table: the merged batch carries its
    // newest source's data txn, so diffData consumers skip it
    val dataTxns = Seq(tableA, tableB).map { t =>
      (t, part(into)) ->
        parts.map(p => TxnCatalog.entryDataTxn(snap.entries((t, p)))).max
    }.toMap
    TxnCatalog.commitPartitionsHooked(spark, root, updates,
      statsColumns = statsColumns, drops = drops,
      expectedTxn = Some(snap.txn), bloomColumns = bloomColumns,
      dataTxns = dataTxns)(() => ())
  }

  /** The maintenance entry point a streaming sink calls between batches:
    * when the committed batch count has reached `maxBatches`, fold ALL
    * current batches (previous compaction outputs included — compaction
    * is idempotent reorganization, so re-folding a `c*` batch is fine)
    * into one batch named `c<txn>`; otherwise no-op. A rival append
    * racing the conditional commit re-pins the snapshot and retries
    * ([[TxnCatalog.retryOnConflict]]) — appends are never blocked, the
    * compactor just tries again against the moved catalog. Returns the
    * new batch id when a compaction landed. */
  def maintain(spark: SparkSession, root: String, tableA: String,
      tableB: String, maxBatches: Int, numFiles: Int = 0,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Option[String] = {
    require(maxBatches >= 2, "maxBatches must be >= 2")
    TxnCatalog.retryOnConflict { _ =>
      val ids = committedBatches(spark, root, tableA)
      if (ids.size < maxBatches) None
      else {
        val into =
          s"c${TxnCatalog.currentTxn(spark, root).getOrElse(0L) + 1}"
        compactBatches(spark, root, ids, into, tableA, tableB, numFiles,
          statsColumns, bloomColumns)
        Some(into)
      }
    }
  }

  /** Committed batch ids, order-independent. */
  def committedBatches(spark: SparkSession, root: String,
      table: String): Seq[String] =
    TxnCatalog.partitions(spark, root, table)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=")).sorted
}
