package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.TxnCatalog

/** [[TxnCatalog.restoreTable]] + `CALL system.restore`: rollback as a
  * manifest-only commit — data, delete lists, and properties revert to
  * the target txn's state verbatim; history is preserved; streams
  * crossing the restore fail fast instead of silently diverging. */
class RestoreSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  private def commitBatch(root: String, part: String, lo: Int, hi: Int): Long =
    TxnCatalog.commitPartitions(spark, root,
      Seq(("ev", part,
        (lo until hi).map(i => (i.toLong, s"e$i")).toDF("id", "name"))),
      statsColumns = Seq("id"))

  private def ids(root: String): Seq[Long] =
    TxnCatalog.read(spark, root, "ev").get
      .select("id").as[Long].collect().sorted.toSeq

  test("restore reverts data to the target txn; history stays readable") {
    val root = tmp("rst")
    val t1 = commitBatch(root, "b0", 0, 50)
    val t2 = commitBatch(root, "b1", 50, 100)
    assert(ids(root) === (0L until 100L))
    val rt = TxnCatalog.restoreTable(spark, root, "ev", t1)
    assert(rt > t2, "restore is a NEW commit, not a manifest rewrite")
    assert(ids(root) === (0L until 50L), "read state reverts to txn t1")
    // time travel still sees the pre-restore state: nothing was erased
    assert(TxnCatalog.snapshotAt(spark, root, t2).read("ev").get
      .count() === 100L)
    // and the restored snapshot is byte-identical to the target one
    assert(TxnCatalog.snapshotAt(spark, root, rt).read("ev").get
      .select("id").as[Long].collect().sorted ===
      TxnCatalog.snapshotAt(spark, root, t1).read("ev").get
        .select("id").as[Long].collect().sorted)
  }

  test("restore preserves merge-on-read delete sequencing verbatim") {
    val root = tmp("rstmor")
    commitBatch(root, "b0", 0, 10)                                   // txn 1
    TxnCatalog.deleteKeys(spark, root, "ev", "id",
      Seq(3L, 7L).toDF("id"))                                        // txn 2
    val t2 = TxnCatalog.currentTxn(spark, root).get
    commitBatch(root, "b1", 7, 8)                                    // txn 3: re-insert 7
    assert(ids(root) === Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
    val rt = TxnCatalog.restoreTable(spark, root, "ev", t2)
    // the delete still masks ONLY pre-delete data: 3 and 7 gone again
    assert(ids(root) === Seq(0L, 1L, 2L, 4L, 5L, 6L, 8L, 9L),
      "restored delete list masks the data that predates it")
    assert(rt > t2)
  }

  test("restore to the current state is a no-op, and restore is idempotent") {
    val root = tmp("rstnoop")
    val t1 = commitBatch(root, "b0", 0, 10)
    assert(TxnCatalog.restoreTable(spark, root, "ev", t1) === t1,
      "restoring to the live state commits nothing")
    commitBatch(root, "b1", 10, 20)
    val r1 = TxnCatalog.restoreTable(spark, root, "ev", t1)
    val r2 = TxnCatalog.restoreTable(spark, root, "ev", t1)
    assert(r2 === r1, "a second identical restore is a no-op " +
      "(marker-insensitive comparison)")
    assert(TxnCatalog.currentTxn(spark, root).get === r1)
  }

  test("restore reverts table properties: a later CHECK constraint is gone") {
    val root = tmp("rstprop")
    val t1 = commitBatch(root, "b0", 0, 10)
    TxnCatalog.setTableProperties(spark, root, "ev",
      Map(TxnCatalog.ConstraintPrefix + "small" -> "id < 100"))
    intercept[IllegalArgumentException] {
      commitBatch(root, "b1", 100, 101) // violates the constraint
    }
    TxnCatalog.restoreTable(spark, root, "ev", t1)
    commitBatch(root, "b1", 100, 101) // constraint reverted away with t1
    assert(ids(root).contains(100L))
    // the restore marker is stamped into the restored properties
    val marker = TxnCatalog.tableProperties(spark, root, "ev")
      .get(TxnCatalog.RestoreTxnProp)
    assert(marker.exists(_.endsWith(s":$t1")), s"marker records the " +
      s"target txn, got $marker")
  }

  test("restore reinstates a dropped table") {
    val root = tmp("rstdrop")
    val t1 = commitBatch(root, "b0", 0, 10)
    TxnCatalog.dropTable(spark, root, "ev")
    assert(TxnCatalog.read(spark, root, "ev").isEmpty)
    TxnCatalog.restoreTable(spark, root, "ev", t1)
    assert(ids(root) === (0L until 10L))
  }

  test("restore fails cleanly when the target txn is vacuumed or unknown") {
    val root = tmp("rstgone")
    commitBatch(root, "b0", 0, 10)
    commitBatch(root, "b1", 10, 20)
    TxnCatalog.vacuum(spark, root, keep = 1)
    intercept[IllegalArgumentException] {
      TxnCatalog.restoreTable(spark, root, "ev", 1L)
    }
    intercept[IllegalArgumentException] {
      TxnCatalog.restoreTable(spark, root, "ev", 99L)
    }
  }

  test("restore retries past a rival commit and still lands the target state") {
    val root = tmp("rstrace")
    val t1 = commitBatch(root, "b0", 0, 10)
    commitBatch(root, "b1", 10, 20)
    var rivals = 0
    val rt = TxnCatalog.restoreTableHooked(spark, root, "ev", t1) { () =>
      if (rivals == 0) { rivals += 1; commitBatch(root, "b2", 20, 30) }
    }
    assert(rivals === 1 && ids(root) === (0L until 10L),
      "the retry re-pins against the moved catalog and still reverts")
    assert(rt === TxnCatalog.currentTxn(spark, root).get)
  }

  test("restore losing to a rival on every attempt ends in CommitConflict") {
    val root = tmp("rstherd")
    val t1 = commitBatch(root, "b0", 0, 10)
    commitBatch(root, "b1", 10, 20)
    var rivals = 0
    intercept[graft.storage.CommitConflict] {
      TxnCatalog.restoreTableHooked(spark, root, "ev", t1) { () =>
        rivals += 1
        commitBatch(root, s"r$rivals", 100 * rivals, 100 * rivals + 1)
      }
    }
    assert(rivals === 20, "one attempt per rival, up to the fixed cap")
    // the catalog holds the two set-up commits plus every rival's and
    // nothing of the restore: no marker, no reverted data
    assert(TxnCatalog.currentTxn(spark, root) === Some(22L))
    assert(!TxnCatalog.snapshot(spark, root).get.properties("ev")
      .contains(TxnCatalog.RestoreTxnProp))
    assert(ids(root) === (0L until 20L) ++ (1 to 20).map(_ * 100L))
  }

  test("a stream crossing a restore fails fast; ignoreRestores opts out") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = tmp("rststream")
    val t1 = commitBatch(root, "b0", 0, 10)
    commitBatch(root, "b1", 10, 20)
    val schema = TxnCatalog.read(spark, root, "ev").get.schema
    val rt = TxnCatalog.restoreTable(spark, root, "ev", t1)
    val src = new graft.storage.LakeStreamSource(spark, root, "ev",
      schema, startingTxn = 0L)
    // a window NOT crossing the restore delivers fine
    src.getBatch(Some(LongOffset(0L)), LongOffset(t1))
    // the window crossing the restore txn must fail, not silently skip
    val e = intercept[IllegalStateException] {
      src.getBatch(Some(LongOffset(t1)), LongOffset(rt))
    }
    assert(e.getMessage.contains("RESTORED"), e.getMessage)
    val permissive = new graft.storage.LakeStreamSource(spark, root, "ev",
      schema, startingTxn = 0L, ignoreRestores = true)
    // opting out delivers whatever the incremental rule yields (here:
    // nothing new — the restored entries carry their original dataTxns)
    assert(permissive.getBatch(Some(LongOffset(t1)), LongOffset(rt))
      .isStreaming)
  }

  test("CALL system.restore reverts through plain SQL and reports outcome") {
    val root = tmp("rstcall")
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-restore-test")
      .config("spark.sql.catalog.lake", "graft.storage.GraftCatalog")
      .config("spark.sql.catalog.lake.root", root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import s2.implicits._
      val t1 = TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", "b0", (0 until 10).map(i => (i.toLong, s"e$i"))
          .toDF("id", "name"))), statsColumns = Seq("id"))
      TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", "b1", (10 until 20).map(i => (i.toLong, s"e$i"))
          .toDF("id", "name"))), statsColumns = Seq("id"))
      val r = s2.sql(s"CALL lake.system.restore(table => 'ev', txn => $t1)")
        .collect().head
      assert(r.getBoolean(1), "a restore commit happened")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 10L)
      val r2 = s2.sql(s"CALL lake.system.restore(table => 'ev', txn => $t1)")
        .collect().head
      assert(!r2.getBoolean(1), "already at the target state — no-op")
      assert(r2.getLong(0) === r.getLong(0))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
