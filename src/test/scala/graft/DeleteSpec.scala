package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.storage.TxnCatalog

/** [[TxnCatalog.deleteWhere]]: skipping-aware physical DELETE —
  * overlapping partitions rewritten, disjoint partitions carried forward
  * byte-identical, nulls survive, rival commits fail the delete cleanly.
  */
class DeleteSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toFile.getAbsolutePath

  /** 4 batches range-disjoint on k: [0,100), [100,200), ... */
  private def rangeLake(root: String): Unit = {
    val df = (0 until 400).map(i => (i.toLong, s"r$i")).toDF("k", "name")
    TxnCatalog.commitPartitions(spark, root,
      (0 until 4).map(b => ("t", s"batch=$b",
        df.filter($"k" >= b * 100L && $"k" < (b + 1) * 100L))),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
  }

  private def dirOf(root: String, part: String): String = {
    // the live version dir name of a partition, via the partition listing
    val p = new java.io.File(s"$root/t/$part")
    p.listFiles().filter(_.isDirectory).map(_.getName).sorted.mkString(",")
  }

  test("deleteWhere rewrites only overlapping partitions") {
    val root = tmp("delrange"); rangeLake(root)
    val b0Before = dirOf(root, "batch=0")
    val b3Before = dirOf(root, "batch=3")
    val touchedBefore = dirOf(root, "batch=1")
    TxnCatalog.deleteWhere(spark, root, "t", "k", 150L, 249L)
    val got = TxnCatalog.read(spark, root, "t").get
      .select("k").as[Long].collect().sorted
    assert(got === (0 until 400).map(_.toLong)
      .filterNot(k => k >= 150 && k <= 249).toArray)
    // disjoint partitions: same version dirs, no rewrite
    assert(dirOf(root, "batch=0") === b0Before,
      "batch=0 is disjoint from [150,249] and must carry forward untouched")
    assert(dirOf(root, "batch=3") === b3Before)
    // overlapping partition gained a new version dir
    assert(dirOf(root, "batch=1") !== touchedBefore)
    // stats re-measured on the rewritten slice: range probe now prunes
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.partitionsWhere("t", "k", 150L, 199L).isEmpty,
      "rewritten batch=1 stats must exclude the deleted range")
  }

  test("deleteWhere keeps null keys (SQL DELETE semantics)") {
    val root = tmp("delnull")
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"),
      (null, "n1"), (3L, "c"), (null, "n2")).toDF("k", "name")
    TxnCatalog.commitPartitions(spark, root, Seq(("t", "b0", df)),
      statsColumns = Seq("k"))
    TxnCatalog.deleteWhere(spark, root, "t", "k", 1L, 2L)
    val names = TxnCatalog.read(spark, root, "t").get
      .select("name").as[String].collect().sorted
    assert(names === Array("c", "n1", "n2"))
  }

  test("deleteWhere touching nothing commits nothing") {
    val root = tmp("delnoop"); rangeLake(root)
    val before = TxnCatalog.currentTxn(spark, root)
    val ret = TxnCatalog.deleteWhere(spark, root, "t", "k", 5000L, 6000L)
    assert(TxnCatalog.currentTxn(spark, root) === before)
    assert(ret === before.get)
    assert(TxnCatalog.read(spark, root, "t").get.count() === 400L)
  }

  test("deleteWhere is conditional: rival commit fails it cleanly") {
    val root = tmp("delrace"); rangeLake(root)
    intercept[java.io.IOException] {
      TxnCatalog.deleteWhereHooked(spark, root, "t", "k", 0L, 50L) { () =>
        TxnCatalog.commitPartitions(spark, root,
          Seq(("t", "batch=9",
            Seq((900L, "x")).toDF("k", "name"))),
          statsColumns = Seq("k"))
      }
    }
    // the rival's commit stands; no rows were deleted
    assert(TxnCatalog.read(spark, root, "t").get.count() === 401L)
  }

  test("deleteWhere on a whole-table entry is conditional too") {
    val root = tmp("delwholerace")
    TxnCatalog.commit(spark, root, Seq("t" ->
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "name")))
    val ex = intercept[java.io.IOException] {
      TxnCatalog.deleteWhereHooked(spark, root, "t", "k", 10L, 19L) { () =>
        TxnCatalog.commit(spark, root, Seq("t" ->
          (0 until 101).map(i => (i.toLong, s"r$i")).toDF("k", "name")))
      }
    }
    // refused by the pinned-snapshot guard, not by a lucky CAS loss
    assert(ex.getMessage.contains("since snapshot"), ex.getMessage)
    // the rival's commit stands; no rows were deleted
    assert(TxnCatalog.read(spark, root, "t").get.count() === 101L)
  }

  test("deleteWhere on a whole-table entry rewrites through commit") {
    val root = tmp("delwhole")
    TxnCatalog.commit(spark, root, Seq("t" ->
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "name")))
    TxnCatalog.deleteWhere(spark, root, "t", "k", 10L, 19L)
    assert(TxnCatalog.read(spark, root, "t").get.count() === 90L)
  }

  // ---- merge-on-read equality deletes ----

  private def keysDf(ks: Long*) = ks.toDF("k")

  test("deleteKeys masks keys on every read path at O(keys) write cost") {
    val root = tmp("mor"); rangeLake(root)
    val dirsBefore = (0 until 4).map(b => dirOf(root, s"batch=$b"))
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(5L, 150L, 399L))
    // no data partition was rewritten — the delete is an entry, not a rewrite
    assert((0 until 4).map(b => dirOf(root, s"batch=$b")) === dirsBefore)
    val snap = TxnCatalog.snapshot(spark, root).get
    val all = snap.read("t").get.select("k").as[Long].collect().sorted
    assert(all === (0 until 400).map(_.toLong)
      .filterNot(Set(5L, 150L, 399L)).toArray)
    // partition read and skipping reads apply the same subtraction
    assert(snap.readPartition("t", "batch=0").get.count() === 99L)
    assert(snap.readWhere("t", "k", 140L, 160L).get
      .select("k").as[Long].collect().sorted ===
      (140L to 160L).filterNot(_ == 150L).toArray)
    assert(snap.readWhereEq("t", "k", 150L).get.count() === 0L)
    assert(snap.readWhereEq("t", "k", 151L).get.count() === 1L)
    assert(snap.readWhereIn("t", "k", Seq(4L, 5L, 6L)).get
      .select("k").as[Long].collect().sorted === Array(4L, 6L))
    // Catalyst-planned reads subtract too
    val lake = graft.storage.GraftLake.table(spark, root, "t").get
    assert(lake.count() === 397L)
    assert(lake.where($"k" === 150L).count() === 0L)
    assert(lake.where($"k" >= 140L && $"k" <= 160L).count() === 20L)
    // internal entry stays off the partition listing but is inspectable
    assert(snap.partitions("t") === (0 until 4).map(b => s"batch=$b"))
    val dels = snap.deleteEntries("t")
    assert(dels.size === 1 && dels.head._3 === "k")
    assert(snap.readDeleteKeys("t", dels.head._1).get.count() === 3L)
  }

  test("a delete applies only to data committed before it (re-insert works)") {
    val root = tmp("morre"); rangeLake(root)
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(7L))
    assert(TxnCatalog.read(spark, root, "t").get
      .filter($"k" === 7L).count() === 0L)
    // re-insert the key in a NEW batch: newer data, the delete must not mask it
    TxnCatalog.commitPartitions(spark, root,
      Seq(("t", "batch=re", Seq((7L, "again")).toDF("k", "name"))),
      statsColumns = Seq("k"))
    val back = TxnCatalog.read(spark, root, "t").get.filter($"k" === 7L)
    assert(back.select("name").as[String].collect() === Array("again"))
  }

  test("metadata answers go dark while a delete is pending, return after applyDeletes") {
    val root = tmp("mormeta"); rangeLake(root)
    val before = TxnCatalog.snapshot(spark, root).get
    assert(before.rowCount("t") === Some(400L))
    assert(before.columnBounds("t", "k").isDefined)
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(0L, 399L))
    val pending = TxnCatalog.snapshot(spark, root).get
    assert(pending.rowCount("t") === None,
      "a pending delete makes metadata counts unknowable")
    assert(pending.rowCount("t", "batch=0") === None)
    assert(pending.columnBounds("t", "k") === None)
    TxnCatalog.applyDeletes(spark, root, "t")
    val after = TxnCatalog.snapshot(spark, root).get
    assert(after.deleteEntries("t").isEmpty)
    assert(after.rowCount("t") === Some(398L))
    assert(after.columnBounds("t", "k").map(s => (s.min, s.max))
      === Some(("1", "398")))
    assert(after.read("t").get.select("k").as[Long].collect().sorted
      === (1L to 398L).toArray)
  }

  test("compaction folds materialize pending deletes; reads stay exact") {
    val root = tmp("morfold"); rangeLake(root)
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(10L, 110L))
    // fold the two affected batches: the fold reads through the
    // delete-applying funnel, so its output is already subtracted
    TxnCatalog.compactPartitions(spark, root, "t",
      Seq("batch=0", "batch=1"), "fold0", statsColumns = Seq("k"))
    val snap = TxnCatalog.snapshot(spark, root).get
    val all = snap.read("t").get.select("k").as[Long].collect().sorted
    assert(all === (0 until 400).map(_.toLong)
      .filterNot(Set(10L, 110L)).toArray)
    // the fold physically dropped the keys from its output files
    val foldRows = spark.read.parquet(
      s"$root/t/fold0/${dirOf(root, "fold0")}")
    assert(foldRows.filter($"k".isin(10L, 110L)).count() === 0L)
  }

  test("deletes on different key columns compose") {
    val root = tmp("mortwo")
    val df = (0 until 100).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    TxnCatalog.commitPartitions(spark, root,
      Seq(("t", "b0", df)), statsColumns = Seq("k"))
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(1L, 2L))
    TxnCatalog.deleteKeys(spark, root, "t", "name",
      Seq("n50", "n51").toDF("name"))
    val got = TxnCatalog.read(spark, root, "t").get
      .select("k").as[Long].collect().sorted
    assert(got === (0 until 100).map(_.toLong)
      .filterNot(Set(1L, 2L, 50L, 51L)).toArray)
  }

  test("null and duplicate keys are dropped; empty key set commits nothing") {
    val root = tmp("mornull"); rangeLake(root)
    val before = TxnCatalog.currentTxn(spark, root)
    TxnCatalog.deleteKeys(spark, root, "t", "k",
      Seq[java.lang.Long](null, null).toDF("k"))
    assert(TxnCatalog.currentTxn(spark, root) === before,
      "all-null key set must not commit")
    TxnCatalog.deleteKeys(spark, root, "t", "k",
      Seq[java.lang.Long](3L, 3L, null).toDF("k"))
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.readDeleteKeys("t",
      snap.deleteEntries("t").head._1).get.count() === 1L)
    assert(snap.read("t").get.count() === 399L)
  }

  test("deleteWhere materializes pending equality deletes in rewritten partitions") {
    val root = tmp("mordw"); rangeLake(root)
    TxnCatalog.deleteKeys(spark, root, "t", "k", keysDf(120L))
    // rewrite batch=1 via deleteWhere: 120 must NOT resurface even
    // though the rewritten entry's data txn is now newer than the delete
    TxnCatalog.deleteWhere(spark, root, "t", "k", 130L, 139L)
    val got = TxnCatalog.read(spark, root, "t").get
      .select("k").as[Long].collect().sorted
    assert(got === (0 until 400).map(_.toLong)
      .filterNot(k => k == 120L || (k >= 130L && k <= 139L)).toArray)
  }
}
