package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Sinks + storage layout (SURVEY S10/S11/S12, §4 partition pruning):
  * partitioned parquet round trips, pruning reaches the scan, dynamic
  * partition overwrite implements UPDATE…WHERE persistence, CSV sink writes
  * real rows, and native expressions are SQL-registered.
  */
class StorageSpec extends GraftSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private lazy val catalog = Seq(
    (1L, "A", 0), (2L, "B", 0), (3L, "C", 2), (4L, "D", 2)
  ).toDF("ID", "INDICE", "ID_PROCESO")

  test("partitioned catalog write: partition pruning reaches the scan") {
    val dir = tmp("cat")
    catalog.write.mode("overwrite").partitionBy("ID_PROCESO").parquet(dir)
    val back = spark.read.parquet(dir).filter($"ID_PROCESO" === 2)
    assert(back.select("ID").as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ID_PROCESO"),
      s"partition filter missing from plan:\n$plan")
    // only the matching partition directory is scanned
    val scanned = back.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.linesIterator.filter(_.contains("Location"))).mkString
    assert(!scanned.contains("ID_PROCESO=0") || scanned.contains("InMemoryFileIndex"))
  }

  test("S12 persisted: dynamic partition overwrite touches only changed partitions") {
    val dir = tmp("upd")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    catalog.write.mode("overwrite").partitionBy("ID_PROCESO").parquet(dir)
    // update rows of partition 0 only (read-modify-overwrite of that slice)
    val updated = spark.read.parquet(dir)
      .filter($"ID_PROCESO" === 0)
      .withColumn("INDICE", concat($"INDICE", lit("_v2")))
    updated.write.mode("overwrite").partitionBy("ID_PROCESO").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 4, "dynamic overwrite must keep untouched partitions")
    val byId = back.select("ID", "INDICE").as[(Long, String)].collect().toMap
    assert(byId(1L) === "A_v2" && byId(2L) === "B_v2")
    assert(byId(3L) === "C" && byId(4L) === "D")
  }

  test("append mode accumulates batches (S11 catalog append)") {
    val dir = tmp("app")
    catalog.write.mode("overwrite").partitionBy("ID_PROCESO").parquet(dir)
    Seq((5L, "E", 5)).toDF("ID", "INDICE", "ID_PROCESO")
      .write.mode("append").partitionBy("ID_PROCESO").parquet(dir)
    assert(spark.read.parquet(dir).count() === 5)
  }

  test("TwinCommit: both tables visible after commit, atomically") {
    val root = tmp("twroot")
    val cat = Seq((1L, "A"), (2L, "B")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L), (100L, 2L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    graft.storage.TwinCommit.append(spark, root, "b1", cat, "catalog", lin, "lineage")
    val backCat = graft.storage.TxnCatalog.read(spark, root, "catalog").get
    val backLin = graft.storage.TxnCatalog.read(spark, root, "lineage").get
    assert(backCat.count() === 2 && backLin.count() === 2)
    // second batch appends; replaying a committed batch id is a no-op
    // (exactly-once: a foreachBatch retry after commit must not double-write)
    graft.storage.TwinCommit.append(spark, root, "b2",
      Seq((3L, "C")).toDF("ID", "INDICE"), "catalog",
      Seq((101L, 3L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE"), "lineage")
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 3)
    graft.storage.TwinCommit.append(spark, root, "b1", cat, "catalog", lin, "lineage")
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 3,
      "replayed committed batch must not duplicate rows")
  }

  test("TwinCommit crash injection: failed second append is invisible to readers") {
    val root = tmp("twcrash")
    val cat = Seq((1L, "A")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    graft.storage.TwinCommit.append(spark, root, "ok", cat, "catalog", lin, "lineage")
    // crash between the two staging writes: lineage write fails (schema
    // readable but the write dies mid-flight — a failing expression)
    val poisoned = lin.withColumn("ID_IMAGEN_FUENTE",
      expr("raise_error('simulated crash') IS NULL").cast("long"))
    intercept[Exception] {
      graft.storage.TwinCommit.append(spark, root, "torn", cat, "catalog",
        poisoned, "lineage")
    }
    // the torn batch wrote catalog files on disk, but no manifest was
    // published — readers of BOTH tables see only the committed batch
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog") === Seq("ok"))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 1)
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get.count() === 1)
    // raw directory listing confirms the torn catalog staging dir is there
    val torn = new java.io.File(s"$root/catalog/batch=torn").listFiles()
    assert(torn != null && torn.nonEmpty) // files exist; readers never see them
    // retrying the SAME batch id commits cleanly (remnants stay invisible
    // and are vacuum's to reclaim)
    graft.storage.TwinCommit.append(spark, root, "torn",
      Seq((2L, "B")).toDF("ID", "INDICE"), "catalog",
      Seq((100L, 2L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE"), "lineage")
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Seq("ok", "torn"))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 2)
    // the unified path also reclaims the torn remnants via TxnCatalog.vacuum
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 2)
    val dirs = new java.io.File(s"$root/catalog/batch=torn").listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq
    assert(dirs.length === 1, s"vacuum must reclaim the torn staging dir: $dirs")
  }

  test("TwinCommit compaction folds both twin tables' batches in one commit") {
    val root = tmp("twcompact")
    def cat(i: Int) = Seq((i.toLong, s"IMG$i")).toDF("ID", "INDICE")
    def lin(i: Int) = Seq((100L + i, i.toLong)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    for (i <- 1 to 3)
      graft.storage.TwinCommit.append(spark, root, i.toString,
        cat(i), "catalog", lin(i), "lineage")
    val pinned = graft.storage.TxnCatalog.snapshot(spark, root).get
    graft.storage.TwinCommit.compactBatches(spark, root,
      Seq("1", "2"), into = "c1", "catalog", "lineage")
    // both tables hold the same batch partitions — twin shape preserved
    val partsA = graft.storage.TxnCatalog.partitions(spark, root, "catalog")
    val partsB = graft.storage.TxnCatalog.partitions(spark, root, "lineage")
    assert(partsA === partsB && partsA === Seq("batch=3", "batch=c1"))
    // row sets unchanged on both sides
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .as[(Long, String)].collect().toSet
      === Set((1L, "IMG1"), (2L, "IMG2"), (3L, "IMG3")))
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get
      .as[(Long, Long)].collect().toSet
      === Set((101L, 1L), (102L, 2L), (103L, 3L)))
    // the pinned pre-compaction snapshot still serves the small batches
    assert(pinned.readPartition("catalog", "batch=1").get.count() === 1)
    // appends keep flowing after compaction
    graft.storage.TwinCommit.append(spark, root, "4",
      cat(4), "catalog", lin(4), "lineage")
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Seq("3", "4", "c1"))
    // vacuum reclaims the folded batches' data on both sides
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    for (t <- Seq("catalog", "lineage"); b <- Seq("batch=1", "batch=2")) {
      val d = new java.io.File(s"$root/$t/$b")
      assert(!d.exists() || d.listFiles().isEmpty,
        s"compacted-away $t/$b must be reclaimed")
    }
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 4)
  }

  test("TwinCommit maintain: threshold-gated compaction, idempotent re-fold") {
    val root = tmp("twmaint")
    def cat(i: Int) = Seq((i.toLong, s"IMG$i")).toDF("ID", "INDICE")
    def lin(i: Int) = Seq((100L + i, i.toLong)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    for (i <- 1 to 2)
      graft.storage.TwinCommit.append(spark, root, i.toString,
        cat(i), "catalog", lin(i), "lineage")
    // below threshold: no-op
    assert(graft.storage.TwinCommit.maintain(spark, root,
      "catalog", "lineage", maxBatches = 4) === None)
    for (i <- 3 to 4)
      graft.storage.TwinCommit.append(spark, root, i.toString,
        cat(i), "catalog", lin(i), "lineage")
    // at threshold: all 4 batches fold into one on both sides
    val folded = graft.storage.TwinCommit.maintain(spark, root,
      "catalog", "lineage", maxBatches = 4)
    assert(folded.isDefined)
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Seq(folded.get))
    assert(graft.storage.TxnCatalog.partitions(spark, root, "catalog")
      === graft.storage.TxnCatalog.partitions(spark, root, "lineage"))
    // rows survive the fold
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .select("ID").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    // a later fold happily re-folds the previous compaction output
    for (i <- 5 to 7)
      graft.storage.TwinCommit.append(spark, root, i.toString,
        cat(i), "catalog", lin(i), "lineage")
    val again = graft.storage.TwinCommit.maintain(spark, root,
      "catalog", "lineage", maxBatches = 4)
    assert(again.isDefined && again != folded)
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Seq(again.get))
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get
      .count() === 7)
  }

  test("TwinCommit concurrent appends of different batches: both land via retry") {
    val root = tmp("twboth")
    val cat = Seq((1L, "A")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    // a rival lands batch b2 inside b1's pre-publish window: b1's first
    // attempt loses the txn number, the retry loop must land it anyway
    graft.storage.TwinCommit.appendHooked(spark, root, "b1",
      cat, "catalog", lin, "lineage") { () =>
      graft.storage.TwinCommit.append(spark, root, "b2",
        Seq((2L, "B")).toDF("ID", "INDICE"), "catalog",
        Seq((101L, 2L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE"), "lineage")
    }
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Seq("b1", "b2"))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .count() === 2)
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get
      .count() === 2)
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === Some(2L),
      "two appends must serialize onto two txns")
    // the loser's first-attempt staging dirs were its own to delete: after
    // vacuum each batch partition holds exactly one snapshot dir
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    for (b <- Seq("batch=b1", "batch=b2")) {
      val dirs = new java.io.File(s"$root/catalog/$b").listFiles()
        .map(_.getName).filter(_.startsWith("v=")).toSeq
      assert(dirs.length === 1, s"$b must hold exactly one snapshot: $dirs")
    }
  }

  test("TwinCommit append: a non-conflict IOException propagates, nothing lands") {
    val root = tmp("twio")
    val cat = Seq((1L, "A")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    val disk = new java.io.IOException("disk full")
    val ex = intercept[java.io.IOException] {
      graft.storage.TwinCommit.appendHooked(spark, root, "b1",
        cat, "catalog", lin, "lineage") { () => throw disk }
    }
    assert(ex eq disk, "only a lost commit is retried")
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      === Nil)
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === None)
  }

  test("VersionedTable: updateSnapshot is snapshot-atomic; torn overwrite invisible") {
    // the single-table snapshot overwrite, as TxnCatalog whole-table commits
    val root = tmp("vt")
    val TC = graft.storage.TxnCatalog
    def cur() = TC.read(spark, root, "catalog").get
    assert(TC.commit(spark, root, Seq("catalog" -> catalog)) === 1L)
    assert(cur().count() === 4)
    // S12 as a snapshot transaction: UPDATE ... WHERE over the committed
    // table publishes txn 2, conditional on the txn it read
    val t2 = TC.commit(spark, root, Seq("catalog" ->
      graft.ops.CatalogOps.updateWhere(cur(), "ID", Seq(1L, 3L), "INDICE",
        lit("Z"))), expectedTxn = Some(1L))
    assert(t2 === 2L)
    val byId = cur().select("ID", "INDICE").as[(Long, String)].collect().toMap
    assert(byId === Map(1L -> "Z", 2L -> "B", 3L -> "Z", 4L -> "D"))
    // crash injection: the NEXT commit dies mid-write — data lands in a
    // v=3 staging dir but no manifest is published
    val poisoned = catalog.withColumn("INDICE",
      expr("raise_error('simulated crash') IS NULL").cast("string"))
    intercept[Exception] {
      TC.commit(spark, root, Seq("catalog" -> poisoned))
    }
    // readers still resolve txn 2, bit-for-bit — the torn v=3 is
    // invisible even if some of its files exist on disk
    assert(TC.currentTxn(spark, root) === Some(2L))
    assert(cur().select("ID", "INDICE").as[(Long, String)].collect().toMap
      === byId)
    // the retried commit lands as txn 3
    assert(TC.commit(spark, root, Seq("catalog" ->
      catalog.filter($"ID" =!= 4L))) === 3L)
    assert(cur().count() === 3)
    // vacuum keeps the current txn readable, drops old data dirs and the
    // torn v=3 orphan from the crashed attempt
    TC.vacuum(spark, root, keep = 1)
    assert(TC.currentTxn(spark, root) === Some(3L))
    assert(cur().count() === 3)
    val leftover = new java.io.File(s"$root/catalog").listFiles()
      .map(_.getName).filter(_.startsWith("v="))
    assert(leftover.length === 1 && leftover.head.startsWith("v=3."),
      s"vacuum must keep only the current data dir, saw: ${leftover.toSeq}")
  }

  test("VersionedTable two-writer race: one commit survives, no committed data deleted") {
    val root = tmp("vtrace")
    val TC = graft.storage.TxnCatalog
    TC.commit(spark, root, Seq("catalog" -> catalog)) // txn 1
    val winner = catalog.withColumn("INDICE", lit("WINNER"))
    val loser = catalog.withColumn("INDICE", lit("LOSER"))
    // writer A finishes staging txn 2, then writer B commits txn 2 in the
    // window before A's manifest CAS — A must lose with CommitConflict
    // and clean only its OWN staging dir
    intercept[graft.storage.CommitConflict] {
      TC.commitHooked(spark, root, Seq("catalog" -> loser)) { () =>
        TC.commit(spark, root, Seq("catalog" -> winner))
      }
    }
    assert(TC.currentTxn(spark, root) === Some(2L))
    val back = TC.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq
    assert(back === Seq("WINNER"),
      "the surviving committed txn must be the winner's, bit-for-bit")
    // exactly one v=2 data dir remains (the winner's); the loser's staging
    // dir was removed by the loser itself, never the winner's by the loser
    val v2dirs = new java.io.File(s"$root/catalog").listFiles()
      .map(_.getName).filter(_.startsWith("v=2."))
    assert(v2dirs.length === 1, s"expected one surviving v=2 dir: ${v2dirs.toSeq}")
  }

  test("TxnCatalog: multi-table commit is atomic; torn second write invisible") {
    val root = tmp("txncat")
    val cat = Seq((1L, "A"), (2L, "B")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L), (100L, 2L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    val t1 = graft.storage.TxnCatalog.commit(spark, root,
      Seq("catalog" -> cat, "lineage" -> lin))
    assert(t1 === 1L)
    assert(graft.storage.TxnCatalog.tables(spark, root) === Seq("catalog", "lineage"))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get.count() === 2)
    // txn 2 updates catalog only: lineage carries forward, same snapshot
    val t2 = graft.storage.TxnCatalog.commit(spark, root,
      Seq("catalog" -> cat.withColumn("INDICE", lit("Z"))))
    assert(t2 === 2L)
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get.count() === 2)
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq === Seq("Z"))
    // crash mid-transaction: catalog's staging write lands, lineage's
    // write dies — NEITHER new snapshot is visible (all-or-nothing)
    val poisoned = lin.withColumn("ID_IMAGEN_FUENTE",
      expr("raise_error('simulated crash') IS NULL").cast("long"))
    intercept[Exception] {
      graft.storage.TxnCatalog.commit(spark, root,
        Seq("catalog" -> cat.withColumn("INDICE", lit("TORN")),
          "lineage" -> poisoned))
    }
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === Some(2L))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq === Seq("Z"),
      "a torn multi-table txn must leave every table at the old snapshot")
  }

  test("TxnCatalog two-writer race: one txn survives, committed data untouched") {
    val root = tmp("txnrace")
    val base = Seq((1L, "A")).toDF("ID", "INDICE")
    graft.storage.TxnCatalog.commit(spark, root, Seq("catalog" -> base))
    intercept[java.io.IOException] {
      graft.storage.TxnCatalog.commitHooked(spark, root,
        Seq("catalog" -> base.withColumn("INDICE", lit("LOSER")))) { () =>
        graft.storage.TxnCatalog.commit(spark, root,
          Seq("catalog" -> base.withColumn("INDICE", lit("WINNER"))))
      }
    }
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === Some(2L))
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq === Seq("WINNER"))
    // vacuum drops txn-1 data and the loser's orphan, keeps the winner
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    assert(graft.storage.TxnCatalog.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq === Seq("WINNER"))
    val dirs = new java.io.File(s"$root/catalog").listFiles().map(_.getName)
      .filter(_.startsWith("v="))
    assert(dirs.length === 1, s"vacuum must keep only the live snapshot: ${dirs.toSeq}")
  }

  test("TxnCatalog partition commit: 1 of N partitions rewrites only that partition") {
    val root = tmp("txnpart")
    // a fact table partitioned by process id: the partition key stays a
    // data column (read() unions partition snapshots losslessly)
    def slice(p: Int) = catalog.filter($"ID_PROCESO" === p)
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0)), ("facts", "ID_PROCESO=2", slice(2))))
    assert(graft.storage.TxnCatalog.partitions(spark, root, "facts")
      === Seq("ID_PROCESO=0", "ID_PROCESO=2"))
    assert(graft.storage.TxnCatalog.read(spark, root, "facts").get.count() === 4)
    // update ONLY partition 0: partition 2's snapshot dir must carry
    // forward untouched (same single dir, no whole-table copy)
    def dirsOf(part: String) =
      new java.io.File(s"$root/facts/$part").listFiles()
        .map(_.getName).filter(_.startsWith("v=")).toSeq.sorted
    val p2Before = dirsOf("ID_PROCESO=2")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0).withColumn("INDICE", lit("Z")))))
    assert(dirsOf("ID_PROCESO=2") === p2Before,
      "updating one partition must not rewrite another's data")
    val byId = graft.storage.TxnCatalog.read(spark, root, "facts").get
      .select("ID", "INDICE").as[(Long, String)].collect().toMap
    assert(byId === Map(1L -> "Z", 2L -> "Z", 3L -> "C", 4L -> "D"))
    // partition-pruned read touches exactly one entry
    assert(graft.storage.TxnCatalog
      .readPartition(spark, root, "facts", "ID_PROCESO=2").get.count() === 2)
    // a table holding a whole-table snapshot rejects partition commits
    graft.storage.TxnCatalog.commit(spark, root, Seq("dims" -> catalog))
    val e = intercept[IllegalArgumentException] {
      graft.storage.TxnCatalog.commitPartitions(spark, root,
        Seq(("dims", "ID_PROCESO=0", slice(0))))
    }
    assert(e.getMessage.contains("whole-table"))
  }

  test("TxnCatalog partition commit is atomic across partitions AND tables") {
    val root = tmp("txnpatom")
    def slice(p: Int) = catalog.filter($"ID_PROCESO" === p)
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0)), ("facts", "ID_PROCESO=2", slice(2)),
      ("audit", "ID_PROCESO=0", slice(0).select("ID"))))
    // crash mid-commit: facts' partition stages, audit's write dies —
    // NEITHER new snapshot is visible (all-or-nothing across tables)
    val poisoned = slice(2).select(
      expr("raise_error('simulated crash') IS NULL").cast("long").as("ID"))
    intercept[Exception] {
      graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
        ("facts", "ID_PROCESO=2", slice(2).withColumn("INDICE", lit("TORN"))),
        ("audit", "ID_PROCESO=2", poisoned)))
    }
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === Some(1L))
    assert(graft.storage.TxnCatalog.read(spark, root, "facts").get
      .filter($"INDICE" === "TORN").count() === 0,
      "a torn partition txn must leave every partition at the old snapshot")
    // two-writer race at partition grain: loser throws, cleans only its
    // own staging dir, winner's data survives bit-for-bit
    intercept[java.io.IOException] {
      graft.storage.TxnCatalog.commitPartitionsHooked(spark, root, Seq(
        ("facts", "ID_PROCESO=0", slice(0).withColumn("INDICE", lit("LOSER"))))) { () =>
        graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
          ("facts", "ID_PROCESO=0", slice(0).withColumn("INDICE", lit("WINNER")))))
      }
    }
    assert(graft.storage.TxnCatalog.readPartition(spark, root, "facts", "ID_PROCESO=0")
      .get.select("INDICE").distinct().as[String].collect().toSeq === Seq("WINNER"))
    // vacuum reclaims the superseded partition snapshot, the torn orphans
    // and the loser's staging dir; live partitions keep exactly one dir
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    for (part <- Seq("ID_PROCESO=0", "ID_PROCESO=2")) {
      val dirs = new java.io.File(s"$root/facts/$part").listFiles()
        .map(_.getName).filter(_.startsWith("v=")).toSeq
      assert(dirs.length === 1, s"$part must keep only its live snapshot: $dirs")
    }
    assert(graft.storage.TxnCatalog.read(spark, root, "facts").get.count() === 4)
    assert(graft.storage.TxnCatalog.read(spark, root, "audit").get.count() === 2)
  }

  test("TxnCatalog snapshot: pinned reads never mix txns across commits") {
    val root = tmp("txnsnap")
    val cat = Seq((1L, "A")).toDF("ID", "INDICE")
    val lin = Seq((100L, 1L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    graft.storage.TxnCatalog.commit(spark, root,
      Seq("catalog" -> cat, "lineage" -> lin))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.txn === 1L)
    assert(snap.tables === Seq("catalog", "lineage"))
    // the reader consumes table A, then a writer commits BOTH tables,
    // then the reader consumes table B through the same pin: both reads
    // land at txn 1 — the straddle that per-call reads cannot prevent
    assert(snap.read("catalog").get
      .select("INDICE").as[String].collect().toSeq === Seq("A"))
    graft.storage.TxnCatalog.commit(spark, root, Seq(
      "catalog" -> cat.withColumn("INDICE", lit("A2")),
      "lineage" -> lin.withColumn("ID_EJECUCION", lit(200L))))
    assert(snap.read("lineage").get
      .select("ID_EJECUCION").as[Long].collect().toSeq === Seq(100L),
      "a pinned snapshot must keep serving the txn it pinned")
    // per-call reads see the new txn immediately
    assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get
      .select("ID_EJECUCION").as[Long].collect().toSeq === Seq(200L))
    // vacuum inside the retention window keeps the pinned txn readable
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1,
      minAgeMs = 3600L * 1000)
    assert(snap.read("catalog").get
      .select("INDICE").as[String].collect().toSeq === Seq("A"))
  }

  test("TxnCatalog time travel: snapshotAt reads history inside the keep window") {
    val root = tmp("txntt")
    val cat = Seq((1L, "A")).toDF("ID", "INDICE")
    graft.storage.TxnCatalog.commit(spark, root, Seq("catalog" -> cat))
    graft.storage.TxnCatalog.commit(spark, root,
      Seq("catalog" -> cat.withColumn("INDICE", lit("B")),
        "lineage" -> Seq((100L, 1L)).toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")))
    graft.storage.TxnCatalog.commit(spark, root,
      Seq("catalog" -> cat.withColumn("INDICE", lit("C"))))
    assert(graft.storage.TxnCatalog.txns(spark, root) === Seq(1L, 2L, 3L))
    // as of txn 1: old catalog value, lineage does not exist yet
    val at1 = graft.storage.TxnCatalog.snapshotAt(spark, root, 1L)
    assert(at1.read("catalog").get
      .select("INDICE").as[String].collect().toSeq === Seq("A"))
    assert(at1.tables === Seq("catalog"))
    // as of txn 2: mid value, lineage present
    val at2 = graft.storage.TxnCatalog.snapshotAt(spark, root, 2L)
    assert(at2.read("catalog").get
      .select("INDICE").as[String].collect().toSeq === Seq("B"))
    assert(at2.read("lineage").get.count() === 1)
    // never-committed txns are rejected
    intercept[IllegalArgumentException] {
      graft.storage.TxnCatalog.snapshotAt(spark, root, 9L)
    }
    // vacuum trims the travel horizon: txn 1 falls out of keep=2
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 2)
    assert(graft.storage.TxnCatalog.txns(spark, root) === Seq(2L, 3L))
    intercept[IllegalArgumentException] {
      graft.storage.TxnCatalog.snapshotAt(spark, root, 1L)
    }
    // survivors stay readable with their full history semantics
    assert(graft.storage.TxnCatalog.snapshotAt(spark, root, 2L)
      .read("catalog").get
      .select("INDICE").as[String].collect().toSeq === Seq("B"))
  }

  test("TxnCatalog diff names exactly the changed entries between txns") {
    val root = tmp("txndiff")
    def slice(p: Int) = catalog.filter($"ID_PROCESO" === p)
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0)), ("facts", "ID_PROCESO=2", slice(2))))
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0).withColumn("INDICE", lit("Z"))),
      ("audit", "ID_PROCESO=0", slice(0).select("ID"))))
    graft.storage.TxnCatalog.commit(spark, root,
      Seq("dims" -> catalog.limit(1)))
    import graft.storage.TxnCatalog.EntryChange
    // txn1 -> txn3: facts/p0 rewritten, audit + dims appeared; facts/p2
    // carried forward untouched and must NOT be listed
    assert(graft.storage.TxnCatalog.diff(spark, root, 1L, 3L) === Seq(
      EntryChange("audit", "ID_PROCESO=0", "added"),
      EntryChange("dims", "-", "added"),
      EntryChange("facts", "ID_PROCESO=0", "updated")))
    // adjacent diff: only that commit's entries
    assert(graft.storage.TxnCatalog.diff(spark, root, 2L, 3L) === Seq(
      EntryChange("dims", "-", "added")))
    assert(graft.storage.TxnCatalog.diff(spark, root, 3L, 3L) === Nil)
    // whole-table recommit replacing partition entries reports removals
    graft.storage.TxnCatalog.commit(spark, root, Seq("audit" -> catalog.limit(1)))
    assert(graft.storage.TxnCatalog.diff(spark, root, 3L, 4L) === Seq(
      EntryChange("audit", "-", "added"),
      EntryChange("audit", "ID_PROCESO=0", "removed")))
    // the incremental-consumer composition: read ONLY what changed
    val changed = graft.storage.TxnCatalog.diff(spark, root, 1L, 2L)
      .filter(c => c.change != "removed" && c.table == "facts")
    val at2 = graft.storage.TxnCatalog.snapshotAt(spark, root, 2L)
    val reprocess = changed.flatMap(c => at2.readPartition(c.table, c.partition))
    assert(reprocess.map(_.count()).sum === 2)
    intercept[IllegalArgumentException] {
      graft.storage.TxnCatalog.diff(spark, root, 3L, 1L)
    }
  }

  test("TxnCatalog read merges evolved schemas across partition batches") {
    val root = tmp("txnschema")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "batch=0", Seq((1L, "old doc")).toDF("ID", "TEXT"))))
    // a later batch adds a column: old rows must surface it as null
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "batch=1", Seq((2L, "new doc", "es")).toDF("ID", "TEXT", "LANG"))))
    val got = graft.storage.TxnCatalog.read(spark, root, "docs").get
    assert(got.columns.sorted.toSeq === Seq("ID", "LANG", "TEXT"))
    assert(got.filter($"ID" === 1L).select("LANG").first().isNullAt(0))
    assert(got.filter($"ID" === 2L).select("LANG").as[String].first() === "es")
  }

  test("TxnCatalog snapshot pins partition reads too") {
    val root = tmp("txnsnapp")
    def slice(p: Int) = catalog.filter($"ID_PROCESO" === p)
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=0", slice(0)), ("facts", "ID_PROCESO=2", slice(2))))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.partitions("facts") === Seq("ID_PROCESO=0", "ID_PROCESO=2"))
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "ID_PROCESO=2", slice(2).withColumn("INDICE", lit("NEW")))))
    assert(snap.readPartition("facts", "ID_PROCESO=2").get
      .filter($"INDICE" === "NEW").count() === 0,
      "a pinned snapshot must serve the partition dir its manifest names")
    assert(graft.storage.TxnCatalog
      .readPartition(spark, root, "facts", "ID_PROCESO=2").get
      .filter($"INDICE" === "NEW").count() === 2)
  }

  test("TxnCatalog manifest stats: readWhere skips partitions at manifest cost") {
    val root = tmp("txnstats")
    // three range-disjoint batches with stats on a numeric and a string col
    def batch(ids: Range, tag: String) =
      ids.map(i => (i.toLong, s"$tag$i")).toDF("ID", "INDICE")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "b=0", batch(1 to 10, "a")),
      ("facts", "b=1", batch(11 to 20, "m")),
      ("facts", "b=2", batch(21 to 30, "z"))),
      statsColumns = Seq("ID", "INDICE"))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.stats("facts", "b=0")("ID") ===
      graft.storage.TxnCatalog.ColStat("n", "1", "10", "", Some(0L),
        Some("55")))
    assert(snap.stats("facts", "b=2")("INDICE").kind === "s")
    // numeric bound touching one batch prunes the other two
    assert(snap.partitionsWhere("facts", "ID", 12.0, 15.0) === Seq("b=1"))
    // string bound likewise
    assert(snap.partitionsWhere("facts", "INDICE", "z0", "zz") === Seq("b=2"))
    // kind-mismatched bounds never prune (conservative)
    assert(snap.partitionsWhere("facts", "ID", "12", "15")
      === Seq("b=0", "b=1", "b=2"))
    // readWhere ≡ read + filter, on every bound shape
    val full = snap.read("facts").get
    for ((lo, hi) <- Seq((1.0, 5.0), (8.0, 23.0), (30.0, 99.0))) {
      val expect = full.filter($"ID" >= lo && $"ID" <= hi)
        .select("ID", "INDICE").as[(Long, String)].collect().toSet
      val got = snap.readWhere("facts", "ID", lo, hi).get
        .select("ID", "INDICE").as[(Long, String)].collect().toSet
      assert(got === expect, s"readWhere([$lo,$hi]) diverged from filter")
    }
    // a fully-pruned bound still returns the table's schema, empty
    val none = snap.readWhere("facts", "ID", 500.0, 600.0).get
    assert(none.columns.sorted.toSeq === Seq("ID", "INDICE"))
    assert(none.count() === 0)
  }

  test("TxnCatalog stats pruning follows Spark's binary string order beyond the BMP") {
    val root = tmp("txnbmp")
    // a doc whose stat min/max is an emoji string: UTF-16 code-unit order
    // (Java compareTo) sorts surrogates BELOW [U+E000, U+FFFF], so a Java
    // compare would wrongly prune this partition against a U+E000 bound;
    // Spark's min/max and filters compare UTF-8 bytes (code-point order)
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "b=0", Seq((1L, "😀doc")).toDF("ID", "TEXT"))),
      statsColumns = Seq("TEXT"))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.partitionsWhere("docs", "TEXT", "", "😀zzz")
      === Seq("b=0"))
    val got = snap.readWhere("docs", "TEXT", "", "😀zzz").get
    assert(got.count() === 1, "binary-order bound must reach the emoji doc")
  }

  test("TxnCatalog stats carry forward; stat-less entries read conservatively") {
    val root = tmp("txnstatscf")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "b=0", Seq((1L, "x")).toDF("ID", "INDICE"))),
      statsColumns = Seq("ID"))
    // a later commit of ANOTHER partition without stats: b=0's stats ride
    // the carried-forward manifest entry, b=1 has none
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("facts", "b=1", Seq((100L, "y")).toDF("ID", "INDICE"))))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.stats("facts", "b=0")("ID").max === "1")
    assert(snap.stats("facts", "b=1") === Map.empty)
    // the stat-less partition is never pruned, even by a bound that
    // excludes the statted one
    assert(snap.partitionsWhere("facts", "ID", 50.0, 60.0) === Seq("b=1"))
    assert(snap.readWhere("facts", "ID", 99.0, 101.0).get
      .select("ID").as[Long].collect().toSeq === Seq(100L))
  }

  test("TxnCatalog drops: atomic removal, pinned readers unaffected, vacuum reclaims") {
    val root = tmp("txndrop")
    def b(i: Int) = Seq((i.toLong, s"doc$i")).toDF("ID", "TEXT")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "batch=0", b(0)), ("docs", "batch=1", b(1))))
    val pinned = graft.storage.TxnCatalog.snapshot(spark, root).get
    // drop-only commit (no data staged) removes the entry atomically
    graft.storage.TxnCatalog.commitPartitions(spark, root, Nil,
      drops = Seq(("docs", "batch=0")))
    assert(graft.storage.TxnCatalog.partitions(spark, root, "docs")
      === Seq("batch=1"))
    assert(graft.storage.TxnCatalog.read(spark, root, "docs").get.count() === 1)
    // the pinned pre-drop snapshot still reads the dropped batch
    assert(pinned.readPartition("docs", "batch=0").get.count() === 1)
    // dropping an absent partition fails loudly, publishes nothing
    intercept[IllegalArgumentException] {
      graft.storage.TxnCatalog.commitPartitions(spark, root, Nil,
        drops = Seq(("docs", "batch=7")))
    }
    assert(graft.storage.TxnCatalog.currentTxn(spark, root) === Some(2L))
    // vacuum ages the dropped batch's data out once no manifest names it
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    assert(!new java.io.File(s"$root/docs/batch=0").exists() ||
      new java.io.File(s"$root/docs/batch=0").listFiles().isEmpty,
      "dropped batch data must be reclaimed after its manifests vacuum")
  }

  test("TxnCatalog compaction folds N batch partitions into one, atomically") {
    val root = tmp("txncompact")
    def b(i: Int) = Seq((i.toLong, s"doc$i")).toDF("ID", "TEXT")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "batch=0", b(0)), ("docs", "batch=1", b(1)),
      ("docs", "batch=2", b(2))))
    val before = graft.storage.TxnCatalog.read(spark, root, "docs").get
      .as[(Long, String)].collect().toSet
    val pinned = graft.storage.TxnCatalog.snapshot(spark, root).get
    graft.storage.TxnCatalog.compactPartitions(spark, root, "docs",
      Seq("batch=0", "batch=1", "batch=2"), into = "compact=1",
      statsColumns = Seq("ID"))
    // one partition, same rows, one data file (numFiles = 1)
    assert(graft.storage.TxnCatalog.partitions(spark, root, "docs")
      === Seq("compact=1"))
    assert(graft.storage.TxnCatalog.read(spark, root, "docs").get
      .as[(Long, String)].collect().toSet === before)
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap.stats("docs", "compact=1")("ID") ===
      graft.storage.TxnCatalog.ColStat("n", "0", "2", "", Some(0L),
        Some("3")))
    val dataDir = new java.io.File(s"$root/docs/compact=1").listFiles()
      .filter(_.getName.startsWith("v=")).head
    assert(dataDir.listFiles().count(_.getName.startsWith("part-")) === 1)
    // pinned pre-compaction snapshot still reads the small batches
    assert(pinned.readPartitions("docs",
      Seq("batch=0", "batch=1", "batch=2")).get.count() === 3)
    // a rival commit between snapshot pin and publish fails the
    // compaction (its drops were decided against a stale view)
    intercept[java.io.IOException] {
      graft.storage.TxnCatalog.compactPartitionsHooked(spark, root, "docs",
        Seq("compact=1"), into = "compact=2") { () =>
        graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
          ("docs", "batch=9", b(9))))
      }
    }
    // the failed compaction published nothing: rival's batch + compact=1
    assert(graft.storage.TxnCatalog.partitions(spark, root, "docs")
      === Seq("batch=9", "compact=1"))
    assert(graft.storage.TxnCatalog.read(spark, root, "docs").get.count() === 4)
    // vacuum leaves exactly the live dirs
    graft.storage.TxnCatalog.vacuum(spark, root, keep = 1)
    for (part <- Seq("batch=0", "batch=1", "batch=2")) {
      val d = new java.io.File(s"$root/docs/$part")
      assert(!d.exists() || d.listFiles().isEmpty,
        s"compacted-away $part must be reclaimed")
    }
    assert(graft.storage.TxnCatalog.read(spark, root, "docs").get.count() === 4)
  }

  test("rangePredicate bound snapping is row-set-identical to the double compare") {
    // the pushdown fix rewrites numeric bounds on integral columns as
    // ceil/floor'd long literals — for EVERY bound shape the kept row
    // set must equal the reference cast-to-double comparison
    val longs = (-10L to 10L).map(Tuple1(_)).toDF("V")
    val doubles = (-10L to 10L).map(v => Tuple1(v + 0.5)).toDF("V")
    val bounds: Seq[(Any, Any)] = Seq(
      (3L, 7L), (3, 7), (-10L, 10L),                  // exact integrals
      (2.5, 7.5), (-2.5, 2.5), (3.0, 3.0),            // fractional / point
      (7.9, 8.1), (4.2, 4.8),                          // narrow: 1 and 0 hits
      (-0.5, 0.5), (11.0, 20.0), (-20.0, -11.0),       // edges / empty
      (5.0, 4.0),                                      // inverted → empty
      (Double.NaN, 5.0), (1.0e30, 2.0e30),             // NaN / beyond-Long
      (-1.0e30, 1.0e30))                               // spans everything
    for (df <- Seq(longs, doubles); (lo, hi) <- bounds) {
      def d(v: Any): Double = v match { case n: Number => n.doubleValue() }
      val expect = df.filter(col("V").cast("double") >= d(lo) &&
        col("V").cast("double") <= d(hi)).collect().map(_.get(0)).toSet
      val got = df.filter(
        graft.storage.TxnCatalog.rangePredicate(df, "V", lo, hi))
        .collect().map(_.get(0)).toSet
      assert(got === expect,
        s"bound ($lo, $hi) on ${df.schema("V").dataType} diverged")
    }
    // mixed integral pairs must stay EXACT per side: (Int, Long) used to
    // fall into the double path, where |v| > 2^53 rounds and shifts the
    // bound by a few units
    val big = Seq(9007199254740993L, 9007199254740992L, 5L).toDF("V")
    def rp(lo: Any, hi: Any) = big.filter(
      graft.storage.TxnCatalog.rangePredicate(big, "V", lo, hi))
      .as[Long].collect().toSet
    assert(rp(6, 9007199254740993L) ===
      Set(9007199254740992L, 9007199254740993L),
      "mixed (Int, Long) hi bound rounded down through double")
    assert(rp(9007199254740993L, Long.MaxValue) === Set(9007199254740993L))
    assert(rp(5.toShort, 9007199254740992L) ===
      Set(5L, 9007199254740992L))
  }

  test("TxnCatalog timestamp stats: time-range skipping and ts-axis clustering") {
    val root = tmp("txnts")
    val T = graft.storage.TxnCatalog
    def ts(h: Int, m: Int = 0) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // three hourly event batches; stats on the timestamp and the key
    def batch(h: Int) =
      (0 until 10).map(i => (i.toLong, ts(h, i))).toDF("UID", "TS")
    T.commitPartitions(spark, root,
      (0 until 3).map(h => ("ev", s"b=$h", batch(h))),
      statsColumns = Seq("TS", "UID"))
    val snap = T.snapshot(spark, root).get
    assert(snap.stats("ev", "b=0")("TS").kind === "t")
    // an in-hour bound prunes to its batch — Timestamp and Instant bounds
    assert(snap.partitionsWhere("ev", "TS", ts(1), ts(1, 30)) === Seq("b=1"))
    assert(snap.partitionsWhere("ev", "TS",
      ts(1).toInstant, ts(1, 30).toInstant) === Seq("b=1"))
    // a numeric bound on a timestamp stat never prunes (kind mismatch)
    assert(snap.partitionsWhere("ev", "TS", 0.0, 1.0).size === 3)
    // pruned read ≡ full read + filter
    val full = snap.read("ev").get
      .as[(Long, java.sql.Timestamp)].collect().toSet
    val expect = full.filter(r => !r._2.before(ts(1)) && !r._2.after(ts(1, 30)))
    val got = snap.readWhere("ev", "TS", ts(1), ts(1, 30)).get
      .as[(Long, java.sql.Timestamp)].collect().toSet
    assert(got === expect)
    // the canonical events layout: cluster on (key, time)
    T.clusterPartitions(spark, root, "ev", Seq("b=0", "b=1", "b=2"), "z=",
      "UID", "TS", buckets = 4, bits = 4)
    val after = T.snapshot(spark, root).get
    assert(after.partitions("ev").forall(_.startsWith("z=")))
    assert(after.read("ev").get
      .as[(Long, java.sql.Timestamp)].collect().toSet === full)
    // time skipping stays live on the clustered tiles
    val keep = after.partitionsWhere("ev", "TS", ts(0), ts(0, 30))
    assert(keep.size < after.partitions("ev").size,
      s"time bound kept all ${keep.size} tiles — ts stats lost in the rewrite")
  }

  test("TwinCommit appends carry stats: streamed batches prunable from day one") {
    val root = tmp("twinstats")
    // two micro-batches of hash-like keys with overlapping lexical
    // ranges; stats + blooms requested at append time, no compaction
    def cat(ks: Seq[String]) = ks.map(k => (k, s"/lake/$k")).toDF("HASH", "RUTA")
    def lin(ks: Seq[String]) = ks.map(k => (1L, k)).toDF("RUN", "HASH")
    graft.storage.TwinCommit.append(spark, root, "b0",
      cat(Seq("h0", "h2")), "catalog", lin(Seq("h0")), "lineage",
      statsColumns = Seq("HASH", "RUN"), bloomColumns = Seq("HASH"))
    graft.storage.TwinCommit.append(spark, root, "b1",
      cat(Seq("h1", "h3")), "catalog", lin(Seq("h3")), "lineage",
      statsColumns = Seq("HASH", "RUN"), bloomColumns = Seq("HASH"))
    val snap = graft.storage.TxnCatalog.snapshot(spark, root).get
    // ranges overlap ([h0,h2] vs [h1,h3]) so min/max keeps both; the
    // bloom routes the point probe to the owning batch on BOTH tables
    assert(snap.partitionsWhereEq("catalog", "HASH", "h1") === Seq("batch=b1"))
    assert(snap.partitionsWhereEq("lineage", "HASH", "h0") === Seq("batch=b0"))
    // a stat column absent from one table's schema is skipped, not fatal:
    // RUN stats exist on lineage, not on catalog
    assert(snap.stats("lineage", "batch=b0").contains("RUN"))
    assert(!snap.stats("catalog", "batch=b0").contains("RUN"))
    // compaction preserves the skipping story when asked
    graft.storage.TwinCommit.compactBatches(spark, root, Seq("b0", "b1"),
      "c1", "catalog", "lineage",
      statsColumns = Seq("HASH"), bloomColumns = Seq("HASH"))
    val snap2 = graft.storage.TxnCatalog.snapshot(spark, root).get
    assert(snap2.partitions("catalog") === Seq("batch=c1"))
    assert(snap2.stats("catalog", "batch=c1")("HASH").bloom.nonEmpty)
    assert(snap2.readWhereEq("catalog", "HASH", "h2").get
      .as[(String, String)].collect().toSet === Set(("h2", "/lake/h2")))
  }

  test("TxnCatalog bloom stats: point lookups prune where min/max cannot") {
    val root = tmp("txnbloom")
    val T = graft.storage.TxnCatalog
    // three batches of hash-like keys, every batch spanning the full
    // lexical/numeric range: range stats keep ALL partitions for any
    // point probe, the recorded Blooms rule out the two non-owners
    def batch(k: Int) = (0 until 200)
      .map(i => (f"h$i%03d-b$k", (i * 3 + k).toLong)).toDF("KEY", "ID")
    T.commitPartitions(spark, root,
      (0 until 3).map(k => ("facts", s"batch=$k", batch(k))),
      statsColumns = Seq("KEY", "ID"), bloomColumns = Seq("KEY", "ID"))
    val snap = T.snapshot(spark, root).get
    assert(snap.stats("facts", "batch=0")("KEY").bloom.nonEmpty,
      "bloom must survive the manifest round trip")
    // range pruning alone is blind here (all ranges overlap)…
    assert(snap.partitionsWhere("facts", "KEY", "h050-b1", "h050-b1").size === 3)
    // …the bloom answers "definitely absent" for the two non-owners
    assert(snap.partitionsWhereEq("facts", "KEY", "h050-b1") === Seq("batch=1"))
    // numeric point probe goes through the same string rendering
    assert(snap.partitionsWhereEq("facts", "ID", 7L) === Seq("batch=1"))
    // pruned read ≡ full read + filter
    val got = snap.readWhereEq("facts", "KEY", "h050-b1").get
      .as[(String, Long)].collect().toSet
    assert(got === Set(("h050-b1", 151L)))
    // the equality predicate reaches the surviving partition's scan
    val plan = snap.readWhereEq("facts", "ID", 7L).get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("(ID,7)"),
      s"readWhereEq predicate not pushed to the scan:\n$plan")
    // an absent key prunes everything yet still returns schema, empty
    val none = snap.readWhereEq("facts", "KEY", "h050-b9").get
    assert(none.columns.sorted.toSeq === Seq("ID", "KEY"))
    assert(none.count() === 0)
    // bloom-less stats fall back to range-only pruning: a probe inside
    // the range is kept even though the value is absent (conservative)
    T.commitPartitions(spark, root, Seq(
      ("plain", "b=0", Seq(("a", 1L), ("c", 2L)).toDF("KEY", "ID")),
      ("plain", "b=1", Seq(("x", 3L), ("z", 4L)).toDF("KEY", "ID"))),
      statsColumns = Seq("KEY"))
    val snap2 = T.snapshot(spark, root).get
    assert(snap2.partitionsWhereEq("plain", "KEY", "b") === Seq("b=0"))
    // blooms carry forward with untouched entries across commits
    assert(snap2.stats("facts", "batch=2")("ID").bloom.nonEmpty)
    assert(snap2.partitionsWhereEq("facts", "KEY", "h050-b1") === Seq("batch=1"))
  }

  test("TxnCatalog Z-order clustering: readWhere prunes BOTH dimensions after rewrite") {
    val root = tmp("txnzorder")
    val T = graft.storage.TxnCatalog
    // 8 append-order time batches over a 64×64 (uid, t) grid: each batch
    // holds a t-slice but spans the FULL uid range, so manifest stats
    // prune on t and on nothing else — the layout clustering exists to fix
    def slice(k: Int) = (for (t <- k * 8 until (k + 1) * 8; u <- 0 until 64)
      yield (u.toLong, t.toLong, s"e$u-$t")).toDF("UID", "T", "PAYLOAD")
    val batches = (0 until 8).map(k => s"batch=$k")
    T.commitPartitions(spark, root,
      (0 until 8).map(k => ("events", s"batch=$k", slice(k))),
      statsColumns = Seq("UID", "T"))
    val before = T.snapshot(spark, root).get
    assert(before.partitionsWhere("events", "T", 0.0, 7.0) === Seq("batch=0"))
    assert(before.partitionsWhere("events", "UID", 8.0, 15.0).size === 8,
      "append layout cannot prune on uid — every batch spans all uids")
    val rows = before.read("events").get
      .as[(Long, Long, String)].collect().toSet

    T.clusterPartitions(spark, root, "events", batches, "z=",
      "UID", "T", buckets = 16, bits = 3)
    val after = T.snapshot(spark, root).get
    val parts = after.partitions("events")
    assert(parts.nonEmpty && parts.forall(_.startsWith("z=")),
      "sources must be dropped in the same txn that publishes the tiles")
    // row set is invariant under the reorg
    assert(after.read("events").get
      .as[(Long, Long, String)].collect().toSet === rows)
    // tiles bound BOTH dimensions: a uid bound now prunes too, and the
    // t bound keeps pruning
    val uidKeep = after.partitionsWhere("events", "UID", 8.0, 15.0)
    val tKeep = after.partitionsWhere("events", "T", 0.0, 7.0)
    assert(uidKeep.size <= parts.size / 2,
      s"uid bound kept ${uidKeep.size} of ${parts.size} tiles — no pruning")
    assert(tKeep.size <= parts.size / 2,
      s"t bound kept ${tKeep.size} of ${parts.size} tiles — no pruning")
    // readWhere ≡ read + filter on the newly-prunable dimension
    val expect = rows.filter(r => r._1 >= 8L && r._1 <= 15L)
    val got = after.readWhere("events", "UID", 8.0, 15.0).get
      .as[(Long, Long, String)].collect().toSet
    assert(got === expect, "pruned read diverged from full filter")
    // a conjunctive 2-D bound prunes the tile grid on BOTH axes at once:
    // strictly fewer tiles than either single-column bound keeps
    val both = after.partitionsWhereAll("events",
      Seq(("UID", 8.0, 15.0), ("T", 0.0, 7.0)))
    assert(both.size < math.min(uidKeep.size, tKeep.size),
      s"2-D bound kept ${both.size} tiles, 1-D kept " +
        s"${uidKeep.size}/${tKeep.size} — no conjunctive pruning")
    val expect2 = rows.filter(r =>
      r._1 >= 8L && r._1 <= 15L && r._2 >= 0L && r._2 <= 7L)
    val got2 = after.readWhereAll("events",
      Seq(("UID", 8.0, 15.0), ("T", 0.0, 7.0))).get
      .as[(Long, Long, String)].collect().toSet
    assert(got2 === expect2, "conjunctive pruned read diverged from filter")
    // two-level skipping: the residual predicate must also reach the
    // parquet scan of the surviving tiles (row-group stats are tight
    // because tiles are written Z-sorted), not sit in a post-scan Filter
    val plan = after.readWhereAll("events",
      Seq(("UID", 8.0, 15.0), ("T", 0.0, 7.0))).get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(UID,8"),
      s"readWhereAll predicate not pushed to the scan:\n$plan")
  }

  test("TxnCatalog N-dim clustering: three-axis tiles prune on every dimension") {
    val root = tmp("txnz3")
    val T = graft.storage.TxnCatalog
    // a 8×8×8 (A, B, C) cube committed as 4 C-slices: pre-cluster, only
    // C carries usable stats; post-cluster every axis prunes
    def slice(k: Int) = (for (a <- 0 until 8; b <- 0 until 8;
      c <- k * 2 until (k + 1) * 2)
      yield (a.toLong, b.toLong, c.toLong)).toDF("A", "B", "C")
    T.commitPartitions(spark, root,
      (0 until 4).map(k => ("cube", s"batch=$k", slice(k))),
      statsColumns = Seq("A", "B", "C"))
    val rows = T.snapshot(spark, root).get.read("cube").get
      .as[(Long, Long, Long)].collect().toSet
    T.clusterPartitionsN(spark, root, "cube",
      (0 until 4).map(k => s"batch=$k"), "z=", Seq("A", "B", "C"),
      buckets = 16, bits = 2)
    val after = T.snapshot(spark, root).get
    val parts = after.partitions("cube")
    assert(parts.forall(_.startsWith("z=")))
    assert(after.read("cube").get
      .as[(Long, Long, Long)].collect().toSet === rows)
    for (axis <- Seq("A", "B", "C")) {
      // pruning strength rises with the axis' Z-bit significance (the
      // LAST dim holds the top bit): every axis must prune, the earlier
      // ones just prune less
      val keep = after.partitionsWhere("cube", axis, 0.0, 1.0)
      assert(keep.size <= parts.size - 3,
        s"$axis bound kept ${keep.size} of ${parts.size} tiles")
      val expect = rows.filter { r =>
        val v = axis match { case "A" => r._1; case "B" => r._2; case _ => r._3 }
        v >= 0L && v <= 1L
      }
      val got = after.readWhere("cube", axis, 0.0, 1.0).get
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expect, s"pruned read on $axis diverged")
    }
  }

  test("TxnCatalog bloom probes are type-aligned: cross-type probes never false-prune") {
    val root = tmp("txnbloomtype")
    val T = graft.storage.TxnCatalog
    // a DOUBLE key column, batches interleaved so ranges overlap and the
    // bloom is the only thing that can prune. The regression this pins:
    // the bloom hashes Spark's rendering of the column ("7.0"), and an
    // integral probe for the same value used to hash "7" — a false
    // "definitely absent" that silently dropped the OWNING partition.
    def dbl(k: Int) = (0 until 100)
      .map(i => Tuple1((i * 2 + k).toDouble)).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("dbl", s"b=$k", dbl(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap = T.snapshot(spark, root).get
    // value 7.0 lives in b=1; an Int/Long probe must route there, not
    // prune it (Spark's equality coerces 7 to 7.0 and WOULD match rows)
    assert(snap.partitionsWhereEq("dbl", "K", 7) === Seq("b=1"))
    assert(snap.partitionsWhereEq("dbl", "K", 7L) === Seq("b=1"))
    assert(snap.partitionsWhereEq("dbl", "K", 7.0) === Seq("b=1"))
    assert(snap.readWhereEq("dbl", "K", 7L).get
      .as[Double].collect().toSeq === Seq(7.0))
    // the mirror case: BIGINT column, Double probe
    def lng(k: Int) = (0 until 100)
      .map(i => Tuple1((i * 2 + k).toLong)).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("lng", s"b=$k", lng(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap2 = T.snapshot(spark, root).get
    assert(snap2.partitionsWhereEq("lng", "K", 8.0) === Seq("b=0"))
    assert(snap2.readWhereEq("lng", "K", 8.0).get
      .as[Long].collect().toSeq === Seq(8L))
    // DECIMAL column: integral and double probes share the canonical
    // scale-18 rendering with the stored decimal values
    def dcm(k: Int) = (0 until 100)
      .map(i => Tuple1(BigDecimal(i * 2 + k).setScale(2))).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("dcm", s"b=$k", dcm(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap3 = T.snapshot(spark, root).get
    assert(snap3.partitionsWhereEq("dcm", "K", 7) === Seq("b=1"))
    assert(snap3.partitionsWhereEq("dcm", "K", 8.0) === Seq("b=0"))
    // a probe with NO exact rendering for the kind keeps everything:
    // an Int probe on a STRING column can match "7" and "07" under
    // Spark's coercion, so the bloom must not bet on one rendering
    def str(k: Int) = (0 until 100)
      .map(i => Tuple1(f"${i * 2 + k}%03d")).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("str", s"b=$k", str(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap4 = T.snapshot(spark, root).get
    assert(snap4.partitionsWhereEq("str", "K", 7).size === 2,
      "numeric probe on a string bloom must stay conservative")
    assert(snap4.partitionsWhereEq("str", "K", "007") === Seq("b=1"))
    // fractional probe of a value no integral column can hold: range
    // stats already say impossible — bloom mismatch must not matter
    assert(snap2.readWhereEq("lng", "K", 8.5).get.count() === 0)
  }

  test("TxnCatalog bloom capacity scales with staged rows: 50k-distinct partitions still prune") {
    val root = tmp("txnbloomcap")
    val T = graft.storage.TxnCatalog
    // 50k distinct even keys in one partition — a fixed 4k-capacity
    // bloom saturates here (FPP ≈ 1, every probe a false positive) and
    // equality skipping silently degrades to range-only; sized from the
    // staged row count it keeps its design FPP. The small partition's
    // odd keys sit INSIDE the big partition's [0, 99998] range, so range
    // stats cannot do the work.
    val big = spark.range(0, 50000).select((col("id") * 2).as("K"))
    val small = Seq(1L, 50001L, 99001L).toDF("K")
    T.commitPartitions(spark, root,
      Seq(("facts", "p=big", big), ("facts", "p=small", small)),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap = T.snapshot(spark, root).get
    // range overlap: both partitions survive a range probe
    assert(snap.partitionsWhere("facts", "K", 50000.0, 50002.0).size === 2)
    // the point probe for an odd key must rule the 50k partition out
    assert(snap.partitionsWhereEq("facts", "K", 50001L) === Seq("p=small"),
      "a saturated bloom would keep p=big here")
    assert(snap.readWhereEq("facts", "K", 50001L).get
      .as[Long].collect().toSeq === Seq(50001L))
    // …and an even key still routes to its owner (no false negatives)
    assert(snap.partitionsWhereEq("facts", "K", 4242L) === Seq("p=big"))
  }

  test("TxnCatalog IN-list skipping: readWhereIn unions the per-value prunes") {
    val root = tmp("txnin")
    val T = graft.storage.TxnCatalog
    // four pmod batches — overlapping ranges, bloom-routed points
    def batch(k: Int) = (0 until 100)
      .map(i => Tuple1((i * 4 + k).toLong)).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 4).map(k => ("facts", s"b=$k", batch(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap = T.snapshot(spark, root).get
    // values from two of the four batches: exactly those survive
    assert(snap.partitionsWhereIn("facts", "K", Seq(41L, 42L))
      === Seq("b=1", "b=2"))
    assert(snap.readWhereIn("facts", "K", Seq(41L, 42L)).get
      .as[Long].collect().toSet === Set(41L, 42L))
    // cross-type probes behave like readWhereEq's: Int probes on a
    // BIGINT column stay exact, fractional values match nothing and
    // prune everything on their own
    assert(snap.readWhereIn("facts", "K", Seq(41, 42.0)).get
      .as[Long].collect().toSet === Set(41L, 42L))
    assert(snap.readWhereIn("facts", "K", Seq(41.5, 42.5)).get.count() === 0)
    // the IN filter pushes to the scan in the column's own type
    val plan = snap.readWhereIn("facts", "K", Seq(41L, 42.0)).get
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("In(K, [41,42])"),
      s"IN-list not pushed type-aligned:\n$plan")
    // ≡ read + isin on the full table
    val all = snap.read("facts").get.as[Long].collect().toSet
    val probe = Seq(3L, 7L, 999999L)
    assert(snap.readWhereIn("facts", "K", probe).get
      .as[Long].collect().toSet === all.intersect(probe.toSet))
  }

  test("TxnCatalog diffData: incremental consumers skip pure reorganizations") {
    val root = tmp("txndiffdata")
    val T = graft.storage.TxnCatalog
    def b(ids: Long*) = ids.map(i => (i, i * 10.0)).toDF("ID", "V")
    T.commitPartitions(spark, root, Seq(("t", "batch=0", b(0L, 8L))))  // txn 1
    T.commitPartitions(spark, root, Seq(("t", "batch=1", b(1L, 9L))))  // txn 2
    // a consumer catches up fully at txn 2…
    val seen = T.currentTxn(spark, root).get
    assert(seen === 2L)
    // …then an OPTIMIZE lands: generation 1 clusters both batches (txn 3)
    assert(T.maintainClustered(spark, root, "t", Seq("V", "ID"),
      minBatches = 2, buckets = 2, bits = 2).contains(3L))
    // the full diff reports the reorg; diffData reports NOTHING new —
    // the consumer pays zero reads for the rewrite
    assert(T.diff(spark, root, seen, 3L).nonEmpty)
    assert(T.diffData(spark, root, seen, 3L) === Nil,
      "a pure clustering rewrite must be invisible to data consumers")
    // compaction is equally invisible: fold fresh batches elsewhere
    T.commitPartitions(spark, root, Seq(("u", "batch=0", b(0L))))    // txn 4
    T.commitPartitions(spark, root, Seq(("u", "batch=1", b(1L))))    // txn 5
    T.compactPartitions(spark, root, "u", Seq("batch=0", "batch=1"), "c=0")
    assert(T.diffData(spark, root, 5L, 6L) === Nil)
    assert(T.diffData(spark, root, 4L, 6L) ===
      Seq(T.EntryChange("u", "c=0", "added")),
      "the fold's data IS new to a txn-4 consumer (batch=1 landed at 5)")
    // new data then generation 2: diffData hands the consumer exactly
    // the new generation's tiles, never generation 1
    T.commitPartitions(spark, root, Seq(("t", "batch=2", b(2L, 6L)))) // txn 7
    T.commitPartitions(spark, root, Seq(("t", "batch=3", b(3L, 7L)))) // txn 8
    assert(T.maintainClustered(spark, root, "t", Seq("V", "ID"),
      minBatches = 2, buckets = 2, bits = 2).contains(9L))
    val changes = T.diffData(spark, root, seen, 9L)
    // u's fold IS new data to this consumer (its sources landed after
    // txn 2); t contributes generation-2 tiles ONLY — generation 1 and
    // every dropped batch stay invisible
    assert(changes.filter(_.table == "u") ===
      Seq(T.EntryChange("u", "c=0", "added")))
    val tChanges = changes.filter(_.table == "t")
    assert(tChanges.nonEmpty && tChanges.forall(c =>
      c.partition.startsWith("z8-") && c.change == "added"),
      s"expected only generation-2 tiles for t, got $changes")
    // reading exactly those entries yields exactly the unseen rows
    val snap = T.snapshotAt(spark, root, 9L)
    val got = tChanges.map(c => snap.readPartition("t", c.partition).get)
      .reduce(_ unionByName _).as[(Long, Double)].collect().toSet
    assert(got === Set((2L, 20.0), (6L, 60.0), (3L, 30.0), (7L, 70.0)))
  }

  test("TxnCatalog manifest compatibility: legacy lines parse, legacy blooms stay conservative") {
    val root = tmp("txncompat")
    val T = graft.storage.TxnCatalog
    def b(k: Int) = (0 until 50)
      .map(i => Tuple1(f"h${i * 2 + k}%03d")).toDF("K")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("t", s"b=$k", b(k))),
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val txn = T.currentTxn(spark, root).get
    // simulate a manifest written by an OLDER library version: strip the
    // bloom version prefix (legacy raw-base64 blooms) on b=0 and tack an
    // UNKNOWN future property onto b=1's line
    val p = new org.apache.hadoop.fs.Path(s"$root/_txns/$txn")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val rewritten = body.linesIterator.filter(_.nonEmpty).map { line =>
      if (line.startsWith("t\tb=0")) line.replace("2%3A", "") // URL-enc "2:"
      else if (line.split('\t').length >= 5) line + ",future=1"
      else line + "\tfuture=1"
    }.mkString("", "\n", "\n")
    val out = fs.create(p, true)
    out.write(rewritten.getBytes("UTF-8"))
    out.close()
    val snap = T.snapshot(spark, root).get
    // legacy bloom: String probes on the string column are still exact
    // and still prune; nothing was lost
    assert(snap.stats("t", "b=0")("K").bloom.nonEmpty &&
      !snap.stats("t", "b=0")("K").bloom.startsWith("2:"))
    assert(snap.partitionsWhereEq("t", "K", "h050") === Seq("b=0"))
    // unknown future props are ignored, the entry reads fine
    assert(snap.readPartition("t", "b=1").get.count() === 50)
    // pre-props lines (the round-6 3/4-field forms) still parse: strip
    // every 5th field and re-read
    val legacy = rewritten.linesIterator.filter(_.nonEmpty).map { line =>
      line.split('\t').take(4).mkString("\t")
    }.mkString("", "\n", "\n")
    val out2 = fs.create(p, true)
    out2.write(legacy.getBytes("UTF-8"))
    out2.close()
    val snap2 = T.snapshot(spark, root).get
    assert(snap2.partitions("t") === Seq("b=0", "b=1"))
    assert(snap2.rowCount("t") === None,
      "count-less legacy entries must answer None, not a guess")
    assert(snap2.read("t").get.count() === 100)
  }

  test("TxnCatalog metadata-only aggregates: rowCount and columnBounds at manifest cost") {
    val root = tmp("txnmeta")
    val T = graft.storage.TxnCatalog
    def b(ids: Long*) = ids.map(i => (i, s"d$i")).toDF("ID", "NAME")
    T.commitPartitions(spark, root, Seq(
      ("t", "batch=0", b(3L, 9L, 9L)),
      ("t", "batch=1", b(1L, 7L))),
      statsColumns = Seq("ID", "NAME"))
    val snap = T.snapshot(spark, root).get
    // COUNT(*) answered from the manifest — exact, zero file reads
    assert(snap.rowCount("t") === Some(5L))
    assert(snap.rowCount("t", "batch=0") === Some(3L))
    // MIN/MAX folded across entries, kind-true
    val idB = snap.columnBounds("t", "ID").get
    assert(idB.kind === "n" && idB.min.toDouble === 1.0 && idB.max.toDouble === 9.0)
    val nmB = snap.columnBounds("t", "NAME").get
    assert(nmB.min === "d1" && nmB.max === "d9")
    // counts survive reorganizations (stats are re-measured on the fold)
    T.compactPartitions(spark, root, "t", Seq("batch=0", "batch=1"), "c=0",
      statsColumns = Seq("ID"))
    val snap2 = T.snapshot(spark, root).get
    assert(snap2.rowCount("t") === Some(5L))
    // a stat-less entry still records its ROW COUNT (driver-direct
    // from the staged footers), so count(*) keeps folding — but the
    // column answers refuse: no stat, no guess
    T.commitPartitions(spark, root, Seq(("t", "batch=2", b(2L))))
    val snap3 = T.snapshot(spark, root).get
    assert(snap3.rowCount("t") === Some(6L))
    assert(snap3.columnBounds("t", "ID") === None)
    assert(snap3.rowCount("missing") === None)
    // numeric fold is exact past 2^53 (BigDecimal, not double)
    T.commitPartitions(spark, root, Seq(
      ("big", "b=0", Seq(Tuple1(9007199254740993L)).toDF("V")),
      ("big", "b=1", Seq(Tuple1(9007199254740992L)).toDF("V"))),
      statsColumns = Seq("V"))
    val vb = T.snapshot(spark, root).get.columnBounds("big", "V").get
    assert(vb.min === "9007199254740992" && vb.max === "9007199254740993")
  }

  test("TxnCatalog multi-file Z-buckets: filesPerBucket parallelizes the write, reads unchanged") {
    val root = tmp("txnzmulti")
    val T = graft.storage.TxnCatalog
    def slice(k: Int) = (for (t <- k * 8 until (k + 1) * 8; u <- 0 until 64)
      yield (u.toLong, t.toLong, s"e$u-$t")).toDF("UID", "T", "PAYLOAD")
    T.commitPartitions(spark, root,
      (0 until 8).map(k => ("events", s"batch=$k", slice(k))),
      statsColumns = Seq("UID", "T"))
    val rows = T.snapshot(spark, root).get.read("events").get
      .as[(Long, Long, String)].collect().toSet
    T.clusterPartitions(spark, root, "events",
      (0 until 8).map(k => s"batch=$k"), "z=",
      "UID", "T", buckets = 16, bits = 3, filesPerBucket = 3)
    val after = T.snapshot(spark, root).get
    val parts = after.partitions("events")
    assert(parts.nonEmpty && parts.forall(_.startsWith("z=")))
    // the scale fix this pins: each bucket is written by filesPerBucket
    // range-partitioned tasks, not one coalesce(1) task — visible as N
    // data files per tile instead of 1
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileCounts = parts.map { p =>
      val dir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/events/$p"))
        .filter(_.isDirectory).map(_.getPath).head
      fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(fileCounts.exists(_ > 1),
      s"every tile still single-file ($fileCounts) — bucket write not parallelized")
    assert(fileCounts.forall(_ <= 3), s"more files than filesPerBucket: $fileCounts")
    // reads and skipping are unaffected by the intra-bucket split:
    // row set invariant, per-partition stats still prune both axes
    assert(after.read("events").get
      .as[(Long, Long, String)].collect().toSet === rows)
    val uidKeep = after.partitionsWhere("events", "UID", 8.0, 15.0)
    assert(uidKeep.size <= parts.size / 2,
      s"uid bound kept ${uidKeep.size} of ${parts.size} tiles")
    val expect = rows.filter(r => r._1 >= 8L && r._1 <= 15L)
    assert(after.readWhere("events", "UID", 8.0, 15.0).get
      .as[(Long, Long, String)].collect().toSet === expect)
  }

  test("TxnCatalog auto filesPerBucket: a big bucket lands >1 file with no caller knob") {
    val root = tmp("txnzauto")
    val T = graft.storage.TxnCatalog
    // high-entropy payload so parquet can't compress the bytes away —
    // the auto-sizing reads SOURCE bytes, and the r6 scale-killer this
    // pins is a caller who passes no knob getting coalesce(1) on GBs
    def slice(k: Int) = spark.range(k * 30000, (k + 1) * 30000)
      .select(col("id").as("UID"), (col("id") % 100).as("T"),
        sha2(concat_ws("-", col("id"), lit(k)), 256).as("PAYLOAD"))
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("events", s"batch=$k", slice(k))),
      statsColumns = Seq("UID", "T"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // tiny reader splits stand in for fact-table scale: ~6 MB of
      // source over 2 buckets at the 1 MB target floor must auto-split
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
      T.clusterPartitions(spark, root, "events",
        Seq("batch=0", "batch=1"), "z=", "UID", "T",
        buckets = 2, bits = 3) // no filesPerBucket argument
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    val after = T.snapshot(spark, root).get
    val parts = after.partitions("events")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileCounts = parts.map { p =>
      val dir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/events/$p"))
        .filter(_.isDirectory).map(_.getPath).head
      fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(fileCounts.exists(_ > 1),
      s"auto sizing still wrote single files: $fileCounts")
    assert(after.read("events").get.count() === 60000L)
    // and a SMALL table keeps the single-file-per-bucket layout
    val root2 = tmp("txnzauto2")
    T.commitPartitions(spark, root2, Seq(
      ("t", "batch=0", (0 until 64).map(i => (i.toLong, i.toLong)).toDF("A", "B"))))
    T.clusterPartitions(spark, root2, "t", Seq("batch=0"), "z=", "A", "B",
      buckets = 2, bits = 3)
    val smallCounts = T.snapshot(spark, root2).get.partitions("t").map { p =>
      val dir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root2/t/$p"))
        .filter(_.isDirectory).map(_.getPath).head
      fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(smallCounts.forall(_ === 1),
      s"small buckets must stay single-file: $smallCounts")
  }

  test("TxnCatalog clustering carries blooms: point-lookup skipping survives OPTIMIZE") {
    val root = tmp("txnzbloom")
    val T = graft.storage.TxnCatalog
    // interleaved keys so every batch spans the key range; blooms at
    // commit, and — the point of this test — blooms re-measured on the
    // clustered tiles, so readWhereEq keeps pruning after the rewrite
    def b(k: Int) = (0 until 200)
      .map(i => ((i * 2 + k).toLong, (i % 7).toLong)).toDF("K", "V")
    T.commitPartitions(spark, root,
      (0 until 2).map(k => ("t", s"batch=$k", b(k))),
      statsColumns = Seq("K", "V"), bloomColumns = Seq("K"))
    T.clusterPartitionsN(spark, root, "t", Seq("batch=0", "batch=1"),
      "z=", Seq("V", "K"), buckets = 4, bits = 4,
      bloomColumns = Seq("K"))
    val snap = T.snapshot(spark, root).get
    val parts = snap.partitions("t")
    assert(parts.forall(p => snap.stats("t", p).get("K")
        .exists(_.bloom.nonEmpty)),
      "tiles lost their blooms in the rewrite")
    assert(snap.readWhereEq("t", "K", 41L).get
      .as[(Long, Long)].collect().toSeq === Seq((41L, 6L)))
    // compaction keeps them too (single-table path; the twin path is
    // covered by the TwinCommit stats spec)
    T.compactPartitions(spark, root, "t", parts, "c=0",
      statsColumns = Seq("K"), bloomColumns = Seq("K"))
    val snap2 = T.snapshot(spark, root).get
    assert(snap2.stats("t", "c=0")("K").bloom.nonEmpty)
    assert(snap2.readWhereEq("t", "K", 41L).get.count() === 1)
  }

  test("TxnCatalog all-null cluster dimension fails with the dimension's name") {
    val root = tmp("txnznull")
    val T = graft.storage.TxnCatalog
    val df = (0 until 8).map(i => (i.toLong, i.toLong)).toDF("A", "B")
      .withColumn("C", lit(null).cast("double"))
    T.commitPartitions(spark, root, Seq(("t", "b=0", df)),
      statsColumns = Seq("A"))
    val e = intercept[IllegalArgumentException] {
      T.clusterPartitionsN(spark, root, "t", Seq("b=0"), "z=",
        Seq("A", "C"), buckets = 2, bits = 2)
    }
    assert(e.getMessage.contains("'C'"),
      s"error must name the all-null dimension: ${e.getMessage}")
  }

  test("TxnCatalog maintainClustered: threshold-gated generational clustering") {
    val root = tmp("txnmaint")
    val T = graft.storage.TxnCatalog
    def slice(k: Int) = (for (u <- 0 until 32)
      yield (u.toLong, k.toLong)).toDF("UID", "T")
    def append(k: Int): Unit = T.commitPartitions(spark, root,
      Seq(("ev", s"batch=$k", slice(k))))
    (0 until 3).foreach(append)
    // below the threshold: no-op, batches untouched
    assert(T.maintainClustered(spark, root, "ev", Seq("T", "UID"),
      minBatches = 4, buckets = 4, bits = 3) === None)
    assert(T.partitions(spark, root, "ev").forall(_.startsWith("batch=")))
    // 4th batch arms the gate: exactly the pending batches are clustered
    append(3)
    val txn1 = T.maintainClustered(spark, root, "ev", Seq("T", "UID"),
      minBatches = 4, buckets = 4, bits = 3)
    assert(txn1.nonEmpty)
    val gen1 = T.partitions(spark, root, "ev")
    assert(gen1.nonEmpty && gen1.forall(_.startsWith("z")),
      s"pending batches must fold into generation tiles: $gen1")
    // next batches accumulate again; tiles are NOT re-consumed
    (4 until 8).foreach(append)
    assert(T.partitions(spark, root, "ev")
      .count(_.startsWith("batch=")) === 4)
    val txn2 = T.maintainClustered(spark, root, "ev", Seq("T", "UID"),
      minBatches = 4, buckets = 4, bits = 3)
    assert(txn2.nonEmpty && txn2 != txn1)
    val parts = T.partitions(spark, root, "ev")
    assert(parts.forall(_.startsWith("z")) && parts.toSet.size > gen1.size,
      "second pass must add a NEW generation, not rewrite the first")
    // the maintained lake answers exactly like the logical table…
    val snap = T.snapshot(spark, root).get
    val all = (0 until 8).flatMap(k => (0 until 32).map(u => (u.toLong, k.toLong))).toSet
    assert(snap.read("ev").get.as[(Long, Long)].collect().toSet === all)
    val got = snap.readWhere("ev", "UID", 0.0, 7.0).get
      .as[(Long, Long)].collect().toSet
    assert(got === all.filter(_._1 <= 7L))
    // …and prunes across BOTH generations uniformly
    val keep = snap.partitionsWhere("ev", "UID", 0.0, 7.0)
    assert(keep.size < parts.size,
      s"uid bound kept all ${parts.size} generation tiles")
    // full re-optimization folds the generations back to ONE tiling:
    // row set invariant, a window now overlaps at most one tile run
    // instead of one per generation, and diffData consumers skip it
    val seen = T.currentTxn(spark, root).get
    T.reclusterFull(spark, root, "ev", Seq("T", "UID"),
      buckets = 4, bits = 3)
    val after = T.snapshot(spark, root).get
    assert(after.partitions("ev").size <= 4 &&
      after.partitions("ev").forall(_.startsWith(s"z$seen-")))
    assert(after.read("ev").get.as[(Long, Long)].collect().toSet === all)
    val keep2 = after.partitionsWhere("ev", "UID", 0.0, 7.0)
    assert(keep2.size <= keep.size,
      s"one tiling must not prune worse than two generations")
    assert(T.diffData(spark, root, seen, after.txn) === Nil,
      "a full recluster is a pure reorg — invisible to data consumers")
  }

  test("TxnCatalog clustering is conditional: a rival commit in the window fails it") {
    val root = tmp("txnzaba")
    val T = graft.storage.TxnCatalog
    def b(i: Int) = Seq((i.toLong, i.toLong * 2)).toDF("A", "B")
    T.commitPartitions(spark, root,
      Seq(("m", "batch=0", b(1)), ("m", "batch=1", b(2))))
    intercept[java.io.IOException] {
      T.clusterPartitionsHooked(spark, root, "m",
        Seq("batch=0", "batch=1"), "z=", Seq("A", "B"), 4, 8, Nil) { () =>
        // rival rewrites a SOURCE partition between pin and publish —
        // unconditional clustering would publish drops decided against a
        // stale view and silently discard this write
        T.commitPartitions(spark, root, Seq(("m", "batch=0", b(9))))
      }
    }
    // the rival's write survives; the failed clustering changed nothing
    val snap = T.snapshot(spark, root).get
    assert(snap.partitions("m") === Seq("batch=0", "batch=1"))
    assert(snap.readPartition("m", "batch=0").get
      .as[(Long, Long)].collect().toSet === Set((9L, 18L)))
  }

  test("TxnCatalog diff across a compaction: pure reorg, row set invariant") {
    val root = tmp("txndiffc")
    def b(i: Int) = Seq((i.toLong, s"doc$i")).toDF("ID", "TEXT")
    graft.storage.TxnCatalog.commitPartitions(spark, root, Seq(
      ("docs", "batch=0", b(0)), ("docs", "batch=1", b(1))))
    val from = graft.storage.TxnCatalog.currentTxn(spark, root).get
    val to = graft.storage.TxnCatalog.compactPartitions(spark, root, "docs",
      Seq("batch=0", "batch=1"), into = "compact=1")
    // an incremental consumer sees the fold as removes + one add…
    val changes = graft.storage.TxnCatalog.diff(spark, root, from, to)
      .map(c => (c.partition, c.change))
    assert(changes === Seq(("batch=0", "removed"), ("batch=1", "removed"),
      ("compact=1", "added")))
    // …but the row set is INVARIANT across the txn — the signal that the
    // "added" partition is reorganization, not new data, so re-running an
    // idempotent consumer over it must be a no-op by content
    val before = graft.storage.TxnCatalog.snapshotAt(spark, root, from)
      .read("docs").get.as[(Long, String)].collect().toSet
    val after = graft.storage.TxnCatalog.snapshotAt(spark, root, to)
      .read("docs").get.as[(Long, String)].collect().toSet
    assert(before === after)
  }

  test("VersionedTable time travel: readVersion reads history inside the keep window") {
    val root = tmp("vttt")
    val TC = graft.storage.TxnCatalog
    TC.commit(spark, root, Seq("t" -> Seq((1L, "A")).toDF("ID", "INDICE")))
    TC.commit(spark, root,
      Seq("t" -> Seq((1L, "B"), (2L, "C")).toDF("ID", "INDICE")))
    assert(TC.txns(spark, root) === Seq(1L, 2L))
    assert(TC.snapshotAt(spark, root, 1L).read("t").get
      .select("INDICE").as[String].collect().toSeq === Seq("A"))
    assert(TC.read(spark, root, "t").get.count() === 2)
    intercept[IllegalArgumentException] {
      TC.snapshotAt(spark, root, 9L)
    }
    // vacuum trims the travel horizon
    TC.vacuum(spark, root, keep = 1)
    assert(TC.txns(spark, root) === Seq(2L))
    intercept[IllegalArgumentException] {
      TC.snapshotAt(spark, root, 1L)
    }
  }

  test("vacuum retention window: young versions survive, aged ones reclaim") {
    val root = tmp("vtret")
    val TC = graft.storage.TxnCatalog
    TC.commit(spark, root, Seq("catalog" -> catalog)) // txn 1
    TC.commit(spark, root,                              // txn 2
      Seq("catalog" -> catalog.withColumn("INDICE", lit("B"))))
    def dataDirs() = new java.io.File(s"$root/catalog").listFiles()
      .map(_.getName).filter(_.startsWith("v="))
    // txn 2's manifest is seconds old: with a 1h window, txn 1 must
    // SURVIVE — a straggler reader that resolved it before txn 2 landed
    // still reads it
    TC.vacuum(spark, root, keep = 1, minAgeMs = 3600L * 1000)
    val dirs1 = dataDirs()
    assert(dirs1.exists(_.startsWith("v=1.")) && dirs1.exists(_.startsWith("v=2.")),
      s"retention must keep the young predecessor: ${dirs1.toSeq}")
    // age the successor's manifest past the window: txn 1 is reclaimable
    val manifest2 = new java.io.File(s"$root/_txns/2")
    assert(manifest2.setLastModified(System.currentTimeMillis() - 7200L * 1000))
    TC.vacuum(spark, root, keep = 1, minAgeMs = 3600L * 1000)
    val dirs2 = dataDirs()
    assert(dirs2.length === 1 && dirs2.head.startsWith("v=2."),
      s"aged version must reclaim: ${dirs2.toSeq}")
    assert(TC.read(spark, root, "catalog").get
      .select("INDICE").distinct().as[String].collect().toSeq === Seq("B"))
  }

  test("vacuum retention window shields a possibly-still-writing loser's staging dir") {
    val root = tmp("vtorph")
    val TC = graft.storage.TxnCatalog
    TC.commit(spark, root, Seq("catalog" -> catalog)) // txn 1
    // simulate a race loser whose Spark write is STILL RUNNING after the
    // winner committed txn 1: an unreferenced young staging dir at a
    // committed txn number
    val orphan = new java.io.File(s"$root/catalog/v=1.loser123")
    assert(orphan.mkdirs())
    TC.vacuum(spark, root, keep = 1, minAgeMs = 3600L * 1000)
    assert(orphan.exists(),
      "a young orphan staging dir must survive the retention window " +
        "(its writer may still be mid-job)")
    // age it past the window: now it is reclaimable
    assert(orphan.setLastModified(System.currentTimeMillis() - 7200L * 1000))
    TC.vacuum(spark, root, keep = 1, minAgeMs = 3600L * 1000)
    assert(!orphan.exists(), "an aged orphan staging dir must reclaim")
    assert(TC.read(spark, root, "catalog").get.count() === 4)
  }

  test("S10: indices.csv sink writes header + data rows") {
    val dir = tmp("csv")
    Seq(("img1.JPG", "1.0;2.0", "Fundo", "C_1_EU_1"))
      .toDF("IMAGEN", "CENTROIDE", "PREDIO", "INDICE")
      .write.option("header", "true").mode("overwrite").csv(dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq === Seq("IMAGEN", "CENTROIDE", "PREDIO", "INDICE"))
    assert(back.count() === 1)
  }

  test("native expressions usable from SQL after registration") {
    graft.expressions.GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").as[Double]
      .collect().head
    assert(out === 11.0)
  }

  test("upsert: matched rows replaced, unmatched kept, new keys appended") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("ID", "V")
    val updates = Seq((2L, "B2"), (9L, "new")).toDF("ID", "V")
    val out = graft.ops.CatalogOps.upsert(base, updates, "ID")
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "a", 2L -> "B2", 3L -> "c", 9L -> "new"))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val wh = tmp("warehouse")
    // bucketBy needs the session catalog; bucket both sides on the join key
    val left = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "lv")
    val right = Seq((1L, 10), (2L, 20), (4L, 40)).toDF("k", "rv")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_l")
    spark.sql("DROP TABLE IF EXISTS graft_bucket_r")
    left.write.option("path", s"$wh/l").bucketBy(4, "k").sortBy("k")
      .saveAsTable("graft_bucket_l")
    right.write.option("path", s"$wh/r").bucketBy(4, "k").sortBy("k")
      .saveAsTable("graft_bucket_r")
    try {
      val joined = spark.table("graft_bucket_l")
        .join(spark.table("graft_bucket_r"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.select("k", "lv", "rv").as[(Long, String, Int)]
        .collect().toSet === Set((1L, "x", 10), (2L, "y", 20)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_l")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_r")
    }
  }

  test("readSemiJoin: dim keys prune fact partitions at the manifest; result is the exact semi join") {
    import graft.storage.TxnCatalog
    val root = tmp("dfp")
    // 8 range-split partitions: tight k stats per partition
    TxnCatalog.commitPartitions(spark, root,
      (0 until 8).map(b => ("fact", s"r=$b",
        (b * 100 until (b + 1) * 100).map(i => (i.toLong, i * 2L))
          .toDF("k", "v"))),
      statsColumns = Seq("k"))
    val dim = Seq(5L, 7L, 205L).toDF("fk")
    val snap = TxnCatalog.snapshot(spark, root).get
    val got = snap.readSemiJoin("fact", "k", dim, "fk").get
    // exact semi-join result
    assert(got.select("k").as[Long].collect().sorted.toSeq ===
      Seq(5L, 7L, 205L))
    // and the scan touched ONLY the partitions whose stats may hold a key
    val kept = snap.partitionsWhereIn("fact", "k", Seq(5L, 7L, 205L))
    assert(kept.toSet === Set("r=0", "r=2"), s"expected 2 of 8, got $kept")
    val files = got.inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("/r=0/") || f.contains("/r=2/")),
      s"scan must touch only the surviving partitions' files:\n" +
        files.mkString("\n"))
    // null dim keys never match (semi-join semantics), empty dim = empty
    val withNull = Seq(Some(5L), None).toDF("fk")
    assert(snap.readSemiJoin("fact", "k", withNull, "fk").get
      .count() === 1L)
    assert(snap.readSemiJoin("fact", "k",
      dim.filter($"fk" < 0), "fk").get.count() === 0L)
  }

  test("readSemiJoin ≡ plain semi join over randomized layouts and key sets") {
    import graft.storage.TxnCatalog
    val rnd = new scala.util.Random(42) // deterministic
    (0 until 5).foreach { trial =>
      val root = tmp(s"dfpfuzz$trial")
      val nParts = 2 + rnd.nextInt(5)
      val span = 50 + rnd.nextInt(100)
      TxnCatalog.commitPartitions(spark, root,
        (0 until nParts).map { b =>
          // random half-overlapping ranges: stats prune some, not all
          val lo = b * span / 2
          ("t", s"p=$b", (lo until lo + span)
            .map(i => (i.toLong, i % 7)).toDF("k", "v"))
        },
        statsColumns = Seq("k"),
        bloomColumns = if (rnd.nextBoolean()) Seq("k") else Nil)
      val keys = Seq.fill(1 + rnd.nextInt(20))(
        rnd.nextInt(nParts * span).toLong).distinct
      val dim = keys.toDF("fk")
      val got = TxnCatalog.snapshot(spark, root).get
        .readSemiJoin("t", "k", dim, "fk").get
        .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1)))
        .sorted.toSeq
      val want = TxnCatalog.read(spark, root, "t").get
        .filter(col("k").isin(keys: _*))
        .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1)))
        .sorted.toSeq
      assert(got === want, s"trial $trial: parts=$nParts keys=$keys")
    }
  }

  test("compaction with no stats args preserves the source entries' stats inventory") {
    import graft.storage.TxnCatalog
    val root = tmp("cmpstats")
    (0 until 3).foreach { b =>
      TxnCatalog.commitPartitions(spark, root,
        Seq(("t", s"batch=$b",
          (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))),
        statsColumns = Seq("k"), bloomColumns = Seq("k"))
    }
    TxnCatalog.compactPartitions(spark, root, "t",
      (0 until 3).map(b => s"batch=$b"), "c1") // NO stats args
    val snap = TxnCatalog.snapshot(spark, root).get
    val st = snap.stats("t", "c1")
    assert(st.contains("k") && st("k").bloom.nonEmpty,
      "fold must re-measure what the sources tracked")
    assert(snap.partitionsWhereEq("t", "k", 5L) === Seq("c1"))
    assert(snap.rowCount("t") === Some(30L))
  }

  test("analyze retries cleanly when a rival commit lands in the measure window") {
    import graft.storage.TxnCatalog
    val root = tmp("anlrace")
    TxnCatalog.commitPartitions(spark, root,
      Seq(("t", "b=0", Seq((1L, "a"), (2L, "b")).toDF("k", "nm"))))
    var raced = false
    val txn = TxnCatalog.analyzeTableHooked(spark, root, "t", Seq("k"))(
      () => if (!raced) {
        raced = true
        // a rival append takes the txn number analyze had pinned
        TxnCatalog.commitPartitions(spark, root,
          Seq(("t", "b=1", Seq((50L, "z")).toDF("k", "nm"))))
      })
    assert(raced && txn.isDefined, "analyze must retry past the rival")
    val snap = TxnCatalog.snapshot(spark, root).get
    // BOTH partitions measured on the retry (b=1 was missing stats too)
    assert(snap.partitions("t").forall(p =>
      snap.stats("t", p).contains("k")))
    assert(snap.read("t").get.count() === 3L, "no rows lost to the race")
  }

  test("analyze propagates a non-conflict IOException without retrying") {
    import graft.storage.TxnCatalog
    val root = tmp("anlio")
    TxnCatalog.commitPartitions(spark, root,
      Seq(("t", "b=0", Seq((1L, "a"), (2L, "b")).toDF("k", "nm"))))
    var calls = 0
    val disk = new java.io.IOException("disk full")
    val ex = intercept[java.io.IOException] {
      TxnCatalog.analyzeTableHooked(spark, root, "t", Seq("k"))(
        () => { calls += 1; throw disk })
    }
    assert(ex eq disk)
    assert(calls === 1, "only a lost commit is retried")
    assert(TxnCatalog.currentTxn(spark, root) === Some(1L))
  }

  test("readSemiJoin over the key cap degrades to the unpruned exact semi join") {
    import graft.storage.TxnCatalog
    val root = tmp("dfpcap")
    TxnCatalog.commitPartitions(spark, root,
      (0 until 4).map(b => ("fact", s"r=$b",
        (b * 50 until (b + 1) * 50).map(i => (i.toLong, i.toString))
          .toDF("k", "nm"))),
      statsColumns = Seq("k"))
    val dim = (0L until 150L).map(i => i * 2).toDF("fk") // 150 > cap 100
    val got = TxnCatalog.snapshot(spark, root).get
      .readSemiJoin("fact", "k", dim, "fk", maxKeys = 100).get
    // evens in [0, 200): 100 of them exist in fact's [0, 200) keys
    assert(got.count() === 100L)
    assert(got.select("k").as[Long].collect().forall(_ % 2 == 0))
  }
}
