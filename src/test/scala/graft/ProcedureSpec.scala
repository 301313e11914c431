package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.storage.TxnCatalog

/** [[graft.storage.GraftProcedures]]: the maintenance surface as DSv2
  * stored procedures — `CALL lake.system.optimize/cluster/vacuum/
  * history(...)` from plain SQL, results returned as rows. */
class ProcedureSpec extends GraftSuite {

  private def withCatalog[A](f: (SparkSession, String) => A): A = {
    val root = Files.createTempDirectory("proc").toFile.getAbsolutePath
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-proc-test")
      .config("spark.sql.catalog.lake", "graft.storage.GraftCatalog")
      .config("spark.sql.catalog.lake.root", root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try f(s2, root)
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private def commitBatches(s2: SparkSession, root: String, n: Int): Unit = {
    import s2.implicits._
    (0 until n).foreach { b =>
      TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", s"batch=$b",
          (b * 100 until (b + 1) * 100).map(i => (i.toLong, i * 2L, s"n$i"))
            .toDF("k", "v", "nm"))),
        statsColumns = Seq("k"))
    }
  }

  test("CALL system.optimize folds batch partitions; rows survive") {
    withCatalog { (s2, root) =>
      commitBatches(s2, root, 4)
      val r = s2.sql(
        "CALL lake.system.optimize(table => 'ev', stats_columns => 'k')")
        .collect().head
      assert(r.getInt(1) === 4, "4 batch partitions folded")
      assert(!r.isNullAt(0), "a compaction txn committed")
      val parts = TxnCatalog.partitions(s2, root, "ev")
      assert(parts.size === 1 && parts.head.startsWith("c"),
        s"one compacted partition, got $parts")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 400L)
      // idempotent: a second CALL has < 2 partitions to fold → no-op
      val r2 = s2.sql("CALL lake.system.optimize(table => 'ev')")
        .collect().head
      assert(r2.isNullAt(0) && r2.getInt(1) === 0)
    }
  }

  test("CALL system.cluster Z-orders pending partitions and prunes") {
    withCatalog { (s2, root) =>
      commitBatches(s2, root, 4)
      val r = s2.sql(
        "CALL lake.system.cluster(table => 'ev', dims => 'v,k', " +
          "buckets => 4)").collect().head
      assert(r.getBoolean(1), "clustering ran")
      val parts = TxnCatalog.partitions(s2, root, "ev")
      assert(parts.forall(_.startsWith("z")), s"generation tiles, got $parts")
      // manifest stats prune: a point lookup reads a strict subset
      val snap = TxnCatalog.snapshot(s2, root).get
      val hit = snap.partitionsWhere("ev", "k", 5.0, 5.0)
      assert(hit.size < parts.size, "Z-tiles must bound k")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 400L)
      // below min_batches → no-op (one generation pending)
      val r2 = s2.sql(
        "CALL lake.system.cluster(table => 'ev', dims => 'v,k', " +
          "min_batches => 99)").collect().head
      assert(!r2.getBoolean(1) && r2.isNullAt(0))
    }
  }

  test("CALL system.vacuum reclaims superseded txns; reads still work") {
    withCatalog { (s2, root) =>
      commitBatches(s2, root, 4)
      s2.sql("CALL lake.system.optimize(table => 'ev')")
      val before = TxnCatalog.txns(s2, root).size
      val r = s2.sql("CALL lake.system.vacuum(keep => 1)").collect().head
      assert(r.getInt(0) === before - 1 && r.getInt(1) === 1)
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 400L)
    }
  }

  test("CALL system.history lists the commit log newest first with rows") {
    withCatalog { (s2, root) =>
      commitBatches(s2, root, 3)
      val rows = s2.sql("CALL lake.system.history(lim => 2)").collect()
      assert(rows.length === 2)
      assert(rows.map(_.getLong(0)).toSeq === Seq(3L, 2L), "newest first")
      assert(rows.head.getString(2) === "ev")
      assert(rows.head.getInt(3) === 3, "3 live partitions at txn 3")
      assert(rows.head.getLong(4) === 300L,
        "manifest row counts sum to the exact table count")
      assert(rows.forall(_.getLong(1) > 0L), "commit mtimes recorded")
      // positional args work too
      assert(s2.sql("CALL lake.system.history(1)").collect().length === 1)
    }
  }

  test("CALL system.analyze backfills stats with no data rewrite; streams see no new data") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // commit WITHOUT stats: nothing prunes
      (0 until 3).foreach { b =>
        TxnCatalog.commitPartitions(s2, root,
          Seq(("ev", s"r=$b",
            (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"n$i"))
              .toDF("k", "nm"))))
      }
      val snap0 = TxnCatalog.snapshot(s2, root).get
      assert(snap0.partitionsWhereEq("ev", "k", 5L).size === 3,
        "stat-less partitions are conservatively kept")
      val dirsBefore = snap0.partitions("ev")
        .map(p => p -> snap0.stats("ev", p)).toMap
      val r = s2.sql("CALL lake.system.analyze(table => 'ev', " +
        "stats_columns => 'k', bloom_columns => 'k')").collect().head
      assert(!r.isNullAt(0) && r.getInt(1) === 3)
      val snap1 = TxnCatalog.snapshot(s2, root).get
      // stats now prune; Blooms recorded; rows measured
      assert(snap1.partitionsWhereEq("ev", "k", 5L) === Seq("r=0"))
      snap1.partitions("ev").foreach { p =>
        assert(snap1.stats("ev", p)("k").bloom.nonEmpty)
        assert(snap1.rowCount("ev", p) === Some(100L))
      }
      // NO data rewrite: every entry keeps its dir, so incremental
      // consumers (diffData semantics) see nothing new
      val entriesAfter = snap1.partitions("ev")
      assert(entriesAfter.toSet === dirsBefore.keySet)
      assert(TxnCatalog.diffData(s2, root, snap0.txn, snap1.txn).isEmpty,
        "analyze must be invisible to incremental reads")
      // idempotent: nothing missing → no txn
      val r2 = s2.sql("CALL lake.system.analyze(table => 'ev', " +
        "stats_columns => 'k', bloom_columns => 'k')").collect().head
      assert(r2.isNullAt(0) && r2.getInt(1) === 0)
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 300L)
    }
  }

  test("CALL system.apply_deletes materializes pending merge-on-read deletes") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      commitBatches(s2, root, 2)
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(5L, 105L).toDF("k"))
      assert(TxnCatalog.snapshot(s2, root).get
        .deleteEntries("ev").size === 1)
      val r = s2.sql("CALL lake.system.apply_deletes(table => 'ev')")
        .collect().head
      assert(!r.isNullAt(0) && r.getInt(1) === 1)
      val snap = TxnCatalog.snapshot(s2, root).get
      assert(snap.deleteEntries("ev").isEmpty, "key lists purged")
      assert(snap.rowCount("ev") === Some(198L),
        "metadata-only count returns once deletes are materialized")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 198L)
      // idempotent
      val r2 = s2.sql("CALL lake.system.apply_deletes(table => 'ev')")
        .collect().head
      assert(r2.isNullAt(0) && r2.getInt(1) === 0)
    }
  }

  test("CALL create_mv + refresh_mv maintain a rollup through plain SQL") {
    withCatalog { (s2, root) =>
      commitBatches(s2, root, 2)
      val c = s2.sql("CALL lake.system.create_mv(view => 'ev_agg', " +
        "source => 'ev', group_by => 'nm', aggs => 'count,sum:v')")
        .collect().head
      assert(c.getLong(1) === 200L, "one group per distinct nm")
      commitBatches(s2, root, 3) // replaces b0/b1, adds b2 → next
      // refresh: the two replaced partitions force a FULL recompute
      // (rewrites are not additive), the result still exact
      val r = s2.sql("CALL lake.system.refresh_mv(view => 'ev_agg')")
        .collect().head
      assert(r.getString(1) === "full")
      assert(s2.sql(
        "SELECT count(*) FROM lake.default.ev_agg").collect()
        .head.getLong(0) === 300L)
      val r2 = s2.sql("CALL lake.system.refresh_mv(view => 'ev_agg')")
        .collect().head
      assert(r2.getString(1) === "noop")
    }
  }

  test("CALL system.skipping dry-runs pruning with the read path's own counts") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // 4 disjoint key ranges, stats + Blooms on k (values 0,3,6,…)
      (0 until 4).foreach { b =>
        TxnCatalog.commitPartitions(s2, root,
          Seq(("ev", s"r=$b",
            (b * 100 until (b + 1) * 100).map(i => (i * 3L, s"n$i"))
              .toDF("k", "nm"))),
          statsColumns = Seq("k"), bloomColumns = Seq("k"))
      }
      def report(col: String, v: String) =
        s2.sql(s"CALL lake.system.skipping(table => 'ev', " +
          s"column => '$col', value => '$v')").collect().head
      // a present key: 3 of 4 ranges prune, the owner scans
      val hit = report("k", "300")
      assert(hit.toSeq === Seq(4, 3, 0, 1))
      // an absent key INSIDE a range: the Bloom kills the survivor
      val miss = report("k", "301")
      assert(miss.toSeq === Seq(4, 3, 1, 0))
      // out of every range: pure range kill
      val out = report("k", "99999")
      assert(out.toSeq === Seq(4, 4, 0, 0))
      // a stat-less column never claims pruning
      val free = report("nm", "n5")
      assert(free.toSeq === Seq(4, 0, 0, 4))
      // the report's scanned set is EXACTLY what the read path keeps
      val snap = TxnCatalog.snapshot(s2, root).get
      assert(snap.partitionsWhereEq("ev", "k", 300L).size === hit.getInt(3))
      assert(snap.partitionsWhereEq("ev", "k", 301L).size === miss.getInt(3))
    }
  }

  test("ClusteringDepth sweep ≡ pairwise O(n²) on randomized fixtures; no entry cap") {
    import graft.storage.ClusteringDepth
    val ord: Ordering[Any] = Ordering.by((x: Any) => x.asInstanceOf[Long])
    def pairwise(ivals: IndexedSeq[(Any, Any)]): Array[Int] = {
      val n = ivals.size
      val d = Array.fill(n)(1)
      for (i <- 0 until n; j <- (i + 1) until n) {
        val (lo1, hi1) = ivals(i); val (lo2, hi2) = ivals(j)
        if (ord.lteq(lo1, hi2) && ord.lteq(lo2, hi1)) { d(i) += 1; d(j) += 1 }
      }
      d
    }
    val rnd = new scala.util.Random(42)
    // randomized fixtures across overlap regimes, incl. duplicate
    // endpoints and point intervals (lo == hi)
    for (trial <- 0 until 20) {
      val n = 1 + rnd.nextInt(60)
      val span = Seq(10L, 100L, 1000L)(trial % 3) // dense → sparse
      val ivals: IndexedSeq[(Any, Any)] = (0 until n).map { _ =>
        val lo = rnd.nextLong(span)
        val hi = lo + rnd.nextLong(span / 5 + 1)
        (lo: Any, hi: Any)
      }
      assert(ClusteringDepth.depths(ivals, ord).toSeq ===
        pairwise(ivals).toSeq, s"trial $trial: $ivals")
    }
    // far beyond the old 8192 cap: 20 000 entries measure in
    // milliseconds (the pairwise form would do 2×10⁸ comparisons)
    val big: IndexedSeq[(Any, Any)] = (0 until 20000).map { i =>
      val lo = rnd.nextLong(1000000L)
      (lo: Any, (lo + rnd.nextLong(500L)): Any)
    }
    val t0 = System.nanoTime()
    val depths = ClusteringDepth.depths(big, ord)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(depths.length === 20000 && depths.forall(_ >= 1))
    assert(ms < 1000.0, f"20k-entry sweep took $ms%.1f ms")
  }

  test("CALL system.clustering_depth measures range-overlap; optimize honors max_bytes") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // 4 DISJOINT key ranges: perfectly clustered for k
      (0 until 4).foreach { b =>
        TxnCatalog.commitPartitions(s2, root,
          Seq(("ev", s"batch=$b",
            (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"n$i"))
              .toDF("k", "nm"))),
          statsColumns = Seq("k"))
      }
      def depth(col: String) = s2.sql("CALL lake.system.clustering_depth(" +
        s"table => 'ev', column => '$col')").collect().head
      val d0 = depth("k")
      assert(d0.getInt(0) === 4 && d0.getInt(1) === 4)
      assert(d0.getDouble(2) === 1.0 && d0.getInt(3) === 1 &&
        d0.getDouble(4) === 1.0, s"disjoint ranges: $d0")
      // a stat-less column measures nothing (and says so)
      val dn = depth("nm")
      assert(dn.getInt(1) === 0 && dn.isNullAt(2))
      // one full-range append ruins the depth: it overlaps all four
      TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", "batch=all",
          Seq(0L, 399L).map(i => (i, s"n$i")).toDF("k", "nm"))),
        statsColumns = Seq("k"))
      val d1 = depth("k")
      assert(d1.getInt(3) === 5, "the spanning entry overlaps all others")
      assert(d1.getDouble(2) === 2.6 && d1.getDouble(4) === 0.0,
        s"avg (4*2 + 5)/5, nothing disjoint: $d1")

      // optimize(max_bytes): only SUB-THRESHOLD entries fold — the
      // already-compacted big ones are not rewritten again. Two tiny
      // entries (2 rows each) next to four 100-row ones; the threshold
      // sits between the sizes.
      TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", "batch=tiny",
          Seq(7000L, 7001L).map(i => (i, s"n$i")).toDF("k", "nm"))),
        statsColumns = Seq("k"))
      val sizes = TxnCatalog.snapshot(s2, root).get.entrySizes("ev")
        .map { case (p, _, b) => p -> b.get }.toMap
      assert(sizes("batch=all") < sizes("batch=0"))
      val cut = sizes("batch=0") // exclusive: batch=0..3 stay
      val r = s2.sql("CALL lake.system.optimize(table => 'ev', " +
        s"stats_columns => 'k', max_bytes => ${cut}L)").collect().head
      assert(r.getInt(1) === 2,
        s"exactly the two sub-threshold entries fold: $r")
      assert(TxnCatalog.partitions(s2, root, "ev")
        .count(_.startsWith("batch=")) === 4,
        "the four at-threshold entries were left alone")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 404L)
      // an unbounded optimize still folds everything with the prefix
      val r2 = s2.sql("CALL lake.system.optimize(table => 'ev', " +
        "stats_columns => 'k')").collect().head
      assert(r2.getInt(1) === 4, s"unbounded fold takes the rest: $r2")
      assert(s2.sql("SELECT count(*) FROM lake.default.ev")
        .collect().head.getLong(0) === 404L)
    }
  }

  test("CALL system.fold_report names what folds and what blocks it") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      s2.sql("""CREATE TABLE lake.default.ft (
        |k BIGINT, d DECIMAL(10,2), x DOUBLE)
        |TBLPROPERTIES ('graft.stats-columns' = 'k,d,x')""".stripMargin)
      s2.sql("INSERT INTO lake.default.ft VALUES " +
        "(1, 1.50, 0.5), (2, 2.25, 1.5)")
      def report() = s2.sql(
        "CALL lake.system.fold_report(table => 'ft')").collect()
        .map(r => r.getString(0) ->
          ((r.getBoolean(1), Option(r.getString(2))))).toMap
      val r0 = report()
      // everything the plane supports folds on a healthy table
      assert(r0("count(*)") === ((true, None)))
      assert(r0("min/max(k)") === ((true, None)))
      assert(r0("count(k)") === ((true, None)))
      assert(r0("sum(k)") === ((true, None)))
      assert(r0("sum(d)") === ((true, None)))
      assert(r0("avg(d)") === ((true, None)))
      // by-design refusals name themselves
      assert(r0("sum(x)")._1 === false)
      assert(r0("sum(x)")._2.get.contains("order-dependent"))
      assert(r0("avg(k)")._1 === false)
      assert(r0("avg(k)")._2.get.contains("double buffer"))
      // a pending merge-on-read delete darkens every answer, naming
      // the remedy
      s2.sql("DELETE FROM lake.default.ft WHERE k = 1")
      val r1 = report()
      assert(r1("count(*)")._1 === false)
      assert(r1("count(*)")._2.get.contains("apply_deletes"))
      assert(r1("sum(k)")._1 === false)
      s2.sql("CALL lake.system.apply_deletes(table => 'ft')")
      val r2 = report()
      assert(r2("count(*)") === ((true, None)),
        s"applied deletes restore the fold: ${r2("count(*)")}")
      assert(r2("sum(k)") === ((true, None)))
      // a table with NO declared stats columns: footer counts keep
      // count(*) foldable, column answers point at analyze — which
      // heals them (explicit `columns` restricts the report's rows)
      TxnCatalog.commitPartitions(s2, root,
        Seq(("fu", "b=0", (1 to 20).map(i => (i.toLong, s"n$i"))
          .toDF("k", "nm"))))
      def reportFu() = s2.sql(
        "CALL lake.system.fold_report(table => 'fu', columns => 'k')")
        .collect().map(r => r.getString(0) ->
          ((r.getBoolean(1), Option(r.getString(2))))).toMap
      val r3 = reportFu()
      assert(r3("count(*)")._1 === true,
        "footer counts keep count(*) foldable even without stats")
      assert(r3("min/max(k)")._1 === false)
      assert(r3("min/max(k)")._2.get.contains("analyze"))
      assert(!r3.contains("min/max(nm)"), "explicit columns restrict rows")
      s2.sql(
        "CALL lake.system.analyze(table => 'fu', stats_columns => 'k')")
      val r4 = reportFu()
      assert(r4("min/max(k)") === ((true, None)))
      assert(r4("sum(k)") === ((true, None)),
        "analyze backfills sum stats too")
    }
  }

  test("CALL system.export deep-copies a snapshot into another root") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // two tables, partitioned + whole grain, with skipping config
      TxnCatalog.commitPartitions(s2, root,
        (0 until 2).map(b => ("ev", s"b=$b",
          (b * 50 until (b + 1) * 50).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))),
        statsColumns = Seq("k"))
      s2.sql("ALTER TABLE lake.default.ev " +
        "SET TBLPROPERTIES ('graft.stats-columns' = 'k')")
      TxnCatalog.commit(s2, root,
        Seq(("dim", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))))
      // a pending equality delete: the export must MATERIALIZE it
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(7L, 99L).toDF("k"))
      val dest = Files.createTempDirectory("procexp").toFile.getAbsolutePath
      val r = s2.sql(
        s"CALL lake.system.export(dest => '$dest')").collect().head
      assert(r.getLong(0) === 1L && r.getInt(1) === 2,
        s"one commit at the destination, both tables: $r")
      // rows equal the source's FUNNEL read (deletes applied)...
      val dsnap = TxnCatalog.snapshot(s2, dest).get
      assert(dsnap.read("ev").get.select("k").as[Long].collect().sorted
        === (0L until 100L).filterNot(Set(7L, 99L)))
      assert(dsnap.read("dim").get.count() === 2L)
      // ...with NO delete entries at the destination (clean table)
      assert(dsnap.deleteEntries("ev").isEmpty,
        "pending deletes materialize, never travel")
      // partition grain and skipping config survive; stats re-measured
      assert(dsnap.partitions("ev").toSet === Set("b=0", "b=1"))
      assert(dsnap.properties("ev")
        .get(TxnCatalog.StatsColumnsProp).contains("k"))
      assert(dsnap.columnBounds("ev", "k").isDefined,
        "stats re-measure on the destination write path")
      // metadata answers work at the destination immediately
      assert(dsnap.rowCount("ev").contains(98L))
      // re-export refuses: the target tables already exist
      val e = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest')").collect()
      }
      assert(e.getMessage.contains("already exists"))
      // source untouched
      assert(TxnCatalog.read(s2, root, "ev").get.count() === 98L)
    }
  }

  test("single-table many-partition export takes the O(1)-jobs bulk path") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // 6 partitions (> BulkRewriteThreshold) + a pending delete: the
      // bulk path must funnel-read WITH attribution, materialize the
      // mask, and keep the partition grain at the destination
      TxnCatalog.commitPartitions(s2, root,
        (0 until 6).map(b => ("ev", s"b=$b",
          (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))),
        statsColumns = Seq("k"))
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(11L, 42L).toDF("k"))
      val dest = Files.createTempDirectory("procexpb").toFile.getAbsolutePath
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      s2.sparkContext.addSparkListener(listener)
      try {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "tables => 'ev')").collect()
        Thread.sleep(300) // listener events are async
      } finally s2.sparkContext.removeSparkListener(listener)
      // O(1) jobs, not O(partitions): emptiness probe + write + stats +
      // small fixed overhead — far under the ~18 the per-entry loop
      // would need for 6 partitions (and the gap widens with N)
      assert(jobs.get() <= 12, s"bulk export must be O(1) jobs: ${jobs.get()}")
      val dsnap = TxnCatalog.snapshot(s2, dest).get
      assert(dsnap.partitions("ev").toSet ===
        (0 until 6).map(b => s"b=$b").toSet, "partition grain survives")
      assert(dsnap.read("ev").get.select("k").as[Long].collect().sorted
        === (0L until 60L).filterNot(Set(11L, 42L)),
        "masks materialize through the bulk funnel")
      assert(dsnap.deleteEntries("ev").isEmpty)
      assert(dsnap.columnBounds("ev", "k").isDefined,
        "grouped stats ride the bulk pass")
    }
  }

  test("multi-table export bulk-stages EACH big table; still ONE commit") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // two 12-partition fact tables; 'fa' declares a write sort order
      // and rows arrive scrambled, so the DEST files prove the source's
      // layout config traveled with the copy
      (0 until 12).foreach { b =>
        val scrambled = (b * 20 until (b + 1) * 20)
          .sortBy(i => (i * 37) % 20)
        TxnCatalog.commitPartitions(s2, root, Seq(("fa", s"b=$b",
          scrambled.map(i => (i.toLong, s"a$i")).toDF("k", "nm"))),
          statsColumns = Seq("k"))
        TxnCatalog.commitPartitions(s2, root, Seq(("fb", s"b=$b",
          (b * 20 until (b + 1) * 20).map(i => (i.toLong, s"b$i"))
            .toDF("k", "nm"))), statsColumns = Seq("k"))
      }
      TxnCatalog.setTableProperties(s2, root, "fa",
        Map(TxnCatalog.SortColumnsProp -> "k"))
      val dest = Files.createTempDirectory("procexpm").toFile.getAbsolutePath
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      s2.sparkContext.addSparkListener(listener)
      val r = try {
        val row = s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "tables => 'fa,fb')").collect().head
        Thread.sleep(300) // listener events are async
        row
      } finally s2.sparkContext.removeSparkListener(listener)
      // O(1) jobs PER TABLE, not O(partitions): the per-entry loop
      // would need ≥ 2 jobs × 24 partitions; the bulk funnel pays one
      // write + one grouped stats pass per table plus fixed overhead
      assert(jobs.get() <= 20,
        s"2-table × 12-partition export must be O(tables) jobs: ${jobs.get()}")
      assert(r.getLong(0) === 1L && r.getInt(1) === 2,
        s"one commit at the destination, both tables: $r")
      val dsnap = TxnCatalog.snapshot(s2, dest).get
      Seq("fa", "fb").foreach { t =>
        assert(dsnap.partitions(t).toSet ===
          (0 until 12).map(b => s"b=$b").toSet,
          s"partition grain survives for '$t'")
        assert(dsnap.read(t).get.count() === 240L)
        assert(dsnap.columnBounds(t, "k").isDefined,
          s"grouped stats ride the bulk pass for '$t'")
      }
      // the source's declared sort order applied to the copied files:
      // every dest 'fa' file is internally sorted by k even though the
      // source rows were committed scrambled
      val facts = dsnap.read("fa").get
        .select($"k", org.apache.spark.sql.functions.col("_metadata.file_path").as("f"),
          org.apache.spark.sql.functions.col("_metadata.row_index").as("pos"))
        .collect().groupBy(_.getString(1))
      assert(facts.values.forall { rows =>
        val ks = rows.sortBy(_.getLong(2)).map(_.getLong(0))
        ks.sameElements(ks.sorted)
      }, "declared sort order must apply to bulk-exported files")
    }
  }

  test("export hygiene: duplicate list refuses; a refused export strands no tag") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commit(s2, root,
        Seq(("dim", Seq((1L, "a")).toDF("id", "v"))))
      val dest = Files.createTempDirectory("procexph").toFile.getAbsolutePath
      // duplicate names would stage one entry path twice: refuse clearly
      val e1 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "tables => 'dim,dim')").collect()
      }
      assert(e1.getMessage.contains("duplicate"))
      // a refused export (dest table already exists) must not leave a
      // stray vacuum-exempt tag at the source
      s2.sql(s"CALL lake.system.export(dest => '$dest')").collect()
      val e2 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "pin_tag => 'stray')").collect()
      }
      assert(e2.getMessage.contains("already exists"))
      assert(!TxnCatalog.tags(s2, root).contains("stray"),
        "refused export must drop (or never create) its pin tag")
      // ...while a SUCCESSFUL pinned export keeps its tag
      val dest2 = Files.createTempDirectory("procexph2")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
        "pin_tag => 'kept')").collect()
      assert(TxnCatalog.tags(s2, root).contains("kept"))
    }
  }

  test("delta export catches a destination up; result equals a fresh export") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // 6 partitions + a small dim table, full-exported once
      (0 until 6).foreach { b =>
        TxnCatalog.commitPartitions(s2, root, Seq(("ev", s"b=$b",
          (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))), statsColumns = Seq("k"))
      }
      TxnCatalog.commit(s2, root,
        Seq(("dim", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))))
      val destA = Files.createTempDirectory("procdelta").toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$destA')").collect()
      // the source moves on: an append, a partial rewrite, a partition
      // emptied away, a PENDING delete, and a brand-new table
      TxnCatalog.appendBatch(s2, root, "ev", "b=6",
        (60 until 70).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))
      TxnCatalog.deleteWhere(s2, root, "ev", "k", 10L, 14L) // rewrites b=1
      TxnCatalog.deleteWhere(s2, root, "ev", "k", 20L, 29L) // empties b=2
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(33L).toDF("k"))
      TxnCatalog.commit(s2, root,
        Seq(("nt", Seq((9L, "x")).toDF("id", "v"))))
      // the partitions the source did NOT touch must not re-copy:
      // remember their dest entry dirs
      val keepParts = Seq("b=0", "b=3", "b=4", "b=5")
      def destDirs(): Map[String, Long] = {
        val d = TxnCatalog.snapshot(s2, destA).get
        // entry identity proxy visible from outside the storage package:
        // the partition's physical file set (paths embed the entry dir)
        d.partitions("ev").filterNot(_.startsWith("~")).map { p =>
          p -> d.readPartitions("ev", Seq(p)).get
            .select(org.apache.spark.sql.functions
              .col("_metadata.file_path")).distinct()
            .collect().map(_.getString(0)).sorted.mkString("|").hashCode.toLong
        }.toMap
      }
      val before = destDirs()
      // job-count budget: a catch-up's cost is proportional to the
      // DELTA (here 5 copied entries — b=1 rewritten, b=2 emptied,
      // b=3 delete-masked, b=6 appended, table 'nt' new — at ~5 jobs
      // each for read+write+stats-agg+bloom, plus the delete-bounds
      // probe and manifest machinery; measured 29), never to the
      // table's partition count — a per-phase profile of the export
      // path found it operation-bound at this budget; any
      // machinery regression fails here instead of drifting the bench
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (sys.env.contains("SPARK_GRAFT_PROFILE_JOBS"))
            println(s"[job] ${j.stageInfos.map(_.name).mkString(" | ")}")
        }
      }
      s2.sparkContext.addSparkListener(listener)
      val r = try {
        val row = s2.sql(s"CALL lake.system.export(dest => '$destA', " +
          "catch_up => true)").collect().head
        Thread.sleep(300) // listener events are async
        row
      } finally s2.sparkContext.removeSparkListener(listener)
      assert(jobs.get() <= 32,
        s"catch-up jobs must track the delta, not the table: ${jobs.get()}")
      assert(r.getInt(1) === 3, s"ev + dim + the new table: $r")
      // equivalence: the caught-up destination is indistinguishable
      // from a fresh full export of the same snapshot
      val destB = Files.createTempDirectory("procdeltaf")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$destB')").collect()
      Seq("ev", "dim", "nt").foreach { t =>
        val a = TxnCatalog.snapshot(s2, destA).get
        val b = TxnCatalog.snapshot(s2, destB).get
        assert(a.read(t).get.collect().map(_.toString).sorted.toSeq ===
          b.read(t).get.collect().map(_.toString).sorted.toSeq,
          s"delta-export must equal a fresh full export for '$t'")
        assert(a.partitions(t).toSet === b.partitions(t).toSet,
          s"partition grain must match for '$t'")
      }
      // b=3 re-copied (the pending delete masks k=33 there); the other
      // untouched partitions kept their entries VERBATIM — the point
      val after = destDirs()
      assert(Seq("b=0", "b=4", "b=5").forall(p =>
        after(p) == before(p)),
        s"untouched partitions must not re-copy: $before vs $after")
      assert(after("b=3") != before("b=3"),
        "a newly-masked partition must re-copy")
      assert(TxnCatalog.snapshot(s2, destA).get
        .readPartitions("ev", Seq("b=2")).get.count() === 0L,
        "the emptied partition holds zero rows at the destination")
      assert(keepParts.forall(p => before.contains(p)))
      // idempotence: a second catch-up with a quiet source copies
      // nothing (every entry dir verbatim)
      s2.sql(s"CALL lake.system.export(dest => '$destA', " +
        "catch_up => true)").collect()
      assert(destDirs() === after, "quiet catch-up must copy nothing")
    }
  }

  test("delta export composes with as_of and catches up materialized views") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root, Seq(("ev", "b=0",
        (0 until 20).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "nm"))))
      graft.storage.MaterializedAgg.create(s2, root, "ev_mv", "ev",
        groupCols = Seq("nm"), aggs = Seq(
          graft.storage.MaterializedAgg.AggSpec("count")))
      val dest = Files.createTempDirectory("procdeltam").toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest')").collect()
      // source advances twice; the MV refreshes in between (its stored
      // rows change — a delta must re-copy the view's Whole entry)
      TxnCatalog.appendBatch(s2, root, "ev", "b=1",
        (20 until 30).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "nm"))
      graft.storage.MaterializedAgg.refresh(s2, root, "ev_mv")
      val mid = TxnCatalog.currentTxn(s2, root).get
      TxnCatalog.appendBatch(s2, root, "ev", "b=2",
        (30 until 35).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "nm"))
      // catch up only TO the mid txn (as_of composes with the delta)
      s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        s"catch_up => true, as_of => ${mid}L)").collect()
      val snapMid = TxnCatalog.snapshot(s2, dest).get
      assert(snapMid.read("ev").get.count() === 30L,
        "as_of pins the delta's target state")
      assert(snapMid.read("ev_mv").get
        .agg(org.apache.spark.sql.functions.sum("cnt")).collect()
        .head.getLong(0) === 30L,
        "the refreshed view's rows travel with the delta")
      // the carried watermark pins the DEST axis: refresh there is noop
      assert(graft.storage.MaterializedAgg
        .refresh(s2, dest, "ev_mv").mode === "noop")
      // a second catch-up (no as_of) brings the rest
      s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        "catch_up => true)").collect()
      assert(TxnCatalog.snapshot(s2, dest).get.read("ev").get
        .count() === 35L, "catch-up resumes from the as_of watermark")
    }
  }

  test("delta export refuses divergence, missing watermarks, vacuumed bases") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root, Seq(("ev", "b=0",
        (0 until 10).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))))
      val dest = Files.createTempDirectory("procdeltar").toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest')").collect()
      // a destination someone wrote to independently refuses the delta
      TxnCatalog.appendBatch(s2, dest, "ev", "b=9",
        Seq((99L, "x")).toDF("k", "nm"))
      TxnCatalog.appendBatch(s2, root, "ev", "b=1",
        Seq((10L, "n10")).toDF("k", "nm"))
      val e1 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "catch_up => true)").collect()
      }
      assert(e1.getMessage.contains("diverged"))
      // a table not created by an export records no watermark
      val dest2 = Files.createTempDirectory("procdeltar2")
        .toFile.getAbsolutePath
      TxnCatalog.commitPartitions(s2, dest2, Seq(("ev", "b=0",
        (0 until 10).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))))
      val e2 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
          "catch_up => true)").collect()
      }
      assert(e2.getMessage.contains("records no"))
      // a vacuumed delta base refuses with the full-export answer
      val dest3 = Files.createTempDirectory("procdeltar3")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest3')").collect()
      TxnCatalog.appendBatch(s2, root, "ev", "b=2",
        Seq((20L, "n20")).toDF("k", "nm"))
      TxnCatalog.vacuum(s2, root, keep = 1)
      val e3 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest3', " +
          "catch_up => true)").collect()
      }
      assert(e3.getMessage.contains("vacuumed"))
      // a reference catch-up against a COPY destination refuses (the
      // symmetric mode-mismatch rule — re-referencing would orphan the
      // dest's owned files and flip its retention onto the source)
      val e4 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest3', " +
          "catch_up => true, mode => 'reference')").collect()
      }
      assert(e4.getMessage.contains("COPY export"))
      // destination-side merge-on-read deletes (an export never writes
      // them) are divergence too: their masks would keep applying to
      // carried entries the delta doesn't replace
      val dest4 = Files.createTempDirectory("procdeltar4")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest4')").collect()
      TxnCatalog.deleteKeys(s2, dest4, "ev", "k", Seq(1L).toDF("k"))
      TxnCatalog.appendBatch(s2, root, "ev", "b=3",
        Seq((30L, "n30")).toDF("k", "nm"))
      val e5 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest4', " +
          "catch_up => true)").collect()
      }
      assert(e5.getMessage.contains("diverged"))
    }
  }

  test("export re-bases MV watermarks onto the destination txn axis") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      // several commits first, so the source watermark (a SOURCE-axis
      // txn) is far past anything the destination axis will have
      (0 until 3).foreach { b =>
        TxnCatalog.commitPartitions(s2, root,
          Seq(("ev", s"b=$b",
            (b * 10 until (b + 1) * 10).map(i => (i.toLong, s"n$i"))
              .toDF("k", "nm"))))
      }
      graft.storage.MaterializedAgg.create(s2, root, "ev_mv", "ev",
        groupCols = Seq("nm"), aggs = Seq(
          graft.storage.MaterializedAgg.AggSpec("count")))
      val dest = Files.createTempDirectory("procexpmv")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest')").collect()
      // the carried watermark must pin the DEST commit (txn 1), not
      // the source's txn 4: refresh starts as a clean noop there...
      val r0 = graft.storage.MaterializedAgg.refresh(s2, dest, "ev_mv")
      assert(r0.mode === "noop", s"fresh export must be current: $r0")
      // ...and a destination append refreshes INCREMENTALLY (a stale
      // source-axis watermark would crash resolving absent txns or
      // silently skip these rows)
      TxnCatalog.appendBatch(s2, dest, "ev", "b=9",
        Seq((99L, "x99")).toDF("k", "nm"))
      val r1 = graft.storage.MaterializedAgg.refresh(s2, dest, "ev_mv")
      assert(r1.mode === "incremental" && r1.partitionsRead === 1, s"$r1")
      assert(TxnCatalog.read(s2, dest, "ev_mv").get
        .agg(org.apache.spark.sql.functions.sum("cnt")).collect()
        .head.getLong(0) === 31L)
      // an MV without its source in the export list refuses
      val dest2 = Files.createTempDirectory("procexpmv2")
        .toFile.getAbsolutePath
      val e = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
          "tables => 'ev_mv')").collect()
      }
      assert(e.getMessage.contains("materialized view"))
    }
  }

  test("export mode => reference is zero-copy; txn-dependent state refuses") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root,
        (0 until 2).map(b => ("ev", s"b=$b",
          (b * 50 until (b + 1) * 50).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))),
        statsColumns = Seq("k"))
      val dest = Files.createTempDirectory("procexpr").toFile.getAbsolutePath
      val r = s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        "mode => 'reference', pin_tag => 'dr1')").collect().head
      assert(r.getLong(0) === 1L)
      // the pin tag landed at the SOURCE, pinning the exported txn
      // against vacuum for as long as the reference must stay readable
      assert(TxnCatalog.tags(s2, root) ===
        Map("dr1" -> TxnCatalog.currentTxn(s2, root).get))
      // rows readable at the destination, carried stats intact...
      val dsnap = TxnCatalog.snapshot(s2, dest).get
      assert(dsnap.read("ev").get.count() === 100L)
      assert(dsnap.rowCount("ev").contains(100L))
      assert(dsnap.columnBounds("ev", "k").isDefined,
        "stats carry verbatim (content identical)")
      // ...and NOT ONE data file exists under the destination root:
      // every entry references the source's physical dirs
      def parquetUnder(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).toSeq.flatten
        kids.filter(_.getName.endsWith(".parquet")) ++
          kids.filter(k => k.isDirectory && k.getName != "_txns")
            .flatMap(parquetUnder)
      }
      val dataFiles = parquetUnder(new java.io.File(dest))
        .filterNot(_.getPath.contains("~p")) // the KB-scale props entry
      assert(dataFiles.isEmpty,
        s"reference export must move zero data bytes: $dataFiles")
      // a destination vacuum FORGETS external dirs, never deletes them
      TxnCatalog.read(s2, dest, "ev").get.count()
      // pending deletes refuse the reference mode (txn order is lost)
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(3L).toDF("k"))
      val dest2 = Files.createTempDirectory("procexpr2")
        .toFile.getAbsolutePath
      val e = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
          "mode => 'reference')").collect()
      }
      assert(e.getMessage.contains("apply_deletes"))
      // ... while copy mode materializes them happily
      s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
        "mode => 'copy')").collect()
      assert(TxnCatalog.snapshot(s2, dest2).get
        .read("ev").get.count() === 99L)
    }
  }

  test("export as_of pins a time-travel state; reference carries hive entries") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root,
        Seq(("ev", "b=0",
          (0 until 40).map(i => (i.toLong, s"n$i")).toDF("k", "nm"))),
        statsColumns = Seq("k"))
      val preDelete = TxnCatalog.currentTxn(s2, root).get
      TxnCatalog.deleteKeys(s2, root, "ev", "k", Seq(5L).toDF("k"))
      // as_of the PRE-delete txn: the destination holds all 40 rows —
      // the masked key included, because the mask postdates the pin
      val dest = Files.createTempDirectory("procexpao").toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        s"tables => 'ev', as_of => ${preDelete}L)").collect()
      assert(TxnCatalog.snapshot(s2, dest).get.read("ev").get
        .count() === 40L, "time-travel export pins the as_of state")
      // current-state export materializes the mask
      val dest2 = Files.createTempDirectory("procexpao2")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest2', " +
        "tables => 'ev')").collect()
      assert(TxnCatalog.snapshot(s2, dest2).get.read("ev").get
        .count() === 39L)

      // a hive add_files table reference-exports with its ext-hive
      // entries (and the synthesis declaration) carried verbatim
      val hive = Files.createTempDirectory("procexphv")
        .toFile.getAbsolutePath
      (0 until 30).map(k => (k.toLong, s"v$k", (k % 3).toLong))
        .toDF("k", "v", "day")
        .write.partitionBy("day").mode("overwrite").parquet(hive)
      graft.storage.Importer.addFiles(s2, root, "hv", hive)
      val dest3 = Files.createTempDirectory("procexphv2")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest3', " +
        "tables => 'hv', mode => 'reference')").collect()
      val hvd = TxnCatalog.snapshot(s2, dest3).get.read("hv").get
      assert(hvd.count() === 30L)
      assert(hvd.filter($"day" === 1L).count() === 10L,
        "synthesized hive columns survive the reference export")
    }
  }

  test("reference catch-up re-derives the destination wholesale, zero-copy") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root,
        (0 until 2).map(b => ("ev", s"b=$b",
          (b * 50 until (b + 1) * 50).map(i => (i.toLong, s"n$i"))
            .toDF("k", "nm"))),
        statsColumns = Seq("k"))
      val dest = Files.createTempDirectory("procrefcu").toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        "mode => 'reference')").collect()
      // the source moves on: an append AND a compaction (the exported
      // dirs b=0/b=1 no longer exist in the current manifest)
      TxnCatalog.appendBatch(s2, root, "ev", "b=2",
        Seq((100L, "x100"), (101L, "x101")).toDF("k", "nm"))
      TxnCatalog.compactPartitions(s2, root, "ev", Seq("b=0", "b=1"), "c=0")
      val r = s2.sql(s"CALL lake.system.export(dest => '$dest', " +
        "catch_up => true, mode => 'reference')").collect().head
      assert(r.getLong(0) === 2L && r.getInt(1) === 1)
      // the destination re-derives: current partitions only (the stale
      // b=0/b=1 references dropped IN the same commit), full row set,
      // carried stats, and still not one data file under the dest root
      val dsnap = TxnCatalog.snapshot(s2, dest).get
      assert(TxnCatalog.partitions(s2, dest, "ev").sorted ===
        Seq("batch=b=2", "c=0"))
      assert(dsnap.read("ev").get.count() === 102L)
      assert(dsnap.rowCount("ev").contains(102L))
      def parquetUnder(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).toSeq.flatten
        kids.filter(_.getName.endsWith(".parquet")) ++
          kids.filter(k => k.isDirectory && k.getName != "_txns")
            .flatMap(parquetUnder)
      }
      assert(parquetUnder(new java.io.File(dest))
        .filterNot(_.getPath.contains("~p")).isEmpty,
        "a reference catch-up moves zero data bytes")
      // catch-up ≡ a fresh reference export of the same snapshot
      val fresh = Files.createTempDirectory("procrefcu2")
        .toFile.getAbsolutePath
      s2.sql(s"CALL lake.system.export(dest => '$fresh', " +
        "mode => 'reference')").collect()
      assert(dsnap.read("ev").get.orderBy("k").collect() ===
        TxnCatalog.snapshot(s2, fresh).get.read("ev").get
          .orderBy("k").collect())
      // a COPY catch-up against the reference destination refuses (the
      // other half of the mode-mismatch symmetry)
      TxnCatalog.appendBatch(s2, root, "ev", "b=3",
        Seq((200L, "y")).toDF("k", "nm"))
      val e1 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "catch_up => true)").collect()
      }
      assert(e1.getMessage.contains("REFERENCE"))
      // destination-side deletes are divergence here too
      TxnCatalog.deleteKeys(s2, dest, "ev", "k", Seq(1L).toDF("k"))
      val e2 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "catch_up => true, mode => 'reference')").collect()
      }
      assert(e2.getMessage.contains("diverged"))
      // since_txn stays copy-only: a reference catch-up re-derives
      // wholesale, an explicit base buys nothing
      val e3 = intercept[Exception] {
        s2.sql(s"CALL lake.system.export(dest => '$dest', " +
          "since_txn => 1L, mode => 'reference')").collect()
      }
      assert(e3.getMessage.contains("copy"))
    }
  }

  test("CALL system.mvs lists views with watermark lag and exact-currency") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      TxnCatalog.commitPartitions(s2, root, Seq(("ev", "b=0",
        (0 until 30).map(i => (i.toLong, s"n${i % 3}")).toDF("k", "nm"))),
        statsColumns = Seq("k"))
      graft.storage.MaterializedAgg.create(s2, root, "ev_mv", "ev",
        Seq("nm"), Seq(graft.storage.MaterializedAgg.AggSpec("count")))
      // the source moves past the first view's watermark...
      TxnCatalog.appendBatch(s2, root, "ev", "b=1",
        Seq((100L, "n0")).toDF("k", "nm"))
      // ...and a second, current view lands after
      graft.storage.MaterializedAgg.create(s2, root, "ev_mv2", "ev",
        Seq("nm"), Seq(graft.storage.MaterializedAgg.AggSpec("count"),
          graft.storage.MaterializedAgg.AggSpec("hll", "k")))
      val rows = s2.sql("CALL lake.system.mvs()").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))
      assert(rows === Array(
        ("ev_mv", "ev", "", "count:", 2L, 2L, false),
        ("ev_mv2", "ev", "", "count:,hll:k", 4L, 0L, true)),
        s"got ${rows.mkString("; ")}")
      // refresh re-arms currency (lag 0 after the refresh commit)
      graft.storage.MaterializedAgg.refresh(s2, root, "ev_mv")
      val again = s2.sql("CALL lake.system.mvs()").collect()
        .map(r => (r.getString(0), r.getLong(5), r.getBoolean(6)))
      assert(again.toSeq ===
        Seq(("ev_mv", 0L, true), ("ev_mv2", 1L, true)))
    }
  }

  test("vacuum dry_run lists the exact reclamation plan, touches nothing") {
    withCatalog { (s2, root) =>
      import s2.implicits._
      (0 until 3).foreach { i =>
        TxnCatalog.commitPartitions(s2, root,
          Seq(("v", s"b=$i",
            (0 until 10).map(j => ((i * 10 + j).toLong, s"r$i$j"))
              .toDF("k", "nm"))))
      }
      // compaction strands the three small dirs once their txns drop
      TxnCatalog.compactPartitions(s2, root, "v",
        Seq("b=0", "b=1", "b=2"), "c=0")
      val txnsBefore = TxnCatalog.txns(s2, root).size
      val dry = s2.sql(
        "CALL lake.system.vacuum(keep => 1, dry_run => true)").collect()
      val byKind = dry.groupBy(_.getString(0)).view
        .mapValues(_.map(_.getString(1)).toSeq).toMap
      assert(byKind("manifest").size === txnsBefore - 1,
        s"every dropped txn's manifest is planned: $byKind")
      assert(byKind("data").nonEmpty,
        "the compacted-away dirs are planned as dead data")
      assert(dry.forall(r => !r.isNullAt(2) && r.getLong(2) >= 0L),
        "each planned path reports its bytes")
      // a dropped txn's dead data dir ALSO meets the orphan criteria —
      // the plan must list each physical path exactly ONCE (qualified-
      // path dedup across kinds), never double-counting its bytes
      val normalized = dry.map(r => new org.apache.hadoop.fs.Path(
        r.getString(1)).toUri.getPath).toSeq
      assert(normalized.distinct.size === normalized.size,
        s"duplicate paths across kinds: ${normalized.diff(normalized.distinct)}")
      // nothing was touched: txns intact, every planned path present
      assert(TxnCatalog.txns(s2, root).size === txnsBefore)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s2.sparkContext.hadoopConfiguration)
      assert(dry.forall(r =>
        fs.exists(new org.apache.hadoop.fs.Path(r.getString(1)))),
        "dry run deletes nothing")
      // the real run executes exactly that plan
      val real = s2.sql("CALL lake.system.vacuum(keep => 1)")
        .collect().head
      assert(real.getInt(0) === byKind("manifest").size,
        "reclaimed txns == planned manifests")
      assert(dry.forall(r =>
        !fs.exists(new org.apache.hadoop.fs.Path(r.getString(1)))),
        "every planned path is gone after the real vacuum")
      assert(s2.sql("SELECT count(*) FROM lake.default.v")
        .collect().head.getLong(0) === 30L, "live data untouched")
    }
  }

  test("SHOW PROCEDURES lists the surface; unknown CALL fails cleanly") {
    withCatalog { (s2, _) =>
      val listed = s2.sql("SHOW PROCEDURES IN lake.system")
      val nameIdx = listed.columns
        .indexWhere(_.toLowerCase(java.util.Locale.ROOT).endsWith("name"))
      val names = listed.collect().map(_.getString(nameIdx)).toSet
      assert(names === Set("optimize", "cluster", "vacuum", "history",
        "analyze", "apply_deletes", "restore", "bucket", "create_mv",
        "refresh_mv", "tag", "drop_tag", "tags", "branch",
        "publish_branch", "drop_branch", "clone", "evolve_partitioning",
        "add_files", "skipping", "clustering_depth", "fold_report",
        "export", "mvs"))
      val e = intercept[Exception] {
        s2.sql("CALL lake.system.nope()").collect()
      }
      assert(e.getMessage.contains("nope"))
    }
  }
}
