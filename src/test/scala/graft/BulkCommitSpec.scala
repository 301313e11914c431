package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.storage.TxnCatalog

/** [[TxnCatalog.commitPartitioned]]: every distinct key as a partition
  * in ONE txn with O(1) Spark jobs — equivalent to the per-partition
  * loop in rows, stats rendering, and pruning. */
class BulkCommitSpec extends GraftSuite {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("bulk").toString

  private def sample = (0 until 200)
    .map(i => (i.toLong, i % 8, s"name$i", i * 1.5))
    .toDF("id", "grp", "nm", "score")

  test("bulk commit equals the per-partition loop: rows, partitions, stats") {
    val bulk = tmp()
    val loop = tmp()
    // every stat kind: numeric (with exact sum), string, timestamp,
    // decimal (exact sum), a column with nulls, and Bloom columns
    val in = sample
      .withColumn("ts", timestamp_seconds($"id" * 3600L + 1700000000L))
      .withColumn("amt", ($"id" * 0.25).cast("decimal(10,2)"))
      .withColumn("opt", when($"id" % 3 === 0, lit(null)).otherwise($"nm"))
    val statsCols = Seq("id", "nm", "ts", "amt", "opt")
    val bloomCols = Seq("nm", "id")
    TxnCatalog.commitPartitioned(spark, bulk, "t", in, "grp",
      statsColumns = statsCols, bloomColumns = bloomCols)
    TxnCatalog.commitPartitions(spark, loop,
      (0 until 8).map(g => ("t", s"grp=$g", in.filter($"grp" === g))),
      statsColumns = statsCols, bloomColumns = bloomCols)
    val sb = TxnCatalog.snapshot(spark, bulk).get
    val sl = TxnCatalog.snapshot(spark, loop).get
    assert(sb.partitions("t") === sl.partitions("t"))
    assert(sb.read("t").get.collect().toSet === sl.read("t").get.collect().toSet)
    // the key column survived as a DATA column
    assert(sb.read("t").get.columns.sorted ===
      Array("amt", "grp", "id", "nm", "opt", "score", "ts"))
    // grouped stats render identically to the staged-file stats pass,
    // Bloom payloads included
    sl.partitions("t").foreach { p =>
      val st = sl.stats("t", p)
      assert(st.keySet === statsCols.toSet, s"stat kinds missing in $p")
      assert(st("amt").sum.isDefined && st("opt").nulls.exists(_ > 0L) &&
        bloomCols.forall(c => st(c).bloom.nonEmpty), s"stat parts in $p")
      assert(sb.stats("t", p) === st, s"stats mismatch in $p")
      assert(sb.rowCount("t", p) === sl.rowCount("t", p))
    }
    // and pruning behaves identically (id ranges differ per group here
    // only via the bloom-less range stats, same on both sides)
    assert(sb.partitionsWhere("t", "id", 0L, 10L)
      === sl.partitionsWhere("t", "id", 0L, 10L))
  }

  test("one txn, O(1) jobs for N partitions") {
    val root = tmp()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val wide = (0 until 400).map(i => (i.toLong, i % 40)).toDF("id", "grp")
      TxnCatalog.commitPartitioned(spark, root, "t", wide, "grp",
        statsColumns = Seq("id"))
      // listener delivery is async: poll briefly for the last job event
      val deadline = System.currentTimeMillis() + 10000L
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      Thread.sleep(500L)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(TxnCatalog.currentTxn(spark, root).get === 1L)
    assert(TxnCatalog.partitions(spark, root, "t").size === 40)
    // small headroom over the 2 intrinsic jobs (write + grouped stats):
    // a prior suite's async cleanup job can land in the listener window
    assert(jobs.get() <= 6,
      s"bulk commit of 40 partitions must stay O(1) jobs, ran ${jobs.get()}")
    assert(TxnCatalog.read(spark, root, "t").get.count() === 400L)
  }

  test("per-entry commit runs at most write + stats per entry") {
    val root = tmp()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    }
    val updates = Seq("cat", "lin", "run").map(t =>
      (t, "b=0", (0 until 50).map(i => (i.toLong, s"$t$i")).toDF("id", "nm")))
    spark.sparkContext.addSparkListener(l)
    try {
      TxnCatalog.commitPartitions(spark, root, updates,
        statsColumns = Seq("id"))
      val deadline = System.currentTimeMillis() + 10000L
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50L)
      Thread.sleep(500L)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(TxnCatalog.snapshot(spark, root).get.stats("lin", "b=0")
      .contains("id"))
    // 3 entries x (write + stats), with the same small headroom the
    // O(1)-jobs test above allows for a prior suite's async cleanup
    assert(jobs.get() <= 3 * 2 + 4,
      s"3-entry per-entry commit ran ${jobs.get()} jobs")
  }

  test("string keys with spaces and slashes escape, round trip, and prune") {
    val root = tmp()
    val df = Seq(
      (1L, "plain"), (2L, "with space"), (3L, "a/b=c%d"), (4L, "plain")
    ).toDF("id", "cat")
    TxnCatalog.commitPartitioned(spark, root, "t", df, "cat",
      statsColumns = Seq("id"))
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.partitions("t").size === 3)
    assert(snap.read("t").get.count() === 4L)
    assert(snap.read("t").get.filter($"cat" === "a/b=c%d")
      .select("id").as[Long].collect() === Array(3L))
    // rowCount per partition came from the grouped pass
    assert(snap.rowCount("t") === Some(4L))
  }

  test("null keys land in the hive default partition and read back") {
    val root = tmp()
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("x")))
      .toDF("id", "cat")
    TxnCatalog.commitPartitioned(spark, root, "t", df, "cat",
      statsColumns = Seq("id"))
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.partitions("t")
      === Seq("cat=__HIVE_DEFAULT_PARTITION__", "cat=x"))
    assert(snap.read("t").get.filter($"cat".isNull)
      .select("id").as[Long].collect() === Array(2L))
    assert(snap.rowCount("t", "cat=__HIVE_DEFAULT_PARTITION__") === Some(1L))
  }

  test("constraints enforce in one pass; whole-table tables refuse") {
    val root = tmp()
    TxnCatalog.commitPartitions(spark, root,
      Seq(("t", "grp=0", Seq((1L, 0)).toDF("id", "grp"))))
    TxnCatalog.setTableProperties(spark, root, "t",
      Map("constraint.pos" -> "id > 0"))
    intercept[IllegalArgumentException] {
      TxnCatalog.commitPartitioned(spark, root, "t",
        Seq((-5L, 1), (2L, 2)).toDF("id", "grp"), "grp")
    }
    assert(TxnCatalog.read(spark, root, "t").get.count() === 1L)
    // whole-table snapshot blocks partition commits, bulk included
    val root2 = tmp()
    TxnCatalog.commit(spark, root2, Seq(("w", Seq((1L, 1)).toDF("id", "grp"))))
    intercept[IllegalArgumentException] {
      TxnCatalog.commitPartitioned(spark, root2, "w",
        Seq((2L, 2)).toDF("id", "grp"), "grp")
    }
  }

  test("concurrent appendBatch writers all land exactly once") {
    val root = tmp()
    TxnCatalog.commitPartitions(spark, root, Seq(
      ("t", "batch=seed", Seq((0L, 0)).toDF("id", "grp"))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (1 to 8).map { w =>
        new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            TxnCatalog.appendBatch(spark, root, "t", s"w$w",
              Seq((w.toLong, w)).toDF("id", "grp"),
              statsColumns = Seq("id"))
        }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    // every writer's batch landed exactly once, behind distinct txns
    val parts = TxnCatalog.partitions(spark, root, "t")
    assert(parts.toSet === (1 to 8).map(w => s"batch=w$w").toSet + "batch=seed")
    assert(TxnCatalog.read(spark, root, "t").get
      .select("id").distinct().count() === 9L)
    assert(TxnCatalog.currentTxn(spark, root).get === 9L,
      "8 racing appends must serialize into 8 txns")
    // replay of an already-committed id is a no-op
    TxnCatalog.appendBatch(spark, root, "t", "w3",
      Seq((99L, 99)).toDF("id", "grp"))
    assert(TxnCatalog.currentTxn(spark, root).get === 9L)
    assert(TxnCatalog.read(spark, root, "t").get.count() === 9L)
  }

  test("vacuum reclaims crashed bulk staging dirs outside the retention window") {
    val root = tmp()
    TxnCatalog.commitPartitioned(spark, root, "t",
      Seq((1L, 0)).toDF("id", "grp"), "grp", statsColumns = Seq("id"))
    // simulate a crashed bulk attempt at the committed txn number
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val crashed = new org.apache.hadoop.fs.Path(s"$root/t/.bulk.1.deadbeef")
    fs.mkdirs(crashed)
    TxnCatalog.vacuum(spark, root)
    assert(!fs.exists(crashed), "committed-txn bulk staging must be reclaimed")
    assert(TxnCatalog.read(spark, root, "t").get.count() === 1L)
    // a FUTURE-txn staging dir (an in-flight bulk load) is never touched
    val inflight = new org.apache.hadoop.fs.Path(s"$root/t/.bulk.99.cafe0000")
    fs.mkdirs(inflight)
    TxnCatalog.vacuum(spark, root)
    assert(fs.exists(inflight), "in-flight bulk staging must survive vacuum")
  }

  test("bulk-loaded lake supports the full downstream lifecycle") {
    val root = tmp()
    TxnCatalog.commitPartitioned(spark, root, "t", sample, "grp",
      statsColumns = Seq("id", "score"))
    // readWhere prunes on the grouped stats
    val got = TxnCatalog.snapshot(spark, root).get
      .readWhere("t", "id", 0L, 20L).get
    assert(got.select("id").as[Long].collect().sorted === (0L to 20L).toArray)
    // cluster the bulk partitions — the usual OPTIMIZE path applies
    TxnCatalog.clusterPartitions(spark, root, "t",
      TxnCatalog.partitions(spark, root, "t"), "z=", "score", "id",
      buckets = 4, bits = 4)
    val clustered = TxnCatalog.snapshot(spark, root).get
    assert(clustered.read("t").get.collect().toSet
      === sample.collect().toSet)
  }

  test("nondeterministic input publishes stats describing the written bytes") {
    import org.apache.spark.sql.functions.{col, rand}
    val root = tmp()
    // every evaluation of this frame yields different values: stats
    // measured by re-running the plan would describe data that was
    // never written — and MetadataOnlyAgg would then serve those counts
    // and bounds as exact answers
    val nondet = spark.range(0, 2000, 1, 4)
      .select((col("id") % 5).as("grp"),
        (rand(seed = 7) * rand() * 1e6).cast("long").as("v"))
    TxnCatalog.commitPartitioned(spark, root, "t", nondet, "grp",
      statsColumns = Seq("v"))
    val snap = TxnCatalog.snapshot(spark, root).get
    snap.partitions("t").foreach { p =>
      val actual = snap.readPartition("t", p).get
        .agg(org.apache.spark.sql.functions.min("v").cast("string"),
          org.apache.spark.sql.functions.max("v").cast("string"),
          org.apache.spark.sql.functions.count("*")).head()
      val st = snap.stats("t", p)("v")
      assert(st.min === actual.getString(0) && st.max === actual.getString(1),
        s"$p: manifest stats must equal the written data's bounds")
      assert(snap.rowCount("t", p) === Some(actual.getLong(2)),
        s"$p: manifest row count must equal the written rows")
    }
    // the metadata-only count over all partitions is exact too
    assert(snap.rowCount("t") === Some(2000L))
  }
}
