package graft.streaming

import java.sql.Timestamp
import graft.GraftSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Top-level (encoder codegen cannot reference suite-inner classes). */
case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** Streaming semantics driven through MemoryStream micro-batches with
  * manually-advanced event time (SURVEY §5.5): window contents, watermark
  * late-row dropping, session merging, stateful dedupe.
  */
class StreamsSpec extends GraftSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def runBatches(
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: String, name: String)(batches: Seq[Ev]*): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q: StreamingQuery = transform(src.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  test("tumbling windows: counts and exact sums per 10-minute window") {
    val rows = runBatches(Streams.tumblingAgg(_, "ts", "10 minutes", "30 minutes"),
      "complete", "t_tumble")(
      Seq(Ev(ts(1), 1, "click", 1.5), Ev(ts(4), 1, "click", 2.5),
        Ev(ts(11), 2, "view", 4.0)))
    val byWin = rows.map(r => (r.getTimestamp(0).toString, r.getString(2)) ->
      ((r.getLong(3), r.getDouble(4)))).toMap
    assert(byWin(("2024-01-01 10:00:00.0", "click")) === ((2L, 4.0)))
    assert(byWin(("2024-01-01 10:10:00.0", "view")) === ((1L, 4.0)))
  }

  test("watermark drops late rows in append mode") {
    val rows = runBatches(Streams.tumblingAgg(_, "ts", "10 minutes", "5 minutes"),
      "append", "t_late")(
      Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 1, "click", 1.0)),
      Seq(Ev(ts(31), 1, "click", 1.0)), // watermark → 10:26; closes 10:00-10:10
      Seq(Ev(ts(3), 1, "click", 99.0)), // late beyond watermark → dropped
      Seq(Ev(ts(45), 1, "click", 1.0))  // advance further
    )
    val first = rows.find(_.getTimestamp(0) === ts(0)).get
    assert(first.getLong(3) === 2L, "late row must not be re-counted")
    assert(first.getDouble(4) === 2.0)
  }

  test("sliding windows: each event appears in width/slide windows") {
    val rows = runBatches(Streams.slidingAgg(_, "ts", "10 minutes", "5 minutes", "30 minutes"),
      "complete", "t_slide")(
      Seq(Ev(ts(7), 1, "click", 1.0)))
    // event at 10:07 → windows [10:00,10:10) and [10:05,10:15)
    val wins = rows.map(_.getTimestamp(0).toString).sorted
    assert(wins === Seq("2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0"))
  }

  test("session windows: events within gap merge; separate users don't") {
    val rows = runBatches(Streams.sessionAgg(_, "ts", "5 minutes", "30 minutes"),
      "complete", "t_sess")(
      Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(3), 1, "view", 2.0),   // one session
        Ev(ts(20), 1, "click", 3.0),                               // new session (gap > 5m)
        Ev(ts(2), 2, "click", 5.0)))                               // other user
    val byUser = rows.groupBy(_.getLong(2))
    assert(byUser(1L).size === 2)
    val s1 = byUser(1L).find(_.getLong(3) === 2L).get
    assert(s1.getTimestamp(0) === ts(1) && s1.getDouble(4) === 3.0)
    assert(byUser(2L).size === 1)
  }

  test("flatMapGroupsWithState: per-key sequence numbers persist across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streams.assignPerKeySequence(src.toDF(), "user_id", "ts", "30 minutes")
      .writeStream.format("memory").queryName("t_seq").outputMode("append").start()
    try {
      src.addData(Seq(Ev(ts(2), 1, "click", 1.0), Ev(ts(1), 1, "click", 1.0),
        Ev(ts(1), 2, "view", 1.0)))
      q.processAllAvailable()
      src.addData(Seq(Ev(ts(5), 1, "click", 1.0)))  // same key, next batch
      q.processAllAvailable()
      val rows = spark.table("t_seq")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      // user 1: batch 1 numbers its events in EVENT-TIME order (10:01 → 1,
      // 10:02 → 2); batch 2 continues from stored state (10:05 → 3)
      val u1 = rows.filter(_._1 == 1L).sortBy(_._3)
      assert(u1.map(r => (r._2, r._3)).toSeq ===
        Seq((ts(1), 1L), (ts(2), 2L), (ts(5), 3L)))
      assert(rows.filter(_._1 == 2L).map(_._3).toSeq === Seq(1L))
    } finally q.stop()
  }

  test("twinCommitSink: each micro-batch lands atomically in both tables") {
    implicit val sqlCtx = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    val (root, ckDir) = (tmp("sroot"), tmp("sck"))
    val src = MemoryStream[Ev]
    val q = Streams.twinCommitSink(
      src.toDF(),
      batch => (
        batch.select(col("user_id").as("ID"), col("event_type").as("INDICE")),
        batch.select(col("user_id").as("ID_IMAGEN_FUENTE"))),
      root, "catalog", "lineage", ckDir)
    try {
      src.addData(Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0)))
      q.processAllAvailable()
      src.addData(Seq(Ev(ts(3), 3, "click", 3.0)))
      q.processAllAvailable()
      val cat = graft.storage.TxnCatalog.read(spark, root, "catalog").get
      val lin = graft.storage.TxnCatalog.read(spark, root, "lineage").get
      assert(cat.count() === 3 && lin.count() === 3)
      assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog").size === 2)
    } finally q.stop()
  }

  test("twinCommitSink compactEvery: batch count stays bounded, rows survive") {
    implicit val sqlCtx = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    val (root, ckDir) = (tmp("scroot"), tmp("scck"))
    val src = MemoryStream[Ev]
    val q = Streams.twinCommitSink(
      src.toDF(),
      batch => (
        batch.select(col("user_id").as("ID"), col("event_type").as("INDICE")),
        batch.select(col("user_id").as("ID_IMAGEN_FUENTE"))),
      root, "catalog", "lineage", ckDir, compactEvery = 2)
    try {
      for (i <- 1 to 5) {
        src.addData(Seq(Ev(ts(i), i, s"e$i", i.toDouble)))
        q.processAllAvailable()
      }
      // every append that reaches 2 committed batches folds them: the
      // partition count never exceeds the threshold
      val batches = graft.storage.TwinCommit.committedBatches(spark, root, "catalog")
      assert(batches.size <= 2, s"maintenance must bound batches: $batches")
      assert(graft.storage.TxnCatalog.partitions(spark, root, "catalog")
        === graft.storage.TxnCatalog.partitions(spark, root, "lineage"))
      val cat = graft.storage.TxnCatalog.read(spark, root, "catalog").get
      assert(cat.select("ID").as[Long].collect().toSet
        === Set(1L, 2L, 3L, 4L, 5L))
      assert(graft.storage.TxnCatalog.read(spark, root, "lineage").get
        .count() === 5)
    } finally q.stop()
  }

  test("twinCommitSink clusterEvery: streamed lake prunes like a batch-built clustered one") {
    implicit val sqlCtx = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    val (root, ckDir, broot) = (tmp("szroot"), tmp("szck"), tmp("szbatch"))
    val T = graft.storage.TxnCatalog
    // 6 micro-batches; every batch spans the FULL user range (arrival
    // stats prune nothing on ID) while VAL carries the batch index
    def evs(k: Int) = (0 until 32).map(u =>
      Ev(ts(k * 5), u.toLong, s"e$k", k.toDouble))
    val split = (batch: org.apache.spark.sql.DataFrame) => (
      batch.select(col("user_id").as("ID"), col("value").as("VAL")),
      batch.select(col("user_id").as("ID_IMAGEN_FUENTE")))
    val src = MemoryStream[Ev]
    val q = Streams.twinCommitSink(src.toDF(), split,
      root, "catalog", "lineage", ckDir,
      clusterEvery = 3, clusterDims = Seq("VAL", "ID"),
      clusterBuckets = 4, clusterBits = 3)
    try {
      (0 until 6).foreach { k => src.addData(evs(k)); q.processAllAvailable() }
    } finally q.stop()
    // the stream decayed into NOTHING append-shaped: every catalog
    // partition is a generation tile (two passes fired: after b2, b5)
    val parts = T.partitions(spark, root, "catalog")
    assert(parts.nonEmpty && parts.forall(_.startsWith("z")),
      s"unclustered batches left behind: $parts")
    // lineage stayed bounded: each pass folds everything the catalog no
    // longer mirrors, so one lfold partition remains
    val lparts = T.partitions(spark, root, "lineage")
    assert(lparts.size === 1 && lparts.head.startsWith("lfold"),
      s"lineage not folded: $lparts")
    assert(T.read(spark, root, "lineage").get.count() === 192L)
    // reference: the same 6 slices committed and clustered in one batch
    // pass, same tile granularity
    T.commitPartitions(spark, broot, (0 until 6).map(k =>
      ("catalog", s"batch=$k", evs(k).toDF()
        .select(col("user_id").as("ID"), col("value").as("VAL")))))
    T.clusterPartitionsN(spark, broot, "catalog",
      (0 until 6).map(k => s"batch=$k"), "z=", Seq("VAL", "ID"),
      buckets = 4, bits = 3)
    val (ssnap, bsnap) =
      (T.snapshot(spark, root).get, T.snapshot(spark, broot).get)
    // row parity: maintained stream ≡ batch build, in full and windowed
    val all = ssnap.read("catalog").get
      .as[(Long, Double)].collect().toSet
    assert(all === bsnap.read("catalog").get
      .as[(Long, Double)].collect().toSet)
    assert(all.size === 192)
    val sGot = ssnap.readWhere("catalog", "ID", 0.0, 7.0).get
      .as[(Long, Double)].collect().toSet
    assert(sGot === all.filter(_._1 <= 7L))
    assert(sGot === bsnap.readWhere("catalog", "ID", 0.0, 7.0).get
      .as[(Long, Double)].collect().toSet)
    // pruning parity: the maintained stream prunes at least as many
    // partitions for the window as the batch-built lake
    val sKeep = ssnap.partitionsWhere("catalog", "ID", 0.0, 7.0)
    val bKeep = bsnap.partitionsWhere("catalog", "ID", 0.0, 7.0)
    val sPruned = parts.size - sKeep.size
    val bPruned = bsnap.partitions("catalog").size - bKeep.size
    assert(sPruned >= bPruned && sPruned > 0,
      s"streamed lake pruned $sPruned (kept $sKeep of $parts), " +
        s"batch lake pruned $bPruned (kept $bKeep)")
  }

  test("classifyCommitSink: streamed E1 classification equals the batch pipeline") {
    implicit val sqlCtx = spark.sqlContext
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    val (root, ckDir) = (tmp("e1root"), tmp("e1ck"))
    val predios = Seq(
      (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)),
        "C10", "Fundo Norte", "S1", "EU", "1"),
      (20L, Seq((4.0, 0.0), (6.0, 0.0), (6.0, 2.0), (4.0, 2.0)),
        "C20", "Fundo Sur", "S2", "PD", "2")
    ).toDF("predioId", "pts", "CODIGO", "NOMBRE", "SECCION", "TIPOUSO", "APL")
      .select($"predioId",
        org.apache.spark.sql.functions.transform($"pts", p =>
          org.apache.spark.sql.functions.struct(
            p.getField("_1").as("x"), p.getField("_2").as("y"))).as("ring"),
        $"CODIGO", $"NOMBRE", $"SECCION", $"TIPOUSO", $"APL")
    // centroids via the gt escape hatch; one gap row (1-NN fallback) and
    // one unlocatable row (sentinel) so every classify method streams
    val b1 = Seq(("lake/a/img1.JPG", "bytes-1", Some(1.0), Some(1.0)),
      ("lake/b/img2.tif", "bytes-2", Some(4.5), Some(0.5)))
    val b2 = Seq(("lake/c/img3.JPG", "bytes-3", Some(3.0), Some(1.0)),
      ("lake/d/img4.JPG", "bytes-4", None, None))
    def toImages(df: org.apache.spark.sql.DataFrame) = df
      .toDF("path", "contentStr", "gt_cx", "gt_cy")
      .select($"path", $"contentStr".cast("binary").as("content"),
        $"gt_cx", $"gt_cy")
    val src = MemoryStream[(String, String, Option[Double], Option[Double])]
    val q = Streams.classifyCommitSink(toImages(src.toDF()), predios,
      cellSize = 2.0, runId = 7L, root, "catalog", "lineage", ckDir)
    try {
      Seq(b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getAs[String]("path"), r.getAs[String]("method"),
      r.getAs[String]("INDICE"), r.getAs[String]("RUTA_RESULTADO"))
    val streamed = graft.storage.TxnCatalog
      .read(spark, root, "catalog").get.collect().map(key).toSet
    val batchAll = graft.pipelines.Pipelines
      .ingestClassify(toImages((b1 ++ b2).toDF()), predios, 2.0)
      .collect().map(key).toSet
    assert(streamed === batchAll)
    assert(streamed.exists(_._2 === "contains") &&
      streamed.exists(_._2 === "nearest") &&
      streamed.exists(_._2 === "unclassifiable"))
    // lineage landed atomically with the catalog rows: one row per
    // LOCATED image, both batches committed
    val lin = graft.storage.TxnCatalog.read(spark, root, "lineage").get
    assert(lin.count() === 3 &&
      lin.select("ID_EJECUCION").distinct().as[Long].collect().toSeq === Seq(7L))
    assert(graft.storage.TwinCommit.committedBatches(spark, root, "catalog").size === 2)
  }

  test("incremental consumer: manifest diff yields exactly the new ingest batch") {
    // the 100 TB consumption pattern end to end: the streaming classify
    // ingest lands TwinCommit batch partitions; a downstream consumer
    // diffs two txns and reads ONLY the added partitions — never a rescan
    // of earlier batches
    implicit val sqlCtx = spark.sqlContext
    def tmpd(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    val (root, ckDir) = (tmpd("e1inc"), tmpd("e1incck"))
    val predios = Seq(
      (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)),
        "C10", "Fundo Norte", "S1", "EU", "1")
    ).toDF("predioId", "pts", "CODIGO", "NOMBRE", "SECCION", "TIPOUSO", "APL")
      .select($"predioId",
        org.apache.spark.sql.functions.transform($"pts", p =>
          org.apache.spark.sql.functions.struct(
            p.getField("_1").as("x"), p.getField("_2").as("y"))).as("ring"),
        $"CODIGO", $"NOMBRE", $"SECCION", $"TIPOUSO", $"APL")
    val b1 = Seq(("lake/a/img1.JPG", "bytes-1", Some(1.0), Some(1.0)))
    val b2 = Seq(("lake/c/img3.JPG", "bytes-3", Some(1.5), Some(1.0)),
      ("lake/d/img4.JPG", "bytes-4", Some(0.5), Some(0.5)))
    def toImages(df: org.apache.spark.sql.DataFrame) = df
      .toDF("path", "contentStr", "gt_cx", "gt_cy")
      .select($"path", $"contentStr".cast("binary").as("content"),
        $"gt_cx", $"gt_cy")
    val src = MemoryStream[(String, String, Option[Double], Option[Double])]
    val q = Streams.classifyCommitSink(toImages(src.toDF()), predios,
      cellSize = 2.0, runId = 9L, root, "catalog", "lineage", ckDir)
    var (t1, t2) = (0L, 0L)
    try {
      src.addData(b1); q.processAllAvailable()
      t1 = graft.storage.TxnCatalog.currentTxn(spark, root).get
      src.addData(b2); q.processAllAvailable()
      t2 = graft.storage.TxnCatalog.currentTxn(spark, root).get
    } finally q.stop()
    // the diff names exactly the second micro-batch's twin partitions
    val changes = graft.storage.TxnCatalog.diff(spark, root, t1, t2)
    assert(changes.map(c => (c.table, c.partition, c.change)).toSet === Set(
      ("catalog", "batch=b1", "added"), ("lineage", "batch=b1", "added")))
    // reading just those partitions yields just the new batch's rows
    val at2 = graft.storage.TxnCatalog.snapshotAt(spark, root, t2)
    val newPaths = changes.filter(_.table == "catalog")
      .flatMap(c => at2.readPartition(c.table, c.partition))
      .map(_.select("path").as[String].collect().toSet)
      .foldLeft(Set.empty[String])(_ ++ _)
    assert(newPaths === Set("lake/c/img3.JPG", "lake/d/img4.JPG"))
  }

  test("dropDuplicatesWithinWatermark: duplicate keys across batches collapse") {
    val rows = runBatches(
      Streams.dedupeWithinWatermark(_, "ts", "30 minutes", "user_id", "event_type"),
      "append", "t_dedup")(
      Seq(Ev(ts(1), 1, "click", 1.0)),
      Seq(Ev(ts(2), 1, "click", 2.0),   // dup key within watermark → dropped
        Ev(ts(2), 1, "view", 3.0)),     // new key → kept
      Seq(Ev(ts(3), 2, "click", 4.0)))
    assert(rows.size === 3)
    assert(rows.map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      === Set((1L, "click", 1.0), (1L, "view", 3.0), (2L, "click", 4.0)))
  }

  test("streaming sketch maintenance: CMS cells and HLL registers merge per micro-batch") {
    // sketches are mergeable by construction (sum cells / max registers),
    // so a stream maintains them with a tiny foreachBatch state table —
    // the state is depth*width rows forever, independent of stream volume
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("cms_state")
      .toFile.getAbsolutePath
    val src = MemoryStream[Ev]
    val q = src.toDF().writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val delta = graft.ops.Sketches.cmsBuild(
        batch.select(col("user_id")), "user_id", width = 16, depth = 3)
      val prev = try {
        spark.read.parquet(s"$stateDir/cells")
      } catch { case _: Exception => delta.limit(0) }
      prev.union(delta)
        .groupBy("j", "bucket")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        .write.mode("overwrite").parquet(s"$stateDir/cells_next")
      // swap: read-back then overwrite the live path (test-local two-step)
      spark.read.parquet(s"$stateDir/cells_next")
        .write.mode("overwrite").parquet(s"$stateDir/cells")
      ()
    }.start()
    val allBatches = Seq(
      (1 to 20).map(i => Ev(ts(1), i % 7L, "click", 1.0)),
      (1 to 30).map(i => Ev(ts(2), i % 11L, "view", 1.0)),
      (1 to 10).map(i => Ev(ts(3), 42L, "click", 1.0)))
    try {
      allBatches.foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$stateDir/cells")
      .as[(Int, Long, Long)].collect().toSet
    val batchAll = graft.ops.Sketches.cmsBuild(
        allBatches.flatten.toDF().select(col("user_id")),
        "user_id", width = 16, depth = 3)
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed === batchAll)
    // the same cells answer point queries identically to a batch build
    val est = graft.ops.Sketches.cmsEstimate(
        Seq(42L).toDF("k"), spark.read.parquet(s"$stateDir/cells"), "k",
        width = 16, depth = 3)
      .as[(Long, Long)].collect().head
    assert(est._2 >= 10L) // CMS never undercounts the hot key
  }

  test("streaming curation: quality-gate filter + exact dedup over a doc stream") {
    // the batch curation kernels (hashedLinearScore, fingerprint) run
    // unchanged on a stream: score filter is row-local (no state), dedup
    // rides dropDuplicates state keyed by content fingerprint
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val docs = src.toDF().toDF("doc_id", "text")
    val curated = docs
      .withColumn("score", graft.ops.Retrieval.hashedLinearScore(col("text")))
      .withColumn("fp", graft.ops.TextAnalysis.fingerprint(col("text")))
      .dropDuplicates("fp")
    val q = curated.writeStream.format("memory")
      .queryName("t_curation").outputMode("append").start()
    try {
      src.addData(Seq((1L, "spark join table"), (2L, "hash value row")))
      q.processAllAvailable()
      src.addData(Seq((3L, "SPARK  join, table!"), (4L, "fresh new doc")))
      q.processAllAvailable()
      val rows = spark.table("t_curation").collect()
      // doc 3 normalizes to doc 1's fingerprint -> deduped across batches
      assert(rows.map(_.getLong(0)).toSet === Set(1L, 2L, 4L))
      assert(rows.forall { r =>
        val s = r.getAs[Double]("score"); s > 0 && s < 1 })
    } finally q.stop()
  }

  test("streaming decontamination: per-batch scrub against static eval equals the batch run") {
    // decontaminate is per-doc row-independent against the (small, static)
    // eval set, so running it inside foreachBatch and appending is EXACTLY
    // the batch operator over the concatenated stream — the streaming form
    // of the benchmark-leakage scrub
    implicit val sqlCtx = spark.sqlContext
    val evalSet = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val outDir = java.nio.file.Files.createTempDirectory("decont_out")
      .toFile.getAbsolutePath
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Dedup.decontaminate(batch, evalSet, "doc_id", "text",
            shingleN = 3)
          .write.mode("append").parquet(outDir)
        ()
    }.start()
    val b1 = Seq((1L, "the quick brown fox went home"), // shares 3-grams
      (2L, "completely unrelated training text here"))
    val b2 = Seq((3L, "jumps over the lazy dog again and again"), // shares
      (4L, "clean document number four"))
    try {
      Seq(b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .as[(Long, Long, Int)].collect().toSet
    val batchAll = graft.ops.Dedup.decontaminate(
        (b1 ++ b2).toDF("doc_id", "text"), evalSet, "doc_id", "text",
        shingleN = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(streamed === batchAll)
    assert(streamed.exists { case (id, hits, flag) => id == 1L && hits > 0 && flag == 1 })
    assert(streamed.exists { case (id, hits, flag) => id == 2L && hits == 0L && flag == 0 })
  }

  test("streaming paragraph dedup: cross-batch paragraph state matches the batch run") {
    // paragraphDedupBatchStep keeps the seen-paragraph set in a state dir;
    // with ids arriving in order, appended output must be IDENTICAL to the
    // batch operator over the whole stream — boilerplate repeated across
    // batches survives only in its first doc
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("pdedup_lake")
      .toFile.getAbsolutePath
    // exactly 8 words => one aligned paragraph window when leading a doc
    val boiler = "all rights reserved contact us terms of service"
    val b1 = Seq((1L, "unique prose of document one stands fully alone"),
      (2L, s"$boiler second doc adds nothing but this tail"))
    val b2 = Seq((3L, s"$boiler third document repeats the leading window"),
      (4L, "entirely fresh paragraphs in the final doc"))
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Streams.paragraphDedupBatchStep(batch, id, "doc_id", "text",
          root, "out", "paras")
    }.start()
    try {
      Seq(b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = graft.storage.TxnCatalog.read(spark, root, "out").get
      .as[(Long, Long, Long, String)].collect().toSet
    val batchAll = graft.ops.Dedup.paragraphDedup(
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed === batchAll)
    // the boilerplate window's first occurrence is doc 2 (batch 1); doc 3
    // carries the same window in batch 2 and must lose it to CROSS-BATCH
    // state, not within-batch dedup
    val byId = streamed.map(r => r._1 -> r).toMap
    assert(byId(2L)._3 === byId(2L)._2) // first occurrence keeps everything
    assert(byId(3L)._3 < byId(3L)._2)
    assert(!byId(3L)._4.contains("rights reserved"))
  }

  test("streaming minhash near-dup dedup: cross-batch LSH state matches the batch rule") {
    // minHashDedupBatchStep keeps every SEEN doc in a state table; with
    // ids arriving in order (and the hot-bucket cap off, a per-run
    // statistic), appended survivors must be IDENTICAL to the batch rule
    // "drop any doc that near-dup-matches a lower-id doc" over the
    // concatenated stream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("mhdedup_lake")
      .toFile.getAbsolutePath
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")) // J=0.6 vs 1 -> dropped
    val b2 = Seq(
      (3L, "alpha beta gamma delta epsilon theta"), // J=0.6 vs 1: CROSS-batch drop
      (4L, "one two three four five six"),
      (5L, "one two three four five seven"), // J=0.6 vs 4: within-batch drop
      (6L, "omega beta gamma delta epsilon eta")) // J=0.6 vs DROPPED 2 only (1/3 vs 1)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Streams.minHashDedupBatchStep(batch, id, "doc_id", "text",
          root, "out", "docs")
    }.start()
    try {
      Seq(b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val streamed = graft.storage.TxnCatalog.read(spark, root, "out").get
      .as[(Long, String)].collect().toSet
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val droppedAll = graft.ops.Dedup.minHashLshPairs(all, "doc_id", "text",
        maxBucketSize = 0)
      .select(col("idb").as("doc_id")).distinct()
    val batchKept = all.join(droppedAll, Seq("doc_id"), "left_anti")
      .as[(Long, String)].collect().toSet
    assert(streamed === batchKept)
    // doc 6 near-dup-matches ONLY the already-dropped doc 2 — dropping it
    // requires the state to hold every seen doc, not just survivors
    assert(streamed.map(_._1) === Set(1L, 4L))
  }

  /** Both dedup steps over one lake root, each with its own output and
    * state tables, keyed by name. */
  private def dedupSteps(root: String)
      : Seq[(String, (org.apache.spark.sql.DataFrame, Long) => Unit)] = Seq(
    "paras" -> ((b, id) => Streams.paragraphDedupBatchStep(b, id, "doc_id",
      "text", root, "paras_out", "paras")),
    "docs" -> ((b, id) => Streams.minHashDedupBatchStep(b, id, "doc_id",
      "text", root, "docs_out", "docs")))

  private val dedupBatches = Seq(
    Seq((1L, "all rights reserved contact us terms of service first"),
      (2L, "unique prose of document two stands fully alone")),
    Seq((3L, "all rights reserved contact us terms of service third"),
      (4L, "entirely fresh paragraphs in the final doc")))

  /** Output and state of one step's tables, order-free. */
  private def dedupTables(root: String, name: String): (Seq[String], Seq[String]) = {
    def rows(t: String) = graft.storage.TxnCatalog.read(spark, root, t)
      .toSeq.flatMap(_.collect().map(_.toString)).sorted
    (rows(s"${name}_out"), rows(name))
  }

  test("streaming dedup steps: a redelivered batch id leaves output and state unchanged") {
    val root = java.nio.file.Files.createTempDirectory("dedup_redeliver")
      .toFile.getAbsolutePath
    val frames = dedupBatches.map(_.toDF("doc_id", "text"))
    dedupSteps(root).foreach { case (name, step) =>
      frames.zipWithIndex.foreach { case (b, id) => step(b, id.toLong) }
      val landed = dedupTables(root, name)
      val txn = graft.storage.TxnCatalog.currentTxn(spark, root)
      // foreachBatch redelivers a batch whose commit landed but whose
      // checkpoint did not: the ledger refuses it, and an older id too
      step(frames(1), 1L)
      step(frames(0), 0L)
      assert(dedupTables(root, name) === landed, name)
      assert(graft.storage.TxnCatalog.currentTxn(spark, root) === txn, name)
    }
    val (paraOut, paraState) = dedupTables(root, "paras")
    assert(paraOut.size === 4)
    assert(paraState.size === paraState.distinct.size,
      "the seen-set holds one row per paragraph")
    assert(dedupTables(root, "docs")._2.size === 4)
  }

  test("streaming dedup steps: a failed commit lands nothing, its replay lands once") {
    val root = java.nio.file.Files.createTempDirectory("dedup_fail")
      .toFile.getAbsolutePath
    val clean = java.nio.file.Files.createTempDirectory("dedup_clean")
      .toFile.getAbsolutePath
    val frames = dedupBatches.map(_.toDF("doc_id", "text"))
    dedupSteps(clean).foreach { case (_, step) =>
      frames.zipWithIndex.foreach { case (b, id) => step(b, id.toLong) }
    }
    dedupSteps(root).foreach { case (name, step) =>
      step(frames(0), 0L)
      val afterFirst = dedupTables(root, name)
      val txn = graft.storage.TxnCatalog.currentTxn(spark, root)
      // a plain file where batch 1's state partition is staged: the
      // output stages first, then the state write fails inside the commit
      val block = new java.io.File(s"$root/$name/batch=b1")
      assert(block.createNewFile())
      intercept[Exception](step(frames(1), 1L))
      assert(dedupTables(root, name) === afterFirst, name)
      assert(graft.storage.TxnCatalog.currentTxn(spark, root) === txn, name)
      assert(graft.storage.TxnCatalog.lastLedgerVersion(spark, root, name,
        name) === Some(0L), name)
      // the replay lands the batch once, exactly as an unbroken run did
      assert(block.delete())
      step(frames(1), 1L)
      step(frames(1), 1L)
      assert(dedupTables(root, name) === dedupTables(clean, name), name)
    }
  }

  test("the same transforms run on batch DataFrames (unified model)") {
    val batch = Seq(
      Ev(ts(1), 1, "click", 1.5), Ev(ts(4), 1, "click", 2.5), Ev(ts(11), 2, "view", 4.0)
    ).toDF()
    val out = Streams.tumblingAgg(batch, "ts", "10 minutes", "30 minutes")
      .orderBy("w_start").collect()
    assert(out.length === 2)
    assert(out(0).getLong(3) === 2L && out(0).getDouble(4) === 4.0)
  }

  test("streaming file source: continuous ingest over a landing directory") {
    val dir = java.nio.file.Files.createTempDirectory("landing").toFile
    val out = java.nio.file.Files.createTempDirectory("chk").toFile
    // batch 1 lands before the stream starts
    Seq(Ev(ts(1), 1, "click", 1.0), Ev(ts(2), 2, "view", 2.0)).toDF()
      .write.mode("append").json(dir.getAbsolutePath)
    val schema = Seq.empty[Ev].toDF().schema
    val stream = spark.readStream.schema(schema).json(dir.getAbsolutePath)
    val q = Streams.tumblingAgg(stream, "ts", "10 minutes", "30 minutes")
      .writeStream.format("memory").queryName("t_files").outputMode("complete")
      .option("checkpointLocation", out.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("t_files").count() === 2) // (click) + (view) in window 10:00
      // batch 2 lands while running — picked up incrementally
      Seq(Ev(ts(3), 3, "click", 3.0)).toDF()
        .write.mode("append").json(dir.getAbsolutePath)
      q.processAllAvailable()
      val n = spark.table("t_files")
        .filter($"event_type" === "click").select("n").as[Long].collect().head
      assert(n === 2L)
    } finally q.stop()
  }

  test("stream-static spatial join: E1 classification of a point stream") {
    implicit val sqlCtx = spark.sqlContext
    val parcels = Seq(
      (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)))
    ).toDF("pid", "pts")
      .select($"pid", org.apache.spark.sql.functions.transform($"pts",
        p => org.apache.spark.sql.functions.struct(
          p.getField("_1").as("x"), p.getField("_2").as("y"))).as("ring"))
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Double)]
    val pts = src.toDF().toDF("id", "px", "py")
    val q = graft.geo.SpatialJoin.pointInPolygonJoin(pts, parcels, "px", "py", "ring", 2.0)
      .select("id", "pid")
      .writeStream.format("memory").queryName("t_geo_stream").outputMode("append").start()
    try {
      src.addData((1L, 1.0, 1.0), (2L, 5.0, 5.0))
      q.processAllAvailable()
      src.addData((3L, 0.5, 1.5))
      q.processAllAvailable()
      val got = spark.table("t_geo_stream").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (3L, 10L))) // outside point never matches
    } finally q.stop()
  }

  test("stream-stream join: purchases attributed to clicks within 15 minutes") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val c = clicks.toDF().withWatermark("ts", "30 minutes")
      .select($"user_id".as("c_user"), $"ts".as("click_ts"))
    val b = buys.toDF().withWatermark("ts", "30 minutes")
      .select($"user_id".as("b_user"), $"ts".as("buy_ts"), $"value")
    val joined = c.join(b,
      $"c_user" === $"b_user" &&
        $"buy_ts" >= $"click_ts" &&
        $"buy_ts" <= $"click_ts" + expr("INTERVAL 15 minutes"))
    val q = joined.writeStream.format("memory").queryName("t_ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(Seq(Ev(ts(1), 1, "click", 0.0), Ev(ts(2), 2, "click", 0.0)))
      q.processAllAvailable()
      buys.addData(Seq(
        Ev(ts(10), 1, "purchase", 9.99),   // within 15m of user 1 click
        Ev(ts(40), 2, "purchase", 5.0)))   // too late for user 2 click
      q.processAllAvailable()
      val got = spark.table("t_ss_join")
        .select("c_user", "value").as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 9.99)))
    } finally q.stop()
  }

  test("withStatePartitions: stream keeps n, session conf reverts, results exact") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val src = MemoryStream[Ev]
    val q = Streams.withStatePartitions(spark, 3) {
      // mid-start the conf must be what the stream clones
      assert(spark.conf.get(key) === "3")
      src.toDF().dropDuplicates("user_id")
        .writeStream.format("memory").queryName("t_state_parts")
        .outputMode("append").start()
    }
    try {
      // restored for batch work the moment start() returns
      assert(spark.conf.get(key) === before)
      src.addData(Seq(Ev(ts(1), 1, "a", 1.0), Ev(ts(2), 1, "b", 2.0)))
      q.processAllAvailable()
      src.addData(Seq(Ev(ts(3), 1, "c", 3.0), Ev(ts(4), 2, "d", 4.0)))
      q.processAllAvailable()
      // the RUNNING stream kept n=3: state is spread over exactly 3
      // shuffle partitions (StreamExecution clones the session inside
      // start(), before the conf reverts)
      val lastProgress = q.recentProgress.last
      assert(lastProgress.stateOperators.head.numShufflePartitions === 3L)
      // dedupe semantics unaffected: first row per user_id survives
      val got = spark.table("t_state_parts")
        .select("user_id", "value").as[(Long, Double)].collect().toSet
      assert(got === Set((1L, 1.0), (2L, 4.0)))
    } finally q.stop()
  }
}
