package graft.pipelines

import graft.GraftSuite
import graft.multimodal.Multimodal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

class PipelinesSpec extends GraftSuite {
  import spark.implicits._

  // two 2×2 parcels side by side, grid-aligned
  private lazy val predios = Seq(
    (10L, Seq((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)),
      "C10", "Fundo Norte", "S1", "EU", "1"),
    (20L, Seq((4.0, 0.0), (6.0, 0.0), (6.0, 2.0), (4.0, 2.0)),
      "C20", "Fundo Sur", "S2", "PD", "2")
  ).toDF("predioId", "pts", "CODIGO", "NOMBRE", "SECCION", "TIPOUSO", "APL")
    .select($"predioId",
      transform($"pts", p => struct(p.getField("_1").as("x"), p.getField("_2").as("y")))
        .as("ring"),
      $"CODIGO", $"NOMBRE", $"SECCION", $"TIPOUSO", $"APL")

  // images: no EXIF in the bytes; centroids via the gt escape hatch
  // (SURVEY §7 Phase 4); one unlocatable row
  private lazy val images = Seq(
    ("lake/a/img1.JPG", "imagebytes-1", Some(1.0), Some(1.0)),   // inside 10
    ("lake/b/img2.tif", "imagebytes-2", Some(4.5), Some(0.5)),   // inside 20
    ("lake/c/img3.JPG", "imagebytes-3", Some(3.0), Some(1.0)),   // gap → nearest
    ("lake/d/img4.JPG", "imagebytes-4", None, None)              // unclassifiable
  ).toDF("path", "contentStr", "gt_cx", "gt_cy")
    .select($"path", $"contentStr".cast("binary").as("content"), $"gt_cx", $"gt_cy")

  test("E1 ingestClassify: containment, fallback, sentinel, content-addressed keys") {
    val out = Pipelines.ingestClassify(images, predios, cellSize = 2.0)
    val rows = out.collect().map(r => r.getAs[String]("path") -> r).toMap
    assert(rows.size === 4)

    val r1 = rows("lake/a/img1.JPG")
    assert(r1.getAs[String]("method") === "contains")
    assert(r1.getAs[String]("INDICE") === "C10_S1_EU_1")
    assert(r1.getAs[String]("ESPECIE") === "EU")   // TIPOUSO lands in ESPECIE (§1.1 note)
    assert(r1.getAs[String]("RUTA_RESULTADO").startsWith("BR/C10/"))
    assert(r1.getAs[String]("RUTA_RESULTADO").endsWith(".JPG"))

    val r2 = rows("lake/b/img2.tif")
    assert(r2.getAs[String]("method") === "contains")
    assert(r2.getAs[String]("INDICE") === "C20_S2_PD_2")
    assert(r2.getAs[String]("RUTA_RESULTADO").startsWith("TIF/C20/"))

    val r3 = rows("lake/c/img3.JPG")
    assert(r3.getAs[String]("method") === "nearest")
    assert(r3.getAs[String]("INDICE") === "C10_S1_EU_1") // tie → min predioId

    val r4 = rows("lake/d/img4.JPG")
    assert(r4.getAs[String]("method") === "unclassifiable")
    assert(r4.getAs[String]("INDICE") === "IMAGEN NO CLASIFICABLE") // §2.3.2 fixed
    assert(r4.get(r4.fieldIndex("RUTA_RESULTADO")) === null)
  }

  test("ingestClassify: one parcel read plus one narrow batch pass, no shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("ingest-classify").toFile
    images.write.parquet(s"$dir/images")
    predios.write.parquet(s"$dir/predios")
    val batch = spark.read.parquet(s"$dir/images")
    val parcels = spark.read.parquet(s"$dir/predios")
    val group = "ingest-classify-pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
    // only this test's jobs count: a prior suite's stray job can land in
    // the listener window, as BulkCommitSpec notes
    val l = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); s.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (stages.contains(t.stageId) && t.taskMetrics != null)
          { shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten); () }
    }
    spark.sparkContext.addSparkListener(l)
    val rows = try {
      spark.sparkContext.setJobGroup(group, "ingestClassify job pin")
      try Pipelines.ingestClassify(batch, parcels, 2.0).collect()
      finally spark.sparkContext.clearJobGroup()
    } finally {
      // listener delivery is async: let the last task events land
      val deadline = System.currentTimeMillis() + 10000L
      while (jobs.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50L)
      Thread.sleep(500L)
      spark.sparkContext.removeSparkListener(l)
    }
    assert(rows.length === 4)
    assert(rows.map(_.getAs[String]("method")).sorted.toSeq
      === Seq("contains", "contains", "nearest", "unclassifiable"))
    assert(jobs.get() <= 2, s"ingestClassify ran ${jobs.get()} jobs")
    assert(shuffled.get() === 0L, s"ingestClassify wrote ${shuffled.get()} shuffle bytes")
  }

  test("catalogAppend: deterministic keys, lineage rows, idempotent re-run") {
    val classified = Pipelines.ingestClassify(images, predios, 2.0)
    val catalog0 = Seq((5L, "x")).toDF("ID", "RUTA_RESULTADO")
    val lineage0 = Seq.empty[(Long, Long)].toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")

    val (cat1, lin1) = Pipelines.catalogAppend(catalog0, lineage0, classified,
      runId = 42L, tipoImg = 0, proceso = 0)
    val catRows = cat1.orderBy("ID").collect()
    assert(catRows.map(_.getLong(0)).toSeq === Seq(6L, 7L, 8L, 9L))
    assert(catRows.forall(_.getInt(catRows.head.fieldIndex("ID_PROCESO")) === 0))
    assert(lin1.select("ID_EJECUCION").distinct().as[Long].collect().toSeq === Seq(42L))
    assert(lin1.count() === 4)

    // idempotence: re-appending the same batch on the grown catalog adds only
    // rows with new RUTA (the null-RUTA unclassifiable row is key-less and
    // re-enters; located rows dedupe on content key)
    val catalogGrown = catalog0.select($"ID", $"RUTA_RESULTADO")
      .union(cat1.select($"ID", $"RUTA_RESULTADO"))
    val (cat2, _) = Pipelines.catalogAppend(catalogGrown, lineage0, classified,
      runId = 43L, tipoImg = 0, proceso = 0)
    val again = cat2.select("RUTA_RESULTADO").collect().map(_.get(0))
    assert(again.count(_ != null) === 0, "located rows must not re-insert")
  }

  test("catalogAppend: the same bytes twice in one batch are cataloged once") {
    // a.jpg and copy_a.jpg carry the same bytes at the same place, so they
    // share a content key; an empty catalog must gain one row, not two
    def batch(rows: (String, String, Option[Double], Option[Double])*) =
      Pipelines.ingestClassify(rows.toDF("path", "contentStr", "gt_cx", "gt_cy")
        .select($"path", $"contentStr".cast("binary").as("content"), $"gt_cx", $"gt_cy"),
        predios, 2.0)
    val empty = Seq.empty[(Long, String)].toDF("ID", "RUTA_RESULTADO")
    val lineage0 = Seq.empty[(Long, Long)].toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    val (cat, lin) = Pipelines.catalogAppend(empty, lineage0,
      batch(("lake/a/a.jpg", "same-bytes", Some(1.0), Some(1.0)),
        ("lake/b/copy_a.jpg", "same-bytes", Some(1.0), Some(1.0))),
      runId = 7L, tipoImg = 0, proceso = 0)
    val rows = cat.collect()
    assert(rows.length === 1, "duplicate bytes must catalog once")
    assert(rows.head.getAs[Long]("ID") === 1L)
    assert(rows.head.getAs[String]("RUTA_RESULTADO").startsWith("BR/C10/"))
    assert(lin.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((7L, 1L)))
    // rows without a key (no location) are not repeats of each other
    val (sentinels, _) = Pipelines.catalogAppend(empty, lineage0,
      batch(("lake/c/x.jpg", "bytes-x", None, None),
        ("lake/d/y.jpg", "bytes-y", None, None)),
      runId = 8L, tipoImg = 0, proceso = 0)
    assert(sentinels.select("ID").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  /** The form [[Pipelines.catalogAppend]] replaced, kept as its oracle:
    * max(ID) by a catalog scan, and the repeats dropped and the batch
    * numbered by windows that move it to one partition through an
    * exchange. */
  private def catalogAppendExchange(
      catalog: org.apache.spark.sql.DataFrame, classified: org.apache.spark.sql.DataFrame,
      runId: Long): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val key = col("RUTA_RESULTADO")
    val once = classified.join(catalog.select(key), Seq("RUTA_RESULTADO"), "left_anti")
      .withColumn("__prev", lag(key, 1).over(Window.orderBy(key)))
      .filter(key.isNull || !(col("__prev") <=> key))
      .drop("__prev")
    val base = catalog.agg(coalesce(max(col("ID")), lit(0L))).collect()(0).getLong(0)
    val keyed = once
      .withColumn("ID", lit(base) + row_number().over(Window.orderBy(key)).cast("long"))
      .select(
        col("ID"), col("INDICE"), col("CODIGO"), col("NOMBRE_PREDIO"),
        col("SECCION"), col("ESPECIE"), col("APL").cast("double").as("APL"),
        lit(0).as("ID_TIPO_IMG"), lit(0).as("ID_PROCESO"),
        col("RUTA_RESULTADO"), current_timestamp().as("FECHA"))
      .localCheckpoint(false)
    (keyed, keyed.select(lit(runId).as("ID_EJECUCION"), col("ID").as("ID_IMAGEN_FUENTE")))
  }

  test("catalogAppend numbers committed batches exactly as the exchange form it replaced") {
    import graft.storage.{GraftLake, TxnCatalog}
    // three batches over two lakes, one per form: cross-batch
    // re-deliveries (same bytes, same place), in-batch duplicate bytes,
    // and key-less rows without location in every batch
    val batches = Seq(
      Seq(("lake/0/a.jpg", "bytes-a", Some(1.0), Some(1.0)),
        ("lake/0/b.tif", "bytes-b", Some(4.5), Some(0.5)),
        ("lake/0/c.jpg", "bytes-c", Some(3.0), Some(1.0)),
        ("lake/0/copy_a.jpg", "bytes-a", Some(1.0), Some(1.0)),
        ("lake/0/x.jpg", "bytes-x", None, None),
        ("lake/0/y.jpg", "bytes-y", None, None)),
      Seq(("lake/1/b.tif", "bytes-b", Some(4.5), Some(0.5)),
        ("lake/1/d.jpg", "bytes-d", Some(0.5), Some(1.5)),
        ("lake/1/e.jpg", "bytes-e", Some(5.0), Some(1.0)),
        ("lake/1/copy_e.jpg", "bytes-e", Some(5.0), Some(1.0)),
        ("lake/1/x.jpg", "bytes-x", None, None)),
      Seq(("lake/2/a.jpg", "bytes-a", Some(1.0), Some(1.0)),
        ("lake/2/c.jpg", "bytes-c", Some(3.0), Some(1.0)),
        ("lake/2/f.jpg", "bytes-f", Some(1.5), Some(0.5)),
        ("lake/2/g.tif", "bytes-g", Some(4.2), Some(1.8)),
        ("lake/2/g2.tif", "bytes-g", Some(4.2), Some(1.8)),
        ("lake/2/z.jpg", "bytes-z", None, None),
        ("lake/2/w.jpg", "bytes-w", None, None)))
    val roots = Seq("local", "exchange").map(n =>
      java.nio.file.Files.createTempDirectory(s"catalog-append-$n").toString)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("FECHA").collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    for ((b, lote) <- batches.zipWithIndex) {
      val classified = Pipelines.ingestClassify(
        b.toDF("path", "contentStr", "gt_cx", "gt_cy").repartition(3)
          .select($"path", $"contentStr".cast("binary").as("content"), $"gt_cx", $"gt_cy"),
        predios, 2.0)
      val out = roots.map { root =>
        val cat = TxnCatalog.snapshot(spark, root)
          .flatMap(GraftLake.tableAt(spark, root, "CATALOG", _))
          .getOrElse(Seq.empty[(Long, String)].toDF("ID", "RUTA_RESULTADO"))
        val (k, l) =
          if (root == roots.head)
            Pipelines.catalogAppend(cat, Seq.empty[(Long, Long)].toDF("ID_EJECUCION",
              "ID_IMAGEN_FUENTE"), classified, lote.toLong, tipoImg = 0, proceso = 0)
          else catalogAppendExchange(cat, classified, lote.toLong)
        TxnCatalog.commitPartitions(spark, root,
          Seq(("CATALOG", s"LOTE=$lote", k), ("DETALLE", s"LOTE=$lote", l)),
          statsColumns = Seq("ID"))
        (rows(k), rows(l))
      }
      assert(out(0) === out(1), s"batch $lote")
    }
    val lakes = roots.map { root =>
      val snap = TxnCatalog.snapshot(spark, root).get
      (rows(snap.read("CATALOG").get), rows(snap.read("DETALLE").get))
    }
    assert(lakes(0) === lakes(1))
    // 3 + 2 sentinels, then 2 new + 1 sentinel, then 2 new + 2 sentinels
    assert(lakes(0)._1.length === 12)
    assert(lakes(0)._1.map(_.takeWhile(_ != '|').toLong).sorted === (1L to 12L))
  }

  test("catalogAppend plus the commit of its two frames runs the anti-join and the window once") {
    import graft.storage.TxnCatalog
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val root = java.nio.file.Files.createTempDirectory("catalog-append").toString
    val classified = Pipelines.ingestClassify(images, predios, 2.0)
    val lineage0 = Seq.empty[(Long, Long)].toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    val (cat0, lin0) = Pipelines.catalogAppend(
      Seq.empty[(Long, String)].toDF("ID", "RUTA_RESULTADO"), lineage0, classified,
      runId = 0L, tipoImg = 0, proceso = 0)
    TxnCatalog.commitPartitions(spark, root,
      Seq(("CATALOG", "LOTE=0", cat0), ("DETALLE", "LOTE=0", lin0)), statsColumns = Seq("ID"))
    // the plans of the SQL executions the second batch runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription); ()
          case _ =>
        }
    }
    def count(op: String) = plans.toArray.count(_.toString.contains(op))
    spark.sparkContext.addSparkListener(l)
    try {
      val snap = TxnCatalog.snapshot(spark, root).get
      val (cat1, lin1) = Pipelines.catalogAppend(snap.read("CATALOG").get,
        snap.read("DETALLE").get, classified, runId = 1L, tipoImg = 0, proceso = 0)
      TxnCatalog.commitPartitions(spark, root,
        Seq(("CATALOG", "LOTE=1", cat1), ("DETALLE", "LOTE=1", lin1)),
        statsColumns = Seq("ID"))
      val deadline = System.currentTimeMillis() + 10000L
      while (count("Window") < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50L)
      Thread.sleep(500L)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(count("LeftAnti") === 1, s"the anti-join ran ${count("LeftAnti")} times")
    assert(count("Window") === 1, s"the numbering window ran ${count("Window")} times")
    // the batch is numbered in one task, not moved there by an exchange
    assert(count("Exchange SinglePartition") === 0,
      plans.toArray.find(_.toString.contains("Exchange SinglePartition")).getOrElse(""))
    // the re-delivered batch adds only its key-less sentinel row, once
    val snap = TxnCatalog.snapshot(spark, root).get
    val added = snap.readPartition("CATALOG", "LOTE=1").get.select("ID").as[Long].collect()
    assert(added.toSeq === Seq(5L))
    assert(snap.readPartition("DETALLE", "LOTE=1").get.select("ID_IMAGEN_FUENTE")
      .as[Long].collect().toSeq === Seq(5L))
  }

  test("indicesCsv: header shape IMAGEN,CENTROIDE,PREDIO,INDICE with real rows (§2.3.3)") {
    val csv = Pipelines.indicesCsv(Pipelines.ingestClassify(images, predios, 2.0))
    assert(csv.columns.toSeq === Seq("IMAGEN", "CENTROIDE", "PREDIO", "INDICE"))
    val rows = csv.collect()
    assert(rows.length === 4)
    assert(rows.exists(r => r.getString(0) === "img1.JPG" && r.getString(1) === "1.0;1.0"))
  }

  test("E3 modelPublication: dims, artifact kinds, model-bucket key layout") {
    val artifacts = Seq(
      "m/predios/CO06097_1_EU_2.png",
      "m/rodales/CO06097_1_EU_2_rodal.png",
      "m/grillas/CO06097_1_EU_2_grilla.png",
      "m/etiquetas/CO06097_1_EU_2_etiquetas.tif"
    ).toDF("path")
    val out = Pipelines.modelPublication(artifacts, fecha = "2026-08-12")
    val rows = out.collect()
    assert(rows.length === 4)
    assert(rows.forall(_.getAs[String]("INDICE") === "CO06097_1_EU_2"))
    assert(rows.forall(_.getAs[Int]("ID_TIPO_IMG") === 10))
    assert(rows.forall(_.getAs[Int]("ID_PROCESO") === 2))
    assert(rows.map(_.getAs[String]("ARTIFACT_KIND")).sorted.toSeq
      === Seq("", "etiquetas", "grilla", "rodal"))
    val ruta = rows.find(_.getAs[String]("ARTIFACT_KIND") == "rodal").get
      .getAs[String]("RUTA_RESULTADO")
    assert(ruta === "CO06097/CO06097_1_EU_2/2026-08-12/CO06097_1_EU_2_rodal.png")
  }

  test("observedClassify: single-pass health metrics ride the existing action") {
    val classified = Pipelines.ingestClassify(images, predios, 2.0)
    val (observed, obs) = Pipelines.observedClassify(classified)
    val n = observed.count() // the ONLY action — metrics piggyback on it
    val m = obs.get
    assert(m("n_rows") === n)
    assert(m("n_unclassifiable").asInstanceOf[Long] >= 1L) // the no-GPS image
    assert(m("n_no_coords") === m("n_unclassifiable"))
  }

  test("multimodal: decode/feature/frame plumbing over binary rows") {
    val bin = images.select($"path", $"content")
    val media = Multimodal.decode(bin, "video")
    assert(media.schema === Multimodal.mediaSchema)
    val m = media.collect().head
    assert(m.getAs[org.apache.spark.sql.Row]("meta").getAs[Long]("size_bytes") > 0)

    val feats = Multimodal.extractFeatures(media)
    val f = feats.collect().map(r => r.getAs[scala.collection.Seq[Float]]("embedding"))
    assert(f.forall(_.size === 16))
    assert(f.forall(e => math.abs(e.sum - 1.0f) < 1e-3)) // L1-normalized

    // these fixture bytes are NOT decodable images, so every file takes the
    // deterministic byte-slice fallback: n pseudo-frames each (decodable
    // single-frame inputs yield their 1 real frame — MultimodalOpsSpec)
    val frames = Multimodal.sampleFrames(media, 3)
    assert(frames.count() === 12) // 4 undecodable files × 3 stub frames
    assert(frames.columns.toSeq === Seq("path", "frame_idx", "frame"))
    // determinism: same input → same features
    val f2 = Multimodal.extractFeatures(media).collect().map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    assert(f.map(_.toSeq).toSeq === f2.map(_.toSeq).toSeq)
  }

  test("multimodal features feed the similarity operators end to end") {
    // two byte-identical blobs + two distinct ones; the extracted embedding
    // column is consumed AS-IS by Similarity — the full media-dedup path
    val blobs = Seq(
      (1L, Array.fill(256)(7.toByte)),
      (2L, Array.fill(256)(7.toByte)),                    // exact dup of 1
      (3L, Array.tabulate(256)(_.toByte)),
      (4L, "completely different bytes".getBytes)
    ).toDF("id", "content").withColumn("path", concat(lit("b"), $"id"))
    val media = Multimodal.decode(blobs, "image")
    val feats = Multimodal.extractFeatures(media)
      .join(blobs.select($"id", concat(lit("b"), $"id").as("path")), "path")
    val pairs = graft.ops.Similarity
      .nearDupPairs(feats, "id", "embedding", threshold = 0.999)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "identical media must pair")
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }
}
