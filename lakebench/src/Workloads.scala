package lakebench

import java.io.File
import java.sql.Timestamp
import graft.geo.{Geo, Reproject}
import graft.model.Catalog
import graft.ops.CatalogOps
import graft.multimodal.{ImageCodec, Multimodal}
import graft.pipelines.Pipelines
import graft.sources.{BinarySource, Exif, GeoTiff, Shapefile}
import graft.storage.{GraftLake, TxnCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Failed checks of one operation: check name → items it failed. */
final case class Checked(failures: Map[String, Int]) {
  def ok: Boolean = failures.isEmpty
}

/** What a timed operation hands back: the items it carried, a check run
  * after the clock stops, and exact per-operation counters read from its
  * outputs (traced runs only). */
final case class Done(items: Int, check: () => Checked,
    counters: () => Map[String, Double] = () => Map.empty)

/** One workload: inputs generated from the seed, a repeatable set-up, and
  * one closed-loop operation. Layer calls go through `tr.span` so a traced
  * run attributes time and Spark work to them; in a traced run `mat`
  * persists and counts each layer's output so its span covers its work. */
abstract class Workload(val seed: Long, val dir: File) {
  def name: String
  def clients: Int = 1
  def warmups: Int
  /** Operations whose exact counters are averaged in a traced run. */
  def countedOps: Int
  def generate(): Unit
  /** One set-up into a fresh lake; returns named component times (ms). */
  def setup(spark: SparkSession, rep: Int): Map[String, Double]
  /** Untimed preparation of the client's next operation (its input files). */
  def prepare(client: Int): Unit = ()
  def op(client: Int, tr: Tracer, opId: Long): Done
  /** A discarded warm-up operation. */
  def warmOp(tr: Tracer, opId: Long): Done = op(0, tr, opId)
  /** Gauges read once at the end of the run. */
  def endGauges(): Map[String, Double] = Map.empty

  protected var spark: SparkSession = _
  private val held = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  protected def mat(df: DataFrame, tr: Tracer): DataFrame =
    if (tr.on) { df.persist(); held.add(df); df.count(); df } else df
  protected def keep(df: DataFrame): DataFrame = { df.persist(); held.add(df); df }
  protected def release(): Unit = { var d = held.poll(); while (d != null) { d.unpersist(); d = held.poll() } }
  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

object Lake {
  val Catalogo = "CATALOG"
  val Detalle = "DETALLE_EJECUCION"
  val Proc = "PROC_EJECUCION"
  val Stats = Seq("LOTE", "FECHA", "ID")

  /** Capture date of batch `lote`: one day per batch from 2024-01-01. */
  def fecha(lote: Int): Timestamp =
    Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 12, 0).plusDays(lote))
  def fechaCol(lote: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_seconds(lit(fecha(0).getTime / 1000) + lote.cast("long") * 86400L)

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L) else f.length

  /** Live data entries and size of the newest manifest; bytes on disk per
    * live catalog row. */
  def gauges(spark: SparkSession, root: String, rows: Long): Map[String, Double] = {
    val snap = TxnCatalog.snapshot(spark, root).get
    Map("storage.manifest_entries" -> snap.tables.map(t => snap.partitions(t).size).sum.toDouble,
      "storage.manifest_bytes" -> new File(s"$root/_txns/${snap.txn}").length.toDouble,
      "storage.stored_bytes_per_row" -> bytesUnder(new File(root)).toDouble / rows)
  }

  def emptyCatalog(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Catalog.catalogSchema)
  def emptyLineage(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Catalog.detalleEjecucionSchema)
}

// ------------------------------------------------------------------ ingest

/** Batches of delivered images through E1: binary scan → EXIF/GeoTIFF
  * location → containment-first classification against the parcel layer
  * (1-NN fallback for gap points) → catalog append → one atomic commit of
  * catalog, lineage and run partitions → model publication rows for the
  * batch's parcels → the ID_TIPO_IMG flip → near-duplicate screening of
  * the frames (perceptual hash). */
final class Ingest(seed: Long, dir: File, nParcels: Int, batchSize: Int)
    extends Workload(seed, dir) {
  def name = "ingest"
  def warmups = 2
  def countedOps = 2
  private val ps = Gen.parcels(seed, nParcels)
  private val images = new Gen.Images(seed, ps, batchSize)
  private val layerDir = new File(dir, "in/parcels")
  private var root: String = _
  private var predios: DataFrame = _
  /** Parcels per `Geo.bboxCells` cell, for `geo.pip_hit_ratio` (traced runs). */
  private lazy val cellCounts: Map[Long, Long] =
    predios.select(explode(Geo.bboxCells(col("ring"), Gen.Cell)).as("c"))
      .groupBy("c").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  private var totalVertices = 0L
  private var nextBatch = 0
  private var catalogRows = 0L
  /** Located origins committed so far, with the batch that first carried them. */
  private val acked = scala.collection.mutable.LinkedHashMap[String, (Gen.ImageTruth, Int)]()
  /** Every delivery of an image without location, with its batch: such a
    * row has no RUTA_RESULTADO, the key `catalogAppend` is idempotent on, so
    * each delivery is cataloged as its own sentinel row (PipelinesSpec,
    * "catalogAppend: deterministic keys, lineage rows, idempotent re-run"). */
  private val sentinels = scala.collection.mutable.ArrayBuffer[(Gen.ImageTruth, Int)]()

  def generate(): Unit = Gen.writeParcelLayer(layerDir, ps)

  private def batchDir(b: Int): File = new File(dir, s"in/batch_$b")
  private var truth: IndexedSeq[Gen.ImageTruth] = IndexedSeq.empty

  /** Writes the next batch's files (once per run; set-ups replay them). */
  override def prepare(client: Int): Unit = {
    truth = images.batch(nextBatch)
    if (!batchDir(nextBatch).isDirectory)
      truth.foreach(t => Gen.write(new File(batchDir(nextBatch), t.name), t.content))
  }

  def setup(s: SparkSession, rep: Int): Map[String, Double] = {
    spark = s
    root = new File(dir, s"lake_$rep").getAbsolutePath
    acked.clear(); sentinels.clear(); nextBatch = 0; catalogRows = 0
    if (predios != null && (predios.sparkSession eq s)) predios.unpersist()
    val t0 = System.nanoTime()
    val shp = Shapefile.readShp(spark, layerDir.getAbsolutePath)
    val dbf = Shapefile.readDbf(spark, layerDir.getAbsolutePath)
    predios = shp.join(dbf, Seq("record_no"))
      .select(col("record_no").cast("long").as("predioId"),
        Reproject.reprojectRing(col("ring")).as("ring"),
        col("attrs")("CODIGO").as("CODIGO"), col("attrs")("NOMBRE").as("NOMBRE"),
        col("attrs")("SECCION").as("SECCION"), col("attrs")("TIPOUSO").as("TIPOUSO"),
        col("attrs")("APL").cast("double").cast("int").as("APL"))
    predios.persist(); predios.count()
    val loadMs = ms(t0)
    totalVertices = ps.map(_.n + 1L).sum
    Map("sources.parcels_load_ms" -> loadMs)
  }

  def op(client: Int, tr: Tracer, opId: Long): Done = {
    val b = nextBatch; nextBatch += 1
    val truth = this.truth
    val bin = tr.span("sources.decode", opId) {
      val raw = BinarySource.readBinary(spark, batchDir(b).getAbsolutePath)
      if (tr.on) {
        val m = mat(raw, tr)
        mat(m.select(Exif.gpsUdf(col("content")).as("g"), GeoTiff.centroidUdf(col("content")).as("t"))
          .filter(col("g").isNotNull || col("t").isNotNull), tr)
        m
      } else raw
    }
    val classified = tr.span("geo.classify", opId) {
      val c = keep(Pipelines.ingestClassify(bin, predios, Gen.Cell))
      if (tr.on) c.count()
      c
    }
    val lote = lit(b)
    val (keyed, lin) = tr.span("pipelines.catalog_append", opId) {
      val snap = TxnCatalog.snapshot(spark, root)
      val cat = snap.flatMap(GraftLake.tableAt(spark, root, Lake.Catalogo, _)).getOrElse(Lake.emptyCatalog(spark))
      val de = snap.flatMap(GraftLake.tableAt(spark, root, Lake.Detalle, _)).getOrElse(Lake.emptyLineage(spark))
      val (k, l) = Pipelines.catalogAppend(cat, de, classified, b.toLong,
        Catalog.TipoImg.RawJpeg, Catalog.Proceso.Ingest)
      (mat(k.withColumn("FECHA", lit(Lake.fecha(b))).withColumn("LOTE", lote), tr),
        mat(l.withColumn("LOTE", lote), tr))
    }
    val run = spark.createDataFrame(Seq((b.toLong, Catalog.Proceso.Ingest, Lake.fecha(b), b)))
      .toDF("ID_EJECUCION", "ID_PROCESO", "FECHA", "LOTE")
    val part = s"LOTE=$b"
    tr.span("storage.commit", opId) {
      TxnCatalog.commitPartitions(spark, root, Seq(
        (Lake.Catalogo, part, keyed), (Lake.Detalle, part, lin), (Lake.Proc, part, run)),
        statsColumns = Lake.Stats)
    }
    // the model-output rows of the batch's parcels, handed to the publisher
    val pub = tr.span("pipelines.publish", opId) {
      val artifacts = classified.filter(col("method") =!= "unclassifiable")
        .select(concat_ws("_", col("CODIGO"), col("SECCION"), col("ESPECIE"), col("APL")).as("stem"))
        .distinct().select(concat(lit("modelos/"), col("stem"), lit("_grilla.tif")).as("path"))
      Pipelines.modelPublication(artifacts, Lake.fecha(b).toString.take(10)).collect()
    }
    tr.span("storage.update", opId) {
      TxnCatalog.updateWhere(spark, root, Lake.Catalogo,
        s"LOTE = $b AND INDICE <> '${Gen.Unclassifiable}'", Seq("ID_TIPO_IMG" -> "1"),
        bounds = Seq(("LOTE", b, b)), condRefs = Seq("LOTE", "INDICE"))
    }
    // near-duplicate screening of the delivered frames
    val pairs = tr.span("multimodal.phash", opId) { Multimodal.imageNearDupPairs(bin).collect() }
    Done(truth.size, () => check(b, truth, classified, pub, pairs), () => counters(truth, b))
  }

  private var lastRows: Array[org.apache.spark.sql.Row] = Array.empty
  private var recall = 0.0
  /** Share of the planted near-duplicate frame pairs the screening must find. */
  val NearDupRecall = 0.9
  private def fileName(path: String) = path.substring(path.lastIndexOf('/') + 1)

  /** Every image's method, parcel and INDICE against the truth; the
    * batch adds exactly its not-yet-cataloged located images plus one
    * sentinel row per image without location (to its partition and to the
    * catalog's row count); the flip reached
    * every classified row; publication rows name the batch's parcels; the
    * screening finds the planted near-duplicate frames. */
  private def check(b: Int, truth: IndexedSeq[Gen.ImageTruth], classified: DataFrame,
      pub: Array[org.apache.spark.sql.Row], pairs: Array[org.apache.spark.sql.Row]): Checked = {
    val bad = Map.newBuilder[String, Int]
    lastRows = classified.select("path", "method", "CODIGO", "INDICE", "cx", "cy").collect()
    val byName = lastRows.map(r => fileName(r.getString(0)) -> r).toMap
    val wrong = truth.count { t =>
      byName.get(t.name).forall(r => r.getString(1) != t.method ||
        r.getString(2) != t.codigo || r.getString(3) != t.indice) }
    if (wrong > 0 || byName.size != truth.size)
      bad += "ingest.classification" -> math.max(1, wrong + math.abs(byName.size - truth.size))
    val fresh = truth.filter(t => t.codigo != null && !acked.contains(t.origin))
      .map(t => t.origin -> t).toMap
    val unlocated = truth.filter(_.codigo == null)
    fresh.values.foreach(t => acked(t.origin) = (t, b))
    unlocated.foreach(t => sentinels += (t -> b))
    val snap = TxnCatalog.snapshot(spark, root).get
    val part = snap.readPartition(Lake.Catalogo, s"LOTE=$b").get
      .select("INDICE", "ID_TIPO_IMG").collect()
    val partSentinels = part.count(_.getString(0) == Gen.Unclassifiable)
    val added = fresh.size + unlocated.size
    val total = snap.read(Lake.Catalogo).get.count()
    if (part.length - partSentinels != fresh.size || partSentinels != unlocated.size ||
        total - catalogRows != added) {
      bad += "ingest.exactly_once" -> math.max(1,
        math.abs(part.length - partSentinels - fresh.size) + math.abs(partSentinels - unlocated.size))
      println(s"check_detail ingest.exactly_once batch=$b located_rows_added=${part.length - partSentinels} " +
        s"new_located_images=${fresh.size} sentinel_rows_added=$partSentinels " +
        s"deliveries_without_location=${unlocated.size} catalog_rows=$total expected=${catalogRows + added}")
    }
    catalogRows = total
    val unflipped = part.count(r => r.getInt(1) != (if (r.getString(0) == Gen.Unclassifiable) 0 else 1))
    if (unflipped > 0) bad += "ingest.flip" -> unflipped
    val pubIdx = pub.map(_.getAs[String]("INDICE")).toSet
    val wantIdx = truth.filter(_.codigo != null).map(_.indice).toSet
    if (pubIdx != wantIdx) bad += "ingest.publication" -> (pubIdx.diff(wantIdx) ++ wantIdx.diff(pubIdx)).size
    val found = pairs.map { r =>
      val (x, y) = (fileName(r.getString(0)), fileName(r.getString(1)))
      if (x < y) (x, y) else (y, x)
    }.toSet
    val planted = images.nearDupPairs(b)
    val hit = planted.count(found)
    recall = hit.toDouble / planted.size
    if (recall < NearDupRecall) {
      bad += "ingest.near_dup_recall" -> (planted.size - hit)
      val byFile = truth.map(t => t.name -> t.content).toMap
      def dhash(n: String) = ImageCodec.decode(byFile(n)).map(d => ImageCodec.dHash(d.img))
      val missed = planted.filterNot(found).toSeq.sorted.map { case (x, y) =>
        val h = for (a <- dhash(x); c <- dhash(y)) yield ImageCodec.hamming(a, c)
        s"$x~$y:hamming=${h.getOrElse(-1)}" }
      println(s"check_detail ingest.near_dup_recall batch=$b found=$hit/${planted.size} missed=${missed.mkString(",")}")
    }
    release()
    Checked(bad.result())
  }

  private def counters(truth: IndexedSeq[Gen.ImageTruth], b: Int): Map[String, Double] = {
    val located = lastRows.filter(_.getString(1) != "unclassifiable")
    val nearest = located.count(_.getString(1) == "nearest")
    val contained = located.length - nearest
    val cellOf = if (located.isEmpty) Array.empty[Long] else
      spark.createDataFrame(spark.sparkContext.parallelize(located.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getDouble(4), r.getDouble(5)))),
        StructType(Seq(StructField("x", DoubleType), StructField("y", DoubleType))))
        .select(Geo.pointCell(col("x"), col("y"), Gen.Cell)).collect().map(_.getLong(0))
    val pairs = cellOf.map(c => cellCounts.getOrElse(c, 0L)).sum
    val rows = TxnCatalog.snapshot(spark, root).get.rowCount(Lake.Catalogo, s"LOTE=$b")
      .getOrElse(-1L)
    // the manifest after this batch: the lake grows with every batch, so
    // an end-of-run reading would depend on how many batches fit the window
    Lake.gauges(spark, root, 1).removed("storage.stored_bytes_per_row") ++ Map(
      "sources.bytes_read" -> truth.map(_.content.length.toDouble).sum,
      "sources.located_ratio" -> located.length.toDouble / truth.size,
      "geo.fallback_ratio" -> nearest.toDouble / math.max(1, located.length),
      "geo.nn_distance_evals" -> nearest.toDouble * totalVertices,
      "geo.pip_hit_ratio" -> contained.toDouble / math.max(1L, pairs),
      "ops.new_rows_ratio" -> rows.toDouble / truth.size,
      "multimodal.image_dup_recall" -> recall)
  }

  override def endGauges(): Map[String, Double] =
    Lake.gauges(spark, root, TxnCatalog.snapshot(spark, root).get.read(Lake.Catalogo).get.count())

  /** The acknowledged catalog as the truth predicts it, one line per row:
    * RUTA_RESULTADO, INDICE, ID_TIPO_IMG, LOTE (sorted). A fresh JVM reads
    * the lake back and must produce exactly these lines. */
  def ackedLines: Seq[String] = (acked.values.map { case (t, b) =>
    val ext = t.name.substring(t.name.lastIndexOf('.') + 1)
    val clase = if (ext == "jpg") "BR/" else "TIF/"
    s"$clase${t.codigo}/${Gen.md5Hex(t.content)}.$ext\t${t.indice}\t1\t$b"
  } ++ sentinels.map { case (t, b) => s"\t${t.indice}\t0\t$b" }).toSeq.sorted

  def lakeRoot: String = root
}

/** Files read by the scans of one lake table in an executed query: the
  * "number of files read" metric of its FileSourceScanExec nodes, which
  * counts what the manifest index's `listFiles` kept for the query's filters. */
object ScanFiles extends AdaptiveSparkPlanHelper {
  def read(q: DataFrame, table: String): Long =
    collect(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.getName == table) =>
        s.metrics("numFiles").value
    }.sum
}

object Restart {
  /** Lines of the committed catalog in the `Ingest.ackedLines` format. */
  def lines(spark: SparkSession, root: String): (Seq[String], Long, Long) = {
    val cat = GraftLake.table(spark, root, Lake.Catalogo).get
    val rows = cat.select("RUTA_RESULTADO", "INDICE", "ID_TIPO_IMG", "LOTE", "ID").collect()
    val ls = rows.map(r => s"${Option(r.getString(0)).getOrElse("")}\t${r.getString(1)}\t${r.getInt(2)}\t${r.get(3)}")
    (ls.toSeq.sorted, rows.length.toLong, rows.map(_.getLong(4)).distinct.length.toLong)
  }
}

// ------------------------------------------------------------------ lookup

/** Analyst requests against a preloaded catalog: 80% J1 `getUrlList` by
  * INDICE (Zipf over parcels), every fifth a parcel-history read (one CODIGO, a
  * FECHA window). Two closed-loop clients. */
final class Lookup(seed: Long, dir: File, nParcels: Int, batches: Int, perBatch: Int)
    extends Workload(seed, dir) {
  def name = "lookup"
  override def clients = 2
  def warmups = 24
  def countedOps = 40
  private val ps = Gen.parcels(seed, nParcels)
  private val rows = Gen.catalogRows(seed, nParcels, batches, perBatch)
  /** parcel → (ID, LOTE) of its rows; ID is the RUTA rank + 1. */
  private val byParcel: Map[Int, IndexedSeq[(Long, Int)]] =
    rows.zipWithIndex.map { case (c, i) => (c.parcel, (i + 1L, c.lote)) }
      .groupMap(_._1)(_._2)
  private val zipf = new Gen.Zipf(seed, nParcels)
  private val csv = new File(dir, "in/classified.csv")
  private var root: String = _
  private var streams: Array[Requests] = _
  private var warm: Requests = _

  def generate(): Unit = Gen.writeCatalogCsv(csv, rows, ps)

  def setup(s: SparkSession, rep: Int): Map[String, Double] = {
    spark = s
    root = new File(dir, s"lake_$rep").getAbsolutePath
    streams = Array.tabulate(clients)(c => new Requests(Gen.rng(seed, 10, c)))
    warm = new Requests(Gen.rng(seed, 11))
    val t0 = System.nanoTime()
    val schema = StructType(Seq("INDICE", "CODIGO", "NOMBRE_PREDIO", "SECCION", "ESPECIE")
      .map(StructField(_, StringType)) ++ Seq(StructField("APL", IntegerType),
      StructField("RUTA_RESULTADO", StringType), StructField("LOTE", IntegerType)))
    val classified = spark.read.schema(schema).option("header", "true").csv(csv.getAbsolutePath)
    val (keyed, _) = Pipelines.catalogAppend(Lake.emptyCatalog(spark), Lake.emptyLineage(spark),
      classified.drop("LOTE"), 0L, Catalog.TipoImg.RawJpeg, Catalog.Proceso.Ingest)
    val cat = keyed.drop("FECHA").join(classified.select("RUTA_RESULTADO", "LOTE"), "RUTA_RESULTADO")
      .withColumn("FECHA", Lake.fechaCol(col("LOTE")))
    cat.persist()
    TxnCatalog.commitPartitioned(spark, root, Lake.Catalogo, cat, "LOTE", statsColumns = Lake.Stats)
    TxnCatalog.commitPartitioned(spark, root, Lake.Detalle,
      cat.select(col("LOTE").cast("long").as("ID_EJECUCION"), col("ID").as("ID_IMAGEN_FUENTE"), col("LOTE")),
      "LOTE", statsColumns = Lake.Stats)
    TxnCatalog.commitPartitioned(spark, root, Lake.Proc,
      cat.select("LOTE").distinct().select(col("LOTE").cast("long").as("ID_EJECUCION"),
        lit(Catalog.Proceso.Ingest).as("ID_PROCESO"), Lake.fechaCol(col("LOTE")).as("FECHA"), col("LOTE")),
      "LOTE", statsColumns = Lake.Stats)
    cat.unpersist()
    Map("storage.preload_ms" -> ms(t0))
  }

  private sealed trait Req
  private case class J1(parcel: Int) extends Req
  private case class History(parcel: Int, from: Int, until: Int) extends Req

  /** One client's requests: every fifth is a parcel-history read, so a
    * window holds the 80/20 mix whatever the seed; parcels and FECHA
    * windows are drawn from the seed. */
  private final class Requests(r: java.util.SplittableRandom) {
    private var n = 0
    def next(): Req = synchronized {
      n += 1
      if (n % 5 != 0) J1(zipf.draw(r))
      else {
        val w = 1 + r.nextInt(math.max(1, batches / 4))
        val from = r.nextInt(math.max(1, batches - w + 1))
        History(zipf.draw(r), from, from + w)
      }
    }
  }

  /** Warm-up requests come from their own stream so the measured request
    * sequence does not depend on how many warm-ups ran. */
  private val warmClient = -1

  def op(client: Int, tr: Tracer, opId: Long): Done = {
    val req = (if (client == warmClient) warm else streams(client)).next()
    // one pinned snapshot per request, resolved into the frames it reads
    val names = req match {
      case _: J1 => Seq(Lake.Proc, Lake.Detalle, Lake.Catalogo)
      case _ => Seq(Lake.Catalogo)
    }
    val frames = tr.span("storage.snapshot", opId) {
      val snap = TxnCatalog.snapshot(spark, root).get
      names.map(t => GraftLake.tableAt(spark, root, t, snap).get)
    }
    def ids(q: DataFrame) = (q, q.collect().map(_.getLong(0)))
    val (query, got) = req match {
      case J1(p) =>
        val Seq(pe, de, cat) = frames
        tr.span("ops.geturllist", opId) {
          ids(CatalogOps.getUrlList(pe, de, cat, Catalog.Proceso.Ingest, Seq(Catalog.TipoImg.RawJpeg),
            ps(p).indice))
        }
      case History(p, from, until) =>
        tr.span("storage.range_read", opId) {
          ids(frames.head.filter(col("CODIGO") === ps(p).codigo &&
            col("FECHA") >= lit(Lake.fecha(from)) && col("FECHA") < lit(Lake.fecha(until))).select("ID"))
        }
    }
    Done(1, () => {
      val want = req match {
        case J1(p) => byParcel.getOrElse(p, IndexedSeq.empty).map(_._1)
        case History(p, from, until) =>
          byParcel.getOrElse(p, IndexedSeq.empty).filter(x => x._2 >= from && x._2 < until).map(_._1)
      }
      Checked(if (got.sorted.toSeq == want.sorted) Map.empty else Map("lookup.id_set" -> 1))
    }, () => {
      // files the executed catalog scan read, after manifest skipping
      Map("storage.files_scanned_ratio" ->
        ScanFiles.read(query, Lake.Catalogo).toDouble / frames.last.inputFiles.length,
        "lookup.rows_returned" -> got.length.toDouble)
    })
  }

  override def warmOp(tr: Tracer, opId: Long): Done = op(warmClient, tr, opId)

  override def endGauges(): Map[String, Double] = Lake.gauges(spark, root, rows.size)
}
