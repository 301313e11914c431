package graft.pipelines

import graft.geo.{ParcelIndex, SpatialJoin}
import graft.model.Catalog
import graft.ops.CatalogOps
import graft.sources.{BinarySource, Exif}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end pipeline compositions (SURVEY.md §3, intended semantics per
  * §2.3): E1 ingest-classify-catalog and E3 model publication, as
  * DataFrame transforms (`catalogAppend`'s numbered rows are held in
  * memory once first read). I/O (parquet/CSV/blob writes) stays at the caller — every
  * function here is testable without a filesystem.
  */
object Pipelines {

  /** E1 stages 4-5 (script_geo.py:166-205, intended semantics): binary
    * image rows → EXIF centroid (JPEG path; GeoTIFF extent centroids arrive
    * via the metadata escape hatch `gtCentroid`) → containment-first
    * classification with 1-NN fallback → catalog-shaped rows with INDICE
    * (composite key or the unclassifiable sentinel, which — unlike the
    * reference, §2.3.2 — flows to the sink instead of crashing).
    *
    * The parcels are read once into a [[graft.geo.ParcelIndex]] (one small
    * job; the parcel table is dimension-sized), and each image is
    * classified in place by a per-row probe that also carries its parcel's
    * attributes: the decode UDFs and the `content` scan run once per image,
    * in one narrow pass with no join or exchange.
    *
    * @param images  binaryFile rows (path, content, …), optionally with
    *                gt_cx/gt_cy metadata columns for non-EXIF rasters
    * @param predios parcel dims: (predioId, ring, CODIGO, NOMBRE, SECCION,
    *                TIPOUSO, APL)
    */
  def ingestClassify(images: DataFrame, predios: DataFrame, cellSize: Double): DataFrame = {
    val hasGt = images.columns.contains("gt_cx")
    val parcels = ParcelIndex.collect(predios, "ring", "predioId", cellSize)
    val parcel = (c: String) => col("__hit.parcel").getField(c)
    // location precedence: EXIF GPS (JPEG) → GeoTIFF extent centroid
    // (native tag walk) → caller-supplied gt_cx/gt_cy metadata escape hatch
    images
      .withColumn("__gps", Exif.gpsUdf(col("content")))
      .withColumn("__gtc", graft.sources.GeoTiff.centroidUdf(col("content")))
      .withColumn("cx",
        if (hasGt) coalesce(col("__gps.lon"), col("__gtc.lon"), col("gt_cx"))
        else coalesce(col("__gps.lon"), col("__gtc.lon")))
      .withColumn("cy",
        if (hasGt) coalesce(col("__gps.lat"), col("__gtc.lat"), col("gt_cy"))
        else coalesce(col("__gps.lat"), col("__gtc.lat")))
      .withColumn("clase",
        when(BinarySource.isJpeg(col("path")), "BR/").otherwise("TIF/"))
      .select("path", "content", "clase", "cx", "cy")
      .withColumn("__hit", parcels.probe(col("cx"), col("cy")))
      .select(
        col("path"), col("__hit.method").as("method"), col("cx"), col("cy"),
        SpatialJoin.indice(parcel("CODIGO"), parcel("SECCION"), parcel("TIPOUSO"),
          parcel("APL"), col("__hit.method")).as("INDICE"),
        parcel("CODIGO").as("CODIGO"), parcel("NOMBRE").as("NOMBRE_PREDIO"),
        parcel("SECCION").as("SECCION"), parcel("TIPOUSO").as("ESPECIE"),
        parcel("APL").as("APL"),
        when(col("__hit.method") === "unclassifiable", lit(null))
          .otherwise(BinarySource.dataLakeKey(
            col("clase"), coalesce(parcel("CODIGO"), lit("")), col("content"),
            BinarySource.fileName(col("path")))).as("RUTA_RESULTADO"))
  }

  /** E1 stage 7 / S11: classified rows → (catalog rows, lineage rows) with
    * deterministic batch keys; idempotent on RUTA_RESULTADO (J5 — the
    * reference re-inserts blindly): a row whose key the catalog holds is
    * dropped, and so is every repeat of a key within the batch (the same
    * bytes delivered twice), so each image is cataloged once. Rows with
    * no key (the unclassifiable sentinel) each stay. IDs are
    * `max(ID) + row_number()` ordered by RUTA_RESULTADO
    * ([[CatalogOps.assignIds]]). The numbered rows are local-
    * checkpointed, lazily: the first read of either returned frame
    * materializes them, so the anti-join and the window run once
    * however many times the frames are read, and both carry the same
    * FECHA. Returns (catalogAppend, lineageAppend). */
  def catalogAppend(
      catalog: DataFrame, lineage: DataFrame, classified: DataFrame,
      runId: Long, tipoImg: Int, proceso: Int): (DataFrame, DataFrame) = {
    val fresh = CatalogOps.newRowsOnly(catalog, classified, "RUTA_RESULTADO")
    // the repeats of a key sit next to it in the window assignIds numbers
    // by, so dropping them reuses its exchange and sort
    val key = col("RUTA_RESULTADO")
    val once = fresh
      .withColumn("__prev", lag(key, 1).over(Window.orderBy(key)))
      .filter(key.isNull || !(col("__prev") <=> key))
      .drop("__prev")
    val keyed = CatalogOps.assignIds(catalog, "ID", once, "RUTA_RESULTADO")
      .select(
        col("ID"), col("INDICE"), col("CODIGO"), col("NOMBRE_PREDIO"),
        col("SECCION"), col("ESPECIE"), col("APL").cast("double").as("APL"),
        lit(tipoImg).as("ID_TIPO_IMG"), lit(proceso).as("ID_PROCESO"),
        col("RUTA_RESULTADO"), current_timestamp().as("FECHA"))
      .localCheckpoint(false)
    val lin = keyed.select(lit(runId).as("ID_EJECUCION"),
      col("ID").as("ID_IMAGEN_FUENTE"))
    (keyed, lin)
  }

  /** S10: the indices.csv sink content — header IMAGEN,CENTROIDE,PREDIO,
    * INDICE (script_geo.py:158-160) with actual data rows (the reference
    * writes none, §2.3.3). Write with .option("header", true).csv(...). */
  def indicesCsv(classified: DataFrame): DataFrame =
    classified.select(
      BinarySource.fileName(col("path")).as("IMAGEN"),
      concat_ws(";", col("cx"), col("cy")).as("CENTROIDE"),
      col("NOMBRE_PREDIO").as("PREDIO"),
      col("INDICE"))

  /** Ingest health metrics via Spark's Observation API: named aggregates
    * (row count, unclassifiable count/ratio, null-coordinate count) are
    * collected ON the existing action — no second pass over the data, which
    * at 100 TB is the difference between "free telemetry" and "doubling the
    * job". Returns the observation; read `obs.get` after any action on the
    * returned frame. The reference logs per-run row counts to
    * PROC_EJECUCION (mysql_process.py:28-43) with extra queries; this is
    * the single-pass form.
    */
  def observedClassify(classified: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("ingest")
    val observed = classified.observe(
      obs,
      count(lit(1)).as("n_rows"),
      sum(when(col("method") === "unclassifiable", 1L).otherwise(0L))
        .as("n_unclassifiable"),
      sum(when(col("cx").isNull, 1L).otherwise(0L)).as("n_no_coords"))
    (observed, obs)
  }

  /** E3 (upload_model_files, download_list_images.py:74-104): model-output
    * artifact rows → parsed dims + catalog rows (ID_TIPO_IMG=10,
    * ID_PROCESO=2) with the model-bucket key layout
    * `{codigo}/{indice}/{fecha}/{filename}`. */
  def modelPublication(artifacts: DataFrame, fecha: String): DataFrame = {
    val fname = BinarySource.fileName(col("path"))
    val dims = CatalogOps.parseModelFilename(fname)
    artifacts
      .withColumn("__d", dims)
      .select(
        concat_ws("_", col("__d.codigo"), col("__d.seccion"), col("__d.especie"),
          col("__d.apl").cast("int")).as("INDICE"),
        col("__d.codigo").as("CODIGO"),
        lit("").as("NOMBRE_PREDIO"),
        col("__d.seccion").as("SECCION"),
        col("__d.especie").as("ESPECIE"),
        col("__d.apl").as("APL"),
        lit(Catalog.TipoImg.ModelArtifact).as("ID_TIPO_IMG"),
        lit(Catalog.Proceso.ModelPublication).as("ID_PROCESO"),
        concat_ws("/", col("__d.codigo"),
          concat_ws("_", col("__d.codigo"), col("__d.seccion"), col("__d.especie"),
            col("__d.apl").cast("int")),
          lit(fecha), fname).as("RUTA_RESULTADO"),
        col("__d.suffix").as("ARTIFACT_KIND"))
  }
}
