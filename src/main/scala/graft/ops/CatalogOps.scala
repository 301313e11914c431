package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalog maintenance operators (SURVEY.md §2.1 S5/S11/S12, A1, J1/J5,
  * E3 grammar): the reference's MySQL-side mutations re-expressed as
  * deterministic DataFrame transforms over Parquet.
  */
object CatalogOps {

  /** A1: next surrogate key — replaces the reference's racy
    * read-INFORMATION_SCHEMA-then-insert (mysql_process.py:13-25).
    * `max(id)` comes from the lake manifest when
    * [[graft.plans.MetadataOnlyAgg]] can answer it exactly (a bare lake
    * relation whose every entry records the column's stats, no delete
    * masking rows): zero file reads, zero Spark jobs. Any other frame,
    * or a fold the rule refuses, scans. */
  def nextId(catalog: DataFrame, idCol: String): Long = {
    val top = catalog.agg(max(col(idCol)))
    val folded = graft.plans.MetadataOnlyAgg(top.queryExecution.optimizedPlan) match {
      case lr: LocalRelation if lr.data.sizeIs == 1 =>
        val r = lr.data.head
        if (r.isNullAt(0)) Some(0L)
        else top.schema.head.dataType match {
          case LongType => Some(r.getLong(0))
          case IntegerType => Some(r.getInt(0).toLong)
          case _ => None
        }
      case _ => None
    }
    folded.map(Math.addExact(_, 1L)).getOrElse(
      catalog.agg(coalesce(max(col(idCol)), lit(0L)) + 1L).collect()(0).getLong(0))
  }

  /** S11: deterministic batch key assignment — new rows get
    * max(existing)+row_number ordered by a caller-chosen unique key (§1.5:
    * per-batch keys instead of AUTO_INCREMENT round trips).
    *
    * Scale note: the window has no partition key, so it runs in one task;
    * a multi-partition `incoming` is first moved there by an
    * `Exchange SinglePartition`. A bounded batch can be coalesced to one
    * partition first, which drops the exchange
    * ([[graft.pipelines.Pipelines.catalogAppend]] does); re-keying a
    * 100 TB table takes [[assignIdsDistributed]].
    */
  def assignIds(catalog: DataFrame, idCol: String, incoming: DataFrame,
      orderCol: String): DataFrame = {
    val base = nextId(catalog, idCol) - 1L
    incoming.withColumn(idCol,
      lit(base) + row_number().over(Window.orderBy(col(orderCol))).cast("long"))
  }

  /** S11 at scale: contiguous unique ids without a global sort — the
    * documented scale path of [[assignIds]]. Per-partition row numbers plus
    * driver-computed cumulative partition offsets (one tiny count-per-
    * partition job; offsets broadcast back). Ids are unique and contiguous
    * starting at max(existing)+1; the id↔row mapping depends on the physical
    * partition layout (stable for a given layout — sort the input first if
    * a canonical order matters).
    */
  def assignIdsDistributed(catalog: DataFrame, idCol: String,
      incoming: DataFrame): DataFrame = {
    val base = nextId(catalog, idCol) - 1L
    // materialize the __pid-stamped frame once: the counts job and the final
    // id job must see the SAME partition layout — a recomputed source (AQE
    // re-plan, non-deterministic scan order) could otherwise shift rows
    // between partitions and silently duplicate ids
    val withPart = incoming.withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val counts = withPart.groupBy("__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).zip(counts.map(_._1))
      .map { case (off, pid) => pid -> off }.toMap
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (pid, off)) =>
      when(col("__pid") === pid, lit(off)).otherwise(acc)
    }
    val wp = Window.partitionBy(col("__pid")).orderBy(monotonically_increasing_id())
    withPart
      .withColumn(idCol,
        lit(base) + offCol + row_number().over(wp).cast("long"))
      .drop("__pid")
  }

  /** J5: ingest idempotence — drop incoming rows whose key already exists
    * (the reference re-inserts blindly, script_geo.py:205). */
  def newRowsOnly(catalog: DataFrame, incoming: DataFrame, keyCol: String): DataFrame =
    incoming.join(catalog.select(col(keyCol)), Seq(keyCol), "left_anti")

  /** S12: UPDATE…WHERE on Parquet as read-modify-overwrite
    * (mysql_process.py:83-91): set `setCol = newValue` for ids in `ids`.
    * Caller persists with partition-overwrite; with a table format this
    * would be MERGE INTO (no Delta jars in this environment, SURVEY §1.5).
    */
  def updateWhere(catalog: DataFrame, idCol: String, ids: Seq[Long],
      setCol: String, newValue: Column): DataFrame =
    catalog.withColumn(setCol,
      when(col(idCol).isin(ids: _*), newValue).otherwise(col(setCol)))

  /** MERGE-style upsert without a table format (no Delta jars, SURVEY §1.5):
    * matched keys take the update row, unmatched keys keep the base row,
    * brand-new keys append. Equivalent to
    * `MERGE INTO base USING updates ON key WHEN MATCHED UPDATE * WHEN NOT
    * MATCHED INSERT *`; persist with partition-overwrite (see StorageSpec's
    * dynamic-overwrite pattern). Columns of both inputs must match.
    */
  def upsert(base: DataFrame, updates: DataFrame, keyCol: String): DataFrame =
    base.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(updates)

  /** Snapshot diff — the change-data-capture view between two catalog
    * versions: per key, `added` (new only), `removed` (old only),
    * `changed` / `unchanged` (both, by content hash over `valueCols`).
    * One full outer join on the key; content compare is a row-local md5
    * over a CANONICAL encoding of the value columns: each value is tagged
    * (`n` for NULL, `v` for present) and length-prefixed, so NULL position
    * and delimiter bytes inside values cannot alias a column boundary —
    * ("a", NULL, "b") vs ("a", "b", NULL) and values containing the
    * separator hash differently. The scale shape of table-format diffing
    * without a table format. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      valueCols: Seq[String]): DataFrame = {
    // both snapshots often derive from the SAME source frame (old vs
    // transformed-old); aliasing mints fresh attributes on each side so
    // the full-outer condition can never resolve into a self-join tangle
    def enc(c: String): Column = {
      val s = col(c).cast("string")
      when(s.isNull, lit("|n"))
        .otherwise(concat(lit("|v"), length(s).cast("string"), lit(":"), s))
    }
    def h(df: DataFrame, k: String, hn: String) = df.select(
      col(keyCol).as(k),
      md5(concat(valueCols.map(enc): _*).cast("binary")).as(hn))
    val o = h(oldDf, "__ko", "__ho")
    val n = h(newDf, "__kn", "__hn")
    o.join(n, col("__ko") === col("__kn"), "full_outer")
      .select(coalesce(col("__ko"), col("__kn")).as(keyCol),
        when(col("__ho").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__ho") =!= col("__hn"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** J1 — THE reference query (`get_urllist`, mysql_process.py:64-81):
    * PROC_EJECUCION ⋈ DETALLE_EJECUCION ⋈ CATALOG with process/type/indice
    * filters, projecting (ID, RUTA_RESULTADO). Filters are pushed below the
    * joins by Catalyst; pe is dim-sized → broadcast.
    */
  def getUrlList(pe: DataFrame, de: DataFrame, cat: DataFrame,
      idProceso: Int, tipoImgs: Seq[Int], indice: String): DataFrame =
    broadcast(pe.filter(col("ID_PROCESO") === idProceso))
      .join(de, "ID_EJECUCION")
      .join(
        cat.filter(col("ID_TIPO_IMG").isin(tipoImgs: _*) && col("INDICE") === indice),
        de("ID_IMAGEN_FUENTE") === cat("ID"))
      .select(cat("ID"), cat("RUTA_RESULTADO"))

  /** S5: content-addressed object key `{dir}/{md5(content)}.{ext}` — the
    * deterministic replacement for the reference's `md5(urandom)` keys
    * (download_list_images.py:44-55). The extension comes from an anchored
    * regex, fixing the `split('.')[1]` multi-dot bug (§2.3.7).
    */
  def contentKey(dir: Column, content: Column, fileName: Column): Column =
    concat(dir, lit("/"), md5(content),
      lit("."), regexp_extract(fileName, "\\.([^.]+)$", 1))

  /** E3 filename grammar (download_list_images.py:94-99; examples
    * mysql_process.py:94-100): `{CODIGO}_{SECCION}_{ESPECIE}_{APL}
    * [_grilla|_rodal|_etiquetas].ext` → typed dims struct.
    */
  def parseModelFilename(fileName: Column): Column = {
    val stem = regexp_replace(fileName, "\\.[^.]+$", "")
    val clean = regexp_replace(stem, "_(grilla|etiquetas|rodal)$", "")
    val parts = split(clean, "_")
    struct(
      element_at(parts, 1).as("codigo"),
      element_at(parts, 2).as("seccion"),
      element_at(parts, 3).as("especie"),
      element_at(parts, 4).cast("double").as("apl"),
      regexp_extract(fileName, "_(grilla|etiquetas|rodal)\\.", 1).as("suffix"),
      regexp_extract(fileName, "\\.([^.]+)$", 1).as("ext"))
  }
}
