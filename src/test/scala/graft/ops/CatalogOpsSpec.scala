package graft.ops

import graft.GraftSuite
import org.apache.spark.sql.functions._

class CatalogOpsSpec extends GraftSuite {
  import spark.implicits._

  private lazy val catalog = Seq(
    (1L, "A_1_X_1", 0, "lake/aa.jpg"),
    (2L, "B_2_Y_2", 0, "lake/bb.jpg"),
    (7L, "C_3_Z_3", 10, "model/cc.png")
  ).toDF("ID", "INDICE", "ID_TIPO_IMG", "RUTA_RESULTADO")

  test("nextId = max+1; empty catalog starts at 1 (A1)") {
    assert(CatalogOps.nextId(catalog, "ID") === 8L)
    assert(CatalogOps.nextId(catalog.filter($"ID" < 0), "ID") === 1L)
  }

  /** The scanned form of [[CatalogOps.nextId]], its oracle. */
  private def scannedNextId(df: org.apache.spark.sql.DataFrame): Long =
    df.agg(coalesce(max($"ID"), lit(0L)) + 1L).collect()(0).getLong(0)

  test("nextId from the manifest equals the scan, and refuses where it cannot be exact") {
    import graft.storage.{GraftLake, TxnCatalog}
    val root = java.nio.file.Files.createTempDirectory("nextid").toString
    def batch(ids: Range) = ids.map(i => (i.toLong, s"lake/$i.jpg")).toDF("ID", "RUTA_RESULTADO")
    TxnCatalog.commitPartitions(spark, root, Seq(("CATALOG", "LOTE=0", batch(1 to 40)),
      ("BARE", "LOTE=0", batch(1 to 40))), statsColumns = Seq("ID"))
    TxnCatalog.commitPartitions(spark, root, Seq(("CATALOG", "LOTE=1", batch(41 to 57)),
      ("BARE", "LOTE=1", batch(41 to 57))), statsColumns = Seq("ID"))
    // a table committed without ID among its stats columns
    TxnCatalog.commitPartitions(spark, root, Seq(("NOSTATS", "LOTE=0", batch(1 to 30))),
      statsColumns = Seq("RUTA_RESULTADO"))
    def table(t: String) = {
      val snap = TxnCatalog.snapshot(spark, root).get
      GraftLake.tableAt(spark, root, t, snap).get
    }
    val cat = table("CATALOG")
    val (folded, jobs) = jobsOf(0) { CatalogOps.nextId(cat, "ID") }
    assert(folded === 58L)
    assert(folded === scannedNextId(cat))
    assert(jobs === 0, s"nextId over a lake frame with ID stats ran $jobs jobs")
    assert(CatalogOps.nextId(TxnCatalog.snapshot(spark, root).get.read("CATALOG").get, "ID") === 58L)
    // a filtered frame is not the bare relation: it scans
    val filtered = cat.filter($"ID" < 50)
    assert(CatalogOps.nextId(filtered, "ID") === 50L)
    assert(CatalogOps.nextId(filtered, "ID") === scannedNextId(filtered))
    val noStats = table("NOSTATS")
    assert(CatalogOps.nextId(noStats, "ID") === 31L)
    assert(CatalogOps.nextId(noStats, "ID") === scannedNextId(noStats))
    // a delete masking the max-ID row leaves the manifest's max stale:
    // the fold must refuse and the scan answer
    TxnCatalog.deleteKeys(spark, root, "BARE", "ID", Seq(57L, 56L).toDF("ID"))
    val masked = table("BARE")
    assert(CatalogOps.nextId(masked, "ID") === 56L)
    assert(CatalogOps.nextId(masked, "ID") === scannedNextId(masked))
    // an empty catalog starts at 1
    val empty = Seq.empty[(Long, String)].toDF("ID", "RUTA_RESULTADO")
    assert(CatalogOps.nextId(empty, "ID") === 1L)
    assert(CatalogOps.nextId(cat.filter($"ID" < 0), "ID") === 1L)
  }

  test("assignIds: deterministic contiguous keys after the current max (S11)") {
    val incoming = Seq("zz/1.jpg", "aa/2.jpg", "mm/3.jpg").toDF("RUTA_RESULTADO")
    val keyed = CatalogOps.assignIds(catalog, "ID", incoming, "RUTA_RESULTADO")
      .select("ID", "RUTA_RESULTADO").as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(keyed === Seq((8L, "aa/2.jpg"), (9L, "mm/3.jpg"), (10L, "zz/1.jpg")))
  }

  test("newRowsOnly drops already-cataloged keys (J5 idempotence)") {
    val incoming = Seq("lake/aa.jpg", "lake/new.jpg").toDF("RUTA_RESULTADO")
    val out = CatalogOps.newRowsOnly(catalog, incoming, "RUTA_RESULTADO")
      .as[String].collect().toSeq
    assert(out === Seq("lake/new.jpg"))
  }

  test("updateWhere flips only targeted ids (S12 read-modify-overwrite)") {
    val updated = CatalogOps.updateWhere(catalog, "ID", Seq(1L, 7L),
      "ID_TIPO_IMG", lit(5))
      .select("ID", "ID_TIPO_IMG").as[(Long, Int)].collect().toMap
    assert(updated === Map(1L -> 5, 2L -> 0, 7L -> 5))
  }

  test("getUrlList: the reference query shape end-to-end (J1)") {
    val pe = Seq((100L, 0), (200L, 2)).toDF("ID_EJECUCION", "ID_PROCESO")
    val de = Seq((100L, 1L), (100L, 2L), (200L, 7L))
      .toDF("ID_EJECUCION", "ID_IMAGEN_FUENTE")
    val out = CatalogOps.getUrlList(pe, de, catalog,
      idProceso = 0, tipoImgs = Seq(0, 3), indice = "A_1_X_1")
      .as[(Long, String)].collect().toSeq
    assert(out === Seq((1L, "lake/aa.jpg")))
  }

  test("contentKey: content-addressed, multi-dot-safe extension (S5, bug §2.3.7)") {
    val df = Seq(("dir", "payload", "DJI_0164.v2.JPG")).toDF("d", "c", "f")
    val key = df.select(CatalogOps.contentKey($"d", $"c".cast("binary"), $"f"))
      .as[String].collect().head
    assert(key.startsWith("dir/") && key.endsWith(".JPG"))
    assert(key.length === "dir/".length + 32 + ".JPG".length) // md5 hex
  }

  test("parseModelFilename: grammar incl. suffixes (mysql_process.py:94-100)") {
    val out = Seq(
      "CO06097_1_EU_2.png",
      "CO06097_1_EU_2_rodal.png",
      "CO06097_1_EU_2_etiquetas.tif",
      "CO06097_1_EU_2_grilla.png"
    ).toDF("f")
      .select(CatalogOps.parseModelFilename($"f").as("d"))
      .select($"d.codigo", $"d.seccion", $"d.especie", $"d.apl", $"d.suffix", $"d.ext")
      .as[(String, String, String, Double, String, String)].collect().toSeq
    assert(out(0) === (("CO06097", "1", "EU", 2.0, "", "png")))
    assert(out(1) === (("CO06097", "1", "EU", 2.0, "rodal", "png")))
    assert(out(2) === (("CO06097", "1", "EU", 2.0, "etiquetas", "tif")))
    assert(out(3) === (("CO06097", "1", "EU", 2.0, "grilla", "png")))
  }

  test("assignIdsDistributed: unique contiguous ids, no global sort (S11 scale path)") {
    val incoming = spark.range(0, 1000).toDF("v").repartition(7)
    val keyed = CatalogOps.assignIdsDistributed(catalog, "ID", incoming)
    val ids = keyed.select("ID").as[Long].collect().sorted
    assert(ids.length === 1000)
    assert(ids.head === 8L && ids.last === 1007L)
    assert(ids.distinct.length === 1000)
    // plan has no single-partition exchange (per-partition numbering only)
    val plan = keyed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"unexpected global exchange:\n$plan")
  }

  test("snapshotDiff: NULL position and delimiter bytes cannot alias (canonical encoding)") {
    // ("a", NULL, "b") vs ("a", "b", NULL): under a naive concat_ws both
    // encode as "a|b" and misreport 'unchanged'; the tagged length-prefixed
    // encoding must see them as changed
    val oldDf = Seq((1L, Some("a"), None: Option[String], Some("b")),
        (2L, Some("x"), Some("y"), Some("z")),
        (3L, Some("p|q"), Some("r"), None: Option[String]))
      .toDF("k", "c1", "c2", "c3")
    val newDf = Seq((1L, Some("a"), Some("b"), None: Option[String]),
        (2L, Some("x"), Some("y"), Some("z")),
        // "p" / "|q|r" vs "p|q" / "r": same concat bytes, different columns
        (3L, Some("p"), Some("|q|r"), None: Option[String]))
      .toDF("k", "c1", "c2", "c3")
    val got = CatalogOps.snapshotDiff(oldDf, newDf, "k", Seq("c1", "c2", "c3"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "changed", 2L -> "unchanged", 3L -> "changed"))
  }
}
