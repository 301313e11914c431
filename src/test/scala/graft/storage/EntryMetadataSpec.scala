package graft.storage

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.GraftSuite

/** The lake's metadata work on the commit and read paths: entry stats
  * observed on the write job equal a re-measurement of the committed
  * dirs, and schemas resolved from the entry-grain footer cache equal
  * Spark's own inference — each against the form it replaced, kept
  * here — at the job budgets the ingest path relies on. */
class EntryMetadataSpec extends GraftSuite {
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("entrymeta").toString

  /** Every stat kind and edge the measurer handles: int/long/decimal
    * (exact sums), double (no sum), non-ASCII strings with nulls, a
    * timestamp, and an all-null column (records nothing). */
  private def kinds(n: Long) = spark.range(0, n, 1, 3).select(
    ($"id" % 97 - 40).cast("int").as("i"),
    ($"id" * 7 - 500).as("l"),
    ($"id" * 0.125).cast("decimal(12,3)").as("d"),
    ($"id" * 0.5 - 3.25).as("x"),
    when($"id" % 5 === 0, lit(null))
      .otherwise(concat(lit("ñandú-"), $"id".cast("string"), lit("-日本")))
      .as("s"),
    timestamp_seconds($"id" * 3600L + 1700000000L).as("ts"),
    lit(null).cast("int").as("z"))

  private val statCols = Seq("i", "l", "d", "x", "s", "ts", "z")

  test("observed entry stats equal a re-measurement of the committed dirs") {
    val root = tmp()
    // t: explicit stats columns; b: Bloom columns on top; q: a stats
    // column declared only in the table's `~p` properties
    TxnCatalog.commitPartitions(spark, root, Seq(
      ("t", "p=0", kinds(300)),
      ("t", "p=1", kinds(300).filter(lit(false))),
      ("b", "p=0", kinds(200)),
      ("q", "p=0", kinds(10))),
      statsColumns = statCols, bloomColumns = Nil)
    TxnCatalog.commitPartitions(spark, root, Seq(("b", "p=1", kinds(250))),
      statsColumns = statCols, bloomColumns = Seq("s", "l", "ts"))
    TxnCatalog.setTableProperties(spark, root, "q",
      Map(TxnCatalog.StatsColumnsProp -> "l,s"))
    TxnCatalog.commitPartitions(spark, root, Seq(("q", "p=1", kinds(120))))
    val snap = TxnCatalog.snapshot(spark, root).get

    val st = snap.stats("t", "p=0")
    assert(st.keySet === Set("i", "l", "d", "x", "s", "ts"),
      "every non-null stat column measured, the all-null one records none")
    assert(Seq("i", "l", "d").forall(st(_).sum.isDefined) &&
      st("x").sum.isEmpty && st("s").nulls === Some(60L))
    assert(st("s").max.contains("日本"), "non-ASCII strings round trip")
    assert(snap.rowCount("t", "p=1") === Some(0L) &&
      snap.stats("t", "p=1").isEmpty)
    assert(Seq("s", "l").forall(c => snap.stats("b", "p=1")(c).bloom.nonEmpty))
    assert(snap.stats("b", "p=1")("ts").bloom.isEmpty, "timestamps get no Bloom")
    assert(snap.stats("q", "p=1").keySet === Set("l", "s"),
      "the `~p`-declared stats columns are measured")

    // the re-measurement: the staged-file measurer over each committed dir
    def remeasured(t: String, p: String, cols: Seq[String],
        blooms: Seq[String]) = TxnCatalog.entryStats(spark,
      TxnCatalog.entryPath(root, t, p, snap.entries((t, p)).dir),
      snap.properties(t), cols, blooms)
    Seq(("t", "p=0", statCols, Nil), ("t", "p=1", statCols, Nil),
      ("b", "p=0", statCols, Nil), ("b", "p=1", statCols, Seq("s", "l", "ts")),
      ("q", "p=0", statCols, Nil), ("q", "p=1", Nil, Nil)
    ).foreach { case (t, p, cols, blooms) =>
      val (stats, rows) = remeasured(t, p, cols, blooms)
      assert(snap.stats(t, p) === stats, s"$t/$p: stats differ")
      assert(snap.rowCount(t, p) === rows, s"$t/$p: row count differs")
    }
    // ANALYZE over the same dirs changes nothing either
    TxnCatalog.analyzeTable(spark, root, "b", statCols, Seq("s", "l"),
      onlyMissing = false)
    val analyzed = TxnCatalog.snapshot(spark, root).get
    assert(analyzed.stats("b", "p=1") === snap.stats("b", "p=1"))
  }

  test("a 3-entry per-entry commit runs exactly 3 jobs") {
    val root = tmp()
    val updates = Seq("cat", "lin", "run").map(t =>
      (t, "b=0", (0 until 50).map(i => (i.toLong, s"$t$i")).toDF("id", "nm")))
    val (_, jobs) = jobsOf(3) {
      TxnCatalog.commitPartitions(spark, root, updates,
        statsColumns = Seq("id", "nm"))
    }
    assert(jobs === 3, s"3-entry per-entry commit ran $jobs jobs")
    val snap = TxnCatalog.snapshot(spark, root).get
    Seq("cat", "lin", "run").foreach { t =>
      assert(snap.stats(t, "b=0")("id").max === "49")
      assert(snap.rowCount(t, "b=0") === Some(50L))
    }
  }

  test("an updateWhere of one fresh partition runs 1 job") {
    val root = tmp()
    def batch(b: Int) = (0 until 20).map(i => (b, i.toLong, "x")).toDF("LOTE", "v", "f")
    TxnCatalog.commitPartitions(spark, root, Seq(("t", "LOTE=0", batch(0))),
      statsColumns = Seq("LOTE", "v"))
    TxnCatalog.snapshot(spark, root).get.read("t").get.schema
    TxnCatalog.commitPartitions(spark, root, Seq(("t", "LOTE=1", batch(1))),
      statsColumns = Seq("LOTE", "v"))
    val (_, jobs) = jobsOf(1) {
      TxnCatalog.updateWhere(spark, root, "t", "LOTE = 1 AND v < 5",
        Seq("f" -> "'y'"), bounds = Seq(("LOTE", 1, 1)),
        condRefs = Seq("LOTE", "v"))
    }
    assert(jobs === 1, s"the flip of one fresh partition ran $jobs jobs")
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.read("t").get.filter($"f" === "y").count() === 5L)
    assert(snap.stats("t", "LOTE=1")("v").max === "19")
  }

  /** The schema resolution the entry-grain cache replaced: Spark's
    * inference over the path set (`mergeSchema` across several), with
    * the per-path widening merge where Spark's merge refuses. */
  private def inferred(paths: Seq[String]): StructType = {
    val sc =
      try {
        if (paths.sizeIs == 1) spark.read.parquet(paths.head).schema
        else spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      } catch {
        case e: SparkException
            if e.getMessage != null &&
              e.getMessage.contains("CANNOT_MERGE_SCHEMAS") =>
          paths.map(p => spark.read.parquet(p).schema)
            .reduceLeft(TxnCatalog.widenMergeSchemas(_, _, e))
      }
    spark.read.schema(sc).parquet(paths: _*).schema
  }

  /** Evolved entry dirs: an added column in a new field order, int →
    * long, float → double, decimal growth, and a clash no widening
    * resolves. Names make file-path order differ from both the listed
    * order and plain dir-name order (`v=1.b/…` sorts before `v=1/…`). */
  private def evolved(): Map[String, Seq[String]] = {
    val dir = tmp()
    def put(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val p = s"$dir/$name"
      df.write.parquet(p)
      p
    }
    val base = spark.range(0, 30, 1, 2)
    val a = put("v=1", base.select($"id".cast("int").as("k"),
      $"id".cast("string").as("s")))
    val added = put("v=1.b", base.select($"id".cast("double").as("c"),
      $"id".cast("int").as("k"), $"id".cast("string").as("s")))
    val long = put("v=2.c", base.select($"id".as("k"),
      $"id".cast("string").as("s")))
    val f = put("v=3.f", base.select($"id".cast("float").as("r")))
    val dbl = put("v=3.d", base.select($"id".cast("double").as("r"),
      $"id".as("extra")))
    val d1 = put("v=4.a", base.select($"id".cast("decimal(5,2)").as("m")))
    val d2 = put("v=4.b", base.select($"id".cast("decimal(7,3)").as("m")))
    val clash = put("v=5.s", base.select($"id".cast("string").as("k")))
    Map("single" -> Seq(added), "added column" -> Seq(a, added),
      "added column, reversed" -> Seq(added, a),
      "int to long" -> Seq(a, long, added),
      "float to double" -> Seq(dbl, f),
      "decimal growth" -> Seq(d2, d1),
      "clash" -> Seq(a, clash))
  }

  private def assertSameSchemas(sets: Map[String, Seq[String]]): Unit =
    sets.toSeq.sortBy(_._1).foreach {
      case ("clash", paths) =>
        Seq(() => TxnCatalog.readParquetCached(spark, paths),
          () => inferred(paths)).foreach { read =>
          val e = intercept[SparkException](read())
          assert(e.getMessage.contains("CANNOT_MERGE_SCHEMAS"))
        }
      case (name, paths) =>
        val cached = TxnCatalog.readParquetCached(spark, paths)
        assert(cached.schema === inferred(paths), s"$name: schemas differ")
        assert(cached.count() === 30L * paths.size, s"$name: rows differ")
    }

  test("entry-grain footer schemas equal Spark's inference on evolved tables") {
    // driver-side footer reads of uncached dirs
    assertSameSchemas(evolved())
    // a second resolution over warm dirs equals the first
    val warm = evolved()
    assertSameSchemas(warm)
    assertSameSchemas(warm)
  }

  test("resolving a table's schema at a txn that added one entry runs 0 jobs") {
    val root = tmp()
    TxnCatalog.commitPartitions(spark, root, Seq(
      ("t", "b=0", Seq((1L, "a")).toDF("id", "nm")),
      ("t", "b=1", Seq((2L, "b")).toDF("id", "nm"))))
    TxnCatalog.snapshot(spark, root).get.read("t").get.schema
    TxnCatalog.commitPartitions(spark, root, Seq(
      ("t", "b=2", Seq((3L, "c", 1.5)).toDF("id", "nm", "score"))))
    val snap = TxnCatalog.snapshot(spark, root).get
    val (schema, jobs) = jobsOf(0) {
      GraftLake.tableAt(spark, root, "t", snap).get.schema
    }
    assert(jobs === 0, s"schema resolution ran $jobs jobs")
    assert(schema.fieldNames.toSeq === Seq("id", "nm", "score"))
    assert(snap.read("t").get.count() === 3L)
  }
}
