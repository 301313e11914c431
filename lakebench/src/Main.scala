package lakebench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point inside the JVM. Modes:
  *  - `run`: generate inputs, set up three times, run the discarded
  *    warm-up operations, measure a closed loop for `--seconds` and check
  *    every output; with `--trace 1` an untraced window is followed by a
  *    traced one and the per-layer metrics are reported;
  *  - `restart`: start Spark, wait for one stdin line `<lake>\t<expected
  *    rows file>` (sent once the writing JVM has exited), then read the
  *    committed lake and compare it with the rows the run acknowledged;
  *  - `selftest`: the generator gives identical files and truth for one
  *    seed and different ones for another.
  * The last line of `run` is the result JSON. */
object Main {

  val SetupReps = 3

  /** Per-layer metric names and units: every traced run reports all of
    * them; a layer the workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_ms" -> "ms", "sources.bytes_read" -> "bytes",
    "sources.located_ratio" -> "ratio", "sources.parcels_load_ms" -> "ms",
    "geo.classify_ms" -> "ms", "geo.fallback_ratio" -> "ratio",
    "geo.nn_distance_evals" -> "count", "geo.pip_hit_ratio" -> "ratio",
    "pipelines.catalog_append_ms" -> "ms", "ops.new_rows_ratio" -> "ratio",
    "pipelines.publish_ms" -> "ms", "storage.commit_ms" -> "ms", "storage.update_ms" -> "ms",
    "storage.manifest_entries" -> "count", "storage.manifest_bytes" -> "bytes",
    "storage.snapshot_ms" -> "ms", "storage.range_read_ms" -> "ms",
    "storage.files_scanned_ratio" -> "ratio", "storage.rows_read_per_row_returned" -> "ratio",
    "storage.stored_bytes_per_row" -> "bytes",
    "ops.geturllist_ms" -> "ms", "multimodal.phash_ms" -> "ms", "multimodal.image_dup_recall" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.shuffle_write_bytes_per_op" -> "bytes", "spark.records_read_per_op" -> "count",
    "spark.scheduler_wait_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "spark.peak_heap_mb" -> "MB",
    "trace.untraced_p50_ms" -> "ms", "trace.traced_p50_ms" -> "ms", "trace.overhead_ms" -> "ms")

  /** Span name → per-layer metric holding its per-operation time. */
  val SpanMetric: Map[String, String] = Seq("sources.decode", "geo.classify",
    "pipelines.catalog_append", "pipelines.publish", "storage.commit", "storage.update",
    "storage.snapshot", "storage.range_read", "ops.geturllist",
    "multimodal.phash").map(n => n -> s"${n}_ms").toMap

  def main(args: Array[String]): Unit = {
    val o = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(o("workload"), o("seed").toLong, o("seconds").toDouble,
        o("trace") == "1", new File(o("work")), new File(o("results")), o("cpus").toInt)
      case Some("restart") => restart(o("work"))
      case Some("selftest") => sys.exit(if (selftest(new File(o("work")))) 0 else 1)
      case _ => System.err.println("usage: run|restart|selftest --key value ..."); sys.exit(2)
    }
  }

  def session(cpus: Int, work: File): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master(s"local[$cpus]").appName("lakebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, seed: Long, dir: File): Workload = name match {
    case "ingest" => new Ingest(seed, dir, nParcels = 1000, batchSize = 100)
    case "lookup" => new Lookup(seed, dir, nParcels = 1000, batches = 20, perBatch = 1000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  final case class Op(client: Int, opId: Long, latMs: Double, items: Int, checked: Checked,
      counters: Map[String, Double]) {
    def okItems: Int = math.max(0, items - checked.failures.values.sum)
  }

  final case class Window(ops: Seq[Op], wallMs: Double) {
    def latencies: Seq[Double] = ops.map(_.latMs)
    def okItems: Long = ops.map(_.okItems.toLong).sum
    def failed: Int = ops.count(!_.checked.ok)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Closed loop: each client issues its next operation when the last one
    * (and its check) is done. One client: the window is `seconds` of
    * operation time, checks excluded. Several clients: `seconds` of wall
    * time, checks (in-memory set compares) included. */
  def window(wl: Workload, tr: Tracer, seconds: Double, ids: AtomicLong, counted: Int): Window = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
    val perClient = math.max(1, counted / wl.clients)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val hardStop = t0 + ((seconds * 4 + 60) * 1e9).toLong
    def loop(client: Int): Unit = {
      var busy = 0L; var n = 0
      // a traced window always covers the operations its exact counters
      // average over, so they stay comparable between runs
      def more = System.nanoTime() < hardStop && (tr.on && n < perClient ||
        (if (wl.clients == 1) busy < seconds * 1e9 else System.nanoTime() < deadline))
      while (more) {
        wl.prepare(client)
        val id = ids.incrementAndGet()
        val s = System.nanoTime()
        val done = try Right(tr.span("op", id)(wl.op(client, tr, id)))
          catch { case e: Exception => Left(e) }
        val lat = System.nanoTime() - s
        busy += lat
        val op = done match {
          case Right(d) =>
            val checked = try d.check() catch {
              case e: Exception => Checked(Map(s"${wl.name}.check_threw:${e.getClass.getSimpleName}" -> d.items)) }
            val counters = if (tr.on && n < perClient) d.counters() else Map.empty[String, Double]
            Op(client, id, lat / 1e6, d.items, checked, counters)
          case Left(e) =>
            System.err.println(s"operation $id threw: $e")
            Op(client, id, lat / 1e6, 1, Checked(Map(s"${wl.name}.threw:${e.getClass.getSimpleName}" -> 1)), Map.empty)
        }
        ops.add(op); n += 1
      }
    }
    if (wl.clients == 1) loop(0)
    else {
      val ts = (0 until wl.clients).map(c => new Thread(() => loop(c), s"client-$c"))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val all = ops.asScala.toSeq.sortBy(_.opId)
    val wall = if (wl.clients == 1) all.map(_.latMs).sum else (System.nanoTime() - t0) / 1e6
    Window(all, wall)
  }

  def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).toString

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: File, results: File,
      cpus: Int): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    work.mkdirs()
    val wl = workload(name, seed, work)
    val tg = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - tg) / 1e9
    val ids = new AtomicLong
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      val comps = wl.setup(spark, rep)
      ((System.nanoTime() - t0) / 1e9, comps)
    }
    // warm-up operations after the last set-up, from as many clients as the
    // window runs: checked, then discarded
    def warmUp(): Seq[Checked] = {
      val off = new Tracer(spark.sparkContext, on = false)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Checked]
      def loop(c: Int): Unit = (c until wl.warmups by wl.clients).foreach { _ =>
        wl.prepare(0)
        out.add(try wl.warmOp(off, ids.incrementAndGet()).check() catch {
          case e: Exception => Checked(Map(s"${wl.name}.warmup_threw:${e.getClass.getSimpleName}" -> 1)) })
      }
      if (wl.clients == 1) loop(0)
      else {
        val ts = (0 until wl.clients).map(c => new Thread(() => loop(c), s"warmup-$c"))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      out.asScala.toSeq
    }
    val tw = System.nanoTime()
    var warm = warmUp()
    val warmS = (System.nanoTime() - tw) / 1e9
    val firstOpS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupS = median(setups.map(_._1)) + warmS
    println(s"lakebench workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} local[$cpus]")
    println(s"host_jvm {\"java\": \"${System.getProperty("java.version")}\", \"spark\": \"${spark.version}\", \"master\": \"local[$cpus]\"}")
    println(f"gen_s $genS%.3f s (input generation, not gated)")
    println(s"setup_runs_s ${setups.map(s => f"${s._1}%.3f").mkString(" ")} (setup_s = their median + warmup_s)")
    println(f"warmup_s $warmS%.3f s (${wl.warmups} discarded operations)")
    setups.zipWithIndex.foreach { case ((_, c), i) =>
      println(s"setup_$i ${c.toSeq.sorted.map { case (k, v) => f"$k=$v%.1f" }.mkString(" ")}") }
    println(f"process_start_to_first_op_s $firstOpS%.3f s")

    val plain = new Tracer(spark.sparkContext, on = false)
    val untraced = window(wl, plain, seconds, ids, 0)
    var metrics = Map.empty[String, (Double, String)]
    var attempted = untraced.ops.size
    var failedOps = untraced.failed
    var failNames = untraced.ops.flatMap(_.checked.failures.keys) ++ warm.flatMap(_.failures.keys)

    val lat = untraced.latencies
    val gauges = wl.endGauges()
    val figures = Seq(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (untraced.okItems / (untraced.wallMs / 1000.0), "items/s"),
      "p50_ms" -> (median(lat), "ms"))
    val extra = Seq("failed_ratio" -> (failedOps.toDouble / math.max(1, attempted), "ratio")) ++
      (if (lat.size >= 100) Seq("p90_ms" -> (quantile(lat, 0.9), "ms")) else Nil) ++
      gauges.get("storage.stored_bytes_per_row").map(v => "stored_bytes_per_row" -> (v, "bytes"))
    (figures ++ extra).foreach { case (k, (v, u)) => println(s"metric $k ${fmt(v)} $u") }
    if (lat.size < 100) println(s"metric p90_ms n/a ms (${lat.size} operations; p90 needs 100)")
    println(s"operations ${lat.size} (untraced window ${fmt(untraced.wallMs / 1000)} s)")
    println(s"op_latencies_ms ${lat.map(x => f"$x%.0f").mkString(" ")}")

    if (!trace) metrics = figures.toMap
    else {
      // the traced window starts from a fresh set-up, so the operations its
      // exact counters cover see the same lake in every run
      wl.setup(spark, SetupReps)
      warm ++= warmUp()
      val tr = new Tracer(spark.sparkContext, on = true)
      val heap = new HeapSampler
      heap.start()
      val traced = window(wl, tr, seconds, ids, wl.countedOps)
      heap.finish()
      tr.stop()
      attempted += traced.ops.size
      failedOps += traced.failed
      failNames ++= traced.ops.flatMap(_.checked.failures.keys)
      val spans = tr.all
      val children = spans.groupBy(_.parent)
      val byOp = spans.groupBy(_.op)
      val layer = SpanMetric.map { case (span, metric) =>
        val perOp = traced.ops.flatMap(o => byOp.getOrElse(o.opId, Nil).filter(_.name == span) match {
          case Nil => None
          case ss => Some(ss.map(_.ms).sum)
        })
        metric -> median(perOp)
      }
      val counted = traced.ops.filter(_.counters.nonEmpty)
      val countedIds = counted.map(_.opId).toSet
      def perOp(k: String): Double =
        if (counted.isEmpty) 0.0
        else spans.filter(s => countedIds(s.op)).map(_.counts.toMap(k)).sum.toDouble / counted.size
      val sparkCounts = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "records_read",
        "scheduler_wait_ms", "gc_ms").map(k => s"spark.${k}_per_op" -> perOp(k)).toMap
      val opCounters = counted.flatMap(_.counters.keys).distinct.map { k =>
        k -> counted.map(_.counters.getOrElse(k, 0.0)).sum / counted.size }.toMap
      val rowsReturned = opCounters.getOrElse("lookup.rows_returned", 0.0)
      val setupLayer = setups.flatMap(_._2.keys).distinct.map(k => k -> median(setups.map(_._2.getOrElse(k, 0.0)))).toMap
      val tp50 = median(traced.latencies)
      val all: Map[String, Double] = layer ++ sparkCounts ++ wl.endGauges() ++ opCounters ++ setupLayer ++ Map(
        "spark.peak_heap_mb" -> heap.peakMb,
        "storage.rows_read_per_row_returned" ->
          (if (rowsReturned > 0) perOp("records_read") / rowsReturned else 0.0),
        "trace.untraced_p50_ms" -> median(lat), "trace.traced_p50_ms" -> tp50,
        "trace.overhead_ms" -> (tp50 - median(lat)))
      metrics = PerLayer.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }.toMap

      println(s"traced operations ${traced.ops.size}; exact counters over the first ${counted.size}")
      spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        val self = ss.map(s => tr.selfMs(s, children.getOrElse(s.id, Nil))).sum
        println(f"span $n%-26s count=${ss.size}%5d total_ms=${ss.map(_.ms).sum}%10.1f self_ms=$self%10.1f")
      }
      val out = new File(results, s"spans-$name-$seed.jsonl")
      out.getParentFile.mkdirs()
      Files.write(out.toPath, spans.map { s =>
        val c = s.counts.toMap.map { case (k, v) => s"\"$k\": $v" }.mkString(", ")
        s"""{"id": ${s.id}, "name": "${s.name}", "op": ${s.op}, "parent": ${s.parent}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ms": ${fmt(tr.selfMs(s, children.getOrElse(s.id, Nil)))}, $c}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"spans_file ${out.getPath}")
    }

    failNames.groupBy(identity).foreach { case (n, xs) => println(s"failed_check $n ${xs.size}") }
    wl match {
      case i: Ingest =>
        val expect = new File(work, "acked.tsv")
        Files.write(expect.toPath, i.ackedLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        println(s"restart_input ${i.lakeRoot} ${expect.getPath}")
      case _ =>
    }
    spark.stop()
    val m = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"\"$k\": {\"value\": ${fmt(v)}, \"unit\": \"$u\"}" }.mkString(", ")
    val correct = failedOps == 0 && warm.forall(_.ok)
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failedOps, "metrics": {$m}}""")
  }

  def restart(work: String): Unit = {
    val spark = session(1, new File(work))
    val go = scala.io.StdIn.readLine()
    if (go == null || go.isEmpty) { spark.stop(); return }
    val Array(lake, expect) = go.split("\t")
    val want = Files.readAllLines(new File(expect).toPath).asScala.filter(_.nonEmpty).toSeq
    val (got, rows, distinctIds) = Restart.lines(spark, lake)
    spark.stop()
    val ok = got == want && distinctIds == rows
    println(s"""restart_check {"ok": $ok, "rows": $rows, "expected_rows": ${want.size}, "distinct_ids": $distinctIds}""")
  }

  /** Hash of every file under `dir` (relative path + bytes), in path order. */
  def treeHash(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(dir).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def selftest(work: File): Boolean = {
    def inputs(seed: Long, tag: String): (String, String) = {
      val d = new File(work, s"selftest/$tag")
      val ing = new Ingest(seed, new File(d, "ingest"), 500, 200)
      ing.generate()
      val imgs = new Gen.Images(seed, Gen.parcels(seed, 500), 200)
      val truth = (0 until 3).flatMap { b =>
        val t = imgs.batch(b)
        t.foreach(x => Gen.write(new File(d, s"ingest/in/batch_$b/${x.name}"), x.content))
        t.map(x => s"${x.name}|${x.method}|${x.codigo}|${x.indice}")
      }
      val lk = new Lookup(seed, new File(d, "lookup"), 500, 10, 100)
      lk.generate()
      val truthHash = Gen.md5Hex((truth ++ Gen.catalogRows(seed, 500, 10, 100).map(_.toString) ++
        (0 until 3).flatMap(b => imgs.nearDupPairs(b).toSeq.sorted.map(_.toString)))
        .mkString("\n").getBytes("UTF-8"))
      (treeHash(d), truthHash)
    }
    val a = inputs(1, "a"); val a2 = inputs(1, "a2"); val b = inputs(2, "b")
    val same = a == a2
    val differ = a._1 != b._1 && a._2 != b._2
    println(s"selftest same_seed_identical=$same other_seed_differs=$differ files=${a._1.take(16)} truth=${a._2.take(16)}")
    same && differ
  }
}
