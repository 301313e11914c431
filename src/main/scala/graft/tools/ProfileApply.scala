package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.storage.TxnCatalog
import graft.streaming.Streams

/** Per-phase attribution of ONE steady-state trigger of the streaming
  * apply sinks ([[Streams.cdcApplySink]] / [[Streams.scd2ApplySink]]) —
  * the NOTES evidence behind the jobs-per-trigger spec ceilings
  * (CdcApplySpec / Scd2ApplySpec). Run with:
  *
  *   tools/run.sh graft.tools.ProfileApply
  *
  * Prints the trigger's Spark job count and descriptions. */
object ProfileApply {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toFile.getAbsolutePath
    def feed(root: String) = spark.readStream.format("graft-lake")
      .option("root", root).option("table", "src")
      .option("readChangeFeed", "true").load()

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val descs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        descs.add(Option(j.properties)
          .map(_.getProperty("spark.job.description", "?")).getOrElse("?")
          .take(100))
        ()
      }
    }

    def profile(name: String)(mk: (String, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val bronze = tmp(s"${name}b"); val silver = tmp(s"${name}s")
      val ckpt = tmp(s"${name}c")
      TxnCatalog.commitPartitions(spark, bronze,
        Seq(("src", "b0",
          (0 until 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v"))),
        statsColumns = Seq("k"))
      val q = mk(bronze, silver, ckpt)
      try {
        q.processAllAvailable() // bootstrap trigger (unmeasured)
        TxnCatalog.commitPartitions(spark, bronze,
          Seq(("src", "b1",
            (0 until 50).map(i => (i.toLong, s"w$i")).toDF("k", "v"))))
        jobs.set(0); descs.clear()
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        try {
          q.processAllAvailable()
          Thread.sleep(500)
        } finally spark.sparkContext.removeSparkListener(listener)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"== $name: steady-state trigger — ${jobs.get()} jobs, $dt%.2f s ==")
        descs.forEach(d => println(s"  job: $d"))
      } finally q.stop()
    }

    profile("cdc") { (b, s, c) =>
      Streams.cdcApplySink(feed(b), s, "tgt", "k", c,
        statsColumns = Seq("k"))
    }
    profile("scd2") { (b, s, c) =>
      Streams.scd2ApplySink(feed(b), s, "tgt", "k", c)
    }
    spark.stop()
  }
}
