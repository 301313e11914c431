package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span through its job group. */
final class Counts {
  val jobs, stages, tasks, shuffleWriteBytes, recordsRead, schedulerWaitMs, gcMs = new AtomicLong
  def toMap: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "records_read" -> recordsRead.get, "scheduler_wait_ms" -> schedulerWaitMs.get,
    "gc_ms" -> gcMs.get)
}

/** One timed call into a layer. `op` is the operation id shared by every
  * span of one operation; `parent` is the enclosing span (-1 for the root
  * span of an operation). */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    startNs: Long, endNs: Long, counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory while the traced run lasts and written out at the
  * end. Each span sets its own Spark job group (restoring the parent's on
  * exit), and the listener charges every job, stage and task to the span
  * whose group submitted it. With tracing off, `span` only runs its body. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val ids = new AtomicLong
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val byGroup = new ConcurrentHashMap[String, Counts]
  private val stack = new ThreadLocal[List[(Long, Long, Counts)]] {
    override def initialValue(): List[(Long, Long, Counts)] = Nil
  }
  private val listener = new Listener(byGroup)
  if (on) sc.addSparkListener(listener)

  def span[T](name: String, op: Long)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption
    val counts = new Counts
    val group = s"lakebench-$id"
    byGroup.put(group, counts)
    stack.set((id, op, counts) :: stack.get)
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      parent match {
        case Some((pid, _, _)) => sc.setJobGroup(s"lakebench-$pid", "")
        case None => sc.clearJobGroup()
      }
      spans.add(Span(id, name, op, parent.map(_._1).getOrElse(-1L), t0, t1, counts))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the union of its children's intervals. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Waits until the listener has seen every event posted so far (Spark
    * delivers them asynchronously, in order): runs a marker job and waits
    * for its end to arrive, then detaches the listener. */
  def stop(): Unit = if (on) {
    sc.setJobGroup(Listener.Drain, "")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    listener.drained.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(listener)
  }
}

/** Charges jobs to their submitting span's group, stages to their job and
  * tasks to their stage. Scheduler wait is task launch minus stage
  * submission. */
private object Listener {
  val Drain = "lakebench-drain"
}

private final class Listener(byGroup: ConcurrentHashMap[String, Counts]) extends SparkListener {
  private val stageCounts = new ConcurrentHashMap[Int, Counts]
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]
  private val drainJobs = ConcurrentHashMap.newKeySet[Int]
  val drained = new java.util.concurrent.CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (g.contains(Listener.Drain)) drainJobs.add(e.jobId)
    g.flatMap(x => Option(byGroup.get(x))).foreach { c =>
      c.jobs.incrementAndGet()
      e.stageIds.foreach(s => stageCounts.putIfAbsent(s, c))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (drainJobs.contains(e.jobId)) drained.countDown()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(id, t))
    Option(stageCounts.get(id)).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCounts.get(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
      Option(stageSubmitted.get(e.stageId)).foreach { s =>
        c.schedulerWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s))
      }
    }
}

/** Samples used heap every 20 ms; `peakMb` is the highest sample. */
final class HeapSampler extends Thread("lakebench-heap") {
  @volatile private var running = true
  private val peak = new AtomicLong
  setDaemon(true)
  override def run(): Unit = while (running) {
    val rt = Runtime.getRuntime
    peak.accumulateAndGet(rt.totalMemory - rt.freeMemory, math.max)
    Thread.sleep(20)
  }
  def peakMb: Double = peak.get / 1048576.0
  def finish(): Unit = { running = false; join() }
}
