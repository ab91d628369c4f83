package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed operation: its wall time, the spans the benchmark opened
  * around calls into the engine's layers, and — when traced — every
  * Spark job, stage and task that ran while it was open. */
final class OpRecord(val kind: String, val name: String, val traced: Boolean) {
  var wallS = 0.0
  var ok = true
  var error = ""
  var units = 0L
  var userBytes = 0L
  var gcS = 0.0
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var spark: Map[String, Any] = Map.empty
  var sources: Map[String, Any] = Map.empty

  def toMap: Map[String, Any] = Map(
    "kind" -> kind, "name" -> name, "traced" -> traced,
    "wall_s" -> wallS, "ok" -> ok, "error" -> error, "units" -> units,
    "user_bytes" -> userBytes, "gc_s" -> gcS, "spans" -> spans.toSeq,
    "spark" -> spark, "sources" -> sources, "extra" -> extra.toMap)
}

/** Attributes Spark scheduler events to the open op and span.
  *
  * The span and op ids ride as Spark local properties of the calling
  * thread, so every job, stage and task carries the span that submitted
  * it. A job submitted while an op is open but carrying no span of that
  * op (a helper thread that never inherited the property, or inherited
  * a stale one) still counts for the op by time, and is counted as
  * unattributed. */
final class SpanListener extends SparkListener {
  private case class Job(span: Int, t0: Long, var t1: Long = -1L)

  @volatile private var op = -1
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private val perSpan = mutable.HashMap.empty[Int, mutable.HashMap[String, Double]]
  private var tasksStarted = 0L
  private var tasksEnded = 0L
  private var unattributed = 0L
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def spanOf(p: java.util.Properties): Int =
    if (p == null) -1
    else Option(p.getProperty(Tracer.OpKey)).filter(_ == op.toString)
      .flatMap(_ => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  private def add(span: Int, key: String, v: Double): Unit = {
    val m = perSpan.getOrElseUpdate(span, mutable.HashMap.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def begin(opId: Int): Unit = synchronized {
    op = opId
    jobs.clear(); stageSpan.clear(); tasks.clear(); perSpan.clear()
    tasksStarted = 0; tasksEnded = 0; unattributed = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEvent.set(System.nanoTime())
    val s = spanOf(e.properties)
    if (s < 0) unattributed += 1
    jobs(e.jobId) = Job(s, e.time)
    add(s, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEvent.set(System.nanoTime())
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEvent.set(System.nanoTime())
    val s = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = s
    add(s, "stages", 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    lastEvent.set(System.nanoTime())
    tasksStarted += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEvent.set(System.nanoTime())
    tasksEnded += 1
    val info = e.taskInfo
    tasks += ((info.launchTime, info.finishTime))
    val s = stageSpan.getOrElse(e.stageId, -1)
    add(s, "tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s, "task_run_s", m.executorRunTime / 1e3)
      add(s, "task_cpu_s", m.executorCpuTime / 1e9)
      add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(s, "bytes_read", m.inputMetrics.bytesRead.toDouble)
      add(s, "records_read", m.inputMetrics.recordsRead.toDouble)
    }
  }

  /** Block until every job and task of the op has reported its end and
    * the bus has been quiet for a moment: the listener bus is
    * asynchronous, so counts read straight after an action can miss
    * its last events. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized {
      jobs.values.forall(_.t1 >= 0) && tasksStarted == tasksEnded
    }
    while (System.nanoTime() < deadline &&
      !(settled && System.nanoTime() - lastEvent.get() > 30000000L))
      Thread.sleep(5)
  }

  /** The op's Spark footprint: totals, per-span totals, and the job and
    * task intervals (epoch ms) from which dispatch time is derived. */
  def snapshot(): Map[String, Any] = synchronized {
    val totals = mutable.HashMap.empty[String, Double]
    perSpan.values.foreach(_.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v })
    Map(
      "totals" -> totals.toMap,
      "per_span" -> perSpan.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "unattributed_jobs" -> unattributed,
      "job_intervals" -> jobs.values.map(j => Seq(j.t0, j.t1)).toSeq,
      "task_intervals" -> tasks.map { case (a, b) => Seq(a, b) }.toSeq)
  }
}

/** Opens ops and spans. Untraced ops run exactly the same calls with no
  * listener registered and no properties set. */
final class Tracer(sc: SparkContext, storeRoots: Seq[Path]) {
  private val listener = new SpanListener
  private var opSeq = 0
  private var current: OpRecord = null
  private var opT0 = 0L
  private var spanSeq = 0
  private var spanStack: List[Int] = Nil

  /** Run `body` as one op; failures are recorded on the op, not thrown. */
  def op(kind: String, name: String, traced: Boolean)(body: OpRecord => Unit): OpRecord = {
    val rec = new OpRecord(kind, name, traced)
    opSeq += 1
    val before = if (traced) Tracer.listFiles(storeRoots) else Map.empty[Path, Long]
    if (traced) {
      listener.begin(opSeq)
      sc.addSparkListener(listener)
      sc.setLocalProperty(Tracer.OpKey, opSeq.toString)
      sc.setLocalProperty(Tracer.SpanKey, "0")
    }
    current = rec; spanSeq = 0; spanStack = List(0)
    val gc0 = Tracer.gcMillis()
    opT0 = System.nanoTime()
    try body(rec)
    catch {
      case scala.util.control.NonFatal(e) =>
        rec.ok = false
        rec.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    rec.wallS = (System.nanoTime() - opT0) / 1e9
    rec.gcS = (Tracer.gcMillis() - gc0) / 1e3
    if (traced) {
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.SpanKey, null)
      listener.drain()
      sc.removeSparkListener(listener)
      rec.spark = listener.snapshot()
      rec.sources = Tracer.sourcesDelta(before, Tracer.listFiles(storeRoots), storeRoots)
    }
    current = null
    rec
  }

  /** A span around a call into `layer`; nested spans name their parent. */
  def span[A](layer: String, name: String)(f: => A): A = {
    val rec = current
    if (rec == null || !rec.traced) return f
    spanSeq += 1
    val id = spanSeq
    val parent = spanStack.head
    val t0 = System.nanoTime() - opT0
    spanStack = id :: spanStack
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    try f
    finally {
      spanStack = spanStack.tail
      sc.setLocalProperty(Tracer.SpanKey, parent.toString)
      rec.spans += Map("id" -> id, "parent" -> parent, "layer" -> layer,
        "name" -> name, "t0" -> t0 / 1e9, "t1" -> (System.nanoTime() - opT0) / 1e9)
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Every regular file under the roots with its size. */
  def listFiles(roots: Seq[Path]): Map[Path, Long] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> scala.util.Try(Files.size(p)).getOrElse(0L)).toList
      finally s.close()
    }.toMap

  private def isData(p: Path) = p.getFileName.toString.endsWith(".parquet")

  /** TxTable tables under the roots: directories holding a `_log`. */
  def tables(roots: Seq[Path]): Seq[Path] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p.resolve("_log"))).toList
      finally s.close()
    }

  /** What the op left on disk: commits, files and bytes it wrote, and
    * the live (snapshot-visible) files against everything stored. */
  def sourcesDelta(before: Map[Path, Long], after: Map[Path, Long],
                   roots: Seq[Path]): Map[String, Any] = {
    val added = after.keySet -- before.keySet
    val live = tables(roots).flatMap { t =>
      scala.util.Try {
        val snap = graft.sources.TxTable.snapshot(t.toString)
        graft.sources.TxTable.dataFiles(t.toString, snap).map(_._1.toAbsolutePath.normalize)
      }.getOrElse(Nil)
    }
    val liveBytes = live.map(p => after.getOrElse(p, scala.util.Try(Files.size(p)).getOrElse(0L))).sum
    Map(
      "commits" -> added.count(_.getFileName.toString.endsWith(".commit")),
      "files_written" -> added.count(isData),
      "bytes_written" -> added.toSeq.map(after(_)).sum,
      "live_files" -> live.size,
      "live_bytes" -> liveBytes,
      "stored_data_bytes" -> after.filter { case (p, _) => isData(p) }.values.sum)
  }
}
