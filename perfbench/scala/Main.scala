package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}

/** Runs one workload against the engine and writes what it measured.
  *
  * Usage: perfbench.Main <workload> <inputDir> <storeDir> <outDir> <seconds> <trace 0|1>
  *
  * Writes `<outDir>/ops.jsonl` (one record per op, each marked with its
  * phase), `<outDir>/run.json` (set-up time, timed wall, memory and
  * stored bytes) and the outputs the caller's checks compare against
  * references computed outside the engine.
  */
object Main {
  private val mapper = new ObjectMapper()

  def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  def readPlan(path: String): java.util.Map[String, AnyRef] =
    mapper.readValue(new java.io.File(path), classOf[java.util.Map[String, AnyRef]])

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val Array(workload, input, store, out, secs, trace) = args
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(Paths.get(out))
    Files.createDirectories(Paths.get(store))
    val spark = graft.GraftSession.builder(master = s"local[$cores]", appName = "perfbench")
      .config("spark.local.dir", s"$store/../spark-local")
      .config("spark.sql.warehouse.dir", s"$store/../warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, input, Paths.get(store).toAbsolutePath.normalize,
      out, secs.toDouble, trace == "1", readPlan(s"$input/plan.json"), t0, cores)
    ctx.mark("session")
    try {
      workload match {
        case "dashboard" => Dashboard.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case "index" => Index.run(ctx)
      }
      ctx.finish()
    } finally {
      graft.operators.Stages.drop(spark)
      graft.sources.TxTable.flushCheckpoints()
      spark.stop()
    }
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val input: String,
                val store: Path, val out: String, val seconds: Double,
                val traced: Boolean, val plan: java.util.Map[String, AnyRef],
                startNs: Long, val cores: Int) {
  private val opsOut = Files.newBufferedWriter(Paths.get(s"$out/ops.jsonl"))
  val tracer = new Tracer(spark.sparkContext, Seq(store))
  val info = mutable.LinkedHashMap.empty[String, Any]
  private var setupS = 0.0
  private var timedT0 = 0L
  private var timedS = 0.0
  private val timedSeen = mutable.HashMap.empty[String, Int]
  private var storedAtSetup = 0L
  private var userAtSetup = 0L
  var userBytes = 0L

  private val setupParts = mutable.LinkedHashMap.empty[String, Double]
  private var lastMark = startNs

  /** Close a named part of set-up (for the report's breakdown). */
  def mark(part: String): Unit = {
    val now = System.nanoTime()
    setupParts(part) = (now - lastMark) / 1e9
    lastMark = now
  }

  /** Set-up ends here: everything before it is `setup_s`. */
  private def startTimed(): Unit = {
    mark("warmup")
    timedT0 = System.nanoTime()
    setupS = (timedT0 - startNs) / 1e9
    info("setup_parts") = setupParts.toMap
    // Stored bytes are taken where set-up ends, after the same inputs on
    // every run, so the ratio does not depend on how many ops the timed
    // window fitted.
    storedAtSetup = Tracer.listFiles(Seq(store)).values.sum
    userAtSetup = userBytes
  }

  /** The timed window: whole rounds of `roundLen` steps, starting at
    * step `first`, until `seconds` have passed at a round's end and at
    * least `minRounds` rounds have run. Whole rounds give every run the
    * same op mix, and the floor keeps a slow host from cutting a run's
    * samples. Returns the steps run. */
  def timedRounds(first: Int, roundLen: Int, last: Int, minRounds: Int = 1)
                 (step: Int => Unit): Int = {
    startTimed()
    var i = first
    var rounds = 0
    while ((rounds < minRounds || (System.nanoTime() - timedT0) / 1e9 < seconds) &&
           i + roundLen <= last) {
      (i until i + roundLen).foreach(step)
      i += roundLen
      rounds += 1
    }
    timedS = (System.nanoTime() - timedT0) / 1e9
    i
  }

  /** Run one op of a phase: "warmup" settles a lazy first-use path,
    * "setup" runs a one-off op before timing, "timed" is measured. In a
    * traced run, set-up ops are traced, and the timed ops of each kind
    * (of each query name on the dashboard) alternate between traced and
    * untraced, starting traced, so even a one-round run measures the
    * tracing overhead on the same ops. Warm-up ops are never traced. */
  def op(kind: String, name: String, phase: String)(body: OpRecord => Unit): OpRecord = {
    val on = phase match {
      case "timed" =>
        val key = if (kind == "query") s"$kind/$name" else kind
        val n = timedSeen.getOrElse(key, 0)
        timedSeen(key) = n + 1
        n % 2 == 0
      case "setup" => true
      case _ => false
    }
    val rec = tracer.op(kind, name, traced && on)(body)
    rec.extra("phase") = phase
    opsOut.write(Main.json(rec.toMap)); opsOut.newLine()
    rec
  }

  def finish(): Unit = {
    opsOut.close()
    val status = scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala)
      .getOrElse(Nil)
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    Files.writeString(Paths.get(s"$out/run.json"), Main.json(Map(
      "setup_s" -> setupS, "timed_s" -> timedS, "rss_peak_mb" -> hwmKb / 1024.0,
      "stored_bytes" -> storedAtSetup, "user_bytes" -> userAtSetup, "cores" -> cores,
      "info" -> info.toMap)))
  }

  def int(m: java.util.Map[String, AnyRef], k: String): Int = m.get(k).asInstanceOf[Number].intValue
  def long(m: java.util.Map[String, AnyRef], k: String): Long = m.get(k).asInstanceOf[Number].longValue
  def str(m: java.util.Map[String, AnyRef], k: String): String = m.get(k).asInstanceOf[String]
  def list(m: java.util.Map[String, AnyRef], k: String): Seq[java.util.Map[String, AnyRef]] =
    m.get(k).asInstanceOf[java.util.List[java.util.Map[String, AnyRef]]].asScala.toSeq
  def longs(m: java.util.Map[String, AnyRef], k: String): Seq[Long] =
    m.get(k).asInstanceOf[java.util.List[Number]].asScala.map(_.longValue).toSeq

  /** Rows as plain values for the op record. */
  def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case x => x
  }
}
