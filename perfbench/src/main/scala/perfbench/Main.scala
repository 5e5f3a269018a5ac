package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload against the engine's public entry
  * points and writes `result.json` (timings, counters, environment)
  * plus the outputs the Python side checks against DuckDB.
  *
  * Usage: `perfbench.Main --workload <name> --work <dir> --seconds <s>
  *   --trace <0|1> --cpus <n>`; the work dir holds the generated
  * inputs and `params.json` (sizes and the request mix). */
object Main {

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  /** The deployed session settings (those of the engine's `Bench`):
    * GraftExtensions, AQE with 8 x cores initial shuffle partitions,
    * UTC session time zone. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val ShippedConfs: Seq[String] = Seq(
    "spark.sql.extensions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
    "spark.master")

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = new Args(argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val work = new File(a("work")).getAbsolutePath
    val cpus = a("cpus").toInt
    val spark = session(cpus, work)
    val tracer = new Tracer(spark, a("trace") == "1")
    val out = new Out(work, t0)
    val p = Params.load(s"$work/params.json")
    val deadlineNs = (a("seconds").toDouble * 1e9).toLong
    try {
      val w: Workload = a("workload") match {
        case "etl_backfill" => new EtlWorkload(spark, tracer, out, p, work, nightly = false)
        case "serve_dashboard" => new ServeWorkload(spark, tracer, out, p, work)
        case "nightly_dashboard" => new NightlyDashboard(spark, tracer, out, p, work)
        case "curate_corpus" => new CurateWorkload(spark, tracer, out, p, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      out.setupDone()
      tracer.startRun("measure")
      w.measure(deadlineNs)
      tracer.drain()
      if (tracer.enabled) {
        w.layers()
        Layers.common(tracer, out)
      }
      w.finish()
      out.env = Seq(
        "cpus" -> cpus.toString,
        "host" -> Json.str(java.net.InetAddress.getLocalHost.getHostName),
        "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "spark_version" -> Json.str(spark.version),
        "confs" -> Json.obj(ShippedConfs.map(k =>
          k -> Json.str(spark.conf.getOption(k).getOrElse("")))))
      if (tracer.enabled) {
        val pw = new PrintWriter(s"$work/spans.jsonl", "UTF-8")
        try tracer.spansJson.foreach(pw.println) finally pw.close()
      }
    } finally {
      out.peakRssMb = Out.vmHwmMb()
      out.write()
      spark.stop()
    }
  }
}

/** What a workload does: untimed set-up, a timed loop bounded by the
  * run length, per-layer counters (traced runs only) and the outputs
  * kept for checking. */
trait Workload {
  def setup(): Unit
  def measure(deadlineNs: Long): Unit
  def layers(): Unit
  def finish(): Unit
}

/** Collected timings, counters and layer metrics of one run. */
final class Out(work: String, t0: Long) {
  var setupS = 0.0
  var peakRssMb = 0.0
  var env: Seq[(String, String)] = Nil
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val breakdown = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0L
  var failed = 0L
  private var measureStart = 0L

  def setupDone(): Unit = {
    setupS = (System.nanoTime() - t0) / 1e9
    measureStart = System.nanoTime()
  }
  def elapsedNs: Long = System.nanoTime() - measureStart
  def measuredS: Double = elapsedNs / 1e9

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run one timed operation, counting it as attempted / failed. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
        None
    }
  }

  def write(): Unit = {
    val js = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "measured_s" -> Json.num(measuredS),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "env" -> Json.obj(env),
      "samples" -> Json.obj(samples.map { case (k, v) =>
        k -> Json.arr(v.map(Json.num)) }),
      "counts" -> Json.obj(counts.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "breakdown" -> Json.arr(breakdown.map { case (k, v) =>
        Json.arr(Seq(Json.str(k), Json.num(v))) })))
    val pw = new PrintWriter(s"$work/result.json", "UTF-8")
    try pw.println(js) finally pw.close()
  }
}

object Out {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Sizes and the request mix written by the generator. */
final case class Params(historyDays: Int, start: LocalDate,
    requests: Seq[Map[String, String]], maxFilesPerTrigger: Int)

object Params {
  def load(path: String): Params = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(path))
    Params(m.get("history_days").asInt, LocalDate.parse(m.get("start").asText),
      m.get("requests").elements.asScala.map(r =>
        r.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap).toSeq,
      m.get("max_files_per_trigger").asInt)
  }
}
