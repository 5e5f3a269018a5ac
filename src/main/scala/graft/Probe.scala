package graft

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query probes on the bench session ([[Sessions]]) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1):
  *
  * `runMain graft.Probe <explain|time|stream> [--out <dir> --tag <t>] <query...>`
  *
  *  - `explain`: the formatted pre-execution plan (PushedFilters /
  *    ReadSchema / join strategies) plus the AQE-final plan of one
  *    noop-sink write; with `--out <dir> --tag <t>` each query goes to
  *    `<dir>/<q>_<t>.txt` (the `plans/rNN/` evidence files).
  *  - `time`: the adjudication tool for a disputed bench number — a
  *    fresh JVM, free of suite position and cache residue, timing the
  *    named queries with [[Bench.runOnce]] (cold + 3 runs, best of the
  *    3).
  *  - `stream`: times the query once and dumps the engine's own
  *    `StreamingQueryProgress` JSON per micro-batch (durationMs:
  *    addBatch / getBatch / commitOffsets / stateOperators), so a
  *    micro-batch floor is attributed instead of guessed at. */
object Probe {
  /** Write option carrying the query's epoch into its noop write. */
  val EpochKey = "graft_probe_epoch"

  /** Captures the executed plan of each epoch-tagged noop write: after
    * the save returns, the write's AdaptiveSparkPlan has been
    * re-optimized (isFinalPlan=true), unlike the dataset's own never-
    * executed plan. The listener bus is async, so a callback can land
    * after its query's wait has given up; it carries its own epoch and
    * is never read as a later query's plan. */
  final class FinalPlans extends QueryExecutionListener {
    private val plans = new ConcurrentHashMap[String, String]()

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.logical.collectFirst { case w: OverwriteByExpression => w.writeOptions }
        .flatMap(_.get(EpochKey))
        .foreach(e => plans.put(e, qe.executedPlan.toString))
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    /** Runs `df` through the noop sink tagged `epoch`; its AQE-final
      * plan, waiting up to 15 s for the callback. */
    def noopWrite(df: DataFrame, epoch: Long): Option[String] = {
      df.write.mode("overwrite").format("noop")
        .option(EpochKey, epoch.toString).save()
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var plan = Option(plans.remove(epoch.toString))
      while (plan.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50)
        plan = Option(plans.remove(epoch.toString))
      }
      plan
    }
  }

  private val usage =
    "usage: Probe <explain|time|stream> [--out <dir> --tag <t>] <query...>"

  @tailrec private def parse(a: List[String], opts: Map[String, String],
      names: Vector[String]): (Map[String, String], Vector[String]) = a match {
    case k :: v :: t if k.startsWith("--") => parse(t, opts + (k.drop(2) -> v), names)
    case n :: t => parse(t, opts, names :+ n)
    case Nil => (opts, names)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val (opts, names) = parse(args.drop(1).toList, Map.empty, Vector.empty)
    require(Set("explain", "time", "stream").contains(mode) && names.nonEmpty, usage)
    require(opts.isEmpty || (mode == "explain" && opts.keySet == Set("out", "tag")),
      s"--out and --tag go together, with explain only; $usage")
    Bench.requireKnown(names, "Probe")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.session()
    val qs = SparkEntry.queries
    try mode match {
      case "explain" => explain(spark, sfDir, names, qs, opts.get("out").map(new File(_)),
        opts.getOrElse("tag", ""))
      case "time" => names.foreach { name =>
        val times = (0 to 3).map { i =>
          val dt = Bench.runOnce(spark, sfDir, name, qs(name))
          println(f"TIME $name run$i $dt%.3f s")
          dt
        }
        if (times.exists(_ < 0)) println(s"TIME $name failed")
        else println(f"TIME $name best ${times.tail.min}%.3f s")
      }
      case "stream" => stream(spark, sfDir, names, qs)
    } finally spark.stop()
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String],
      qs: Map[String, (SparkSession, String) => DataFrame],
      outDir: Option[File], tag: String): Unit = {
    outDir.foreach(_.mkdirs())
    val finals = new FinalPlans
    spark.listenerManager.register(finals)
    names.zipWithIndex.foreach { case (name, epoch) =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val file = outDir.map(d => new File(d, s"${name}_$tag.txt"))
      val w = file.map(new PrintWriter(_, "UTF-8"))
        .getOrElse(new PrintWriter(System.out, true))
      val label = if (tag.isEmpty) name else s"$name ($tag)"
      try {
        val df = qs(name)(spark, sfDir)
        w.println(s"==== $label - explain formatted (pre-execution) ====")
        w.println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        val plan = finals.noopWrite(df, epoch)
        w.println(s"==== $label - executed plan (AQE final, from the noop write's QueryExecution) ====")
        w.println(plan.getOrElse("[probe] listener produced no executed plan within 15s"))
      } catch { case e: Throwable =>
        w.println(s"[probe] $name failed: $e")
      } finally if (file.isDefined) w.close() else w.flush()
      file.foreach(f => println(s"[probe] wrote $f"))
    }
    spark.listenerManager.unregister(finals)
  }

  private def stream(spark: SparkSession, sfDir: String, names: Seq[String],
      qs: Map[String, (SparkSession, String) => DataFrame]): Unit = {
    // the memory / parquet sink helpers stop their query before
    // returning, so progress is collected by a listener
    val progress = new ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.json)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    names.foreach { name =>
      progress.clear()
      val dt = Bench.runOnce(spark, sfDir, name, qs(name))
      // listener events are async; give the bus a moment to drain
      Thread.sleep(1500)
      println(f"==== $name total $dt%.3f s ====")
      progress.forEach(p => println(p))
    }
  }
}
