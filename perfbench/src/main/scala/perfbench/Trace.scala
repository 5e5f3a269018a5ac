package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer of the engine, timed from the benchmark. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    run: String, startNs: Long, var endNs: Long = -1L) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spark work observed by the listeners, attributed to the span whose
  * id rode the job group (`spark.jobGroup.id`) of the job. */
final class Work {
  var jobs, stages, tasks, taskFailures = 0L
  var cpuNs, gcMs, shuffleWrite, spill, inputBytes, outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    jobIntervals ++= o.jobIntervals
  }
}

/** A query's planning time and scan volume (QueryExecutionListener). */
final case class QueryObs(startMs: Long, planMs: Double, filesScanned: Long,
    rowsScanned: Long)

/** Span recorder plus the three listeners. Untraced runs construct it
  * disabled: no listener is registered and `span` is a plain call.
  * Spans are kept in memory and written when the run ends. */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var runId = "setup"

  // listener state; events arrive on the listener-bus thread
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val work = new java.util.concurrent.ConcurrentHashMap[Int, Work]()
  val queries = new ConcurrentLinkedQueue[QueryObs]()
  val batches = new ConcurrentLinkedQueue[(Long, Double, Double)]()

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)
          .getOrElse(-1)
        jobSpan.put(e.jobId, id); jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageSpan.put(s, id))
        val w = workOf(id)
        w.synchronized { w.jobs += 1; w.stages += e.stageIds.size }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val w = workOf(jobSpan.getOrDefault(e.jobId, -1))
        val t0 = jobStart.getOrDefault(e.jobId, e.time)
        w.synchronized { w.jobIntervals += ((t0, e.time)) }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          if (!e.taskInfo.successful) w.taskFailures += 1
          if (m != null) {
            w.cpuNs += m.executorCpuTime; w.gcMs += m.jvmGCTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.diskBytesSpilled + m.memoryBytesSpilled
            w.inputBytes += m.inputMetrics.bytesRead
            w.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val phases = qe.tracker.phases
        val plan = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        val start = if (phases.isEmpty) System.currentTimeMillis()
          else phases.values.map(_.startTimeMs).min
        val scans = collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s
        }
        def metric(s: FileSourceScanExec, k: String) =
          s.metrics.get(k).map(_.value).getOrElse(0L)
        queries.add(QueryObs(start, plan.toDouble,
          scans.map(metric(_, "numFiles")).sum,
          scans.map(metric(_, "numOutputRows")).sum))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          batches.add((p.batchId, d.getOrElse("triggerExecution", 0L).toDouble,
            (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
              .toDouble))
        }
      }
    })
  }

  def startRun(id: String): Unit = runId = id

  /** Time `body` as a span of `layer`; Spark jobs it starts carry the
    * span id in their job group. Nested spans become children. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(spans.size, name, layer, parent, runId, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty("spark.jobGroup.id", s"span-${s.id}")
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty("spark.jobGroup.id",
          stack.headOption.map(p => s"span-${p.id}").orNull)
      }
    }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = if (enabled) org.apache.spark.BusDrain(sc)

  def all: Seq[Span] = spans.toSeq

  /** Spark work of span `id` and, with `deep`, of all its descendants. */
  def workOf(id: Int, deep: Boolean): Work = {
    val out = new Work
    val ids = if (deep) descendants(id) + id else Set(id)
    ids.foreach(i => Option(work.get(i)).foreach(w => w.synchronized(out.add(w))))
    out
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Self time per span: duration minus the union of its children. */
  def selfTimes: Map[Int, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> ((s.endNs - s.startNs - Layers.covered(kids.toSeq)) / 1e9)
    }.toMap
  }

  /** Spans as JSON lines, for the run's trace file. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    f"""{"id":${s.id},"name":"${Json.esc(s.name)}","layer":"${s.layer}",""" +
      f""""parent":${s.parent},"run":"${s.run}","start_ns":${s.startNs},""" +
      f""""end_ns":${s.endNs}}"""
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}
