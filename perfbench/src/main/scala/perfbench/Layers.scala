package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers shared by every workload's traced run. */
object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length covered by the union of (start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cs = 0L; var ce = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > ce) { if (ce > Long.MinValue) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > Long.MinValue) total += ce - cs
    total
  }

  /** Query observations whose planning started inside one of `spans`. */
  def queriesIn(tr: Tracer, spans: Seq[Span]): Seq[QueryObs] = {
    val wall0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val iv = spans.map(s => ((s.startNs + wall0) / 1000000L, (s.endNs + wall0) / 1000000L))
    tr.queries.asScala.toSeq.filter(q => iv.exists { case (a, b) =>
      q.startMs >= a && q.startMs <= b })
  }

  /** Spark substrate totals and self time per layer over the measured
    * spans. */
  def common(tr: Tracer, out: Out): Unit = {
    val L = out.layer
    val spans = tr.all.filter(_.run == "measure")
    val w = new Work
    spans.foreach(s => w.add(tr.workOf(s.id, deep = false)))
    L("spark.executor_cpu_s") = w.cpuNs / 1e9
    L("spark.gc_s") = w.gcMs / 1e3
    L("spark.shuffle_write_bytes") = w.shuffleWrite.toDouble
    L("spark.spill_bytes") = w.spill.toDouble
    L("spark.jobs") = w.jobs.toDouble
    L("spark.stages") = w.stages.toDouble
    L("spark.tasks") = w.tasks.toDouble
    L("spark.task_failures") = w.taskFailures.toDouble
    val self = tr.selfTimes
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum }
    byLayer.foreach { case (l, v) => L(s"self.${l}_s") = v }
    out.breakdown ++= byLayer.toSeq.sortBy(-_._2)
    L("trace.spans") = spans.size.toDouble
  }
}
