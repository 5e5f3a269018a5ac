package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.api.{Etl, ReportCache}
import graft.filters.{Repeat, Robots}
import graft.ingest.AccessLog
import graft.model.DateUtils
import graft.store.{FactStore, LifetimeMv}

/** `etl_backfill` (nightly = false): every timed step runs `Etl.run`
  * over the whole backlog into an empty store, then re-warms the
  * dashboard. Nightly (the refresh of `nightly_dashboard`): the
  * checkpoint says the history is ingested; every timed step adds one
  * new day file and runs the incremental `Etl.run` + warm, the
  * `process_stats` cron. After each
  * refresh the warmed dashboard keys are served back through the cache
  * (hits). */
final class EtlWorkload(spark: SparkSession, tr: Tracer, out: Out,
    p: Params, work: String, nightly: Boolean) extends Workload {

  private val logs = s"$work/logs"
  private val glob = s"$logs/*/*.log.gz"
  private val cache = s"$work/cache"
  private val store = s"$work/store"
  var today: LocalDate = p.start.plusDays(p.historyDays)
  // (first day, today) of every Etl.run: each run filters its own window
  private val windows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private var staged: List[File] = Option(new File(s"$work/incoming").listFiles)
    .toSeq.flatten.flatMap(d => Option(d.listFiles).toSeq.flatten)
    .sortBy(_.getName).toList
  // lines per day file, as the generator wrote them
  private lazy val lineCounts: Map[String, Long] = {
    val src = scala.io.Source.fromFile(s"$work/line_counts.tsv", "UTF-8")
    try src.getLines().map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
    finally src.close()
  }

  private def lines(): Long =
    Option(new File(logs).listFiles).toSeq.flatten
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .map(f => lineCounts(f.getName.stripSuffix(".log.gz"))).sum

  /** Nightly: the store's checkpoint says the history is ingested, as a
    * previous night left it; the cron then runs in a fresh JVM. */
  def setup(): Unit = if (nightly)
    FactStore.saveCheckpoint(s"$store/ckpt", "access", today.minusDays(1).toString)

  /** One refresh: Etl.run then ReportCache.warm. Returns
    * (etl seconds, warm seconds). */
  private def refresh(traced: Boolean): (Double, Double) = {
    val cfg = Engine.etlConfig(spark, glob, store, today, cache)
    windows += ((if (nightly) today.minusDays(1).toString else "", today.toString))
    val t0 = System.nanoTime()
    if (traced) EtlTraced.run(spark, cfg, tr, out)
    else tr.span("Etl.run", "api") { Etl.run(spark, cfg) }
    val t1 = System.nanoTime()
    val cat = Engine.catalog(spark, store)
    tr.span("ReportCache.warm", "api") {
      ReportCache.warm(cache, Engine.dashboard, cat, today)
    }
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Advance to the next step's input: a fresh store (backfill) or one
    * more day file (nightly). False when no staged day is left. */
  private def nextInput(): Boolean =
    if (!nightly) {
      Engine.rmrf(new File(store)); Engine.rmrf(new File(cache))
      true
    } else staged match {
      case f :: rest =>
        val dst = new File(s"$logs/${f.getParentFile.getName}/${f.getName}")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(f.toPath, dst.toPath)
        staged = rest
        today = LocalDate.parse(f.getName.stripSuffix(".log.gz")).plusDays(1)
        true
      case Nil => false
    }

  private def stepLines(): Long =
    if (!nightly) lines() else lineCounts(today.minusDays(1).toString)

  /** Serve every warmed dashboard key back through the cache, a few
    * rounds, as the morning's first dashboard views would. */
  private def probeHits(): Unit = (1 to 20).foreach { _ =>
    Engine.dashboard.items.foreach { item =>
      val ctx = item.overrides(Engine.dashboard.base).resolved(today)
      val params = ReportCache.paramsOf(ctx, item.view) +
        ("view" -> item.view)
      val t0 = System.nanoTime()
      val (_, _, key) = Engine.resolve(params, today, tr)
      var computed = false
      ReportCache.getOrCompute(cache, key) { computed = true; "" }
      val us = (System.nanoTime() - t0) / 1e3
      if (computed) throw new IllegalStateException(s"warmed key missed: $key")
      out.sample("warm_hit_us", us)
    }
  }

  def measure(deadlineNs: Long): Unit = steps(deadlineNs, Int.MaxValue)

  /** Timed refresh steps until the deadline (at least one, at most
    * `maxSteps`); a traced run always makes three. */
  def steps(deadlineNs: Long, maxSteps: Int): Unit = {
    var first = true
    var more = true
    def tracedDone = out.samples.get("etl_ms").exists(_.size >= 3)
    def room = out.samples.get("etl_ms").forall(_.size < maxSteps)
    while (more && (first || (out.elapsedNs < deadlineNs && room) ||
        (tr.enabled && !tracedDone)) && nextInput()) {
      val n = stepLines()
      // a traced run decomposes its third step; the second (warm, plain
      // Etl.run) is the untraced wall it is compared with. The plain
      // steps' spans are kept out of the per-layer self times.
      val traced = tr.enabled && out.samples.get("etl_ms").exists(_.size == 2)
      tr.startRun(if (traced) "measure" else "compare")
      out.op(refresh(traced)).foreach { case (etl, warm) =>
        val ms = (etl + warm) * 1e3
        if (first) out.sample("cold_ms", ms)
        if (!first || nightly) {
          out.sample("refresh_ms", ms)
          out.sample("records_per_s", n / etl)
        }
        out.sample("etl_ms", etl * 1e3)
        out.sample("warm_ms", warm * 1e3)
        if (traced) out.counts("traced_etl_ms") = etl * 1e3
        out.op(probeHits())
      }
      tr.startRun("measure")
      first = false
      if (tr.enabled && tracedDone) more = false
    }
  }

  def layers(): Unit = {
    val L = out.layer
    val spans = tr.all.filter(_.run == "measure")
    val plain = tr.all.filter(s => s.run == "compare" && s.name == "Etl.run").lastOption
    plain.foreach { s =>
      val w = tr.workOf(s.id, deep = true)
      L("api.etl_jobs") = w.jobs.toDouble
      L("api.etl_stages") = w.stages.toDouble
      L("api.etl_tasks") = w.tasks.toDouble
      L("api.etl_driver_gap_s") = s.durS - Layers.covered(w.jobIntervals.toSeq) / 1e3
    }
    val warms = spans.filter(_.name == "ReportCache.warm")
    L("api.warm_s") = Layers.median(warms.map(_.durS))
    L("api.warm_items") = Engine.dashboard.items.size.toDouble
    if (!L.contains("api.cache_lookups")) {
      val hits = out.samples.get("warm_hit_us").map(_.size).getOrElse(0)
      L("api.cache_lookups") = hits.toDouble
      L("api.cache_hits") = hits.toDouble
      L("api.cache_hit_ratio") = if (hits > 0) 1.0 else 0.0
    }
    // tracing overhead: the decomposed step against the plain Etl.run;
    // coverage: the decomposed spans' self times against that same wall
    for (s <- plain; t <- out.counts.get("traced_etl_ms")) {
      L("trace.overhead_ratio") = t / 1e3 / s.durS - 1.0
      out.counts.get("decomposed_self_s").foreach(d =>
        L("trace.coverage_ratio") = d / s.durS)
    }
  }

  def finish(): Unit = {
    out.counts("lines_ingested") = lines().toDouble
    // a backfill's store holds exactly what its logs produced
    if (!nightly) out.counts("fact_bytes_per_record") =
      Engine.storeBytes(new File(s"$store/facts")).toDouble / lines()
    val pw = new PrintWriter(s"$work/etl_check.json", "UTF-8")
    try pw.println(Json.obj(Seq(
      "store" -> Json.str(s"$store/facts"),
      "logs" -> Json.str(glob),
      "windows" -> Json.arr(windows.map { case (a, b) =>
        Json.arr(Seq(Json.str(a), Json.str(b))) }))))
    finally pw.close()
  }
}

/** `Etl.run`'s steps, called one by one through the same public
  * functions in the same order, materializing at each boundary so
  * each step's span carries its own work. Mirrors `Etl.run`. */
object EtlTraced {
  private val Ser = StorageLevel.MEMORY_AND_DISK

  def run(spark: SparkSession, cfg: Etl.Config, tr: Tracer, out: Out): Unit = {
    val L = out.layer
    val runStartMs = System.currentTimeMillis()
    val from = cfg.fromDate.orElse(
      FactStore.loadCheckpoint(cfg.checkpointDir, "access")
        .flatMap(DateUtils.parseDate).map(_.plusDays(1)))
    val window = tr.span("AccessLog.read", "ingest") {
      val df = AccessLog.read(spark, cfg.logGlob, from)
        .filter(col("file_date") < lit(java.sql.Date.valueOf(cfg.today)))
        .filter(from.map(d => to_date(col("ts")) >= lit(java.sql.Date.valueOf(d)))
          .getOrElse(lit(true)))
        .persist(Ser)
      df.count(); df
    }
    val inWindow = window.count()
    val raw = tr.span("AccessLog.dedupLines", "ingest") {
      val df = AccessLog.dedupLines(window).persist(Ser)
      df.count(); df
    }
    val nRaw = raw.count()
    val readSpan = tr.all.filter(_.name == "AccessLog.read").last
    val nonRobot = tr.span("Robots.filterRobots", "filters") {
      val df = Robots.filterRobots(raw, uaPatterns = cfg.uaPatterns,
          ipPrefixes = cfg.ipPrefixes)
        .filter(col("referent_id").isNotNull)
        .withColumn("sec", unix_timestamp(col("ts")))
        .withColumn("key_doc", coalesce(col("referent_docid"), lit(-1)))
        .withColumn("tie", monotonically_increasing_id())
        .persist(Ser)
      df.count(); df
    }
    val nNonRobot = nonRobot.count()
    val filtered = tr.span("Repeat.sequential", "filters") {
      val df = Repeat.sequential(nonRobot,
          keyCols = Seq("requester_id", "referent_id", "key_doc"),
          secCol = "sec", timeout = cfg.repeatTimeoutSec, tieBreakCol = "tie")
        .persist(Ser)
      df.count(); df
    }
    val nFiltered = filtered.count()
    var factRows = 0L
    var partitions = 0L
    val written = cfg.processors.flatMap { proc =>
      val label = proc.provides.mkString("_") match {
        case "downloads_views" => "downloads_views"
        case other => other
      }
      val (fact, perDayByDt) = tr.span(s"$label.process", "processors") {
        val fact = proc.process(filtered).persist(Ser)
        val dtCol = if (proc.provides.size == 1) lit(proc.provides.head)
          else col("value")
        val perDay = fact.groupBy(dtCol.as("dt"),
            date_format(col("date"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("c")).collect().groupBy(_.getString(0))
        (fact, perDay)
      }
      val outputs =
        if (proc.provides.size == 1) Seq(proc.provides.head -> fact)
        else proc.provides.map(dt => dt -> fact.filter(col("value") === dt))
      val counts = outputs.map { case (dt, df) =>
        val perDay = perDayByDt.getOrElse(dt, Array.empty[org.apache.spark.sql.Row])
        val n = perDay.map(_.getLong(2)).sum
        factRows += n
        partitions += perDay.length
        if (n > 0) tr.span(s"FactStore.overwritePartitions $dt", "store") {
          FactStore.overwritePartitions(df, s"${cfg.factRoot}/$dt")
        }
        from.foreach { f =>
          tr.span(s"FactStore.clearPartitionsFrom $dt", "store") {
            FactStore.clearPartitionsFrom(s"${cfg.factRoot}/$dt", Some(f),
              keep = perDay.map(_.getString(1)).toSet)
          }
        }
        dt -> n
      }
      fact.unpersist()
      counts
    }.toMap
    var mvDays = 0L
    if (cfg.maintainLifetimeMv) written.keys.foreach { dt =>
      mvDays += tr.span(s"LifetimeMv.update $dt", "store") {
        LifetimeMv.update(spark, s"${cfg.factRoot}/_mv/$dt",
          s"${cfg.factRoot}/$dt", rewrittenFrom = from)
      }
    }
    tr.span("FactStore.saveCheckpoint", "store") {
      val maxDay = raw.agg(max(col("file_date"))).head().getDate(0)
      if (maxDay != null)
        FactStore.saveCheckpoint(cfg.checkpointDir, "access", maxDay.toString)
    }
    Seq(filtered, nonRobot, raw, window).foreach(_.unpersist())
    if (written.valuesIterator.sum > 0)
      tr.span("ReportCache.clear", "api") {
        cfg.reportCacheDir.foreach(ReportCache.clear)
      }

    tr.drain()
    val self = tr.selfTimes
    out.counts("decomposed_self_s") = tr.all
      .filter(s => s.startNs >= readSpan.startNs).map(s => self(s.id)).sum
    def layerS(prefix: String) = tr.all
      .filter(s => s.name.startsWith(prefix) && s.startNs >= readSpan.startNs)
      .map(_.durS).sum
    def workOf(prefix: String) = {
      val w = new Work
      tr.all.filter(s => s.name.startsWith(prefix) && s.startNs >= readSpan.startNs)
        .foreach(s => w.add(tr.workOf(s.id, deep = true)))
      w
    }
    val readWork = workOf("AccessLog.read")
    // AccessLog.read opens every day file whatever the window; count the
    // records it parses from them (outside any span)
    val recordsRead = AccessLog.read(spark, cfg.logGlob, None).count()
    L("ingest.s") = layerS("AccessLog.")
    L("ingest.records_read") = recordsRead.toDouble
    L("ingest.bytes_read") = readWork.inputBytes.toDouble
    L("ingest.records_in_window") = inWindow.toDouble
    L("ingest.window_ratio") =
      if (recordsRead > 0) inWindow.toDouble / recordsRead else 0.0
    L("ingest.dup_lines") = (inWindow - nRaw).toDouble
    L("filters.robots_s") = layerS("Robots.")
    L("filters.robot_drops") = (nRaw - nNonRobot).toDouble
    L("filters.repeat_s") = layerS("Repeat.")
    L("filters.repeat_drops") = (nNonRobot - nFiltered).toDouble
    val rep = workOf("Repeat.")
    L("filters.repeat_shuffle_bytes") = rep.shuffleWrite.toDouble
    L("filters.repeat_spill_bytes") = rep.spill.toDouble
    Seq("downloads_views", "doc_downloads", "countries", "browsers",
        "referrer", "search_terms").foreach { l =>
      L(s"processors.${l}_s") = layerS(s"$l.process")
    }
    L("processors.fact_rows") = factRows.toDouble
    L("processors.shuffle_bytes") = tr.all
      .filter(s => s.layer == "processors" && s.startNs >= readSpan.startNs)
      .map(s => tr.workOf(s.id, deep = true).shuffleWrite).sum.toDouble
    val writes = workOf("FactStore.overwritePartitions")
    L("store.write_s") = layerS("FactStore.overwritePartitions")
    L("store.files_written") = Engine.newParquetFiles(new File(cfg.factRoot), runStartMs).toDouble
    L("store.bytes_written") = (writes.outputBytes + workOf("LifetimeMv.").outputBytes).toDouble
    L("store.bytes_per_record") = L("store.bytes_written") / math.max(1L, inWindow)
    L("store.partitions_touched") = partitions.toDouble
    L("store.prune_s") = layerS("FactStore.clearPartitionsFrom")
    L("store.mv_s") = layerS("LifetimeMv.")
    L("store.mv_days_merged") = mvDays.toDouble
    L("store.checkpoint_s") = layerS("FactStore.saveCheckpoint")
  }
}
