package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.api.{Report, ReportCache}
import graft.query.QueryCompiler.Catalog
import graft.store.{FactStore, LifetimeMv}

/** `serve_dashboard`: a closed loop, one client, no think time, over
  * the generated request mix (a fixed number of requests, see run.py)
  * and a store built in set-up (daily facts written through FactStore and
  * LifetimeMv, plus the set dims from the eprint metadata). Each
  * request goes Context.fromParams -> resolved -> ReportCache; misses
  * compile, collect and publish. Page requests render whole reports
  * through Report.renderJson (uncached, as the reference's page). */
final class ServeWorkload(spark: SparkSession, tr: Tracer, out: Out,
    p: Params, work: String) extends Workload {
  /** The day requests resolve against (the nightly phase advances it). */
  var today = p.start.plusDays(p.historyDays)

  private val store = s"$work/store"
  private val cache = s"$work/cache"
  private var cat: Catalog = _
  private var served = 0
  private var pageItems = 0L
  private var pages = 0L

  def setup(): Unit = { writeStore(Engine.Datatypes); writeSets() }

  /** The history as earlier nights left it: generated daily facts
    * written through FactStore, lifetime MVs through LifetimeMv. */
  def writeStore(datatypes: Seq[String]): Unit =
    datatypes.foreach { dt =>
      tr.span(s"FactStore.overwritePartitions $dt", "store") {
        FactStore.overwritePartitions(
          spark.read.parquet(s"$work/facts_in/$dt.parquet"), s"$store/facts/$dt")
      }
      tr.span(s"LifetimeMv.update $dt", "store") {
        LifetimeMv.update(spark, s"$store/facts/_mv/$dt", s"$store/facts/$dt")
      }
    }

  def writeSets(): Unit =
    out.counts("dim_rows") = Engine.materializeSets(spark, work, store, tr).toDouble

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def paramsJson(m: Map[String, String]): String =
    Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })

  /** One request through the cache; returns (payload, computed). The
    * traced run calls getOrCompute's steps (lookup, render, store)
    * one by one so each gets a span. */
  private def request(key: Map[String, String], render: => String): (String, Boolean) =
    if (!tr.enabled) {
      var computed = false
      val payload = ReportCache.getOrCompute(cache, key) { computed = true; render }
      (payload, computed)
    } else tr.span("ReportCache.getOrCompute", "api") {
      tr.span("ReportCache.lookup", "api") { ReportCache.lookup(cache, key) } match {
        case Some(hit) => (hit, false)
        case None =>
          val payload = render
          tr.span("ReportCache.store", "api") { ReportCache.store(cache, key, payload) }
          (payload, true)
      }
    }

  /** Serve the whole request mix. */
  def measure(deadlineNs: Long): Unit = {
    cat = Engine.catalog(spark, store)
    val misses = new PrintWriter(s"$work/misses.jsonl", "UTF-8")
    val hits = new PrintWriter(s"$work/hits.jsonl", "UTF-8")
    val seenPages = scala.collection.mutable.Set.empty[String]
    var firstMiss = true
    var busyNs = 0L
    var timed = 0
    val missed = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    // the first requests of the session warm the request path; they are
    // served but kept out of the latency samples. Requests/s counts the
    // cache-fronted requests (pages have their own latency).
    def warm = served <= ServeWorkload.WarmupRequests
    try {
      while (served < p.requests.size) {
        val req = p.requests(served)
        served += 1
        if (req.contains("page")) {
          val spec = Engine.page(req("page"), req("value"))
          val t0 = System.nanoTime()
          out.op(tr.span("Report.renderJson", "api") {
            Report.renderJson(spec, cat, today)
          }).foreach { payloads =>
            val ns = System.nanoTime() - t0
            if (!warm) out.sample("page_ms", ns / 1e6)
            pages += 1; pageItems += payloads.size
            if (seenPages.add(req("page") + "/" + req("value")))
              spec.items.foreach { item =>
                val ctx = item.overrides(spec.base).resolved(today)
                misses.println(Json.obj(Seq(
                  "kind" -> Json.str("page"),
                  "params" -> paramsJson(ReportCache.paramsOf(ctx, item.view)),
                  "payload" -> Json.str(payloads(item.view)))))
              }
          }
        } else {
          val t0 = System.nanoTime()
          out.op {
            val (ctx, view, key) = Engine.resolve(req, today, tr)
            val (payload, computed) = request(key, Engine.render(ctx, view, cat, tr))
            (key, payload, computed)
          }.foreach { case (key, payload, computed) =>
            val ns = System.nanoTime() - t0
            if (computed && firstMiss) {
              out.sample("cold_request_ms", ns / 1e6); firstMiss = false
            } else if (!warm) {
              busyNs += ns; timed += 1
              if (computed) out.sample("miss_ms", ns / 1e6)
              else out.sample("hit_us", ns / 1e3)
            }
            if (computed) {
              missed += req
              out.sample("payload_bytes", payload.length.toDouble)
              out.sample("payload_rows", (payload.count(_ == '{') - 2).toDouble)
              misses.println(Json.obj(Seq("kind" -> Json.str("miss"),
                "key" -> Json.str(ReportCache.key(key)),
                "params" -> paramsJson(key), "payload" -> Json.str(payload))))
            } else hits.println(Json.obj(Seq(
              "key" -> Json.str(ReportCache.key(key)), "sha" -> Json.str(sha(payload)))))
          }
        }
      }
      // the views served are viewed again: each cached key
      // re-requested through the same path, for a steady hit latency.
      // Their spans are kept out of the mix's cache counts.
      tr.startRun("repeat")
      if (missed.nonEmpty) (0 until ServeWorkload.RepeatViews).foreach { i =>
        val req = missed(i % missed.size)
        val t0 = System.nanoTime()
        out.op {
          val (_, _, key) = Engine.resolve(req, today, tr)
          (key, request(key, throw new IllegalStateException(s"cached key missed: $key")))
        }.foreach { case (key, (payload, _)) =>
          out.sample("hit_us", (System.nanoTime() - t0) / 1e3)
          hits.println(Json.obj(Seq(
            "key" -> Json.str(ReportCache.key(key)), "sha" -> Json.str(sha(payload)))))
        }
      }
    } finally { misses.close(); hits.close(); tr.startRun("measure") }
    out.sample("requests_per_s", timed / (busyNs / 1e9))
    out.counts("requests") = served.toDouble
  }

  def layers(): Unit = {
    val L = out.layer
    tr.all.find(_.name == "Sets.materialize").foreach(s => L("sets.materialize_s") = s.durS)
    out.counts.get("dim_rows").foreach(L("sets.dim_rows") = _)
    val spans = tr.all.filter(_.run == "measure")
    def med(name: String, scale: Double) =
      Layers.median(spans.filter(_.name == name).map(_.durS * scale))
    val lookups = spans.count(_.name == "ReportCache.lookup")
    val nMiss = spans.count(_.name == "ReportCache.store")
    L("api.cache_lookups") = lookups.toDouble
    L("api.cache_hits") = (lookups - nMiss).toDouble
    L("api.cache_hit_ratio") = if (lookups > 0) (lookups - nMiss).toDouble / lookups else 0.0
    L("api.cache_store_us") = med("ReportCache.store", 1e6)
    L("api.page_items") = if (pages > 0) pageItems.toDouble / pages else 0.0
    L("model.resolve_us") = med("Context.fromParams", 1e6)
    L("query.compile_ms") = med("QueryCompiler.compile", 1e3)
    L("series.densify_ms") = med("Series.densify", 1e3)
    L("series.regroup_ms") = med("Series.regroup", 1e3)
    L("export.collect_ms") = med("Export.toJson", 1e3)
    L("export.payload_bytes") = out.samples.get("payload_bytes")
      .map(b => Layers.median(b.toSeq)).getOrElse(0.0)
    // per cache-miss request: Spark work under its getOrCompute span
    val missSpans = spans.filter(s => s.name == "ReportCache.getOrCompute" &&
      spans.exists(c => c.parent == s.id && c.name == "ReportCache.store"))
    val w = new Work
    missSpans.foreach(s => w.add(tr.workOf(s.id, deep = true)))
    val n = math.max(1, missSpans.size).toDouble
    L("query.jobs_per_request") = w.jobs / n
    L("query.stages_per_request") = w.stages / n
    L("query.tasks_per_request") = w.tasks / n
    val qs = Layers.queriesIn(tr, missSpans)
    L("query.plan_ms") = Layers.median(qs.map(_.planMs))
    L("query.files_scanned_per_request") = qs.map(_.filesScanned).sum / n
    val rows = out.samples.get("payload_rows").map(_.sum).getOrElse(0.0)
    L("query.rows_scanned_per_result_row") =
      if (rows > 0) qs.map(_.rowsScanned).sum / rows else 0.0
  }

  def finish(): Unit = {
    val pw = new PrintWriter(s"$work/serve_check.json", "UTF-8")
    try pw.println(Json.obj(Seq("store" -> Json.str(store),
      "today" -> Json.str(today.toString), "served" -> served.toString)))
    finally pw.close()
  }
}

object ServeWorkload {
  val WarmupRequests = 6
  val RepeatViews = 3000
}

/** `nightly_dashboard`: the `process_stats` cron and the morning after.
  * Set-up leaves the store as earlier nights did (history facts, MVs,
  * set dims, the checkpoint). The timed phase runs the nightly refresh
  * in the fresh JVM, as the cron does: one new day file through
  * `Etl.run` (reading the whole log backlog), then `ReportCache.warm`;
  * then serves the dashboard request mix over the refreshed store. */
final class NightlyDashboard(spark: SparkSession, tr: Tracer, out: Out,
    p: Params, work: String) extends Workload {
  private val etl = new EtlWorkload(spark, tr, out, p, work, nightly = true)
  private val serve = new ServeWorkload(spark, tr, out, p, work)

  def setup(): Unit = {
    serve.writeStore(Engine.Datatypes)
    etl.setup()
    serve.writeSets()
  }

  def measure(deadlineNs: Long): Unit = {
    etl.steps(deadlineNs, maxSteps = 1)
    serve.today = etl.today
    serve.measure(deadlineNs)
  }

  def layers(): Unit = { serve.layers(); etl.layers() }

  def finish(): Unit = { etl.finish(); serve.finish() }
}
