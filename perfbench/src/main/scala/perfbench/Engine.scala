package perfbench

import java.io.File
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Etl, Report, ReportCache}
import graft.classify.Geo
import graft.export.Export
import graft.filters.Robots
import graft.model.Context
import graft.processors.AccessProcessors._
import graft.query.QueryCompiler
import graft.query.QueryCompiler.{Catalog, SetDim}
import graft.series.Series
import graft.sets.Sets
import graft.store.{FactStore, LifetimeMv}

/** The engine as a deployment wires it: the six access processors, the
  * shipped robot lists, the dashboard report that the nightly run
  * re-warms, the set dimensions and the request-path renderer. */
object Engine {

  val LocalHost = "myrepo.org"

  val Datatypes: Seq[String] = Seq("downloads", "views", "doc_downloads",
    "countries", "browsers", "referrer", "search_terms")

  def processors(spark: SparkSession) = Seq(DownloadsViews, DocDownloads,
    Countries(Geo.demoRanges(spark)), Browsers, Referrer(LocalHost),
    SearchTerms)

  def etlConfig(spark: SparkSession, logGlob: String, store: String,
      today: LocalDate, cacheDir: String): Etl.Config =
    Etl.Config(logGlob = logGlob, factRoot = s"$store/facts",
      checkpointDir = s"$store/ckpt", processors = processors(spark),
      uaPatterns = Robots.shippedUaPatterns,
      ipPrefixes = Robots.shippedIpPrefixes, today = today,
      reportCacheDir = Some(cacheDir))

  /** The dashboard report warmed after every ETL run: last month's
    * downloads series, top items, countries and referrers, the month
    * total and the all-time total (answered from the lifetime MV). */
  val dashboard: Report.Spec = Report.Spec("summary",
    Context(datatype = "downloads", range = Some("1m")),
    Seq(
      Report.Item("graph", _.copy(fields = Seq("date"))),
      Report.Item("top_eprints", _.copy(fields = Seq("id"), limit = Some(10))),
      Report.Item("top_countries", _.copy(datatype = "countries",
        fields = Seq("value"), limit = Some(10))),
      Report.Item("top_referrers", _.copy(datatype = "referrer",
        fields = Seq("value"), limit = Some(10))),
      Report.Item("counter"),
      Report.Item("all_time", _.copy(range = Some("_ALL_")))))

  /** Report pages rendered whole through `Report.renderJson`. */
  def page(kind: String, value: String): Report.Spec = kind match {
    case "eprint" => Report.Spec("eprint", Context(datatype = "downloads",
        setName = Some("eprint"), setValue = Some(value), range = Some("1m")),
      Seq(
        Report.Item("graph", _.copy(fields = Seq("date"))),
        Report.Item("geochart", _.copy(datatype = "countries",
          fields = Seq("value"))),
        Report.Item("referrers", _.copy(datatype = "referrer",
          fields = Seq("value"), limit = Some(10))),
        Report.Item("counter")))
    case "divisions" => Report.Spec("divisions", Context(datatype = "downloads",
        setName = Some("divisions"), setValue = Some(value), range = Some("1m")),
      Seq(
        Report.Item("top_eprints", _.copy(fields = Seq("id"), limit = Some(10))),
        Report.Item("top_authors", _.copy(grouping = Some("authors"),
          limit = Some(10))),
        Report.Item("counter")))
    case other => throw new IllegalArgumentException(s"unknown page $other")
  }

  val setDefs: Seq[Sets.SetDef] = Seq(
    Sets.SetDef("divisions", "divisions", multiple = true),
    Sets.SetDef("eprint_type", "type"))
  val authors = Sets.CompoundSetDef("authors", "creators")

  /** Materialize the set dimensions from eprint metadata into
    * `<store>/sets/<name>` (divisions get their ancestor closure).
    * Returns the number of dim rows written. */
  def materializeSets(spark: SparkSession, work: String, store: String,
      tr: Tracer): Long = {
    val meta = spark.read.parquet(s"$work/meta.parquet")
    val tree = spark.read.parquet(s"$work/tree.parquet")
    def write(name: String, df: DataFrame): Long = {
      df.select("set_value", "id").write.mode("overwrite")
        .parquet(s"$store/sets/$name")
      spark.read.parquet(s"$store/sets/$name").count()
    }
    tr.span("Sets.materialize", "sets") {
      val divisions = tr.span("Sets.ancestorClosure", "sets") {
        Sets.ancestorClosure(Sets.materialize(meta, setDefs(0)), tree)
      }
      write("divisions", divisions) +
        write("eprint_type", Sets.materialize(meta, setDefs(1))) +
        write("authors", Sets.materializeCompound(meta, authors))
    }
  }

  /** The serving catalog over a written store: every fact table, its
    * lifetime MV and the materialized set dims. */
  def catalog(spark: SparkSession, store: String): Catalog = {
    val facts = Datatypes.filter(dt => new File(s"$store/facts/$dt").isDirectory)
    Catalog(
      facts = facts.map(dt => dt -> FactStore.read(spark, s"$store/facts/$dt")).toMap,
      sets = Seq("divisions", "eprint_type", "authors")
        .filter(n => new File(s"$store/sets/$n").isDirectory)
        .map(n => n -> SetDim(spark.read.parquet(s"$store/sets/$n"))).toMap,
      lifetime = facts.flatMap(dt =>
        LifetimeMv.read(spark, s"$store/facts/_mv/$dt").map(dt -> _)).toMap)
  }

  /** Render one request view to its JSON payload. Graph views go
    * through densify / regroup / graphPayload; everything else is
    * the compiled frame serialized by `Export.toJson`. */
  def render(ctx: Context, view: String, cat: Catalog, tr: Tracer): String = {
    val context = Map("view" -> view, "datatype" -> ctx.datatype)
    if (view.startsWith("graph_")) {
      val res = view.stripPrefix("graph_")
      val df = tr.span("QueryCompiler.compile", "query") {
        QueryCompiler.compile(ctx, cat)
      }
      val daily = df.select(col("date").as("d"), col("count").as("cnt"))
      val dense = tr.span("Series.densify", "series") {
        Series.densify(daily, from = ctx.from, to = ctx.to)
      }
      val grouped = tr.span("Series.regroup", "series") {
        Series.regroup(dense, res)
      }
      val fmt = if (res == "month") "yyyyMM" else "yyyyMMdd"
      val payload = tr.span("Export.graphPayload", "export") {
        Export.graphPayload(grouped.select(
            date_format(col("d"), fmt).as("datestamp"),
            col("cnt").cast("long").as("count")), res)
          .orderBy("datestamp")
      }
      tr.span("Export.toJson", "export") { Export.toJson(payload, context) }
    } else {
      val df = tr.span("QueryCompiler.compile", "query") {
        QueryCompiler.compile(ctx, cat)
      }
      tr.span("Export.toJson", "export") { Export.toJson(df, context) }
    }
  }

  /** A request's cache params: the resolved context plus its view. */
  def resolve(params: Map[String, String], today: LocalDate,
      tr: Tracer): (Context, String, Map[String, String]) =
    tr.span("Context.fromParams", "model") {
      val view = params.getOrElse("view", "table")
      val ctx = Context.fromParams(params - "view").resolved(today)
      (ctx, view, ReportCache.paramsOf(ctx, view))
    }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmrf)
    f.delete(): Unit
  }

  /** Parquet files under `dir` modified at or after `sinceMs`. */
  def newParquetFiles(dir: File, sinceMs: Long): Long =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten
      .map(newParquetFiles(_, sinceMs)).sum
    else if (dir.getName.endsWith(".parquet") && dir.lastModified >= sinceMs) 1L
    else 0L

  /** Bytes of parquet data under `dir`, recursively. */
  def storeBytes(dir: File): Long =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten.map(storeBytes).sum
    else if (dir.getName.endsWith(".parquet")) dir.length
    else 0L
}
