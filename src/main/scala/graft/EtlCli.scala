package graft

import graft.api.Etl
import graft.classify.Geo
import graft.processors.AccessProcessors._

/** Batch ETL entry point — the `process_stats` equivalent CLI
  * (SURVEY.md §3 entry 3). Usage:
  * `runMain graft.EtlCli <logGlob> <factRoot> <checkpointDir> [localHost]`
  */
object EtlCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: EtlCli <logGlob> <factRoot> <ckptDir> [localHost]")
    val Array(logGlob, factRoot, ckptDir) = args.take(3)
    val localHost = args.lift(3).getOrElse("localhost")

    val spark = Sessions.session("ERROR")

    val written = Etl.run(spark, Etl.Config(
      logGlob = logGlob, factRoot = factRoot, checkpointDir = ckptDir,
      processors = Seq(DownloadsViews, DocDownloads,
        Countries(Geo.demoRanges(spark)), Browsers,
        Referrer(localHost), SearchTerms)))
    written.toSeq.sortBy(_._1).foreach { case (dt, n) =>
      println(s"[etl] $dt: $n fact rows")
    }
    spark.stop()
  }
}
