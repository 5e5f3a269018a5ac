package graft

/** Synthesize access-log day files (gzip TSV, one file per day dir —
  * the reference's log layout) from an sf testdata events table, so a
  * fresh deployment can exercise the FULL ETL → query path without
  * real traffic. Thin CLI over [[EtlScaleBench.genDayFiles]] (S10's
  * deterministic generator — same records at any parallelism).
  *
  * Usage: `runMain graft.LogGen <sfDir> <outDir> [copies] [days]`
  */
object LogGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: LogGen <sfDir> <outDir> [copies] [days]")
    val sfDir = args(0)
    val outDir = args(1)
    val copies = args.lift(2).map(_.toInt).getOrElse(1)
    val days = args.lift(3).map(_.toInt).getOrElse(30)
    val spark = Sessions.session("ERROR")
    val n = EtlScaleBench.genDayFiles(spark, sfDir, outDir, copies, days)
    println(s"[loggen] $n records across $days day files under $outDir")
    spark.stop()
  }
}
