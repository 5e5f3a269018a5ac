package graft

/** Local mirror of the driver's t1 smoke: `SparkEntry.entry` on
  * sf0.001 must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.session()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, false)
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
