package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Probe explain` plan capture: each query's "AQE final" plan comes
  * from its OWN noop write. The listener bus is async, so a callback
  * of query N can land after query N+1 has started waiting; the
  * per-query epoch on each write keeps it from being printed as
  * query N+1's plan. */
class ProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("probe-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val dir = Files.createTempDirectory("probe-spec").toString

  private def table(name: String) = {
    val path = s"$dir/$name"
    spark.range(20).toDF(s"${name}_col").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).groupBy(s"${name}_col").count()
  }

  test("back-to-back queries each capture only their own executed plan") {
    val left = table("tbl_left")
    val right = table("tbl_right")
    val finals = new Probe.FinalPlans
    spark.listenerManager.register(finals)
    try {
      val p1 = finals.noopWrite(left, 1).getOrElse(fail("no plan for query 1"))
      val p2 = finals.noopWrite(right, 2).getOrElse(fail("no plan for query 2"))
      assert(p1.contains("tbl_left") && !p1.contains("tbl_right"), p1)
      assert(p2.contains("tbl_right") && !p2.contains("tbl_left"), p2)
      assert(p1.contains("isFinalPlan=true"), p1)
      // a write whose callback is still in flight when the next query
      // starts waiting (an abandoned wait) must not answer for it
      left.write.mode("overwrite").format("noop")
        .option(Probe.EpochKey, "3").save()
      val p4 = finals.noopWrite(right, 4).getOrElse(fail("no plan for query 4"))
      assert(p4.contains("tbl_right") && !p4.contains("tbl_left"), p4)
    } finally spark.listenerManager.unregister(finals)
  }
}
