package graft

import org.apache.spark.storage.StorageLevel

/** Measures the d-family pair-table checkpoint trade (round-9 verdict
  * item 6): the 30x heap insurance — eagerly `localCheckpoint`ing the
  * bounded pair outputs SERIALIZED — has a local cost at sf0.1, and
  * this harness records it as a number instead of folklore. Sweeps
  * [[graft.dedup.Dedup.pairCheckpoint]] over its three settings:
  *
  *  - `ser`   (the default): eager MEMORY_AND_DISK_SER checkpoint;
  *  - `deser`: eager deserialized MEMORY_AND_DISK — what a bare
  *             `localCheckpoint(true)` would do (5-10x the resident
  *             footprint; the class that OOM'd two 30x steps);
  *  - `none`:  no checkpoint — the LAZY plan is returned and the
  *             caller's action pays the feature-pipeline recompute
  *             (both self-join sides re-shingle).
  *
  * Same run protocol as [[Bench]] ([[Bench.runOnce]], 3 runs,
  * warm = min of runs 2-3). Results go to COVERAGE.md's checkpoint-
  * trade table. Usage:
  * `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.DedupCkptBench"`.
  */
object DedupCkptBench {
  val queries: Seq[String] = Seq("d2_minhash_lsh", "d3_simhash",
    "d4_ngram_jaccard", "d6_dedup_clusters", "d11_containment")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.session()

    val policies: Seq[(String, Option[StorageLevel])] = Seq(
      "ser" -> Some(StorageLevel.MEMORY_AND_DISK_SER),
      "deser" -> Some(StorageLevel.MEMORY_AND_DISK),
      "none" -> None)

    val qs = SparkEntry.queries
    def runOnce(name: String): Double = Bench.runOnce(spark, sfDir, name, qs(name))

    // JVM warmup outside the measured sweep
    runOnce(queries.head)

    val rows = for ((pname, level) <- policies) yield {
      graft.dedup.Dedup.pairCheckpoint = level
      val times = queries.map { q =>
        val t = (1 to 3).map(_ => runOnce(q))
        q -> t.tail.min
      }
      pname -> times
    }
    graft.dedup.Dedup.pairCheckpoint = Some(StorageLevel.MEMORY_AND_DISK_SER)

    println(f"| query | ${rows.map(_._1).mkString(" | ")} |")
    queries.zipWithIndex.foreach { case (q, i) =>
      val cells = rows.map { case (_, ts) => f"${ts(i)._2}%.2f s" }
      println(s"| $q | ${cells.mkString(" | ")} |")
    }
    val totals = rows.map { case (p, ts) => f"$p=${ts.map(_._2).sum}%.2f s" }
    println(s"totals: ${totals.mkString(", ")}  sf=$sfDir")
    spark.stop()
  }
}
