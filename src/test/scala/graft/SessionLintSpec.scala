package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint pinning the one-session-builder rule: every main runs
  * on [[Sessions.session]], so the confs `Bench` and the product
  * benchmark measure are the confs `EtlCli`/`QueryCli` ship with. A
  * second hand-rolled builder is how the probe mains drifted apart
  * (a re-timing tool without Bench's `initialPartitionNum` times a
  * different AQE plan from the number it is judging).
  *
  * The benchmark's own session (`perfbench/.../Main.scala`) is read as
  * source: its `ShippedConfs` keys must evaluate to the values
  * `Sessions.confs` sets at the same core count. */
class SessionLintSpec extends AnyFunSuite {

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq

  test("SparkSession.builder appears exactly once in main sources, in Sessions.scala") {
    val hits = scalaFiles(Paths.get("src/main/scala")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        // call sites only — skip comments and scaladoc mentions
        case (l, i) if l.contains("SparkSession.builder") &&
            !l.trim.startsWith("//") && !l.trim.startsWith("*") =>
          (p, s"$p:${i + 1}: ${l.trim}")
      }
    }
    assert(hits.size == 1 && hits.head._1.getFileName.toString == "Sessions.scala",
      "SparkSession.builder outside graft.Sessions — build sessions with " +
        s"Sessions.session():\n${hits.map(_._2).mkString("\n")}")
  }

  private val benchMain = Paths.get("perfbench/src/main/scala/perfbench/Main.scala")

  /** The benchmark session's builder chain as (key, expression). */
  private def benchConfs(src: String): Seq[(String, String)] = {
    val from = src.indexOf("def session(")
    val chain = src.substring(from, src.indexOf(".getOrCreate()", from))
    val Conf = """(?s)config\(\s*"([^"]+)",\s*(.*)\)\s*""".r
    val Master = """(?s)master\((.*)\)\s*""".r
    chain.split("""\n\s*\.""").toSeq.drop(1).collect {
      case Conf(k, e) => k -> e.trim
      case Master(e) => "spark.master" -> e.trim
    }
  }

  /** The few expression forms the benchmark's builder uses. */
  private def eval(e: String, cpus: Int): String = {
    val Times = """\(cpus \* (\d+)\)\.toString""".r
    val Interp = """s"(.*)"""".r
    val Lit = """"(.*)"""".r
    e match {
      case "cpus.toString" => cpus.toString
      case Times(k) => (cpus * k.toInt).toString
      case Interp(s) => s.replace("$cpus", cpus.toString)
      case Lit(s) => s
      case other => fail(s"unrecognised conf expression in $benchMain: $other")
    }
  }

  test("Sessions sets the benchmark session's shipped conf values") {
    val src = new String(Files.readAllBytes(benchMain), "UTF-8")
    val shippedBlock = src.substring(src.indexOf("val ShippedConfs"))
    val shipped = """"([A-Za-z.]+)"""".r
      .findAllMatchIn(shippedBlock.substring(0, shippedBlock.indexOf(")")))
      .map(_.group(1)).toSeq
    assert(shipped.size == 6, s"ShippedConfs parse: $shipped")
    val bench = benchConfs(src).toMap
    assert(shipped.forall(bench.contains),
      s"benchmark session lacks shipped keys: ${shipped.filterNot(bench.contains)}")
    for (cpus <- Seq(3, 16)) {
      val ours = Sessions.confs(cpus).toMap
      for (k <- shipped)
        assert(ours.get(k).contains(eval(bench(k), cpus)),
          s"$k at cpus=$cpus: Sessions ${ours.get(k)} vs benchmark ${bench(k)}")
    }
  }
}
