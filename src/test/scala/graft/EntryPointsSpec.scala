package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps graft to one session factory and four entry points: a new `main`
  * or a hand-built session under `src/main` fails here, so probes and their
  * drifting session settings cannot grow back. Likewise a function that
  * sniffs its input's columns to pick between two input shapes. */
class EntryPointsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private def sources(root: Path): Map[String, String] = {
    require(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally files.close()
  }

  private def filesMatching(root: Path, pattern: String): Set[String] =
    sources(root).collect { case (f, text) if pattern.r.findFirstIn(text).isDefined => f }.toSet

  test("LocalSession is the only place a SparkSession is built") {
    val builders = """SparkSession\s*\.\s*builder"""
    assert(filesMatching(mainRoot, builders) == Set("graft/LocalSession.scala"))
    assert(filesMatching(Paths.get("src/test/scala"), builders).isEmpty)
  }

  test("the only mains are Verify, Bench, kg.Pipeline and ops.CurationPipeline") {
    assert(filesMatching(mainRoot, """def\s+main\s*\(|extends\s+App\b""") == Set(
      "graft/Verify.scala", "graft/Bench.scala",
      "graft/kg/Pipeline.scala", "graft/ops/CurationPipeline.scala"))
  }

  test("only StagedRun sniffs a frame's columns (one input shape per function)") {
    // the lineage-format check for checkpoint dirs written before the params
    // column existed is the one legitimate schema test
    assert(filesMatching(mainRoot, """\.columns\.contains\(""") == Set("graft/io/StagedRun.scala"))
  }
}
