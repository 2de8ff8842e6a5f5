package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Unit specs for the extraction stage (E1–E8) on hand-written fixtures. */
class ExtractSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val fixture = SourceFile(
    repo = "org0/repoX", path = "src/A.scala", commit = "c" * 40, lang = "scala",
    content = Seq(
      "// provides AlphaBeta support with kernel socket",   // L0: doccomment
      "import kb.AlphaBeta",                                 // L1: import
      "val kernel = socket foo get",                         // L2: idents (ctx)
      "def use0(alpha_beta) = kernel",                       // L3: ident alpha_beta
      "var junk = 42"                                        // L4: noise
    ).mkString("\n"))

  private def mentionsOf(files: SourceFile*) =
    Extract.mentionsFromLines(Extract.perLine(files.toDS().toDF()))

  private lazy val mentions =
    mentionsOf(fixture).collect()
      .map(r => (r.getAs[Int]("line"), r.getAs[String]("kind"), r.getAs[String]("surface"),
                 r.getAs[String]("norm")))
      .toSet

  test("E3: doc-comment extractor finds the CamelCase entity only") {
    assert(mentions.filter(_._2 == "doccomment") == Set((0, "doccomment", "AlphaBeta", "alpha beta")))
  }

  test("E4: import extractor takes the last path segment") {
    assert(mentions.filter(_._2 == "import") == Set((1, "import", "AlphaBeta", "alpha beta")))
  }

  test("E2: ident extractor skips keywords, comment and import lines") {
    val idents = mentions.filter(_._2 == "ident").map(m => (m._1, m._3))
    assert(idents == Set((2, "kernel"), (2, "socket"), (2, "foo"), (2, "get"),
                         (3, "use0"), (3, "alpha_beta"), (3, "kernel"),
                         (4, "junk")))
  }

  test("E5: normalization folds camelCase and snake_case to the same norm") {
    assert(Oracle.normalize("AlphaBeta") == "alpha beta")
    val norms = mentions.filter(m => m._3 == "alpha_beta" || m._3 == "AlphaBeta").map(_._4)
    assert(norms == Set("alpha beta"))
  }

  test("E6: context window covers ±2 lines") {
    val pl = Extract.perLine(Seq(fixture).toDS().toDF())
    val ctxId = Extract.mentionsFromLines(pl)
      .filter("surface = 'alpha_beta'").collect()(0).getAs[Long]("ctx_id")
    val ctx = Extract.contexts(pl).filter(s"ctx_id = $ctxId").collect()(0)
      .getAs[scala.collection.Seq[String]]("ctx_terms")
    assert(ctx.contains("kernel") && ctx.contains("socket") && ctx.contains("junk"))
    assert(!ctx.contains("provides")) // L0 is 3 lines away
  }

  test("extractor gates are mutually exclusive: comment-first precedence") {
    // A JS comment line that CONTAINS require(...) is a doc comment, not an
    // import (oracle semantics: if comment / else-if import / else ident).
    val f = SourceFile(
      repo = "org0/repoY", path = "src/c.js", commit = "d" * 40, lang = "js",
      content = Seq(
        "// see require('kb/GammaDelta') for details",  // L0: comment ∧ import-shaped
        "const GammaDelta = require('kb/GammaDelta')"   // L1: a real import
      ).mkString("\n"))
    val ms = mentionsOf(f).collect()
      .map(r => (r.getAs[Int]("line"), r.getAs[String]("kind"), r.getAs[String]("surface"))).toSet
    assert(ms == Set((0, "doccomment", "GammaDelta"), (1, "import", "GammaDelta")),
      s"comment-first gating violated: $ms")
    // parity with the independent oracle on the same fixture
    val oracle = Oracle.extract(f).map(m => (m.line, m.kind, m.surface)).toSet
    assert(ms == oracle, s"engine=$ms oracle=$oracle")
  }

  test("E8: mention ids are unique per (file, line, kind, surface)") {
    val df = mentionsOf(fixture, fixture.copy(path = "src/B.scala"))
    assert(df.select("mention_id").distinct().count() == df.count())
  }
}
