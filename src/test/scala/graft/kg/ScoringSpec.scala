package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkTestSession

/** Hand-computed cosine + deterministic top-1 (A1–A4, W1, W3). */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Two mentions (1 on context 101, 2 on context 102), two or three candidate
  // entities each. Entity 1's context matches mention 1; entity 2's matches
  // mention 2; entity 3 has no overlap at all.
  private val contexts = Seq(
    (101L, Seq("alpha", "beta", "alpha")),
    (102L, Seq("gamma", "delta"))
  ).toDF("ctx_id", "ctx_terms")

  private val candidates = Seq(
    (1L, 101L, 1L, 0.9), (1L, 101L, 2L, 0.5), (1L, 101L, 3L, 0.99),
    (2L, 102L, 1L, 0.9), (2L, 102L, 2L, 0.5)
  ).toDF("mention_id", "ctx_id", "entity_id", "prior")

  private val kbCtx = Seq(
    (1L, "alpha", 1.0), (1L, "beta", 1.0),
    (2L, "gamma", 1.0), (2L, "delta", 1.0),
    (3L, "omega", 1.0)
  ).toDF("entity_id", "term", "weight")

  private def scores(scored: DataFrame): Map[(Long, Long), Double] =
    scored.collect().map(r => ((r.getAs[Long]("mention_id"), r.getAs[Long]("entity_id")),
                               r.getAs[Double]("score"))).toMap

  private lazy val byName = scores(Scoring.score(candidates, contexts, kbCtx))

  test("A4: cosine matches hand math") {
    // mention 1: tf = {alpha:2, beta:1}; n = 2 contexts
    // df(alpha)=1, df(beta)=1, idf = ln(3/2)+1
    val idf = math.log(3.0 / 2.0) + 1.0
    val wAlpha = 2 * idf; val wBeta = 1 * idf
    val mNorm = math.sqrt(wAlpha * wAlpha + wBeta * wBeta)
    val eNorm = math.sqrt(2.0)
    val expected = (wAlpha * 1.0 + wBeta * 1.0) / (mNorm * eNorm)
    assert(math.abs(byName((1L, 1L)) - expected) < 1e-12)
  }

  test("W3: no-overlap candidate falls back to scaled prior") {
    assert(math.abs(byName((1L, 3L)) - 0.99e-9) < 1e-18)
    assert(byName((1L, 3L)) < byName((1L, 1L)))
  }

  test("W1: top-1 picks the context-matching entity, not the higher prior") {
    val top = Scoring.top1(Scoring.score(candidates, contexts, kbCtx))
      .collect().map(r => (r.getAs[Long]("mention_id"), r.getAs[Long]("entity_id"))).toMap
    assert(top == Map(1L -> 1L, 2L -> 2L))
  }

  test("W1: exact ties break toward the smaller entity_id deterministically") {
    val tied = Seq((1L, 101L, 10L, 0.5), (1L, 101L, 7L, 0.5))
      .toDF("mention_id", "ctx_id", "entity_id", "prior")
    val noCtx = Seq((101L, Seq.empty[String])).toDF("ctx_id", "ctx_terms")
    val top = Scoring.top1(Scoring.score(tied, noCtx, kbCtx)).collect()
    assert(top.length == 1 && top(0).getAs[Long]("entity_id") == 7L)
  }

  test("scores are identical with broadcastKbCtx on and off") {
    // byName broadcasts both the kbCtx join and the KB-vocabulary prune
    for ((bcCtx, bcTerms) <- Seq((false, true), (true, false), (false, false))) {
      val off = scores(Scoring.score(candidates, contexts, kbCtx,
        broadcastKbCtx = bcCtx, broadcastKbTerms = bcTerms))
      assert(off.keySet == byName.keySet, s"broadcastKbCtx=$bcCtx broadcastKbTerms=$bcTerms")
      off.foreach { case (k, v) =>
        assert(math.abs(v - byName(k)) < 1e-12,
          s"broadcastKbCtx=$bcCtx broadcastKbTerms=$bcTerms $k: $v vs ${byName(k)}") }
    }
  }

  test("A5: majority vote elects the cluster majority with deterministic ties") {
    val linked = Seq(
      ("r", "ident", "x", 1L), ("r", "ident", "x", 1L), ("r", "ident", "x", 2L),
      ("r", "ident", "y", 5L), ("r", "ident", "y", 4L) // tie → smaller id
    ).toDF("repo", "kind", "norm", "entity_id")
    val v = Canonicalize.vote(linked).collect()
      .map(r => (r.getAs[String]("norm"), r.getAs[Long]("entity_id"), r.getAs[Double]("conf"))).toSet
    assert(v == Set(("x", 1L, 0.666667), ("y", 4L, 0.5)))
  }

  test("S5: subjects stay distinct when a separator moves between key fields") {
    // (repo a, path b/c) vs (repo a/b, path c), and (path p@q, commit c1) vs
    // (path p, commit q@c1): four natural keys, four subjects — in the
    // emitted triples and in the gold key space alike
    val keys = Seq(("a", "b/c", "c1"), ("a/b", "c", "c1"), ("r", "p@q", "c1"), ("r", "p", "q@c1"))
    val canonical = keys.map { case (r, p, c) => (r, p, c, 3, "ident", 7L, 1.0) }
      .toDF("repo", "path", "commit", "line", "kind", "entity_id", "conf")
    val emitted = Canonicalize.triples(canonical)
    val subj = emitted.select("subj").as[String].collect()
    assert(subj.distinct.length == keys.size, subj.mkString(", "))
    val gold = keys.map { case (r, p, c) => (r, p, c, 3, "ident", "x", 7L) }
      .toDF("repo", "path", "commit", "line", "kind", "surface", "entity_id")
    val pr = Eval.precisionRecall(emitted, gold).collect()(0)
    assert(pr.getAs[Long]("gold_cnt") == keys.size && pr.getAs[Long]("matched") == keys.size)
  }
}
