package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** J2 ≡ J1: the salted skew join must produce exactly the plain join's rows,
  * for every hot-set boundary (property over the threshold/salt grid,
  * SURVEY.md §5.5 — covers all-hot, none-hot and the boundary in between).
  */
class CandidatesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val src = CorpusGen.srcFiles(spark, 60).toDF().cache()
  private lazy val mentions = Extract.mentionsFromLines(Extract.perLine(src)).cache()
  private lazy val dict = Candidates.dictionary(CorpusGen.kbEntries(spark).toDF()).cache()

  test("salted join ≡ broadcast join across hot-key thresholds (incl. all-hot and none-hot)") {
    val reference = Candidates.candidates(mentions, dict, broadcastDict = true)
      .orderBy("mention_id", "entity_id").collect().toSeq
    assert(reference.nonEmpty)
    for (threshold <- Seq(0L, 1L, 2L, 5L, 20L, 1000000L); saltR <- Seq(2, 8)) {
      val salted = Candidates.candidates(mentions, dict, broadcastDict = false,
        saltR = saltR, hotThreshold = threshold)
        .orderBy("mention_id", "entity_id").collect().toSeq
      assert(salted == reference, s"threshold=$threshold saltR=$saltR")
    }
  }

  test("J3: NIL mentions have no dictionary hit and candidates cover the rest") {
    val nil = Candidates.nilMentions(mentions, dict)
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    assert(nil.count() + cands.select("mention_id").distinct().count() == mentions.count())
  }

  test("J4: file pruning keeps exactly the files with ≥1 candidate") {
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    val kept = Candidates.filesWithCandidates(src, mentions, cands)
    assert(kept.count() > 0 && kept.count() <= src.count())
    // every kept file must own at least one linked mention
    val linkedFiles = mentions.join(cands, "mention_id")
      .select("repo", "path", "commit").distinct().count()
    assert(kept.count() == linkedFiles)
  }

  test("dictionary: norm keys are deduplicated and cover labels and aliases") {
    val kb = CorpusGen.kbEntries(spark).toDF()
    val d = Candidates.dictionary(kb)
    assert(d.count() == d.distinct().count())
    // every entity reachable through its canonical label's norm
    assert(d.select("entity_id").distinct().count() == kb.count())
  }
}
