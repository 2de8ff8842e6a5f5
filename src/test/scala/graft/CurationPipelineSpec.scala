package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.ParquetTableIO
import graft.ops.CurationPipeline
import java.nio.file.Files

/** End-to-end curation funnel on a corpus with one planted defect per stage:
  * every planted document is removed by exactly the stage built to catch it,
  * every clean document survives, the output is packed, the run resumes.
  */
class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sentence(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    val pool = Array("alpha", "beta", "gamma", "delta", "kernel", "socket",
                     "stream", "batch", "vector", "matrix", "cursor", "ledger")
    (0 until n).map(_ => pool(r.nextInt(pool.length))).mkString(" ")
  }

  // 20 clean docs (ids 0-19) plus planted defects:
  //   50 wrong language; 51 garbage (symbols → quality); 52 too short;
  //   60 exact dup of 0; 61 near-dup of 1 (one word changed);
  //   70 contaminated (contains an eval shingle run); 10 carries a secret
  //   (must SURVIVE, redacted)
  private lazy val corpus = {
    val clean = (0 until 20).map(i => (i.toLong, sentence(i, 40), "en", "srcA"))
    val secretText = sentence(10, 40) // overwrite doc 10's text with a secret inside
    val planted = Seq(
      (50L, sentence(50, 40), "xx", "srcA"),
      (51L, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))", "en", "srcA"),
      (52L, "too short", "en", "srcA"),
      (60L, sentence(0, 40), "en", "srcB"),
      (61L, { val w = sentence(1, 40).split(" "); w(20) = "CHANGED"; w.mkString(" ") }, "en", "srcB"),
      (70L, "the secret benchmark question about ledger vector matrix flows here " + sentence(70, 30), "en", "srcA"))
    val base = clean.map { case (id, t, l, s) =>
      if (id == 10L) (id, t + " token deadbeefcafe1234567890abcdef here", l, s) else (id, t, l, s)
    }
    (base ++ planted).toDF("doc_id", "text", "lang", "source")
  }

  private lazy val evalSet =
    Seq((999L, "the secret benchmark question about ledger vector matrix flows here"))
      .toDF("doc_id", "text")

  test("funnel: each planted defect removed by its stage; clean docs survive packed") {
    val dir = Files.createTempDirectory("graft_curation").toString
    val pipe = new CurationPipeline(new ParquetTableIO(dir), "t1")
    val out = pipe.run(spark, corpus, evalDocs = Some(evalSet))
    val kept = out.select("doc_id").as[Long].collect().toSet

    assert(!kept.contains(50L), "wrong-language doc survived")
    assert(!kept.contains(51L), "garbage doc survived the quality gate")
    assert(!kept.contains(52L), "too-short doc survived")
    assert(!kept.contains(60L), "exact duplicate survived")
    assert(!kept.contains(61L), "near-duplicate survived cluster collapse")
    assert(!kept.contains(70L), "contaminated doc survived decontamination")
    assert((0L until 20L).forall(kept.contains), s"a clean doc was dropped: $kept")
    assert(kept.size == 20)

    // the secret was redacted, not dropped; redaction restated the sha
    val d10 = pipe.io.read(spark, "c5_redacted").filter(col("doc_id") === 10L)
      .select("text", "n_redactions").collect()(0)
    assert(d10.getString(0).contains("<SECRET>") && !d10.getString(0).contains("deadbeef"))
    assert(d10.getInt(1) == 1)

    // packed output: every survivor has a split and a pack; pos is a valid
    // offset (non-negative, consistent with pack_id)
    val rows = out.select("split", "pos", "pack_id", "shard").collect()
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(0))))
    assert(rows.forall(r => r.getLong(1) >= 0 &&
      r.getLong(2) == r.getLong(3) * graft.ops.Packing.PacksPerShard + r.getLong(1) / 1024))
    // packs never straddle a split boundary: every (split, shard) stream is
    // its own concat space, starting at offset 0
    val minPos = out.groupBy("split", "shard").agg(min("pos").as("m")).collect()
    assert(minPos.forall(_.getAs[Long]("m") == 0L), "a split's shard stream must start at 0")

    // the lineage table IS the funnel report: monotone row counts per stage
    val funnel = pipe.io.read(spark, pipe.LineageTable)
      .filter(col("run_id") === "t1")
      .groupBy("stage").agg(sum("rows_out").as("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel("c0_ingest") == 26 && funnel("c1_quality") == 23 &&
      funnel("c2_exact_dedup") == 22 && funnel("c3_neardup_collapse") == 21 &&
      funnel("c4_decontaminated") == 20 && funnel("c5_redacted") == 20 &&
      funnel("c6_packed") == 20, s"unexpected funnel: $funnel")
  }

  test("determinism: identical packed output at shuffle.partitions 2 vs 13") {
    def withParts(n: Int): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try {
        val dir = Files.createTempDirectory(s"graft_cur_det$n").toString
        new CurationPipeline(new ParquetTableIO(dir), s"det$n")
          .run(spark, corpus, evalDocs = Some(evalSet))
          .orderBy("doc_id").collect().map(_.toString).toSeq
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = withParts(2)
    assert(a == withParts(13) && a.nonEmpty,
      "curation output must not depend on partitioning")
  }

  test("span strips: boilerplate shared by 3 docs survives in exactly one; no doc dropped") {
    val boiler = "this file is part of the example project released under license terms"
    val withBoiler = corpus.unionByName(Seq(
      (80L, boiler + " " + sentence(80, 60), "en", "srcA"),
      (81L, boiler + " " + sentence(81, 60), "en", "srcA"),
      (82L, boiler + " " + sentence(82, 60), "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source"))
    val dir = Files.createTempDirectory("graft_curation_spans").toString
    val pipe = new CurationPipeline(new ParquetTableIO(dir), "t3")
    val out = pipe.run(spark, withBoiler, evalDocs = Some(evalSet), stripSpanTokens = 12)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(Set(80L, 81L, 82L).subsetOf(kept),
      "span stripping removes spans, never documents")
    val texts = pipe.io.read(spark, "c5_redacted")
      .filter(col("doc_id").isin(80L, 81L, 82L))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(texts(80L).startsWith(boiler), "first occurrence keeps its boilerplate")
    assert(texts(81L) == sentence(81, 60) && texts(82L) == sentence(82, 60),
      "recurrences lose exactly the boilerplate span")
    // the strip table is the compact decision record: the two boilerplate
    // recurrences, never the first occurrence
    val strips = pipe.io.read(spark, "c2s_span_strips")
      .select("doc_id", "span_start", "span_len").as[(Long, Int, Int)].collect().toSet
    assert(Set((81L, 0, 12), (82L, 0, 12)).subsetOf(strips), strips.toString)
    assert(!strips.exists(_._1 == 80L), "first occurrence must not be stripped")
    // composition effect: doc 61 (near-dup of 1, one word changed) shares its
    // unchanged 12-token windows with doc 1 — those strip as substring dups,
    // and the unique residual (incl. the changed word) then rightly SURVIVES
    // near-dup collapse instead of being dropped wholesale
    assert(strips.exists(_._1 == 61L), s"doc 61's duplicated spans should strip: $strips")
    assert(kept.contains(61L), "doc 61's unique residual survives once its dup spans strip")
    assert(pipe.io.read(spark, "c5_redacted").filter(col("doc_id") === 61L)
      .select("text").as[String].collect()(0).contains("CHANGED"))
  }

  private def runWith(io: ParquetTableIO, runId: String, resume: Boolean): Seq[String] =
    new CurationPipeline(io, runId, resume)
      .run(spark, corpus, evalDocs = Some(evalSet))
      .orderBy("doc_id").collect().map(_.toString).toSeq

  test("resume: killing after c3 and resuming reproduces the identical output") {
    val io = new ParquetTableIO(Files.createTempDirectory("graft_curation_resume").toString)
    val first = runWith(io, "t2", resume = false)
    io.drop(spark, "c3_neardup_collapse")
    io.drop(spark, "c4_decontaminated"); io.drop(spark, "c5_redacted"); io.drop(spark, "c6_packed")
    assert(runWith(io, "t2", resume = true) == first && first.nonEmpty)
  }

  test("lost executor blocks: the run fails loudly, resume recomputes c3 from the staged signatures") {
    // every executor-local (localCheckpoint) block is gone by the time c3's
    // keep set is written — what a lost executor does to a running job
    class LosesBlocksBefore(root: String, table: String) extends CountingIO(root) {
      override def write(df: org.apache.spark.sql.DataFrame, t: String,
                         partitionBy: Seq[String] = Nil): Unit = {
        if (t == table)
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        super.write(df, t, partitionBy)
      }
    }
    val golden = runWith(new ParquetTableIO(Files.createTempDirectory("lost_gold").toString),
                         "t3", resume = false)

    val dir = Files.createTempDirectory("lost_blocks").toString
    val e = intercept[Exception](
      runWith(new LosesBlocksBefore(dir, "c3_neardup_collapse"), "t3", resume = false))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("Checkpoint block") && m.contains("not found")),
      messages.mkString("\n"))
    assert(new ParquetTableIO(dir).exists(spark, "c3_minhash_sigs"),
      "the signature table must be staged before CC runs")

    val resumeIo = new CountingIO(dir)
    assert(runWith(resumeIo, "t3", resume = true) == golden && golden.nonEmpty)
    assert(resumeIo.written.contains("c3_neardup_collapse"))
    for (t <- Seq("c0_ingest", "c1_quality", "c2_exact_dedup", "c3_minhash_sigs"))
      assert(!resumeIo.written.contains(t), s"$t re-executed on resume: ${resumeIo.written}")
  }
}
