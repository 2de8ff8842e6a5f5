package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.io.ParquetTableIO
import java.nio.file.Files

/** End-to-end gates (SURVEY.md §5.2/§5.6, BASELINE.md):
  *  - P/R ≥ 0.95 vs the generator gold AND vs the independent oracle;
  *  - identical triples across shuffle-partition counts (determinism);
  *  - sha256 invariant;
  *  - kill-and-resume byte-identical.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 150

  private def runInMemory(s: SparkSession): DataFrame = {
    val perLine = Extract.perLine(CorpusGen.srcFiles(s, N).toDF())
    val mentions = Extract.mentionsFromLines(perLine)
    val dict = Candidates.dictionary(CorpusGen.kbEntries(s).toDF())
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    val top1 = Scoring.top1(Scoring.score(cands, Extract.contexts(perLine),
                                          CorpusGen.kbContexts(s).toDF()))
    Canonicalize.triples(Canonicalize.canonicalMentions(mentions, top1))
  }

  // One in-memory run, materialized once and read by every test that only
  // needs its triples. localCheckpoint, not cache(): the cache manager would
  // also serve the determinism test's identical plans, which must execute.
  private lazy val inMemory: DataFrame = runInMemory(spark).localCheckpoint()

  // conf included: the determinism/resume gates cover the full output row,
  // not just the key (conf was previously partition-order-dependent).
  private def collectTriples(df: DataFrame): Seq[(String, String, String, Double)] =
    df.select("subj", "pred", "obj", "conf").orderBy("subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq

  test("P/R ≥ 0.95 vs generator gold") {
    val pr = Eval.precisionRecall(inMemory, CorpusGen.gold(spark, N).toDF()).collect()(0)
    val (p, r) = (pr.getAs[Double]("precision"), pr.getAs[Double]("recall"))
    assert(p >= 0.95 && r >= 0.95, s"precision=$p recall=$r")
  }

  test("P/R ≥ 0.95 vs the independent single-threaded oracle") {
    val engine = collectTriples(inMemory).map(t => (t._1, t._2, t._3)).toSet
    val oracle = Oracle.annotate(
      (0 until N).map(i => CorpusGen.genFile(i.toLong)._1),
      (1L to CorpusGen.NumEntities).map(CorpusGen.kbEntry),
      (1L to CorpusGen.NumEntities).flatMap(CorpusGen.kbContext))
    val matched = (engine & oracle).size.toDouble
    val p = matched / engine.size; val r = matched / oracle.size
    assert(p >= 0.95 && r >= 0.95, s"vs-oracle precision=$p recall=$r " +
      s"(engine=${engine.size} oracle=${oracle.size})")
  }

  test("determinism: identical triples at shuffle.partitions 2 vs 13") {
    def withParts(n: Int): Seq[(String, String, String, Double)] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try collectTriples(runInMemory(spark))
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    assert(withParts(2) == withParts(13))
  }

  test("sha256 invariant + checkpointed run + resume is byte-identical") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val io = new ParquetTableIO(dir)
    def full(resume: Boolean) = new Pipeline(io, "t1", resume).run(spark,
      CorpusGen.srcFiles(spark, N).toDF(),
      CorpusGen.kbEntries(spark).toDF(),
      CorpusGen.kbContexts(spark).toDF(),
      snapshot = Some(CorpusGen.fileShas(spark, N).toDF()))
    val first = collectTriples(full(resume = false))
    // simulate a crash after stage2: drop later stages AND leave a torn
    // in-flight temp dir behind (a writer killed mid-write) — resume must
    // overwrite it, not trip on it
    io.drop(spark, "stage3_top1"); io.drop(spark, "stage4_triples")
    val torn = new java.io.File(s"$dir/stage3_top1._tmp/garbage")
    torn.getParentFile.mkdirs()
    java.nio.file.Files.writeString(torn.toPath, "torn write")
    val resumed = collectTriples(full(resume = true))
    assert(first == resumed && first.nonEmpty)
    assert(!new java.io.File(s"$dir/stage3_top1._tmp").exists(), "torn tmp not cleaned")
  }

  test("sha256 invariant violation is detected") {
    val dir = Files.createTempDirectory("graft_ckpt_bad").toString
    val io = new ParquetTableIO(dir)
    val badSnap = CorpusGen.fileShas(spark, 20).toDF()
      .withColumn("sha256", lit("0" * 64))
    val ex = intercept[IllegalArgumentException] {
      new Pipeline(io, "t2").run(spark,
        CorpusGen.srcFiles(spark, 20).toDF(),
        CorpusGen.kbEntries(spark).toDF(),
        CorpusGen.kbContexts(spark).toDF(),
        snapshot = Some(badSnap))
    }
    assert(ex.getMessage.contains("sha256 invariant"))
  }

  test("S4: gold scanned from parquet equals the generator gold; eval accepts a path") {
    val goldPath = Files.createTempDirectory("gold_fix").toString + "/gold"
    CorpusGen.gold(spark, N).toDF().write.mode("overwrite").parquet(goldPath)
    val fromFile = Eval.goldFromParquet(spark, goldPath)
    val gen = CorpusGen.gold(spark, N).toDF()
    assert(fromFile.exceptAll(gen).count() == 0 && gen.exceptAll(fromFile).count() == 0)
    val pr = Eval.precisionRecallFromPath(spark, inMemory, goldPath).collect()(0)
    assert(pr.getAs[Double]("precision") >= 0.95 && pr.getAs[Double]("recall") >= 0.95)
  }

  test("path ingestion: the pipeline over parquet-backed src/kb/ctx tables matches in-memory") {
    val base = Files.createTempDirectory("graft_paths").toString
    CorpusGen.srcFiles(spark, N).toDF().write.mode("overwrite").parquet(s"$base/src")
    CorpusGen.kbEntries(spark).toDF().write.mode("overwrite").parquet(s"$base/kb")
    CorpusGen.kbContexts(spark).toDF().write.mode("overwrite").parquet(s"$base/ctx")
    val io = new ParquetTableIO(s"$base/ckpt")
    val triples = new Pipeline(io, "paths-run").run(spark,
      spark.read.parquet(s"$base/src"),
      spark.read.parquet(s"$base/kb"),
      spark.read.parquet(s"$base/ctx"))
    assert(collectTriples(triples) == collectTriples(inMemory))
  }

  test("forced large-KB paths (salted dict join + SHJ scoring) emit identical triples") {
    def run(broadcastDictMaxRows: Long, broadcastKbCtxMaxRows: Long) = {
      val io = new ParquetTableIO(Files.createTempDirectory("graft_cfg").toString)
      collectTriples(new Pipeline(io, s"cfg-$broadcastDictMaxRows-$broadcastKbCtxMaxRows").run(
        spark,
        CorpusGen.srcFiles(spark, 80).toDF(),
        CorpusGen.kbEntries(spark).toDF(),
        CorpusGen.kbContexts(spark).toDF(),
        hotThreshold = 3L, // make the hot set non-trivial at this corpus size
        broadcastDictMaxRows = broadcastDictMaxRows,
        broadcastKbCtxMaxRows = broadcastKbCtxMaxRows))
    }
    val reference = run(Long.MaxValue, Long.MaxValue) // both broadcast
    assert(reference.nonEmpty)
    assert(run(0L, 0L) == reference)                  // salted dict + SHJ kbCtx
  }

  test("generator determinism: same ids → byte-identical corpus") {
    val a = CorpusGen.srcFiles(spark, 50).collect().sortBy(f => (f.repo, f.path))
    val b = CorpusGen.srcFiles(spark, 50).collect().sortBy(f => (f.repo, f.path))
    assert(a.map(f => CorpusGen.sha256Hex(f.content)).toSeq ==
           b.map(f => CorpusGen.sha256Hex(f.content)).toSeq)
  }
}
