package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.io.ParquetTableIO
import java.nio.file.Files

/** Incremental (delta) ingest contract: a delta run — per-byte stages on the
  * CHANGED files only, composed with the previous run's surviving per-file
  * checkpoint rows, corpus-global stages recomputed — must emit EXACTLY the
  * triples a full run on the v2 corpus emits. Not approximately: the same
  * rows, confidences included.
  */
class DeltaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val N = 150

  private def collectTriples(df: DataFrame): Seq[(String, String, String, Double)] =
    df.select("subj", "pred", "obj", "conf").orderBy("subj", "pred", "obj")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq

  test("delta primitives: changed/stale/survivors on a hand-built corpus") {
    import spark.implicits._
    val prev = Seq(("r", "a", "c1", "s1"), ("r", "b", "c1", "s2"), ("r", "c", "c1", "s3"))
      .toDF("repo", "path", "commit", "sha256")
    // b modified (new sha), c deleted, d new
    val cur = Seq(("r", "a", "c1", "s1"), ("r", "b", "c1", "sX"), ("r", "d", "c1", "s4"))
      .toDF("repo", "path", "commit", "sha256")
    val changed = Delta.changed(cur, prev).select("path").as[String].collect().sorted
    assert(changed.toSeq == Seq("b", "d"))
    val stale = Delta.stale(prev, cur).select("path").as[String].collect().sorted
    assert(stale.toSeq == Seq("b", "c"))
    val prevStage = Seq(("r", "a", "c1", 1), ("r", "b", "c1", 2), ("r", "c", "c1", 3))
      .toDF("repo", "path", "commit", "payload")
    val surv = Delta.survivors(prevStage, Delta.stale(prev, cur))
      .select("path").as[String].collect().sorted
    assert(surv.toSeq == Seq("a"))
  }

  test("v2 generator: deterministic, and actually different from v1") {
    val v2a = CorpusGen.srcFilesV2(spark, N).toDF()
    val v2b = CorpusGen.srcFilesV2(spark, N).toDF()
    assert(v2a.exceptAll(v2b).count() == 0 && v2b.exceptAll(v2a).count() == 0)
    val v1 = CorpusGen.srcFiles(spark, N).toDF()
    assert(v2a.count() != v1.count() || v2a.exceptAll(v1).count() > 0)
    // sha snapshot matches the generated content (the invariant the delta
    // run re-checks for changed rows)
    val gen = v2a.withColumn("sha256", sha2(col("content"), 256))
      .select("repo", "path", "commit", "sha256")
    val snap = CorpusGen.fileShasV2(spark, N).toDF()
    assert(gen.exceptAll(snap).count() == 0 && snap.exceptAll(gen).count() == 0)
  }

  test("golden: delta run over v1 checkpoints == full run on v2, byte-identical") {
    val base = Files.createTempDirectory("graft_delta").toString
    val ioV1 = new ParquetTableIO(s"$base/v1")
    val ioDelta = new ParquetTableIO(s"$base/delta")
    val ioFull = new ParquetTableIO(s"$base/full_v2")
    val kb = CorpusGen.kbEntries(spark).toDF()
    val kbCtx = CorpusGen.kbContexts(spark).toDF()

    val v1Triples = collectTriples(new Pipeline(ioV1, "v1").run(spark,
      CorpusGen.srcFiles(spark, N).toDF(), kb, kbCtx,
      snapshot = Some(CorpusGen.fileShas(spark, N).toDF())))

    val deltaTriples = collectTriples(new Pipeline(ioDelta, "v2-delta").runDelta(spark,
      CorpusGen.srcFilesV2(spark, N).toDF(), kb, kbCtx, prevIo = ioV1,
      snapshot = Some(CorpusGen.fileShasV2(spark, N).toDF())))

    val fullTriples = collectTriples(new Pipeline(ioFull, "v2-full").run(spark,
      CorpusGen.srcFilesV2(spark, N).toDF(), kb, kbCtx,
      snapshot = Some(CorpusGen.fileShasV2(spark, N).toDF())))

    assert(deltaTriples.nonEmpty)
    assert(deltaTriples == fullTriples, "delta run must equal a full v2 run exactly")
    assert(fullTriples != v1Triples, "v2 mutation must change the output")

    // the delta actually was a delta: only changed files were re-extracted
    val deltaFiles = ioDelta.read(spark, "stage0_files_delta").count()
    val v2Files = CorpusGen.srcFilesV2(spark, N).toDF().count()
    assert(deltaFiles < v2Files / 2,
      s"delta re-extracted $deltaFiles of $v2Files files — not incremental")
    // and the changed set is exactly: surviving modified (id%17==3) + new ids
    val expected = (0L until (N + N / 20L)).count(id =>
      !(id < N && id % 101 == 0) && (id % 17 == 3 || id >= N))
    assert(deltaFiles == expected, s"changed-file count $deltaFiles != expected $expected")

    // chaining: a delta run's checkpoint dir is itself a valid base — run a
    // second delta FROM the delta run, mutating back to v1 (reverts, deletes
    // of the cloned files, resurrections of the deleted ones); output must
    // equal the original v1 full run exactly
    val ioChain = new ParquetTableIO(s"$base/chain")
    val chainTriples = collectTriples(new Pipeline(ioChain, "v1-again").runDelta(spark,
      CorpusGen.srcFiles(spark, N).toDF(), kb, kbCtx, prevIo = ioDelta,
      snapshot = Some(CorpusGen.fileShas(spark, N).toDF())))
    assert(chainTriples == v1Triples, "chained delta (v2→v1) must equal the v1 full run")

    // zero-churn day: the same corpus against its own delta run — nothing to
    // re-extract (all delta checkpoints empty but readable), output unchanged
    val ioNoop = new ParquetTableIO(s"$base/noop")
    val noopTriples = collectTriples(new Pipeline(ioNoop, "v2-noop").runDelta(spark,
      CorpusGen.srcFilesV2(spark, N).toDF(), kb, kbCtx, prevIo = ioDelta,
      snapshot = Some(CorpusGen.fileShasV2(spark, N).toDF())))
    assert(ioNoop.read(spark, "stage0_files_delta").count() == 0, "zero-churn delta re-extracted files")
    assert(noopTriples == fullTriples, "zero-churn delta must reproduce the v2 output")
  }

  test("delta sha256 invariant violation is detected") {
    val base = Files.createTempDirectory("graft_delta_bad").toString
    val ioV1 = new ParquetTableIO(s"$base/v1")
    val kb = CorpusGen.kbEntries(spark).toDF()
    val kbCtx = CorpusGen.kbContexts(spark).toDF()
    new Pipeline(ioV1, "v1").run(spark, CorpusGen.srcFiles(spark, 40).toDF(), kb, kbCtx)
    val badSnap = CorpusGen.fileShasV2(spark, 40).toDF().withColumn("sha256", lit("0" * 64))
    val ex = intercept[IllegalArgumentException] {
      new Pipeline(new ParquetTableIO(s"$base/delta"), "v2-delta").runDelta(spark,
        CorpusGen.srcFilesV2(spark, 40).toDF(), kb, kbCtx, prevIo = ioV1,
        snapshot = Some(badSnap))
    }
    assert(ex.getMessage.contains("sha256 invariant"))
    // a base without its (key, sha) fingerprint is refused, not re-derived
    ioV1.drop(spark, "stage0_shas")
    val noShas = intercept[IllegalArgumentException] {
      new Pipeline(new ParquetTableIO(s"$base/delta2"), "v2-delta").runDelta(spark,
        CorpusGen.srcFilesV2(spark, 40).toDF(), kb, kbCtx, prevIo = ioV1)
    }
    assert(noShas.getMessage.contains("previous run's stage0_shas table"), noShas.getMessage)
  }
}
