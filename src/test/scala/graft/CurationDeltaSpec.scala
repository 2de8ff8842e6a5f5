package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.ParquetTableIO
import graft.ops.CurationPipeline
import java.nio.file.Files

/** Incremental (delta) curation golden tests: a delta run composed from the
  * previous run's checkpoints must emit BYTE-IDENTICAL output to a full run
  * on the same corpus — across every churn kind that exercises a different
  * composition path (modify, add, delete, a deleted exact-dup
  * representative promoting its duplicate, a deleted near-dup partner
  * promoting the survivor, a new near-dup pair, a deleted span-dedup first
  * occurrence promoting a recurrence), plus day-over-day chaining and the
  * zero-churn no-op.
  */
class CurationDeltaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sentence(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    val pool = Array("alpha", "beta", "gamma", "delta", "kernel", "socket",
                     "stream", "batch", "vector", "matrix", "cursor", "ledger")
    (0 until n).map(_ => pool(r.nextInt(pool.length))).mkString(" ")
  }

  // v1: 20 clean docs; 60 = exact dup of 0; 61 = near-dup of 1; 70
  // contaminated; 10 carries a secret (survives, redacted)
  private def v1Rows: Seq[(Long, String, String, String)] = {
    val clean = (0 until 20).map { i =>
      val t = if (i == 10) sentence(i, 40) + " token deadbeefcafe1234567890abcdef here"
              else sentence(i, 40)
      (i.toLong, t, "en", "srcA")
    }
    clean ++ Seq(
      (60L, sentence(0, 40), "en", "srcB"),
      (61L, { val w = sentence(1, 40).split(" "); w(20) = "CHANGED"; w.mkString(" ") }, "en", "srcB"),
      (70L, "the secret benchmark question about ledger vector matrix flows here " + sentence(70, 30), "en", "srcA"))
  }

  // v2 churn: delete 0 (60 becomes the exact rep) and 1 (61's near-dup
  // partner — 61 now survives c3); modify 2; add clean 90 and 91 = near-dup
  // of 3 (new pair, 3 stays keeper)
  private def v2Rows: Seq[(Long, String, String, String)] =
    v1Rows.filterNot(r => r._1 == 0L || r._1 == 1L).map {
      case (2L, t, l, s) => (2L, t + " appended", l, s)
      case r => r
    } ++ Seq(
      (90L, sentence(90, 40), "en", "srcA"),
      (91L, { val w = sentence(3, 40).split(" "); w(10) = "TWEAKED"; w.mkString(" ") }, "en", "srcB"))

  // v3 churn on top of v2: delete 90, modify 4
  private def v3Rows: Seq[(Long, String, String, String)] =
    v2Rows.filterNot(_._1 == 90L).map {
      case (4L, t, l, s) => (4L, t + " again", l, s)
      case r => r
    }

  private def df(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "text", "lang", "source")

  private lazy val evalSet =
    Seq((999L, "the secret benchmark question about ledger vector matrix flows here"))
      .toDF("doc_id", "text")

  private def fullRun(rows: Seq[(Long, String, String, String)], tag: String,
                      strip: Int = 0): (ParquetTableIO, Seq[String]) = {
    val io = new ParquetTableIO(Files.createTempDirectory(s"cdelta_$tag").toString)
    val out = new CurationPipeline(io, s"full-$tag")
      .run(spark, df(rows), evalDocs = Some(evalSet), stripSpanTokens = strip)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    (io, out)
  }

  private def deltaRun(rows: Seq[(Long, String, String, String)], prev: ParquetTableIO,
                       tag: String, strip: Int = 0): (ParquetTableIO, Seq[String]) = {
    val io = new ParquetTableIO(Files.createTempDirectory(s"cdelta_$tag").toString)
    val out = new CurationPipeline(io, s"delta-$tag")
      .runDelta(spark, df(rows), prev, evalDocs = Some(evalSet),
                stripSpanTokens = strip)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    (io, out)
  }

  private def productText(io: ParquetTableIO): Seq[String] =
    io.read(spark, "c5_redacted").orderBy("doc_id").collect().map(_.toString).toSeq

  test("delta ≡ full across delete/modify/add/promoted-rep/promoted-near-dup churn") {
    val (ioV1, _) = fullRun(v1Rows, "v1")
    val (_, refV2) = fullRun(v2Rows, "v2ref")
    val (ioD2, gotV2) = deltaRun(v2Rows, ioV1, "v2d")
    assert(gotV2 == refV2 && refV2.nonEmpty, "delta output must equal the full run's")
    // the product text table (the actual deliverable) is also identical
    val (ioV2ref, _) = fullRun(v2Rows, "v2ref2")
    assert(productText(ioD2) == productText(ioV2ref))
    val got = gotV2.mkString("\n")
    // churn semantics: 60 promoted to exact rep; 61 survives (partner gone);
    // 91 dropped as near-dup of 3; 90 present; 0/1 gone
    assert(got.contains("[60,") && got.contains("[61,") && got.contains("[90,"))
    assert(!got.contains("[0,") && !got.contains("[1,") && !got.contains("[91,"))
  }

  test("CDC delta: churn keys from snapshot metadata ≡ sha-diff delta ≡ full run") {
    // the corpus LIVES in a snapshot table maintained by upsert commits
    val corpus = new graft.io.SnapshotTable(
      Files.createTempDirectory("cdelta_snap").toString, "docs")
    corpus.writeOverwrite(df(v1Rows))                                    // snapshot 1
    val (ioV1, _) = fullRun(v1Rows, "cdc_v1")
    // v1 → v2 churn as CDC commits: delete removals (0, 1) and the
    // modify's old row (2); append the modified 2 and the adds (90, 91)
    corpus.deleteWhereKeys(Seq(0L, 1L, 2L).toDF("doc_id"), Seq("doc_id")) // snapshot 2
    corpus.append(df(v2Rows.filter(r => Set(2L, 90L, 91L)(r._1))))        // snapshot 3
    assert(corpus.read(spark).orderBy("doc_id").collect().toSeq
      == df(v2Rows).orderBy("doc_id").collect().toSeq, "upsert composition must equal v2")

    val io = new ParquetTableIO(Files.createTempDirectory("cdelta_cdc").toString)
    val got = new CurationPipeline(io, "cdc")
      .runDeltaFromSnapshots(spark, corpus, fromSeq = 1L, prevIo = ioV1,
                             evalDocs = Some(evalSet))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val (ioRef, ref) = fullRun(v2Rows, "cdc_ref")
    assert(got == ref && ref.nonEmpty, "CDC-keyed delta must equal the full run")
    assert(productText(io) == productText(ioRef))
    // the metadata-derived churn sets are exactly the upserted keys
    assert(io.read(spark, "d0_changed_keys").as[Long].collect().toSet == Set(2L, 90L, 91L))
    assert(io.read(spark, "d0_stale_keys").as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  test("delta chains day over day: v1 → Δv2 → Δv3 equals full v3") {
    val (ioV1, _) = fullRun(v1Rows, "c_v1")
    val (ioD2, _) = deltaRun(v2Rows, ioV1, "c_v2")
    val (ioD3, gotV3) = deltaRun(v3Rows, ioD2, "c_v3")
    val (ioRef3, refV3) = fullRun(v3Rows, "c_v3ref")
    assert(gotV3 == refV3 && refV3.nonEmpty)
    assert(productText(ioD3) == productText(ioRef3))
  }

  test("zero-churn delta is a per-byte no-op with identical output") {
    val (ioV1, refV1) = fullRun(v1Rows, "z_v1")
    val (ioD, got) = deltaRun(v1Rows, ioV1, "z_d")
    assert(got == refV1)
    val churn = ioD.read(spark, ioD.list(spark, "").find(_ == "d0_changed_keys").get).count() +
                ioD.read(spark, "d0_stale_keys").count()
    assert(churn == 0, s"zero-churn day must detect zero changed/stale docs, got $churn")
  }

  test("delta with span strips: deleting the first occurrence promotes a recurrence") {
    val boiler = "this file is part of the example project released under license terms"
    def withBoiler(rows: Seq[(Long, String, String, String)]) = rows ++ Seq(
      (80L, boiler + " " + sentence(80, 60), "en", "srcA"),
      (81L, boiler + " " + sentence(81, 60), "en", "srcA"),
      (82L, boiler + " " + sentence(82, 60), "en", "srcA"))
    val s1 = withBoiler(v1Rows)
    // v2: doc 80 (the boilerplate's first occurrence) is deleted → 81
    // becomes the keeper (its strip set changes though its text did not)
    val s2 = s1.filterNot(_._1 == 80L)
    val (ioV1, _) = fullRun(s1, "s_v1", strip = 12)
    val (_, ref) = fullRun(s2, "s_v2ref", strip = 12)
    val (ioD, got) = deltaRun(s2, ioV1, "s_v2d", strip = 12)
    assert(got == ref && ref.nonEmpty)
    val texts = ioD.read(spark, "c5_redacted")
      .filter(col("doc_id").isin(81L, 82L))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(texts(81L).startsWith(boiler), "doc 81 must be promoted to boilerplate keeper")
    assert(texts(82L) == sentence(82, 60), "doc 82 stays stripped")
  }
}
