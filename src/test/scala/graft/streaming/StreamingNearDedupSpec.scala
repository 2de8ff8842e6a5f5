package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.Dedup
import java.nio.file.Files

/** Streaming near-dup filtering vs a static LSH index, and the in-row
  * band-signature computation it relies on. */
class StreamingNearDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("in-row band signatures ≡ Dedup.bandSignatures on the testdata corpus") {
    val batch = Dedup.bandSignatures(Dedup.shinglesFor(corpus))
      .select(col("doc_id"), col("band"), col("sig"))
      .as[(Long, Int, String)].collect().toSet
    val inRow = StreamingNearDedup.withBandSigCols(corpus)
      .select(col("doc_id"), col("sig_0"), col("sig_1"), col("sig_2"), col("sig_3"))
      .as[(Long, String, String, String, String)].collect()
      .flatMap { case (id, s0, s1, s2, s3) =>
        Seq(s0, s1, s2, s3).zipWithIndex.collect { case (s, b) if s != null => (id, b, s) }
      }.toSet
    assert(inRow == batch)
  }

  test("stream near-dups vs the index are dropped; fresh docs and tiny docs pass") {
    val srcDir = Files.createTempDirectory("snd_src").toString
    val outDir = Files.createTempDirectory("snd_out").toString + "/docs"
    val ckpt = Files.createTempDirectory("snd_ckpt").toString

    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // corpus doc 1 = base; the index is its published band signature table
    val index = Dedup.bandSignatures(
        Dedup.shinglesFor(Seq((1L, base)).toDF("doc_id", "text")))
      .select(col("band"), col("sig"))

    // stream: 10 = exact re-crawl of base, 11 = near-dup (one word changed
    // at the end — early bands still collide), 12 = fresh, 13 = too short
    // for shingles (always kept)
    Seq((10L, base),
        (11L, base.replace("kappa", "lambda")),
        (12L, "completely different content with many other words entirely"),
        (13L, "tiny doc"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(srcDir)

    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir)
    val q = StreamingNearDedup.dropAgainstIndex(stream, index)
      .select("doc_id", "text")
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(kept == Set(12L, 13L), s"expected near-dups dropped, got $kept")
    } finally q.stop()
  }
}
