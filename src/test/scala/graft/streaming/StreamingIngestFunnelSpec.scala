package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.ops.Dedup
import java.nio.file.Files

/** The composed streaming ingest funnel: each planted defect class is
  * removed by exactly its stage, survivors carry everything the nightly
  * batch consolidation needs. */
class StreamingIngestFunnelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("gate, exact dedup and near-dup index filter each remove their class") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("sif_src").toString
    val outDir = Files.createTempDirectory("sif_out").toString + "/docs"
    val ckpt = Files.createTempDirectory("sif_ckpt").toString
    def ts(s: Int) = Timestamp.valueOf(f"2026-01-01 00:00:$s%02d")

    val indexed = "the quick brown fox jumps over the lazy dog again and again"
    val fresh = "a completely original document with enough plain words to pass the gate"
    val index = Dedup.bandSignatures(
        Dedup.shinglesFor(Seq((1L, indexed)).toDF("doc_id", "text")))
      .select(col("band"), col("sig"))

    Seq(
      (10L, fresh, ts(1)),                                  // survives
      (11L, fresh, ts(2)),                                  // exact dup of 10 → dropped
      (12L, indexed.replace("again and again", "yet again and again"), ts(3)), // near-dup of index → dropped
      (13L, "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) !!!", ts(4)), // symbol soup → gated
      (14L, "too few", ts(5)))                              // under minTokens → gated
      .toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").parquet(srcDir)

    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(srcDir)
    val q = StreamingIngestFunnel(stream, index)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      val kept = out.select("doc_id").as[Long].collect().toSet
      assert(kept == Set(10L), s"expected only the fresh doc, got $kept")
      // survivors carry the consolidation payload: stats, sha, signatures
      val cols = out.columns.toSet
      assert(Set("quality_ppm", "n_tokens", "sha256", "sig_0", "sig_3").subsetOf(cols), cols.toString)
    } finally q.stop()
  }
}
