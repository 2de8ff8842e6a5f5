package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestSession
import graft.kg.{Candidates, CorpusGen, Eval, Extract, Scoring}
import java.nio.file.Files

/** Structured Streaming specs: incremental KG construction over arriving
  * corpus chunks, and the watermark+window aggregation shape. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("incremental ingest: two corpus chunks stream through the pipeline; P/R holds") {
    val srcDir = Files.createTempDirectory("stream_src").toString
    val outDir = Files.createTempDirectory("stream_out").toString + "/triples"
    val ckpt = Files.createTempDirectory("stream_ckpt").toString

    val kb = CorpusGen.kbEntries(spark).toDF()
    val kbCtx = CorpusGen.kbContexts(spark).toDF()
    val q = StreamingPipeline.start(spark, srcDir, kb, kbCtx, outDir, ckpt)
    try {
      // chunk 1: files 0..59
      spark.range(0, 60).map(id => CorpusGen.genFile(id)._1).toDF()
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 > 0)

      // chunk 2: files 60..119 — triples accumulate
      spark.range(60, 120).map(id => CorpusGen.genFile(id)._1).toDF()
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val triples = spark.read.parquet(outDir)
      assert(triples.count() > n1)

      // the accumulated stream output still meets the P/R gate vs gold
      val gold = CorpusGen.gold(spark, 120).toDF()
      val pr = Eval.precisionRecall(triples, gold).collect()(0)
      assert(pr.getAs[Double]("precision") >= 0.95 && pr.getAs[Double]("recall") >= 0.95,
        s"streaming P/R: $pr")

      // global-IDF snapshot exactness: chunk-2 scores must equal the BATCH
      // pipeline's scores over the full corpus (not micro-batch-local IDF) —
      // the snapshot at batch 2 covers chunks 1+2 = everything the batch run
      // sees, so the equality is exact, not approximate.
      val src = spark.range(0, 120).map(id => CorpusGen.genFile(id)._1).toDF()
      val pl = Extract.perLine(src)
      val mentions = Extract.mentionsFromLines(pl)
      val dict = Candidates.dictionary(kb)
      val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
      val batchTop1 = Scoring.top1(
        Scoring.score(cands, Extract.contexts(pl), kbCtx))
      val chunk2Src = spark.range(60, 120).map(id => CorpusGen.genFile(id)._1).toDF()
      val chunk2Ids = Extract.mentionsFromLines(Extract.perLine(chunk2Src))
        .select("mention_id").distinct()
      def scoreSet(df: org.apache.spark.sql.DataFrame) =
        df.join(chunk2Ids, "mention_id")
          .select("mention_id", "entity_id", "score").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val streamed2 = scoreSet(spark.read.parquet(s"$outDir/_scores"))
      val batch2 = scoreSet(batchTop1)
      assert(streamed2.nonEmpty && streamed2 == batch2,
        s"chunk-2 stream scores diverge from batch: stream=${streamed2.size} batch=${batch2.size} " +
        s"diff=${(streamed2 diff batch2).take(3)} / ${(batch2 diff streamed2).take(3)}")
    } finally q.stop()
  }

  test("replayed micro-batch is a no-op: batchId-keyed commits are exactly-once") {
    import graft.io.ParquetTableIO
    val outDir = Files.createTempDirectory("replay_out").toString
    val ckpt = Files.createTempDirectory("replay_ckpt").toString
    val outIo = new ParquetTableIO(outDir)
    val statsIo = new ParquetTableIO(s"$ckpt/idf_stats")
    val kb = CorpusGen.kbEntries(spark).toDF()
    val kbCtx = CorpusGen.kbContexts(spark).toDF()
    val dict = graft.kg.Candidates.dictionary(kb)
    val batch = spark.range(0, 30).map(id => CorpusGen.genFile(id)._1).toDF()

    StreamingPipeline.processBatch(spark, batch, 0L, dict, kbCtx, outIo, statsIo)
    val triples1 = spark.read.parquet(outDir).collect().toSeq
    val df1 = statsIo.read(spark, "df").count()
    // Structured Streaming replays the batch after a crash — must be a no-op
    StreamingPipeline.processBatch(spark, batch, 0L, dict, kbCtx, outIo, statsIo)
    assert(spark.read.parquet(outDir).collect().toSeq.sortBy(_.toString) ==
           triples1.sortBy(_.toString), "replay duplicated triples")
    assert(statsIo.read(spark, "df").count() == df1, "replay double-counted IDF stats")
  }

  test("IDF stats compaction: dirs stay bounded, scores identical across the boundary") {
    import graft.io.ParquetTableIO
    val kb = CorpusGen.kbEntries(spark).toDF()
    val kbCtx = CorpusGen.kbContexts(spark).toDF()
    val dict = Candidates.dictionary(kb)
    def chunk(b: Int) =
      spark.range(b * 20L, (b + 1) * 20L).map(id => CorpusGen.genFile(id)._1).toDF()
    def run(compactEvery: Int): (String, ParquetTableIO) = {
      val outDir = Files.createTempDirectory(s"compact_out_$compactEvery").toString
      val ckpt = Files.createTempDirectory(s"compact_ckpt_$compactEvery").toString
      val statsIo = new ParquetTableIO(s"$ckpt/idf_stats")
      val outIo = new ParquetTableIO(outDir)
      (0 to 3).foreach { b =>
        StreamingPipeline.processBatch(spark, chunk(b), b.toLong, dict, kbCtx,
          outIo, statsIo, compactEvery)
      }
      (outDir, statsIo)
    }
    val (outC, statsC) = run(compactEvery = 2)   // compactions after batches 1 and 3
    val (outU, _)      = run(compactEvery = 0)   // uncompacted reference
    // bounded: all four batch dirs merged away, exactly one snapshot survives
    assert(statsC.list(spark, "df").isEmpty && statsC.list(spark, "n").isEmpty)
    assert(statsC.list(spark, "df_compact") == Seq("upto=3"))
    assert(statsC.list(spark, "n_compact") == Seq("upto=3"))
    // replaying across the boundary stays exactly-once, and a crashed
    // compaction re-run rewrites the identical snapshot
    StreamingPipeline.processBatch(spark, chunk(1), 1L, dict, kbCtx,
      new ParquetTableIO(outC), statsC, compactEvery = 2)
    StreamingPipeline.compactStats(spark, statsC, 3L)
    def scores(dir: String) = spark.read.parquet(s"$dir/_scores")
      .select("mention_id", "entity_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scores(outC).nonEmpty && scores(outC) == scores(outU),
      "compaction changed the global-IDF scores")
  }

  test("watermarked tumbling-window aggregation matches the batch aggregation") {
    val sf = "/root/testdata/sf0.001"
    val batchEvents = spark.read.parquet(s"$sf/events.parquet")
    // the file stream source requires a directory — stage the table into one
    val evtDir = Files.createTempDirectory("stream_events").toString
    batchEvents.write.mode("overwrite").parquet(evtDir)
    val eventsStream = spark.readStream.schema(batchEvents.schema).parquet(evtDir)

    val q = StreamingPipeline.eventWindowCounts(eventsStream)
      .writeStream.outputMode("complete").format("memory").queryName("evt_win")
      .trigger(Trigger.ProcessingTime("1 second")).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evt_win")
        .orderBy("win_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      val batch = StreamingPipeline.eventWindowCounts(batchEvents, watermark = false)
        .orderBy("win_start", "event_type")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(streamed.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming exact dedup: repeated content within the watermark is dropped, across batches") {
    import java.sql.Timestamp
    val srcDir = Files.createTempDirectory("stream_dedup_src").toString
    val outDir = Files.createTempDirectory("stream_dedup_out").toString + "/docs"
    val ckpt = Files.createTempDirectory("stream_dedup_ckpt").toString
    def ts(s: Int) = Timestamp.valueOf(s"2026-01-01 00:00:${f"$s%02d"}")
    def chunk(rows: (Long, String, Int)*): Unit =
      rows.map { case (id, t, s) => (id, t, ts(s)) }.toDF("doc_id", "text", "ts")
        .coalesce(1).write.mode("append").parquet(srcDir)

    chunk((1L, "alpha beta", 1), (2L, "gamma delta", 2), (3L, "epsilon", 3),
          (6L, "alpha beta", 4)) // in-batch duplicate of 1
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(srcDir)
    val q = StreamingDedup.dedupByContent(stream)
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      chunk((7L, "gamma delta", 5), (8L, "zeta", 6)) // cross-batch dup of 2 + fresh doc
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 2L, 3L, 8L),
        s"expected first occurrences only, got $kept")
    } finally q.stop()
  }
}
