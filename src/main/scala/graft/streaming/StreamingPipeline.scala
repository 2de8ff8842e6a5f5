package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.io.ParquetTableIO
import graft.kg.{Candidates, Canonicalize, Extract, Scoring}

/** Structured Streaming front-end (SURVEY.md §2.9: the reference is batch-only,
  * so this is an additive capability, not a port requirement).
  *
  * The batch operators compose directly because extraction is STATELESS
  * (per-line contexts are computed in-row — no window, no shuffle), and the
  * candidate join is stream-static with a broadcast dictionary. The
  * aggregating stages (IDF, cosine, majority vote) run per micro-batch via
  * foreachBatch with two streaming-specific guarantees:
  *
  *  - **exactly-once output**: Structured Streaming replays a failed
  *    micro-batch (at-least-once), so every write is keyed by batchId and
  *    committed through the TableIO atomic tmp+rename seam; a replayed batch
  *    whose triples already committed is skipped entirely.
  *  - **global IDF snapshot**: each batch first commits its additive IDF
  *    contribution (per-term df + context count), then scores against the
  *    accumulated stats of ALL batches so far — so a batch's scores match
  *    the batch pipeline run over every file seen up to and including it
  *    exactly (asserted in StreamingSpec), instead of drifting on
  *    micro-batch-local document statistics.
  *  - **bounded stats growth**: every `compactEvery` batches the per-batch
  *    stats dirs merge into one `*_compact/upto=<B>` snapshot and the merged
  *    dirs are deleted — a long-running stream reads O(compactEvery) dirs,
  *    not O(batches). Crash-safe without a manifest: the snapshot commits
  *    (atomic rename) BEFORE any delete, and the reader takes the latest
  *    snapshot plus only the delta batches NEWER than it, so a crash that
  *    leaves both the new snapshot and not-yet-deleted batch dirs can never
  *    double-count.
  */
object StreamingPipeline {

  /** The fixed input_hint schema (nothing inferred on a stream). */
  val SrcSchema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType)))

  /** Incremental KG construction: watch `srcDir` for arriving src_files
    * parquet, annotate each micro-batch, commit triples to
    * `outDir/batch=<id>` (atomic, replay-idempotent). Per-mention top-1
    * scores are also committed under `outDir/_scores/batch=<id>` (an
    * underscore path — invisible to a plain parquet read of outDir) so the
    * stream≡batch score equality is externally checkable. */
  def start(spark: SparkSession, srcDir: String, kb: DataFrame, kbCtx: DataFrame,
            outDir: String, checkpointDir: String, compactEvery: Int = 8): StreamingQuery = {
    val dict = Candidates.dictionary(kb)
    val outIo = new ParquetTableIO(outDir)
    val statsIo = new ParquetTableIO(s"$checkpointDir/idf_stats")
    val stream = spark.readStream.schema(SrcSchema).parquet(srcDir)
    stream.writeStream
      .option("checkpointLocation", s"$checkpointDir/query")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, dict, kbCtx, outIo, statsIo, compactEvery)
      }
      .start()
  }

  /** One micro-batch, replay-idempotent (public so the exactly-once contract
    * is directly testable: calling it twice with the same batchId is a
    * no-op the second time). `compactEvery = 0` disables stats compaction. */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   dict: DataFrame, kbCtx: DataFrame,
                   outIo: ParquetTableIO, statsIo: ParquetTableIO,
                   compactEvery: Int = 8): Unit = {
    val triplesTable = s"batch=$batchId"
    // replayed batch whose output already committed → skip (idempotence)
    if (!outIo.exists(spark, triplesTable)) {
      val perLine = Extract.perLine(batch)
      val contexts = Extract.contexts(perLine)
      // 1. commit this batch's additive IDF contribution FIRST, so the
      //    snapshot below always includes the current batch (overwrite is
      //    deterministic, so a replay after a crash rewrites identical
      //    stats rather than double-counting)
      statsIo.write(Scoring.termDf(contexts), s"df/batch=$batchId")
      statsIo.write(contexts.agg(count(lit(1)).as("n")), s"n/batch=$batchId")
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        compactStats(spark, statsIo, batchId)
      // 2. global IDF snapshot over every batch seen so far
      val (dfStats, nStats) = readStats(spark, statsIo)
      val idf = Scoring.idfFromStats(
        dfStats.select(col("term"), col("df")),
        nStats.agg(sum(col("n")).as("n")))
      val mentions = Extract.mentionsFromLines(perLine)
      val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
      val top1 = Scoring.top1(Scoring.score(cands, contexts, kbCtx, idfOverride = Some(idf)))
      outIo.write(top1, s"_scores/batch=$batchId")
      // triples commit LAST: its existence marks the batch done
      outIo.write(Canonicalize.triples(Canonicalize.canonicalMentions(mentions, top1)),
                  triplesTable)
    }
  }

  /** The accumulated IDF stats: latest compacted snapshot (if any) plus only
    * the per-batch deltas NEWER than it — stale batch dirs a crashed
    * compaction failed to delete are ignored, never double-counted. */
  def readStats(spark: SparkSession, statsIo: ParquetTableIO): (DataFrame, DataFrame) = {
    def assemble(deltaDir: String, compactDir: String): DataFrame = {
      val base = ids(spark, statsIo, compactDir, "upto=").maxOption
      val deltas = ids(spark, statsIo, deltaDir, "batch=")
        .filter(id => base.forall(id > _)).sorted
      val frames =
        base.map(b => statsIo.read(spark, s"$compactDir/upto=$b")).toSeq ++
        deltas.map(id => statsIo.read(spark, s"$deltaDir/batch=$id"))
      require(frames.nonEmpty,
        s"no committed stats under '$deltaDir'/'$compactDir' — readStats is " +
        "only meaningful after at least one micro-batch has committed")
      frames.reduce(_ unionByName _)
    }
    (assemble("df", "df_compact"), assemble("n", "n_compact"))
  }

  private def ids(spark: SparkSession, statsIo: ParquetTableIO,
                  dir: String, prefix: String): Seq[Long] =
    statsIo.list(spark, dir).collect {
      case n if n.startsWith(prefix) => n.stripPrefix(prefix).toLong
    }

  /** Merge everything accumulated so far into one snapshot per stats table,
    * then delete the merged inputs. Ordering is the crash-safety: snapshot
    * commits (atomic tmp+rename) BEFORE any delete; re-running after a crash
    * rewrites the identical snapshot (deterministic aggregation of the same
    * inputs) and re-attempts the deletes. */
  def compactStats(spark: SparkSession, statsIo: ParquetTableIO, uptoId: Long): Unit = {
    val (dfStats, nStats) = readStats(spark, statsIo)
    statsIo.write(dfStats.groupBy(col("term")).agg(sum(col("df")).as("df")),
                  s"df_compact/upto=$uptoId")
    statsIo.write(nStats.agg(sum(col("n")).as("n")), s"n_compact/upto=$uptoId")
    for (id <- ids(spark, statsIo, "df", "batch=") if id <= uptoId)
      statsIo.drop(spark, s"df/batch=$id")
    for (id <- ids(spark, statsIo, "n", "batch=") if id <= uptoId)
      statsIo.drop(spark, s"n/batch=$id")
    for (old <- ids(spark, statsIo, "df_compact", "upto=") if old < uptoId)
      statsIo.drop(spark, s"df_compact/upto=$old")
    for (old <- ids(spark, statsIo, "n_compact", "upto=") if old < uptoId)
      statsIo.drop(spark, s"n_compact/upto=$old")
  }

  /** Natively streaming link stream (no aggregation): mention extraction +
    * stream-static candidate join, append mode — the shape that scales to a
    * continuous firehose where per-batch voting is done downstream. */
  def linkStream(spark: SparkSession, srcDir: String, kb: DataFrame): DataFrame = {
    val dict = Candidates.dictionary(kb)
    val stream = spark.readStream.schema(SrcSchema).parquet(srcDir)
    Extract.mentionsFromLines(Extract.perLine(stream))
      .join(broadcast(dict), col("norm") === col("norm_key"), "inner")
      .select(col("mention_id"), col("repo"), col("path"), col("commit"),
              col("line"), col("kind"), col("surface"), col("entity_id"), col("prior"))
  }

  /** Watermarked tumbling-window aggregation over an event stream (the
    * classic Structured Streaming shape, exercised on the events table).
    * `watermark = false` gives the identical batch aggregation for parity. */
  def eventWindowCounts(events: DataFrame, watermark: Boolean = true): DataFrame = {
    // the testdata writes ts as TIMESTAMP_NTZ; event-time watermarks need TIMESTAMP
    val e = events.withColumn("ts", col("ts").cast("timestamp"))
    (if (watermark) e.withWatermark("ts", "10 minutes") else e)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total_value"))
  }
}
