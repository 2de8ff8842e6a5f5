package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, TableIO}

/** The flagship end-to-end pipeline (SURVEY.md §3.1):
  *
  *   ingest → extract → candidates → score → canonicalize → triples → eval
  *
  * Every stage checkpoints through the [[TableIO]] seam with an atomic
  * commit, and appends per-partition lineage rows AFTER the data commit —
  * so `--resume` skips any stage whose lineage says committed and whose
  * checkpoint exists, and a crash between data-write and lineage-append
  * simply re-runs that stage idempotently (north_rule: "resumable from
  * checkpoint with per-partition lineage + metrics").
  */
final class Pipeline(val io: TableIO, val runId: String, val resume: Boolean = false)
    extends graft.io.StagedRun {
  import Pipeline._

  /** Full run. Returns the triples DataFrame (read back from the sink). */
  def run(spark: SparkSession, src: DataFrame, kb: DataFrame, kbCtx: DataFrame,
          snapshot: Option[DataFrame] = None,
          hotThreshold: Long = 10000L,
          broadcastDictMaxRows: Long = 1000000L,
          broadcastKbCtxMaxRows: Long = 10000000L): DataFrame = {
    stageParams = paramsHash(hotThreshold)

    // Stage 0: ingest + per-row sha256 invariant vs the source snapshot (F3/J7)
    val files = stage(spark, "stage0_files",
      src.withColumn("sha256", sha2(col("content"), 256)), Seq("lang"))
    requireShasMatch(files, snapshot, "")
    // Compact (key, sha) table — what the NEXT run's delta mode diffs against
    // (so change detection never has to re-read this run's content column).
    stage(spark, "stage0_shas",
      files.select((Delta.FileKey :+ "sha256").map(col): _*))

    // Stage 1: extraction — one windowed pass writes the per-line table
    // (mention structs + context); mention rows derive from it narrowly and
    // contexts are a pruned read of the same checkpoint (stored once per
    // line, not duplicated per mention).
    val perLine = stage(spark, "stage1_lines", Extract.perLine(files, K))
    val mentions = stage(spark, "stage1_mentions", Extract.mentionsFromLines(perLine))
    val contexts = Extract.contexts(perLine)

    // Stage 2: candidate generation (broadcast-vs-salted decided on measured size)
    val cands = stage(spark, "stage2_candidates",
      candidates(mentions, kb, hotThreshold, broadcastDictMaxRows))

    linkAndMaterialize(spark, mentions, cands, contexts, kbCtx, broadcastKbCtxMaxRows)
  }

  /** The per-row sha256 invariant of `files` against the source `snapshot`
    * (when one is given); `scope` names the checked rows in the message. */
  private def requireShasMatch(files: DataFrame, snapshot: Option[DataFrame],
                               scope: String): Unit =
    snapshot.foreach { snap =>
      val mismatches = files.select(col("repo"), col("path"), col("commit"), col("sha256"))
        .join(snap.withColumnRenamed("sha256", "sha_expected"), Delta.FileKey)
        .filter(col("sha256") =!= col("sha_expected"))
        .count()
      require(mismatches == 0, s"sha256 invariant violated$scope: $mismatches rows")
    }

  /** The candidate join of `mentions` against `kb`'s dictionary: broadcast
    * when the dictionary's measured row count is at most
    * `broadcastDictMaxRows`, else the hot-key-salted shuffle join. */
  private def candidates(mentions: DataFrame, kb: DataFrame, hotThreshold: Long,
                         broadcastDictMaxRows: Long): DataFrame = {
    val dict = Candidates.dictionary(kb)
    Candidates.candidates(mentions, dict, broadcastDict = dict.count() <= broadcastDictMaxRows,
                          hotThreshold = hotThreshold)
  }

  /** Stages 3–4, shared by full and delta runs (these are corpus-GLOBAL —
    * IDF and majority vote see the whole composed corpus, so a delta run's
    * output equals a full run's exactly).
    *
    * Stage 3: context scoring + top-1. The kbCtx broadcast is decided on
    * measured size (a DBpedia-scale KB's exploded context table is multi-GB
    * — then the scoring join runs as a shuffled hash join), mirroring the
    * dictionary-join policy. */
  private def linkAndMaterialize(spark: SparkSession, mentions: DataFrame,
      cands: DataFrame, contexts: DataFrame, kbCtx: DataFrame,
      broadcastKbCtxMaxRows: Long): DataFrame = {
    // ONE measurement job for both policy decisions (row count for the join
    // strategy, distinct-term count for the vocabulary-prune broadcast — the
    // term set is far smaller than the exploded context table, so it often
    // still broadcasts when kbCtx itself cannot); two sequential driver
    // actions here would be pure serial time in every run
    val kbMeasure = kbCtx.agg(count(lit(1)).as("rows"),
                              countDistinct(col("term")).as("terms")).collect()(0)
    val kbCtxRows = kbMeasure.getLong(0)
    val kbTermRows = kbMeasure.getLong(1)
    val top1 = stage(spark, "stage3_top1",
      Scoring.top1(Scoring.score(cands, contexts, kbCtx,
        broadcastKbCtx = kbCtxRows <= broadcastKbCtxMaxRows,
        broadcastKbTerms = kbTermRows <= BroadcastKbTermsMaxRows)))

    // Stage 4: canonicalize + materialize triples, partitioned by predicate
    stage(spark, "stage4_triples",
      Canonicalize.triples(Canonicalize.canonicalMentions(mentions, top1)),
      Seq("pred"))
  }

  /** Incremental run against a previous run's checkpoints (`prevIo`): the
    * per-byte stages (sha, extraction, candidate join) execute on CHANGED
    * files only and checkpoint only the delta rows; unchanged files' per-file
    * intermediates are composed back in from the previous checkpoints with an
    * anti-join against the (small) stale key set — content never moves for
    * an unchanged file. The corpus-global stages (IDF, vote) then recompute
    * over the composed compact rows, so the emitted triples are EXACTLY what
    * a full run on the new corpus emits (DeltaSpec golden test).
    *
    * `snapshot` checks the per-row sha256 invariant for the changed rows
    * (the previous run already proved it for the rest).
    *
    * A delta run writes the composed canonical stage tables (plus a compact
    * (key, sha) corpus fingerprint), so its checkpoint dir is itself a valid
    * `prevIo` — delta runs chain day over day (DeltaSpec). */
  def runDelta(spark: SparkSession, cur: DataFrame, kb: DataFrame,
               kbCtx: DataFrame, prevIo: TableIO,
               snapshot: Option[DataFrame] = None,
               hotThreshold: Long = 10000L,
               broadcastDictMaxRows: Long = 1000000L,
               broadcastKbCtxMaxRows: Long = 10000000L): DataFrame = {
    stageParams = paramsHash(hotThreshold, "delta")
    // Chaining means prev run's dir → NEW dir: writing into the dir being
    // read would overwrite prev's stage0_shas before the lazily-planned
    // reads of it execute.
    requireDistinctBase(prevIo)
    val keyShaCols = (Delta.FileKey :+ "sha256").map(col)
    // Previous corpus fingerprint: the compact (key, sha) table every full
    // and delta run writes.
    require(prevIo.exists(spark, "stage0_shas"),
      "delta needs the previous run's stage0_shas table (every run and delta run writes it)")
    val prevShas = prevIo.read(spark, "stage0_shas").select(keyShaCols: _*)

    // Stage 0Δ: ONE content-hash pass over the current corpus writes this
    // run's compact (key, sha) table (which also makes THIS run a valid base
    // for the next delta); change detection then runs on compact keys only,
    // and only the changed files' content is touched again.
    val curShas = stage(spark, "stage0_shas",
      cur.withColumn("sha256", sha2(col("content"), 256)).select(keyShaCols: _*))
    // The churn key sets are checkpointed too: they are tiny, every composed
    // stage below consumes them (one read each instead of re-deriving the
    // sha-table join per subtree), and their lineage rows make the run's
    // churn auditable (how many files changed / went stale).
    val changedKeys = stage(spark, "stage0_changed_keys",
      Delta.changed(curShas, prevShas).select(Delta.FileKey.map(col): _*))
    val staleKeys = stage(spark, "stage0_stale_keys", Delta.stale(prevShas, curShas))
    // NOT partitioned by lang (unlike stage0_files): the delta is churn-sized,
    // and a zero-churn day must still write a readable (empty) checkpoint —
    // an empty partitioned parquet write has no schema to read back.
    val filesDelta = stage(spark, "stage0_files_delta",
      cur.join(changedKeys, Delta.FileKey, "left_semi")
        .withColumn("sha256", sha2(col("content"), 256)))
    requireShasMatch(filesDelta, snapshot, " on delta")

    // Stage 1Δ/2Δ: extraction and the candidate join are file-local, so the
    // delta rows are just the stages applied to the changed files; the
    // candidate join's output is per-mention, so strategy differences
    // (hot-key split measured on the delta) cannot change the row set.
    val perLineDelta  = stage(spark, "stage1_lines_delta", Extract.perLine(filesDelta, K))
    val mentionsDelta = stage(spark, "stage1_mentions_delta",
      Extract.mentionsFromLines(perLineDelta))
    val candsDelta = stage(spark, "stage2_candidates_delta",
      candidates(mentionsDelta, kb, hotThreshold, broadcastDictMaxRows))

    // Composition: previous per-file rows minus stale keys, plus the delta —
    // CHECKPOINTED under the canonical stage names, for two reasons that both
    // bite at scale: (a) stage 3/4 consume these tables in several subtrees,
    // and an unmaterialized survivors∪delta union would re-read the previous
    // checkpoints and redo the anti-join once per subtree (measured ~1.6× on
    // stage3 before this); (b) the delta run's checkpoint dir becomes a
    // complete base, so tomorrow's delta chains off today's (DeltaSpec).
    // Candidates carry no file columns — their survivors follow the surviving
    // mentions by mention_id (a hash that includes the file key, so a changed
    // file's fresh mentions can never collide with a survivor's).
    val mentionsSurv = Delta.survivors(prevIo.read(spark, "stage1_mentions"), staleKeys)
    val perLine = stage(spark, "stage1_lines",
      Delta.survivors(prevIo.read(spark, "stage1_lines"), staleKeys)
        .unionByName(perLineDelta))
    val mentions = stage(spark, "stage1_mentions",
      mentionsSurv.unionByName(mentionsDelta))
    val cands = stage(spark, "stage2_candidates",
      prevIo.read(spark, "stage2_candidates")
        .join(mentionsSurv.select(col("mention_id")), Seq("mention_id"), "left_semi")
        .unionByName(candsDelta))
    val contexts = Extract.contexts(perLine)

    linkAndMaterialize(spark, mentions, cands, contexts, kbCtx, broadcastKbCtxMaxRows)
  }
}

/** spark-submit entry point:
  * `graft.kg.Pipeline nFiles ckptDir [--resume]
  *    [--input srcParquet] [--kb kbParquet] [--kbctx ctxParquet] [--gold goldParquet]`
  *
  * Without path flags the deterministic synthetic corpus/KB drive the run
  * (sandbox mode); with them the pipeline ingests REAL tables of the
  * input_hint shape — src_files(repo,path,commit,lang,content),
  * kb(entity_id,label,aliases,prior), kb_ctx(entity_id,term,weight),
  * gold(repo,path,commit,line,kind,surface,entity_id) — which is how a user
  * of the reference points the engine at their own corpus and gold files. */
object Pipeline {
  /** Context window (±lines) of extraction. */
  private val K = 2
  /** Distinct-term count under which stage 3 broadcasts the KB vocabulary. */
  private val BroadcastKbTermsMaxRows = 5000000L

  def main(args: Array[String]): Unit = {
    val valueFlags = Set("--input", "--kb", "--kbctx", "--gold", "--delta")
    val pos = args.indices
      .filter(i => !args(i).startsWith("--") && (i == 0 || !valueFlags.contains(args(i - 1))))
      .map(args)
    val nFiles = if (pos.length > 0) pos(0).toInt else 2000
    val ckpt = if (pos.length > 1) pos(1) else "target/pipeline_ckpt"
    val resume = args.contains("--resume")
    def flag(name: String): Option[String] = {
      val i = args.indexOf(name); if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val spark = graft.LocalSession.create("graft-kg-pipeline")
    graft.LocalSession.sizeShufflesToCorpus(spark, nFiles)
    try {
      // --delta prevCkpt: incremental run — synthetic mode uses the V2
      // (mutated) corpus against a previous full run's checkpoints
      val deltaPrev = flag("--delta")
      val src   = flag("--input").map(spark.read.parquet(_)).getOrElse(
        if (deltaPrev.isDefined) CorpusGen.srcFilesV2(spark, nFiles).toDF()
        else CorpusGen.srcFiles(spark, nFiles).toDF())
      val kb    = flag("--kb").map(spark.read.parquet(_))
        .getOrElse(CorpusGen.kbEntries(spark).toDF())
      val kbCtx = flag("--kbctx").map(spark.read.parquet(_))
        .getOrElse(CorpusGen.kbContexts(spark).toDF())
      val snapshot = if (flag("--input").isDefined) None
                     else if (deltaPrev.isDefined) Some(CorpusGen.fileShasV2(spark, nFiles).toDF())
                     else Some(CorpusGen.fileShas(spark, nFiles).toDF())
      val runId = flag("--input").map(p => s"run-$p")
        .getOrElse(s"run-$nFiles${if (deltaPrev.isDefined) "-delta" else ""}")
      val pipe = new Pipeline(new ParquetTableIO(ckpt), runId = runId, resume = resume)
      // fresh (non-resume) runs into an existing dir would otherwise APPEND a
      // second set of lineage rows under the same run_id and double-count the
      // per-stage metrics rollup below
      if (!resume) pipe.io.drop(spark, pipe.LineageTable)
      val t0 = System.nanoTime()
      val triples = deltaPrev match {
        case Some(prev) =>
          pipe.runDelta(spark, src, kb, kbCtx, new ParquetTableIO(prev), snapshot = snapshot)
        case None => pipe.run(spark, src, kb, kbCtx, snapshot = snapshot)
      }
      val n = triples.count()
      val sec = (System.nanoTime() - t0) / 1e9
      // S4 exercised for real: gold is read from storage (user-supplied via
      // --gold, or the generator fixture materialized first)
      val goldPath = flag("--gold").getOrElse {
        val p = s"$ckpt/gold_fixture"
        val g = if (deltaPrev.isDefined) CorpusGen.goldV2(spark, nFiles)
                else CorpusGen.gold(spark, nFiles)
        g.toDF().write.mode("overwrite").parquet(p)
        p
      }
      val pr = Eval.precisionRecallFromPath(spark, triples, goldPath).collect()(0)
      println(f"triples=$n wall=$sec%.2fs thr=${n / sec}%.0f triples/sec " +
              f"precision=${pr.getAs[Double]("precision")}%.4f recall=${pr.getAs[Double]("recall")}%.4f")
      // machine-readable run metrics, rolled up from the lineage table
      // (north_rule: per-partition lineage + metrics)
      val stages = spark.read.parquet(s"$ckpt/_lineage")
        .filter(col("run_id") === runId)
        .groupBy(col("stage"))
        .agg(sum(col("rows_out")).as("rows_out"), max(col("wall_ms")).as("wall_ms"),
             countDistinct(col("partition_id")).as("partitions"))
        .orderBy(col("stage"))
        .collect()
        .map(r => f""""${r.getAs[String]("stage")}":{"rows_out":${r.getAs[Long]("rows_out")},"wall_ms":${r.getAs[Long]("wall_ms")},"partitions":${r.getAs[Long]("partitions")}}""")
        .mkString("{", ",", "}")
      val metrics =
        f"""{"run_id":"$runId","triples":$n,"wall_sec":$sec%.2f,"triples_per_sec":${n / sec}%.1f,""" +
        f""""precision":${pr.getAs[Double]("precision")},"recall":${pr.getAs[Double]("recall")},"stages":$stages}"""
      // written through the Hadoop FS of the checkpoint root (not java.nio) so
      // an HDFS/S3/other non-local ckpt URI works exactly like ParquetTableIO
      val mPath = new org.apache.hadoop.fs.Path(s"$ckpt/metrics.json")
      val mFs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val os = mFs.create(mPath, true)
      try os.write(metrics.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    } finally spark.stop()
  }
}
