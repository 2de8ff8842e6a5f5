package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, TableIO}

/** The end-to-end training-data pipeline: the composition a user actually
  * runs over a raw document corpus before tokenization —
  *
  *   ingest → language/quality filter → exact dedup → [substring/span
  *   strip] → near-dup cluster collapse → benchmark decontamination →
  *   PII/secret redaction → train/val/test split → sequence packing
  *
  * Each stage is one of this library's tested operators; the pipeline only
  * composes them, checkpointing every stage through the same atomic
  * [[TableIO]] + per-partition-lineage machinery as the KG pipeline
  * ([[graft.io.StagedRun]]), so a killed curation run resumes from its last
  * committed stage and the lineage table doubles as the per-stage
  * row-count funnel report (how many documents each filter removed —
  * the number every data-curation run gets asked for).
  *
  * Scale shape: every stage is a tested-scale-safe operator — filters are
  * narrow column expressions; exact dedup is a (sha, min-id) semi-join;
  * near-dup collapse is guarded banded LSH + O(log diameter) connected
  * components; decontamination broadcasts the benchmark-sized eval shingle
  * set (the corpus never shuffles for it); packing windows within hash
  * shards. The corpus-sized tables move only through hash-partitioned
  * exchanges with AQE sizing, exactly like the KG pipeline's.
  *
  * [[runDelta]] is the incremental (daily-crawl) mode: per-byte stages
  * (quality, span hashing, minhash signatures, decontamination hits,
  * redaction, token counts) run on CHANGED documents only and compose
  * unchanged docs' rows back from the previous run's checkpoints;
  * corpus-global stages (exact-dedup reps, span keep/strip, band pairing +
  * CC, split/pack) recompute over the composed COMPACT rows. Output is
  * byte-identical to a full run on the same corpus (golden-tested), and
  * every run's checkpoint dir, full or delta, is a valid base — runs chain
  * day over day.
  */
final class CurationPipeline(val io: TableIO, val runId: String,
                             val resume: Boolean = false, seed: String = "cp")
    extends graft.io.StagedRun {

  // --- per-byte stage bodies (shared by full and delta runs) ------------

  private def ingest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("sha256", sha2(col("text"), 256))

  /** c1 decision rows (doc_id, sha256): language allowlist + heuristic
    * quality gate (integer-ppm metrics; alpha_ppm is the symbol-soup catch —
    * quality_ppm alone scores stopword-free garbage at 500k). */
  private def qualityKeep(s0: DataFrame, langs: Seq[String], minQualityPpm: Long,
                          minAlphaPpm: Long, minTokens: Long): DataFrame = {
    val q = TextAnalysis.qualityFor(s0)
      .select(col("doc_id"), col("n_tokens"), col("quality_ppm"), col("alpha_ppm"))
    s0.select(col("doc_id"), col("lang"), col("sha256")).join(q, Seq("doc_id"))
      .filter(col("lang").isin(langs: _*) &&
              col("quality_ppm") >= minQualityPpm &&
              col("alpha_ppm") >= minAlphaPpm && col("n_tokens") >= minTokens)
      .select(col("doc_id"), col("sha256"))
  }

  /** c2: exact dedup — deterministic min-id representative per content hash
    * (corpus-global but COMPACT: runs on (doc_id, sha) decision rows). */
  private def exactDedupKeep(s1: DataFrame): DataFrame = {
    val reps = s1.groupBy(col("sha256")).agg(min(col("doc_id")).as("doc_id"))
    s1.join(reps, Seq("sha256", "doc_id"), "left_semi").select(col("doc_id"))
  }

  /** COMPLETE per-doc contamination rows (n_hits = 0 for clean docs), so a
    * delta run can tell "screened clean" from "never screened". */
  private def contaminationHits(texts: DataFrame, ev: DataFrame): DataFrame =
    texts.select(col("doc_id"))
      .join(Curation.decontaminate(texts, ev), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))

  /** c5 rows: redaction applied, sha256 restated post-redaction. */
  private def redactRows(input: DataFrame): DataFrame =
    Curation.redact(input, col("text"))
      .select(col("doc_id"), col("redacted").as("text"), col("lang"),
              col("source"),
              (col("n_emails") + col("n_ips") + col("n_secrets")).as("n_redactions"))
      .withColumn("sha256", sha2(col("text"), 256))

  private val toksOf = size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long")

  /** c6: deterministic split + sequence packing over compact (doc_id, lang,
    * source, toks) rows, partitioned by split (the layout a tokenizer
    * consumes). Packing groups by split so a pack never straddles a split
    * boundary — a val doc must not occupy token offsets inside a train pack. */
  private def packStage(spark: SparkSession, withToks: DataFrame,
                        trainUpper256: Int, valUpper256: Int,
                        packBudget: Int, packShards: Int): DataFrame = {
    val withSplit = Sampling.split(withToks, col("doc_id"), trainUpper256, valUpper256, seed)
    stage(spark, "c6_packed",
      Packing.pack(withSplit, col("doc_id"), col("toks"), packBudget, packShards,
                   seed, groupCols = Seq(col("split")))
        .select(col("doc_id"), col("lang"), col("source"), col("split"),
                col("toks"), col("shard"), col("pos"), col("pack_id")),
      partitionBy = Seq("split"))
  }

  /** c3 keep rows from the staged signature table: guarded band pairing →
    * connected components → each cluster's representative. CC state goes
    * through `stage` (as `c3_cc_*`) only for a pair graph at or above
    * Dedup's measured peel gate, where a killed run resumes from its last
    * committed round; below it CC is executor-local and a resume restarts
    * CC from `c3_minhash_sigs`. */
  private def nearDupKeep(spark: SparkSession, s2: DataFrame, sigs: DataFrame): DataFrame =
    stage(spark, "c3_neardup_collapse",
      Dedup.clustersFor(s2, Dedup.minhashPairsGuardedFromSigs(sigs),
          (df, name) => stage(spark, s"c3_$name", df))
        .filter(col("keep") === 1).select(col("doc_id")))

  /** `docs`: (doc_id, text, lang, source). Returns the packed keep set
    * (read back from the sink), one row per surviving document with its
    * split and pack assignment. */
  def run(spark: SparkSession, docs: DataFrame,
          langs: Seq[String] = Seq("en", "de", "es", "fr", "zh"),
          minQualityPpm: Long = 400000L, minAlphaPpm: Long = 500000L,
          minTokens: Long = 5L,
          evalDocs: Option[DataFrame] = None, decontamMinHits: Long = 1L,
          trainUpper256: Int = 236, valUpper256: Int = 246,
          packBudget: Int = 1024, packShards: Int = 32,
          stripSpanTokens: Int = 0, stripSpanStride: Int = 0): DataFrame = {
    // Folded into every lineage row: resume refuses (loudly) to reuse a
    // checkpoint computed under different thresholds/langs/budgets.
    stageParams = paramsHash(langs.mkString(","), minQualityPpm, minAlphaPpm,
      minTokens, evalDocs.isDefined, decontamMinHits, trainUpper256,
      valUpper256, packBudget, packShards, seed, stripSpanTokens, stripSpanStride)

    // Write amplification is the 100 TB design constraint here: the corpus
    // TEXT is checkpointed exactly TWICE (c0 ingest-normalized, c5 redacted
    // — the product). Every stage between is a DECISION: a compact doc_id
    // keep-set, checkpointed with lineage like any stage (the funnel), and
    // applied to the c0 text by semi-join. The keep-sets are id columns —
    // they broadcast at sandbox scale and co-partition cheaply on a cluster
    // (ids move, text never does).

    // c0: ingest + content hash (the identity every later stage keys on)
    val s0 = stage(spark, "c0_ingest", ingest(docs))

    // c1: quality decision (carries the sha later stages key on — never text)
    val s1 = stage(spark, "c1_quality",
      qualityKeep(s0, langs, minQualityPpm, minAlphaPpm, minTokens))

    // c2: exact dedup
    val s2 = stage(spark, "c2_exact_dedup", exactDedupKeep(s1))

    // c2s (optional): substring-level dedup — recurring long token spans
    // (boilerplate paragraphs, license blobs, quoted passages) across
    // otherwise-distinct documents keep only their FIRST occurrence. Two
    // stages: the per-byte span HASHES (composable in delta mode) and the
    // corpus-global keep/strip decision over them. The text is never
    // rewritten to storage here — every downstream text consumer applies the
    // compact strips in-row, so write amplification stays at exactly two
    // text copies (c0 + c5).
    val spanStrips: Option[DataFrame] =
      if (stripSpanTokens <= 0) None
      else {
        val stride = if (stripSpanStride > 0) stripSpanStride else stripSpanTokens
        val hashes = stage(spark, "c2s_span_hashes",
          Dedup.spanHashes(
            s0.select(col("doc_id"), col("text")).join(s2, Seq("doc_id"), "left_semi"),
            stripSpanTokens, stride))
        Some(stage(spark, "c2s_span_strips",
          Dedup.spanDecisionsFromHashes(hashes, stripSpanTokens)
            .filter(col("keep") === 0)
            .select(col("doc_id"), col("span_start"), col("span_len"))))
      }

    // the surviving text stream for the content-based stages below: c0 text
    // filtered by the current keep-set (text stays on the scan side), with
    // the span strips (if any) applied in-row
    def surviving(keep: DataFrame): DataFrame = {
      val base = s0.select(col("doc_id"), col("text")).join(keep, Seq("doc_id"), "left_semi")
      spanStrips.map(Dedup.stripSpans(base, _)).getOrElse(base)
    }

    // c3: near-dup cluster collapse — banded MinHash-LSH signatures (the
    // per-byte half, staged: a resume and the next delta run read them) →
    // guarded band pairing → connected components → keep only each
    // cluster's representative (pairwise dropping cannot dedup an N-way
    // duplicate group).
    val sigs = stage(spark, "c3_minhash_sigs", Dedup.bandSignaturesFor(surviving(s2)))
    val s3 = nearDupKeep(spark, s2, sigs)

    // c4: benchmark decontamination (skipped when no eval set is supplied);
    // the COMPLETE per-doc hit table is its own stage — the per-byte half —
    // and the keep decision derives from it
    val s4 = evalDocs match {
      case Some(ev) =>
        val hits = stage(spark, "c4_hits", contaminationHits(surviving(s3), ev))
        stage(spark, "c4_decontaminated",
          s3.join(hits.filter(col("n_hits") >= decontamMinHits).select(col("doc_id")),
                  Seq("doc_id"), "left_anti"))
      case None => s3
    }

    // c5: PII/secret redaction applied to the final keep-set — the SECOND
    // and last full-text write (the product); span strips (if any) applied
    // in-row before redaction so the product text is the deduplicated text
    val s5input0 = s0.join(s4, Seq("doc_id"), "left_semi")
    val s5input = spanStrips.map(Dedup.stripSpans(s5input0, _)).getOrElse(s5input0)
    val s5 = stage(spark, "c5_redacted", redactRows(s5input))

    // c6: split + pack over compact rows (toks from the product text)
    packStage(spark, s5.select(col("doc_id"), col("lang"), col("source"), toksOf.as("toks")),
              trainUpper256, valUpper256, packBudget, packShards)
  }

  /** Incremental (delta) run against a previous run's checkpoints (`prevIo`):
    * change detection on (doc_id, sha256); per-byte stage rows recompute for
    * changed/new/newly-surviving docs only and compose with the previous
    * run's rows for everything else; corpus-global stages recompute over the
    * composed compact tables, so the output is EXACTLY what a full run on
    * the current corpus emits (CurationDeltaSpec golden test). The composed
    * canonical stage tables are checkpointed, so this run's dir is itself a
    * valid `prevIo` — delta runs chain day over day; a zero-churn day
    * recomputes nothing per-byte.
    *
    * With `stripSpanTokens` on, span hashes compose per-doc and the
    * keep/strip decision recomputes globally; docs whose STRIP SET changed
    * (a deleted first occurrence promotes a recurrence elsewhere) count as
    * changed for every downstream text stage — their effective text changed.
    *
    * Requirements on the base run: same parameters. Any completed [[run]]
    * or delta run is a valid base: both stage the signature table
    * (`c3_minhash_sigs`), the composition base of c3. On parquet the
    * composed stages rewrite survivor rows (measured slower than full at
    * sandbox scale, like the KG delta); on Iceberg those composed commits
    * are metadata-only and only churn-sized data moves. */
  def runDelta(spark: SparkSession, cur: DataFrame, prevIo: TableIO,
               langs: Seq[String] = Seq("en", "de", "es", "fr", "zh"),
               minQualityPpm: Long = 400000L, minAlphaPpm: Long = 500000L,
               minTokens: Long = 5L,
               evalDocs: Option[DataFrame] = None, decontamMinHits: Long = 1L,
               trainUpper256: Int = 236, valUpper256: Int = 246,
               packBudget: Int = 1024, packShards: Int = 32,
               stripSpanTokens: Int = 0, stripSpanStride: Int = 0,
               churnKeys: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    stageParams = paramsHash(langs.mkString(","), minQualityPpm, minAlphaPpm,
      minTokens, evalDocs.isDefined, decontamMinHits, trainUpper256,
      valUpper256, packBudget, packShards, seed, stripSpanTokens,
      stripSpanStride, "delta")
    (io, prevIo) match {
      case (a: ParquetTableIO, b: ParquetTableIO) =>
        require(a.root != b.root,
          s"delta run must write to a different checkpoint dir than prevIo (${a.root})")
      case _ => require(io ne prevIo, "delta run must not write into prevIo")
    }
    require(prevIo.exists(spark, "c3_minhash_sigs"),
      "delta needs the previous run's c3_minhash_sigs table (every run and delta run writes it)")

    // d0: change detection — one content-hash pass over the current corpus
    // (on Iceberg the changed/stale key sets come from snapshot-diff
    // metadata instead of a scan). The churn key sets are checkpointed:
    // tiny, consumed by every composed stage, and their lineage rows make
    // the run's churn auditable.
    val curIngested = ingest(cur)
    val prevC0 = prevIo.read(spark, "c0_ingest")
    val curShas = stage(spark, "d0_cur_shas",
      curIngested.select(col("doc_id"), col("sha256")))
    val prevShas = prevC0.select(col("doc_id"), col("sha256"))
    // churnKeys = (appended ids, deleted ids) from table metadata (snapshot
    // CDC — runDeltaFromSnapshots) replaces the corpus-wide sha diff:
    //   changed := appended ∩ current   (an append later deleted is not cur)
    //   stale   := (appended ∪ deleted) ∩ prev
    // Safe supersets of the sha-diff sets: a same-content rewrite lands in
    // both (recompute = identical rows, output unchanged), and every stale
    // id not in changed is genuinely gone from the corpus — the composition
    // invariant (stale ∖ changed ⊆ deleted) that the golden test pins.
    val (changedKeys, staleKeys) = churnKeys match {
      case Some((appended, deleted)) =>
        (stage(spark, "d0_changed_keys",
           appended.select(col("doc_id")).distinct()
             .join(curShas, Seq("doc_id"), "left_semi")),
         stage(spark, "d0_stale_keys",
           appended.select(col("doc_id")).unionByName(deleted.select(col("doc_id")))
             .distinct().join(prevShas, Seq("doc_id"), "left_semi")))
      case None =>
        (stage(spark, "d0_changed_keys",
           curShas.join(prevShas, Seq("doc_id", "sha256"), "left_anti").select(col("doc_id"))),
         stage(spark, "d0_stale_keys",
           prevShas.join(curShas, Seq("doc_id", "sha256"), "left_anti").select(col("doc_id"))))
    }

    // c0 composed: unchanged rows from prev, changed/new rows re-ingested —
    // unchanged text never re-hashes (and on Iceberg never moves)
    val s0 = stage(spark, "c0_ingest",
      prevC0.join(staleKeys, Seq("doc_id"), "left_anti")
        .unionByName(curIngested.join(changedKeys, Seq("doc_id"), "left_semi")))

    // c1 composed: quality is pure per-doc content → prev decisions stand
    // for unchanged docs (stale removes deleted + modified-old rows)
    val s1 = stage(spark, "c1_quality",
      prevIo.read(spark, "c1_quality").join(staleKeys, Seq("doc_id"), "left_anti")
        .unionByName(qualityKeep(
          s0.join(changedKeys, Seq("doc_id"), "left_semi"),
          langs, minQualityPpm, minAlphaPpm, minTokens)))

    // c2: global over compact (doc_id, sha) rows — a deleted representative
    // promotes its smallest surviving duplicate automatically
    val s2 = stage(spark, "c2_exact_dedup", exactDedupKeep(s1))

    /** Compose a per-doc-keyed stage: previous rows stand for every doc that
      * is (a) still in `currentKeys`, (b) not invalidated; docs in
      * `currentKeys` with no surviving row (changed, new, newly-surviving at
      * this stage) recompute via `fresh`. */
    def composePerDoc(prev: DataFrame, invalid: DataFrame, currentKeys: DataFrame,
                      fresh: DataFrame => DataFrame): DataFrame = {
      val reusable = prev.join(invalid, Seq("doc_id"), "left_anti")
        .join(currentKeys, Seq("doc_id"), "left_semi")
      val missing = currentKeys
        .join(reusable.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      reusable.unionByName(fresh(missing))
    }

    // c2s composed: span hashes are per-byte (compose), the keep/strip
    // decision is compact-global (recompute); docs whose strip set CHANGED
    // vs the previous run effectively changed content for later stages
    val (spanStrips, stripAffected): (Option[DataFrame], DataFrame) =
      if (stripSpanTokens <= 0) (None, changedKeys.limit(0))
      else {
        val stride = if (stripSpanStride > 0) stripSpanStride else stripSpanTokens
        require(prevIo.exists(spark, "c2s_span_hashes"),
          "delta with stripSpanTokens needs the previous run's c2s_span_hashes " +
          "(base run must use the same stripSpanTokens)")
        val hashes = stage(spark, "c2s_span_hashes",
          composePerDoc(prevIo.read(spark, "c2s_span_hashes"), staleKeys, s2,
            missing => Dedup.spanHashes(
              s0.select(col("doc_id"), col("text"))
                .join(missing, Seq("doc_id"), "left_semi"),
              stripSpanTokens, stride)))
        val strips = stage(spark, "c2s_span_strips",
          Dedup.spanDecisionsFromHashes(hashes, stripSpanTokens)
            .filter(col("keep") === 0)
            .select(col("doc_id"), col("span_start"), col("span_len")))
        val prevStrips = prevIo.read(spark, "c2s_span_strips")
        val affected = stage(spark, "d0_strip_affected",
          strips.except(prevStrips).select(col("doc_id"))
            .union(prevStrips.except(strips).select(col("doc_id")))
            .distinct())
        (Some(strips), affected)
      }
    // invalidated for every downstream text-derived stage: gone/changed
    // content OR changed strip set
    val invalid = staleKeys.unionByName(stripAffected).distinct()

    def textOf(keep: DataFrame): DataFrame = {
      val base = s0.select(col("doc_id"), col("text")).join(keep, Seq("doc_id"), "left_semi")
      spanStrips.map(Dedup.stripSpans(base, _)).getOrElse(base)
    }

    // c3: signatures compose per-doc; band pairing + CC recompute globally
    // over the composed compact signature table. (Docs too short to shingle
    // have no signature rows and land in the recompute set every run — a
    // handful of tiny texts, harmless.)
    val sigs = stage(spark, "c3_minhash_sigs",
      composePerDoc(prevIo.read(spark, "c3_minhash_sigs"), invalid, s2,
        missing => Dedup.bandSignaturesFor(textOf(missing))))
    val s3 = nearDupKeep(spark, s2, sigs)

    // c4 composed: contamination is per-doc vs the (assumed-unchanged) eval
    // set — the complete hit rows compose; the keep decision re-derives
    val s4 = evalDocs match {
      case Some(ev) =>
        require(prevIo.exists(spark, "c4_hits"),
          "delta with an eval set needs the previous run's c4_hits table")
        val hits = stage(spark, "c4_hits",
          composePerDoc(prevIo.read(spark, "c4_hits"), invalid, s3,
            missing => contaminationHits(textOf(missing), ev)))
        stage(spark, "c4_decontaminated",
          s3.join(hits.filter(col("n_hits") >= decontamMinHits).select(col("doc_id")),
                  Seq("doc_id"), "left_anti"))
      case None => s3
    }

    // c5 composed: redaction is per-doc and deterministic — previous product
    // rows stand verbatim for unchanged docs
    val s5 = stage(spark, "c5_redacted",
      composePerDoc(prevIo.read(spark, "c5_redacted"), invalid, s4,
        missing => redactRows(
          (spanStrips match {
            case Some(st) => Dedup.stripSpans(s0.join(missing, Seq("doc_id"), "left_semi"), st)
            case None => s0.join(missing, Seq("doc_id"), "left_semi")
          }))))

    // c6: token counts compose per-doc (they derive from the product text);
    // split + pack recompute globally over the compact rows
    val prevToks = prevIo.read(spark, "c6_packed").select(col("doc_id"), col("toks"))
    val toks = composePerDoc(prevToks, invalid, s5.select(col("doc_id")),
      missing => s5.join(missing, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), toksOf.as("toks")))
    packStage(spark,
      s5.select(col("doc_id"), col("lang"), col("source")).join(toks, Seq("doc_id")),
      trainUpper256, valUpper256, packBudget, packShards)
  }

  /** Delta run over a corpus that LIVES in a [[graft.io.SnapshotTable]]
    * maintained by upsert commits (deleteWhereKeys-then-append for
    * modifications, append for adds, deleteWhereKeys for removals — the
    * discipline the streaming sink and any CDC writer follow): the churn
    * key sets come from SNAPSHOT METADATA — S13's incremental append scan
    * plus the range's equality-delete files — instead of a sha diff of two
    * full corpus scans. This is runDelta's documented "on Iceberg the
    * changed/stale sets come from snapshot diff metadata" path, delivered:
    * d0's cost drops from O(corpus) reads on both sides to O(churn) reads
    * plus a manifest walk. `fromSeq` is the snapshot the previous run
    * processed (pass its `currentSnapshot` alongside prevIo day over day).
    * Output ≡ the sha-diff delta ≡ a full run, golden-tested in
    * CurationDeltaSpec. */
  def runDeltaFromSnapshots(spark: SparkSession, corpus: graft.io.SnapshotTable,
                            fromSeq: Long, prevIo: TableIO,
                            langs: Seq[String] = Seq("en", "de", "es", "fr", "zh"),
                            minQualityPpm: Long = 400000L, minAlphaPpm: Long = 500000L,
                            minTokens: Long = 5L,
                            evalDocs: Option[DataFrame] = None, decontamMinHits: Long = 1L,
                            trainUpper256: Int = 236, valUpper256: Int = 246,
                            packBudget: Int = 1024, packShards: Int = 32,
                            stripSpanTokens: Int = 0, stripSpanStride: Int = 0): DataFrame = {
    val head = corpus.currentSnapshot(spark).getOrElse(
      throw new IllegalStateException(s"no committed snapshot in ${corpus.location}"))
    require(head > fromSeq, s"nothing newer than snapshot $fromSeq in ${corpus.location}")
    val appended = corpus.readAppendsBetween(spark, fromSeq, head).select(col("doc_id"))
    val deleted = corpus.deletedKeysBetween(spark, fromSeq, head, Seq("doc_id"))
    runDelta(spark, corpus.read(spark), prevIo, langs, minQualityPpm, minAlphaPpm,
      minTokens, evalDocs, decontamMinHits, trainUpper256, valUpper256,
      packBudget, packShards, stripSpanTokens, stripSpanStride,
      churnKeys = Some((appended, deleted)))
  }
}

/** spark-submit entry point:
  * `graft.ops.CurationPipeline <sfDir> <ckptDir> [--resume] [--delta prevCkpt]`
  * — runs the full (or incremental) curation funnel over the `documents`
  * table, printing the per-stage funnel from the lineage table. */
object CurationPipeline {
  def main(args: Array[String]): Unit = {
    val valueFlags = Set("--delta")
    val pos = args.indices
      .filter(i => !args(i).startsWith("--") && (i == 0 || !valueFlags.contains(args(i - 1))))
      .map(args)
    val sfDir = if (pos.length > 0) pos(0) else "/root/testdata/sf0.01"
    val ckpt = if (pos.length > 1) pos(1) else "target/curation_ckpt"
    val resume = args.contains("--resume")
    def flag(name: String): Option[String] = {
      val i = args.indexOf(name); if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    val spark = graft.LocalSession.create("graft-curation")
    try {
      val docs = graft.Tables.documents(spark, sfDir)
      val pipe = new CurationPipeline(new ParquetTableIO(ckpt), s"cur-$sfDir", resume)
      // a fresh (non-resume) run into an existing ckpt dir must not APPEND a
      // second set of lineage rows under the same run_id — the funnel report
      // below would double-count every stage
      if (!resume) pipe.io.drop(spark, pipe.LineageTable)
      val t0 = System.nanoTime()
      // eval set: every 97th doc stands in for a benchmark
      val evalSet = Some(docs.filter(col("doc_id") % 97 === 0))
      val out = flag("--delta") match {
        case Some(prev) =>
          pipe.runDelta(spark, docs, new ParquetTableIO(prev), evalDocs = evalSet)
        case None =>
          pipe.run(spark, docs, evalDocs = evalSet)
      }
      val n = out.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val funnel = pipe.io.read(spark, pipe.LineageTable)
        .filter(col("run_id") === pipe.runId)
        .groupBy(col("stage")).agg(sum(col("rows_out")).as("rows"))
        .orderBy(col("stage")).collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      println(f"[curation] docs_out=$n wall=$sec%.2fs funnel: $funnel")
    } finally spark.stop()
  }
}
