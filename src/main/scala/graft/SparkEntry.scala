package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Curation, Dedup, DocOps, GraphOps, Multimodal, Packing, RelOps, Sampling, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * training-data-pipeline operator), expressed Spark-first over the driver
  * testdata; [[oracleSql]] carries the equivalent DuckDB SQL the driver runs
  * over the same parquet tables. Column names and value representations are
  * kept identical on both sides (the driver sorts columns by name and hashes
  * values).
  */
object SparkEntry {

  // S3/S4 scan fixtures (gold parquet + csv, kb-context parquet) are
  // materialized once per JVM by graft.Fixtures — outside any timed query —
  // then READ FROM STORAGE by both engines.

  /** Flagship: the KG pipeline end-to-end on a small synthetic corpus
    * (extract → link → score → vote → triples); driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("kg_pipeline_synthetic")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 scans / §2.2 filters
    "s1_corpus_scan" -> DocOps.s1CorpusScan _,
    "f1_filter"      -> DocOps.f1Filter _,
    "f3_sha256"      -> DocOps.f3Sha256 _,
    // §2.3 extraction
    "e1_word_positions" -> DocOps.e1WordPositions _,
    "e2_identifiers"    -> DocOps.e2Identifiers _,
    "e3_doccomments"    -> DocOps.e3DocComments _,
    "e4_imports"        -> DocOps.e4Imports _,
    "e5_normalize"      -> DocOps.e5Normalize _,
    "e6_context_window" -> DocOps.e6ContextWindow _,
    "e7_union_extractors" -> DocOps.e7Union _,
    "e8_mention_id"     -> DocOps.e8MentionId _,
    // S3/S4: KB-context + gold/reference-annotation scans — deterministic
    // fixtures materialized once (setup, not timed) then READ FROM STORAGE,
    // exactly as user-supplied tables would be; the oracle reads the very
    // same files. The CSV variant exercises the T2D/Limaye-in-the-wild path.
    "s3_kb_context_scan" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      s.read.parquet(Fixtures.KbCtxParquet)
    }),
    "s4_gold_scan" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      graft.kg.Eval.goldFromParquet(s, Fixtures.GoldParquet)
    }),
    "s4_gold_scan_csv" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      graft.kg.Eval.goldFromPath(s, Fixtures.GoldCsv)
    }),
    // S10–S12: the snapshot table format (io.SnapshotTable — the Iceberg
    // semantics the north rule names, sandbox-implemented). The fixture
    // composes 4 commits (overwrite, append, equality-delete, re-append);
    // the oracle states the composition's SEMANTICS in SQL over the plain
    // source parquet — merge-on-read, the delete sequence rule, and time
    // travel are engine-checked row for row.
    "s10_snapshot_read" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.snapTable.read(s).select("doc_id", "lang", "toks")
    }),
    "s11_snapshot_time_travel" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.snapTable.readAt(s, 2L).select("doc_id", "lang", "toks")
    }),
    "s12_snapshot_pruned_read" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      // stats-pruned scan: files outside [500, 899] are never opened
      // (prune bite is asserted in SnapshotTableSpec; parity here)
      Fixtures.snapTable.readRange(s, "doc_id", Some(500L), Some(899L))
        .df.select("doc_id", "lang", "toks")
    }),
    // S13: incremental append scan (Iceberg's incremental read — the CDC
    // feed): rows whose data files committed in (snapshot 1, snapshot 4] =
    // the seq-2 odds append + the seq-4 re-append; the seq-3 equality
    // delete is NOT applied (append scan surfaces inserts only).
    "s13_snapshot_incremental_scan" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.snapTable.readAppendsBetween(s, 1L, 4L)
        .select("doc_id", "lang", "toks")
    }),
    // S14: z-order-clustered scan — ZORDER BY (doc_id, toks) keeps per-file
    // stats tight on BOTH dimensions; this range-scans `toks`, the
    // NON-PREFIX dimension a linear sort cannot prune (bite asserted in
    // SnapshotTableSpec; row-level parity checked here).
    "s14_snapshot_zorder_scan" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.zorderTable.readRange(s, "toks", Some(100L), Some(299L))
        .df.select("doc_id", "lang", "toks")
    }),
    // S15: schema evolution — commit 1 lacks `toks`; commit 2 introduces it
    // and the table schema evolves by union: old files read toks as NULL,
    // exactly what the oracle's CAST(NULL AS BIGINT) branch states.
    "s15_snapshot_schema_evolution" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.schemaEvoTable.read(s).select("doc_id", "lang", "toks")
    }),
    // S16: Catalyst-integrated file skipping — the same filtered read as S12
    // but through the SnapshotFileIndex relation: a plain .filter prunes
    // data files inside Spark's scan planning (Delta/Iceberg shape; the
    // prune bite + plan determinism are asserted in SnapshotFileIndexSpec,
    // row-level parity is checked here).
    "s16_indexed_scan" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.snapTable.readIndexed(s).df
        .filter(col("doc_id").between(500, 899))
        .select("doc_id", "lang", "toks")
    }),
    // S17: row-level MERGE/upsert — ONE commit staged an equality delete of
    // the incoming keys plus the data append at the same sequence; the
    // oracle states the merged result (updated %7 toks, inserted new keys).
    "s17_snapshot_upsert" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.upsertTable.read(s).select("doc_id", "lang", "toks")
    }),
    // S18: position deletes — an arbitrary-predicate delete names victims by
    // (file, row ordinal); the later re-append of rows MATCHING the same
    // predicate survives because position deletes are file-scoped.
    "s18_snapshot_posdelete" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.posDelTable.read(s).select("doc_id", "lang", "toks")
    }),
    // S19: rollback — the %3 equality delete is undone by the metadata-only
    // restore of snapshot 2, and a post-rollback append chains on top.
    "s19_snapshot_rollback" -> ((s: SparkSession, dir: String) => {
      Fixtures.ensure(s)
      Fixtures.rollbackTable.read(s).select("doc_id", "lang", "toks")
    }),
    // §2.1 KB scan / §2.4 joins
    "s2_kb_dictionary"   -> RelOps.s2Kb _,
    "j1_candidates"      -> RelOps.j1Candidates _,
    "j2_salted_candidates" -> RelOps.j2SaltedCandidates _,
    "j3_nil_mentions"    -> RelOps.j3NilMentions _,
    "j4_docs_with_candidates" -> RelOps.j4DocsWithCandidates _,
    "j5_cosine_score"    -> RelOps.j5CosineScore _,
    "j6_eval_pr"         -> RelOps.j6Eval _,
    "j7_sha_check"       -> RelOps.j7ShaCheck _,
    "j8_range_join"      -> RelOps.j8RangeJoin _,
    "j9_asof_join"       -> RelOps.j9AsofJoin _,
    // §2.5 aggregations
    "a1_tf"              -> RelOps.a1Tf _,
    "a2_idf"             -> RelOps.a2Idf _,
    "a3_norms"           -> RelOps.a3Norms _,
    "a4_cosine_query"    -> RelOps.a4CosineQuery _,
    "a5_majority_vote"   -> RelOps.a5MajorityVote _,
    "a6_hot_keys"        -> RelOps.a6HotKeys _,
    "a7_lineage_rollup"  -> RelOps.a7LineageRollup _,
    "a8_distinct"        -> RelOps.a8Distinct _,
    "a9_counters"        -> RelOps.a9Counters _,
    "a10_rollup"         -> RelOps.a10Rollup _,
    "a11_cube"           -> RelOps.a11Cube _,
    "a12_pivot"          -> RelOps.a12Pivot _,
    // §2.6 windows, §2.7 sort/limit, §2.8 set ops
    "w1_top1_candidate"  -> RelOps.w1Top1 _,
    "w2_moving_sum"      -> RelOps.w2MovingSum _,
    "w4_sessionize"      -> RelOps.w4Sessionize _,
    "w3_rank_prior"      -> RelOps.w3RankPrior _,
    "u2_except_resume"   -> RelOps.u2ExceptResume _,
    "u3_sha_except"      -> RelOps.u3ShaExcept _,
    "u4_intersect"       -> RelOps.u4Intersect _,
    "o3_global_topk"     -> RelOps.o3GlobalTopK _,
    "q3_join_agg"        -> RelOps.q3JoinAgg _,
    // training-data pipeline: deduplication
    "dedup_exact"        -> Dedup.exact _,
    "dedup_minhash_sig"  -> Dedup.minhashSignatures _,
    "dedup_minhash_pairs" -> Dedup.minhashPairs _,
    "dedup_simhash"      -> Dedup.simhash _,
    "dedup_ngram_jaccard" -> Dedup.ngramJaccard _,
    "dedup_clusters"     -> Dedup.clusters _,
    "dedup_spans"        -> Dedup.spans _,
    "dedup_embcos_pairs" -> Similarity.embeddingCosinePairs _,
    // incremental (delta) ingest: sha-based change detection over a
    // deterministic in-query v2 corpus (kg.Delta — the pipeline-level
    // delta composition is golden-tested against a full run in DeltaSpec)
    "delta_changed_docs" -> graft.kg.Delta.changedDocs _,
    "delta_stale_docs"   -> graft.kg.Delta.staleDocs _,
    // similarity search
    "sim_brute_topk"     -> ((s: SparkSession, dir: String) => Similarity.bruteForceTopK(s, dir)),
    "sim_lsh_buckets"    -> Similarity.lshBuckets _,
    "sim_lsh_topk"       -> ((s: SparkSession, dir: String) => Similarity.lshTopK(s, dir)),
    "sim_lsh_multiprobe_topk" -> ((s: SparkSession, dir: String) => Similarity.lshMultiProbeTopK(s, dir)),
    "sim_ivf_topk"       -> ((s: SparkSession, dir: String) => Similarity.ivfTopK(s, dir)),
    "sim_pq_topk"        -> ((s: SparkSession, dir: String) => Similarity.pqTopK(s, dir)),
    "sim_ivfpq_topk"     -> ((s: SparkSession, dir: String) => Similarity.ivfpqTopK(s, dir)),
    // text analysis
    "text_langid"        -> TextAnalysis.langId _,
    "text_quality"       -> TextAnalysis.quality _,
    "text_tokens"        -> TextAnalysis.tokenCounts _,
    "text_fingerprint"   -> TextAnalysis.fingerprint _,
    "text_token_hist"    -> TextAnalysis.tokenHistogram _,
    "text_repetition"    -> TextAnalysis.repetition _,
    "text_lm_score"      -> TextAnalysis.lmScore _,
    "text_length_quantiles" -> TextAnalysis.lengthQuantiles _,
    // no oracle by contract (sketch internals differ across engines —
    // rows-only driver check); bounded by the exact operator in GraphLmSpec
    "text_length_quantiles_approx" -> TextAnalysis.lengthQuantilesApprox _,
    // graph analytics over materialized triples (G1–G4): degree profile,
    // fixed-point PageRank, 2-hop reachability, co-occurrence PMI
    "kg_degree"          -> GraphOps.degree _,
    "kg_pagerank"        -> ((s: SparkSession, dir: String) => GraphOps.pagerank(s, dir)),
    "kg_two_hop"         -> GraphOps.twoHop _,
    "kg_components"      -> GraphOps.components _,
    "kg_pmi"             -> GraphOps.pmi _,
    // G6/G7: per-node triangle counts (wedge-closure enumeration, a<b<c)
    // and bounded-hop BFS shortest paths from the region seeds
    "kg_triangles"       -> GraphOps.triangles _,
    "kg_shortest_path"   -> ((s: SparkSession, dir: String) => GraphOps.shortestPaths(s, dir)),
    // deterministic sampling (hash-keyed, reproducible on any cluster size)
    "sample_hash"        -> Sampling.hashSample _,
    "sample_stratified"  -> Sampling.stratifiedSample _,
    "sample_uniform_k"   -> Sampling.uniformKSample _,
    "sample_mix"         -> Sampling.weightedMix _,
    "sample_split"       -> Sampling.trainValTestSplit _,
    "pack_sequences"     -> Packing.packDocuments _,
    "pack_chunks"        -> Packing.packChunks _,
    // BPE tokenizer training (Sennrich 2016, distributed): the corpus is
    // touched once (word counts); merge rounds run over the Zipf-bounded
    // vocabulary. pair_counts is the oracled distributed core; the merge
    // loop + segmentation are data-dependent (rows-only here) and pinned
    // against an independent reference implementation in BpeSpec.
    "bpe_pair_counts"    -> Bpe.pairCountsQuery _,
    "bpe_merges"         -> ((s: SparkSession, dir: String) => Bpe.mergesQuery(s, dir)),
    "bpe_encode"         -> ((s: SparkSession, dir: String) => Bpe.encodeQuery(s, dir)),
    // corpus curation: decontamination, redaction, license detection
    "cur_decontaminate"  -> Curation.decontaminateDocs _,
    "cur_redact"         -> Curation.redactDocs _,
    "cur_license"        -> Curation.licenseDocs _,
    // multimodal plumbing (decode step stubbed — see Multimodal scaladoc)
    "mm_binary_meta"     -> Multimodal.binaryMeta _,
    "mm_decode_stub"     -> ((s: SparkSession, dir: String) =>
      Multimodal.fakeDecode(Multimodal.binaryMeta(s, dir))),
    "mm_resize_meta"     -> ((s: SparkSession, dir: String) =>
      Multimodal.resizeMeta(Multimodal.binaryMeta(s, dir))),
    "mm_frame_sample"    -> ((s: SparkSession, dir: String) =>
      Multimodal.frameSample(Multimodal.binaryMeta(s, dir))),
    // streaming-shape windowed aggregation (batch form; the streaming form
    // with watermark is graft.streaming.StreamingPipeline.eventWindowCounts)
    "stream_window_agg" -> ((s: SparkSession, dir: String) =>
      graft.streaming.StreamingPipeline
        .eventWindowCounts(Tables.events(s, dir), watermark = false)
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
                col("event_type"), col("n"), col("total_value"))),
    // the KG pipeline itself over the synthetic corpus (rows-only check;
    // its oracle is the independent single-threaded one in the test suite)
    "kg_pipeline_synthetic" -> ((s: SparkSession, dir: String) => {
      val src = graft.kg.CorpusGen.srcFiles(s, 300).toDF()
      val perLine = graft.kg.Extract.perLine(src)
      val mentions = graft.kg.Extract.mentionsFromLines(perLine)
      val dict = graft.kg.Candidates.dictionary(graft.kg.CorpusGen.kbEntries(s).toDF())
      val cands = graft.kg.Candidates.candidates(mentions, dict, broadcastDict = true)
      val top1 = graft.kg.Scoring.top1(graft.kg.Scoring.score(
        cands, graft.kg.Extract.contexts(perLine), graft.kg.CorpusGen.kbContexts(s).toDF()))
      graft.kg.Canonicalize.triples(graft.kg.Canonicalize.canonicalMentions(mentions, top1))
    }),
    // classic agg baseline
    "q1_agg" -> ((s: SparkSession, dir: String) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"),
             count(lit(1)).as("cnt"))),
  )

  private val C = DocOps.SrcFilesCte
  /** Shared line-exploded view of the stored src-corpus fixture (real
    * comment/import lines; the production-extractor parity queries E3/E4/E7
    * and their oracles both read these files). */
  private val FixLines =
    s"""fsrc AS (SELECT repo, path, lang, content FROM read_parquet('${Fixtures.SrcCorpusParquet}/*.parquet')),
       |flines AS (SELECT repo, path, lang,
       |             CAST(unnest(range(len(string_split(content, chr(10))))) AS INT) AS line_no,
       |             unnest(string_split(content, chr(10))) AS line
       |           FROM fsrc)""".stripMargin
  private val KeywordsSql = graft.kg.Extract.Keywords.map(k => s"'$k'").mkString(",")
  /** The three production extractor grammars in SQL (mirroring kg.Extract:
    * comment gate wins over import; idents only from code lines, minus the
    * keyword stoplist; per-lang import target, last path segment). */
  private val FixExtractors =
    s"""cm AS (SELECT repo, path, line_no, line FROM flines WHERE regexp_matches(line, '^\\s*(//|#)')),
       |dcm AS (SELECT DISTINCT repo, path, line_no,
       |          unnest(regexp_extract_all(line, '[A-Z][a-z0-9]*(?:[A-Z][A-Za-z0-9]*)+')) AS surface
       |        FROM cm),
       |codeln AS (SELECT repo, path, line_no, line FROM flines
       |           WHERE NOT regexp_matches(line, '^\\s*(//|#)')
       |             AND NOT regexp_matches(line, '^\\s*(import|from)\\s|require\\(')),
       |idn0 AS (SELECT repo, path, line_no,
       |           unnest(regexp_extract_all(line, '[A-Za-z_][A-Za-z0-9_]{2,}')) AS surface
       |         FROM codeln),
       |idn AS (SELECT DISTINCT repo, path, line_no, surface FROM idn0
       |        WHERE surface NOT IN ($KeywordsSql)),
       |iml AS (SELECT repo, path, lang, line_no, line FROM flines
       |        WHERE regexp_matches(line, '^\\s*(import|from)\\s|require\\(')
       |          AND NOT regexp_matches(line, '^\\s*(//|#)')),
       |imt AS (SELECT repo, path, line_no,
       |          CASE WHEN lang IN ('scala','java') THEN regexp_extract(line, '^\\s*import\\s+([A-Za-z0-9_.]+)', 1)
       |               WHEN lang = 'python' THEN regexp_extract(line, '^\\s*from\\s+[A-Za-z0-9_.]+\\s+import\\s+([A-Za-z0-9_.]+)', 1)
       |               ELSE regexp_extract(line, 'require\\(''kb/([A-Za-z0-9_./]+)''\\)', 1) END AS target
       |        FROM iml),
       |imp AS (SELECT repo, path, line_no, regexp_extract(target, '([A-Za-z0-9_]+)$$', 1) AS surface
       |        FROM imt)""".stripMargin
  private val T = RelOps.TermsCte
  private val M = RelOps.MentionsCte
  private val K = RelOps.KbCte
  /** Shared 3-word-shingle CTE chain (documents as the corpus). */
  private val Shingles =
    """parts AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
      |wpos AS (SELECT doc_id, pos, word FROM (SELECT doc_id, CAST(unnest(range(len(p))) AS INT) AS pos, unnest(p) AS word FROM parts) WHERE length(word) > 0),
      |shv AS (SELECT doc_id, shingle FROM (
      |  SELECT doc_id, word || ' ' || lead(word,1) OVER win || ' ' || lead(word,2) OVER win AS shingle
      |  FROM wpos WINDOW win AS (PARTITION BY doc_id ORDER BY pos)) WHERE shingle IS NOT NULL)""".stripMargin
  /** Shared KG edge-table CTE — mirrors [[graft.ops.GraphOps.edges]]:
    * order-[placed_by]->cust-[located_in]->nation-[part_of]->region plus
    * supp-[located_in]->nation, namespaced string node ids. */
  private val Edges =
    """edges AS (
      |  SELECT 'nation:' || CAST(n_nationkey AS VARCHAR) AS src, 'part_of' AS pred,
      |         'region:' || CAST(n_regionkey AS VARCHAR) AS dst FROM nation
      |  UNION ALL SELECT 'cust:' || CAST(c_custkey AS VARCHAR), 'located_in',
      |         'nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
      |  UNION ALL SELECT 'supp:' || CAST(s_suppkey AS VARCHAR), 'located_in',
      |         'nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
      |  UNION ALL SELECT 'order:' || CAST(o_orderkey AS VARCHAR), 'placed_by',
      |         'cust:' || CAST(o_custkey AS VARCHAR) FROM orders)""".stripMargin
  /** Shared relational embedding CTE (vec exploded to (vec_id, pos, x)). */
  private val EmbEx =
    """ex AS (SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS pos, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x*x)) AS n FROM ex GROUP BY vec_id)""".stripMargin
  /** Shared trained-IVF CTE chain (2 unrolled Lloyd rounds over 16 seeded
    * cells, queries = vec_id<5, nprobe=2): yields `cells` (vector → cell)
    * and `probes` (query → probed cells). Mirrors kmeansCentroidsFor /
    * assignCells; shared by sim_ivf_topk and sim_ivfpq_topk. */
  private val IvfChain =
    """c0 AS (SELECT vec_id AS cell, pos, x FROM ex WHERE vec_id < 16),
      |n0 AS (SELECT cell, sqrt(sum(x*x)) AS cn FROM c0 GROUP BY cell),
      |af0 AS (SELECT e.vec_id, c.cell, round(sum(e.x * c.x) / (n.n * cn.cn), 9) AS aff
      |        FROM ex e JOIN c0 c ON e.pos = c.pos
      |        JOIN norms n ON e.vec_id = n.vec_id JOIN n0 cn ON c.cell = cn.cell
      |        GROUP BY e.vec_id, c.cell, n.n, cn.cn),
      |as0 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rn FROM af0)
      |        WHERE rn = 1),
      |c1 AS (SELECT a.cell, e.pos, round(avg(e.x), 6) AS x FROM as0 a JOIN ex e ON a.vec_id = e.vec_id GROUP BY a.cell, e.pos),
      |n1 AS (SELECT cell, sqrt(sum(x*x)) AS cn FROM c1 GROUP BY cell),
      |af1 AS (SELECT e.vec_id, c.cell, round(sum(e.x * c.x) / (n.n * cn.cn), 9) AS aff
      |        FROM ex e JOIN c1 c ON e.pos = c.pos
      |        JOIN norms n ON e.vec_id = n.vec_id JOIN n1 cn ON c.cell = cn.cell
      |        GROUP BY e.vec_id, c.cell, n.n, cn.cn),
      |as1 AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rn FROM af1)
      |        WHERE rn = 1),
      |c2 AS (SELECT a.cell, e.pos, round(avg(e.x), 6) AS x FROM as1 a JOIN ex e ON a.vec_id = e.vec_id GROUP BY a.cell, e.pos),
      |n2 AS (SELECT cell, sqrt(sum(x*x)) AS cn FROM c2 GROUP BY cell),
      |aff AS (SELECT e.vec_id, c.cell, round(sum(e.x * c.x) / (n.n * cn.cn), 9) AS aff
      |        FROM ex e JOIN c2 c ON e.pos = c.pos
      |        JOIN norms n ON e.vec_id = n.vec_id JOIN n2 cn ON c.cell = cn.cell
      |        GROUP BY e.vec_id, c.cell, n.n, cn.cn),
      |cells AS (SELECT vec_id, cell FROM (
      |            SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rn FROM aff)
      |          WHERE rn = 1),
      |probes AS (SELECT vec_id AS q_id, cell FROM (
      |             SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rn FROM aff WHERE vec_id < 5)
      |           WHERE rn <= 2)""".stripMargin

  /** Shared tf-idf CTE chain (documents as the corpus). */
  private val TfIdf =
    s"""$T,
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
       |idf AS (SELECT term, ln(((SELECT count(*) FROM documents) + 1.0) / (count(DISTINCT doc_id) + 1)) + 1.0 AS idf FROM terms GROUP BY term),
       |tw AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS w FROM tf JOIN idf ON tf.term = idf.term)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "s1_corpus_scan" ->
      s"""WITH $C
         |SELECT repo, path, "commit", lang, CAST(length(content) AS INT) AS content_len FROM src_files""".stripMargin,
    "f1_filter" ->
      s"""WITH $C
         |SELECT repo, path, lang, doc_id FROM src_files
         |WHERE lang IN ('en','de','fr') AND content IS NOT NULL AND length(content) < 1500""".stripMargin,
    "f3_sha256" ->
      s"""WITH $C
         |SELECT doc_id, sha256(content) AS sha FROM src_files""".stripMargin,
    "e1_word_positions" ->
      s"""WITH $C,
         |parts AS (SELECT doc_id, string_split(content, ' ') AS p FROM src_files),
         |ex AS (SELECT doc_id, CAST(unnest(range(len(p))) AS INT) AS pos, unnest(p) AS word FROM parts)
         |SELECT doc_id, pos, word FROM ex WHERE length(word) > 0""".stripMargin,
    "e2_identifiers" ->
      s"""WITH $C,
         |ex AS (SELECT doc_id, repo, path, unnest(regexp_extract_all(lower(content), '[a-z_][a-z0-9_]{2,}')) AS surface FROM src_files)
         |SELECT doc_id, repo, path, surface FROM ex WHERE surface NOT IN ('the','and','for','not')""".stripMargin,
    "e3_doccomments" ->
      s"""WITH $FixLines,
         |$FixExtractors
         |SELECT repo, path, line_no, surface FROM dcm""".stripMargin,
    "e4_imports" ->
      s"""WITH $FixLines,
         |$FixExtractors
         |SELECT repo, path, line_no, surface FROM imp WHERE length(surface) > 0""".stripMargin,
    "e5_normalize" ->
      s"""WITH $C,
         |ex AS (SELECT unnest(regexp_extract_all(lower(content), '[a-z_][a-z0-9_]{2,}')) AS term FROM src_files),
         |terms AS (SELECT DISTINCT term FROM ex WHERE term NOT IN ('the','and','for','not')),
         |s AS (SELECT term, 'get' || upper(substr(term,1,1)) || substr(term,2) || '_id' AS surface FROM terms)
         |SELECT term, surface,
         |  trim(regexp_replace(regexp_replace(lower(regexp_replace(surface, '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[_.]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |FROM s""".stripMargin,
    "e6_context_window" ->
      s"""WITH $C,
         |parts AS (SELECT doc_id, string_split(content, ' ') AS p FROM src_files),
         |ex AS (SELECT doc_id, CAST(unnest(range(len(p))) AS INT) AS pos, unnest(p) AS word FROM parts),
         |w AS (SELECT doc_id, pos, word FROM ex WHERE length(word) > 0)
         |SELECT doc_id, pos, word,
         |  concat_ws(' ', lag(word,2) OVER win, lag(word,1) OVER win, lead(word,1) OVER win, lead(word,2) OVER win) AS ctx
         |FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)""".stripMargin,
    "e7_union_extractors" ->
      s"""WITH $FixLines,
         |$FixExtractors
         |SELECT repo, path, line_no, 'ident' AS kind, surface FROM idn
         |UNION ALL SELECT repo, path, line_no, 'doccomment' AS kind, surface FROM dcm
         |UNION ALL SELECT repo, path, line_no, 'import' AS kind, surface FROM imp WHERE length(surface) > 0""".stripMargin,
    "e8_mention_id" ->
      s"""WITH $C,
         |parts AS (SELECT doc_id, repo, path, "commit", string_split(content, ' ') AS p FROM src_files),
         |ex AS (SELECT doc_id, repo, path, "commit", CAST(unnest(range(len(p))) AS INT) AS pos, unnest(p) AS word FROM parts),
         |f AS (SELECT * FROM ex WHERE length(word) > 0)
         |SELECT doc_id, pos, md5(repo || '|' || path || '|' || "commit" || '|' || CAST(pos AS VARCHAR) || '|' || word) AS mention_id FROM f""".stripMargin,
    "s3_kb_context_scan" ->
      s"""SELECT entity_id, term, weight
         |FROM read_parquet('${Fixtures.KbCtxParquet}/*.parquet')""".stripMargin,
    "s4_gold_scan" ->
      s"""SELECT repo, path, "commit", line, kind, surface, entity_id
         |FROM read_parquet('${Fixtures.GoldParquet}/*.parquet')""".stripMargin,
    "s4_gold_scan_csv" ->
      s"""SELECT repo, path, "commit", line, kind, surface, entity_id
         |FROM read_csv('${Fixtures.GoldCsv}/*.csv', header=true,
         |  columns={'repo':'VARCHAR','path':'VARCHAR','commit':'VARCHAR','line':'INTEGER',
         |           'kind':'VARCHAR','surface':'VARCHAR','entity_id':'BIGINT'})""".stripMargin,
    // current snapshot = everything not equality-deleted (doc_id%5==0 at
    // seqs 1-2) plus the seq-4 re-append of doc_id%10==0 (the delete at
    // seq 3 does not apply to data committed after it)
    "s10_snapshot_read" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 5 <> 0
         |UNION ALL
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 10 = 0""".stripMargin,
    // snapshot 2 = evens overwritten + odds appended = the whole source
    "s11_snapshot_time_travel" ->
      s"""SELECT doc_id, lang, toks
         |FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet')""".stripMargin,
    "s12_snapshot_pruned_read" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet')),
         |cur AS (SELECT * FROM src WHERE doc_id % 5 <> 0
         |        UNION ALL SELECT * FROM src WHERE doc_id % 10 = 0)
         |SELECT doc_id, lang, toks FROM cur WHERE doc_id BETWEEN 500 AND 899""".stripMargin,
    // appends in (1, 4] = the odds (seq 2) + the %10 re-append (seq 4);
    // the seq-3 delete does not subtract from an APPEND scan
    "s13_snapshot_incremental_scan" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 2 = 1
         |UNION ALL
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 10 = 0""".stripMargin,
    // the z-ordered table holds the whole source; a toks-range scan must be
    // row-identical to the plain filter regardless of the file clustering
    "s14_snapshot_zorder_scan" ->
      s"""SELECT doc_id, lang, toks
         |FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet')
         |WHERE toks BETWEEN 100 AND 299""".stripMargin,
    // evens committed before the column existed read NULL; odds carry it
    "s15_snapshot_schema_evolution" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang, CAST(NULL AS BIGINT) AS toks FROM src WHERE doc_id % 2 = 0
         |UNION ALL
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 2 = 1""".stripMargin,
    // same current-state semantics as s12 — the indexed scan's automatic
    // file skipping must not change a single row
    "s16_indexed_scan" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet')),
         |cur AS (SELECT * FROM src WHERE doc_id % 5 <> 0
         |        UNION ALL SELECT * FROM src WHERE doc_id % 10 = 0)
         |SELECT doc_id, lang, toks FROM cur WHERE doc_id BETWEEN 500 AND 899""".stripMargin,
    // merged state after the one-commit upsert: %7 keys carry the updated
    // toks, %13 keys were also inserted shifted by 2000 (brand-new keys)
    "s17_snapshot_upsert" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang,
         |       CASE WHEN doc_id % 7 = 0 THEN toks + 10000 ELSE toks END AS toks
         |FROM src
         |UNION ALL
         |SELECT doc_id + 2000 AS doc_id, lang, toks FROM src WHERE doc_id % 13 = 0""".stripMargin,
    // predicate-deleted rows are gone from the ORIGINAL files; the seq-3
    // re-append of %10==2 rows (all lang_2) is untouched — position deletes
    // are (file, pos) pairs, not keys
    "s18_snapshot_posdelete" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang, toks FROM src
         |WHERE NOT (lang = 'lang_2' AND toks < 500)
         |UNION ALL
         |SELECT doc_id, lang, toks FROM src WHERE doc_id % 10 = 2""".stripMargin,
    // rollbackTo(2) restored the full source (undoing the %3 delete); the
    // post-rollback append (%11 keys shifted by 2000) chains on top
    "s19_snapshot_rollback" ->
      s"""WITH src AS (SELECT doc_id, lang, toks FROM read_parquet('${Fixtures.SnapSrcParquet}/*.parquet'))
         |SELECT doc_id, lang, toks FROM src
         |UNION ALL
         |SELECT doc_id + 2000 AS doc_id, lang, toks FROM src WHERE doc_id % 11 = 0""".stripMargin,
    "s2_kb_dictionary" ->
      s"""WITH $T, $K
         |SELECT entity_id, label, prior FROM kb""".stripMargin,
    "j1_candidates" ->
      s"""WITH $T, $M, $K
         |SELECT m.doc_id, m.surface, k.entity_id FROM mentions m JOIN kb k ON m.surface = k.label""".stripMargin,
    "j2_salted_candidates" ->
      s"""WITH $T, $M, $K
         |SELECT m.doc_id, m.surface, k.entity_id FROM mentions m JOIN kb k ON m.surface = k.label""".stripMargin,
    "j3_nil_mentions" ->
      s"""WITH $T, $M, $K
         |SELECT DISTINCT surface FROM mentions WHERE surface NOT IN (SELECT label FROM kb)""".stripMargin,
    "j4_docs_with_candidates" ->
      s"""WITH $C, $T, $M, $K
         |SELECT doc_id, repo, path FROM src_files
         |WHERE doc_id IN (SELECT m.doc_id FROM mentions m JOIN kb k ON m.surface = k.label)""".stripMargin,
    "j5_cosine_score" ->
      s"""WITH $T, $K,
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
         |dwl AS (SELECT DISTINCT k.entity_id, t.doc_id FROM terms t JOIN kb k ON t.term = k.label),
         |co AS (SELECT d.entity_id, t.term, CAST(count(*) AS BIGINT) AS cnt
         |       FROM dwl d JOIN terms t ON d.doc_id = t.doc_id GROUP BY d.entity_id, t.term),
         |ctx AS (SELECT entity_id, term, CAST(cnt AS DOUBLE) AS we FROM (
         |          SELECT entity_id, term, cnt, row_number() OVER (PARTITION BY entity_id ORDER BY cnt DESC, term) AS rn FROM co)
         |        WHERE rn <= 10),
         |dv AS (SELECT doc_id, term, CAST(tf AS DOUBLE) AS wd FROM tf),
         |dn AS (SELECT doc_id, sqrt(sum(wd*wd)) AS dn FROM dv GROUP BY doc_id),
         |en AS (SELECT entity_id, sqrt(sum(we*we)) AS en FROM ctx GROUP BY entity_id),
         |dot AS (SELECT dv.doc_id, ctx.entity_id, sum(dv.wd * ctx.we) AS dot
         |        FROM dv JOIN ctx ON dv.term = ctx.term GROUP BY dv.doc_id, ctx.entity_id)
         |SELECT dot.doc_id, dot.entity_id, round(dot.dot / (dn.dn * en.en), 4) AS score
         |FROM dot JOIN dn ON dot.doc_id = dn.doc_id JOIN en ON dot.entity_id = en.entity_id""".stripMargin,
    "j6_eval_pr" ->
      s"""WITH $T, $K,
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
         |emitted AS (SELECT doc_id, entity_id FROM (
         |  SELECT tf.doc_id, k.entity_id, tf.tf, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, k.entity_id) AS rn
         |  FROM tf JOIN kb k ON tf.term = k.label) WHERE rn = 1),
         |gold AS (SELECT doc_id, entity_id FROM (
         |  SELECT tf.doc_id, k.entity_id, tf.tf, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, k.entity_id) AS rn
         |  FROM tf JOIN kb k ON tf.term = k.label WHERE k.entity_id <= 10) WHERE rn = 1),
         |j AS (SELECT e.doc_id AS ed, g.doc_id AS gd FROM emitted e FULL OUTER JOIN gold g
         |      ON e.doc_id = g.doc_id AND e.entity_id = g.entity_id)
         |SELECT CAST(sum(CASE WHEN ed IS NOT NULL AND gd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched,
         |       CAST(sum(CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS emitted_cnt,
         |       CAST(sum(CASE WHEN gd IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS gold_cnt,
         |       round(CAST(sum(CASE WHEN ed IS NOT NULL AND gd IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / sum(CASE WHEN ed IS NOT NULL THEN 1 ELSE 0 END), 6) AS precision,
         |       round(CAST(sum(CASE WHEN ed IS NOT NULL AND gd IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / sum(CASE WHEN gd IS NOT NULL THEN 1 ELSE 0 END), 6) AS recall
         |FROM j""".stripMargin,
    "j7_sha_check" ->
      s"""WITH $C
         |SELECT CAST(count(*) AS BIGINT) AS mismatches
         |FROM (SELECT doc_id, sha256(content) AS sha_a FROM src_files) a
         |JOIN (SELECT doc_id, sha256(content) AS sha_b FROM src_files) b USING (doc_id)
         |WHERE sha_a <> sha_b""".stripMargin,
    "a1_tf" ->
      s"""WITH $T
         |SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term""".stripMargin,
    "a2_idf" ->
      s"""WITH $T
         |SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
         |       round(ln(((SELECT count(*) FROM documents) + 1.0) / (count(DISTINCT doc_id) + 1)) + 1.0, 6) AS idf
         |FROM terms GROUP BY term""".stripMargin,
    "a3_norms" ->
      s"""WITH $TfIdf
         |SELECT doc_id, round(sqrt(sum(w*w)), 6) AS l2_norm FROM tw GROUP BY doc_id""".stripMargin,
    "a4_cosine_query" ->
      s"""WITH $TfIdf,
         |q AS (SELECT term, idf AS wq FROM idf WHERE term IN ('spark','join','data')),
         |qn AS (SELECT sqrt(sum(wq*wq)) AS qn FROM q),
         |dn AS (SELECT doc_id, sqrt(sum(w*w)) AS dn FROM tw GROUP BY doc_id),
         |dot AS (SELECT tw.doc_id, sum(tw.w * q.wq) AS dot FROM tw JOIN q ON tw.term = q.term GROUP BY tw.doc_id)
         |SELECT dot.doc_id, round(dot.dot / (dn.dn * qn.qn), 4) AS cos
         |FROM dot JOIN dn ON dot.doc_id = dn.doc_id CROSS JOIN qn""".stripMargin,
    "a5_majority_vote" ->
      s"""WITH v AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z_][a-z0-9_]{2,}')) AS term FROM documents),
         |c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt FROM v GROUP BY lang, term)
         |SELECT lang, term AS top_term, cnt FROM (
         |  SELECT lang, term, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rn FROM c)
         |WHERE rn = 1""".stripMargin,
    "a6_hot_keys" ->
      s"""WITH $T,
         |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM terms GROUP BY term)
         |SELECT term, cnt FROM (SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn FROM c)
         |WHERE rn <= 10""".stripMargin,
    "a7_lineage_rollup" ->
      s"""WITH $C,
         |tok AS (SELECT repo, path, unnest(regexp_extract_all(lower(content), '[a-z_][a-z0-9_]{2,}')) AS term FROM src_files)
         |SELECT repo, CAST(count(DISTINCT path) AS BIGINT) AS files, CAST(count(*) AS BIGINT) AS token_rows
         |FROM tok GROUP BY repo""".stripMargin,
    "a8_distinct" ->
      "SELECT DISTINCT lang, source FROM documents",
    "a9_counters" ->
      """SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
        |       CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |       CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS hi_qty
        |FROM lineitem""".stripMargin,
    // subtotal rows identified by GROUPING() on both engines — never by
    // null-coalescing the cell (which a genuine NULL/'(all)' value would fake)
    "a10_rollup" ->
      """SELECT CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)' ELSE o_orderpriority END AS priority,
        |       CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin,
    "a11_cube" ->
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
        |       CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    // declared-value pivot == one pass of conditional counts
    "a12_pivot" ->
      """SELECT lang,
        |  CAST(coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0) AS BIGINT) AS src0,
        |  CAST(coalesce(sum(CASE WHEN source = 'src1' THEN 1 END), 0) AS BIGINT) AS src1,
        |  CAST(coalesce(sum(CASE WHEN source = 'src2' THEN 1 END), 0) AS BIGINT) AS src2,
        |  CAST(coalesce(sum(CASE WHEN source = 'src3' THEN 1 END), 0) AS BIGINT) AS src3
        |FROM documents GROUP BY lang""".stripMargin,
    "w1_top1_candidate" ->
      s"""WITH $T, $K,
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term)
         |SELECT doc_id, entity_id, tf FROM (
         |  SELECT tf.doc_id, k.entity_id, tf.tf, row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, k.entity_id) AS rn
         |  FROM tf JOIN kb k ON tf.term = k.label)
         |WHERE rn = 1""".stripMargin,
    "w2_moving_sum" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING), 2) AS moving_qty
        |FROM lineitem""".stripMargin,
    "w3_rank_prior" ->
      s"""WITH $T, $K
         |SELECT entity_id, label, prior, CAST(rank() OVER (ORDER BY prior DESC, label) AS BIGINT) AS rnk FROM kb""".stripMargin,
    // range join: the oracle states the SEMANTICS as a plain non-equi join;
    // the Spark side computes the identical result via time-bucketed equi
    // join (the scale shape) — same rows, engine-checked
    "j8_range_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |err AS (SELECT user_id, event_id AS err_id, us AS err_us FROM ev WHERE event_type = 'error'),
        |m AS (SELECT e.user_id, e.err_id, CAST(count(*) AS BIGINT) AS n_nearby
        |      FROM err e JOIN ev x ON e.user_id = x.user_id
        |        AND abs(x.us - e.err_us) <= 300000000 AND x.event_id <> e.err_id
        |      GROUP BY e.user_id, e.err_id)
        |SELECT e.user_id, e.err_id, coalesce(m.n_nearby, CAST(0 AS BIGINT)) AS n_nearby
        |FROM err e LEFT JOIN m ON e.user_id = m.user_id AND e.err_id = m.err_id""".stripMargin,
    // as-of join: the oracle is DuckDB's NATIVE ASOF LEFT JOIN — the Spark
    // union+window form must match a real as-of join row for row
    "j9_asof_join" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
        |err AS (SELECT user_id, us, max(event_id) AS asof_err_id FROM ev
        |        WHERE event_type = 'error' GROUP BY user_id, us)
        |SELECT e.user_id, e.event_id, a.asof_err_id, e.us - a.us AS us_since_err
        |FROM ev e ASOF LEFT JOIN err a ON e.user_id = a.user_id AND e.us >= a.us""".stripMargin,
    // gap sessionization: exact integer-microsecond gaps (epoch_us ≡
    // unix_micros), total ordering, explicit ROWS frame
    "w4_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us,
        |             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |s AS (SELECT user_id, ts, value,
        |        CAST(sum(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM e)
        |SELECT user_id, session_idx,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, session_idx""".stripMargin,
    "u2_except_resume" ->
      s"""WITH $C
         |SELECT repo FROM src_files EXCEPT SELECT repo FROM src_files WHERE lang = 'en'""".stripMargin,
    "u3_sha_except" ->
      s"""WITH $C
         |SELECT CAST((SELECT count(*) FROM (SELECT sha256(content) AS sha FROM src_files EXCEPT SELECT sha256(content) FROM src_files)) AS BIGINT) AS a_minus_b,
         |       CAST((SELECT count(*) FROM (SELECT sha256(content) AS sha FROM src_files EXCEPT SELECT sha256(content) FROM src_files)) AS BIGINT) AS b_minus_a""".stripMargin,
    "u4_intersect" ->
      """SELECT source FROM documents WHERE lang = 'en'
        |INTERSECT
        |SELECT source FROM documents WHERE n_chars > 300""".stripMargin,
    "o3_global_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q3_join_agg" ->
      """SELECT c_mktsegment, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_mktsegment""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS rep_doc, CAST(count(*) AS BIGINT) AS cnt
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_minhash_sig" ->
      s"""WITH $Shingles,
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed)
         |SELECT doc_id, seed, min(md5(shingle || '#' || CAST(seed AS VARCHAR))) AS minhash
         |FROM shv CROSS JOIN seeds GROUP BY doc_id, seed""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""WITH $Shingles,
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |mh AS (SELECT doc_id, seed, min(md5(shingle || '#' || CAST(seed AS VARCHAR))) AS minhash
         |       FROM shv CROSS JOIN seeds GROUP BY doc_id, seed),
         |sigs AS (SELECT doc_id, (seed >> 1) AS band,
         |           min(CASE WHEN seed % 2 = 0 THEN minhash END) || '|' || min(CASE WHEN seed % 2 = 1 THEN minhash END) AS sig
         |         FROM mh GROUP BY doc_id, (seed >> 1))
         |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $T,
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term),
         |b AS (SELECT doc_id, bit, sum(CASE WHEN substr(md5(term), bit + 1, 1) >= '8' THEN tf ELSE -tf END) AS s
         |      FROM tf CROSS JOIN (SELECT CAST(unnest(range(32)) AS INT) AS bit) GROUP BY doc_id, bit)
         |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $Shingles,
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |mh AS (SELECT doc_id, seed, min(md5(shingle || '#' || CAST(seed AS VARCHAR))) AS minhash
         |       FROM shv CROSS JOIN seeds GROUP BY doc_id, seed),
         |sigs AS (SELECT doc_id, (seed >> 1) AS band,
         |           min(CASE WHEN seed % 2 = 0 THEN minhash END) || '|' || min(CASE WHEN seed % 2 = 1 THEN minhash END) AS sig
         |         FROM mh GROUP BY doc_id, (seed >> 1)),
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |sets AS (SELECT DISTINCT doc_id, shingle FROM shv),
         |cnts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sets GROUP BY doc_id),
         |inter AS (SELECT p.d1, p.d2, CAST(count(*) AS BIGINT) AS i
         |          FROM pairs p JOIN sets x ON x.doc_id = p.d1
         |                       JOIN sets y ON y.doc_id = p.d2 AND x.shingle = y.shingle
         |          GROUP BY p.d1, p.d2)
         |SELECT p.d1, p.d2, round(CAST(coalesce(i, 0) AS DOUBLE) / (a.n + b.n - coalesce(i, 0)), 6) AS jaccard
         |FROM pairs p JOIN cnts a ON a.doc_id = p.d1 JOIN cnts b ON b.doc_id = p.d2
         |LEFT JOIN inter ON inter.d1 = p.d1 AND inter.d2 = p.d2""".stripMargin,
    // near-dup cluster collapse: the Spark side is iterative min-label
    // propagation + pointer jumping; the oracle computes the same fixpoint
    // (min reachable doc_id per node) with a recursive CTE over the
    // symmetric pair graph.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $Shingles,
         |seeds AS (SELECT CAST(unnest(range(8)) AS INT) AS seed),
         |mh AS (SELECT doc_id, seed, min(md5(shingle || '#' || CAST(seed AS VARCHAR))) AS minhash
         |       FROM shv CROSS JOIN seeds GROUP BY doc_id, seed),
         |sigs AS (SELECT doc_id, (seed >> 1) AS band,
         |           min(CASE WHEN seed % 2 = 0 THEN minhash END) || '|' || min(CASE WHEN seed % 2 = 1 THEN minhash END) AS sig
         |         FROM mh GROUP BY doc_id, (seed >> 1)),
         |pairs AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |          FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.v),
         |comp AS (SELECT v AS doc_id, min(l) AS cluster FROM reach GROUP BY v)
         |SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
         |       CASE WHEN coalesce(c.cluster, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS keep
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""".stripMargin,
    // substring/passage dedup: 10-token windows at stride 5, hash-grouped
    // corpus-wide; keep=1 only at the first occurrence (min doc, min offset)
    "dedup_spans" ->
      """WITH parts AS (SELECT doc_id, string_split(text, ' ') AS p FROM documents),
        |wpos AS (SELECT doc_id, pos, word FROM (SELECT doc_id, CAST(unnest(range(len(p))) AS INT) AS pos, unnest(p) AS word FROM parts) WHERE length(word) > 0),
        |wn AS (SELECT doc_id, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS INT) AS tpos, word FROM wpos),
        |cnt AS (SELECT doc_id, count(*) AS n FROM wn GROUP BY doc_id),
        |starts AS (SELECT doc_id, CAST(unnest(range(0, n - 10 + 1, 5)) AS INT) AS span_start FROM cnt WHERE n >= 10),
        |sp AS (SELECT st.doc_id, st.span_start, md5(string_agg(w.word, ' ' ORDER BY w.tpos)) AS span_hash
        |       FROM starts st JOIN wn w ON w.doc_id = st.doc_id AND w.tpos >= st.span_start AND w.tpos < st.span_start + 10
        |       GROUP BY st.doc_id, st.span_start),
        |f AS (SELECT doc_id, span_start, span_hash,
        |        CAST(count(*) OVER (PARTITION BY span_hash) AS BIGINT) AS n_occurrences,
        |        row_number() OVER (PARTITION BY span_hash ORDER BY doc_id, span_start) AS rn
        |      FROM sp)
        |SELECT doc_id, span_start, 10 AS span_len, span_hash, n_occurrences,
        |       CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
        |FROM f""".stripMargin,
    // delta ingest: the v2 corpus (delete %101, modify %7, clone %50 as new
    // ids) built in SQL, then the same (key, sha) anti-joins as kg.Delta
    "delta_changed_docs" ->
      """WITH prev AS (SELECT doc_id, text FROM documents),
         |cur AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' changed' ELSE text END AS text
         |  FROM prev WHERE doc_id % 101 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM prev WHERE doc_id % 50 = 0)
         |SELECT c.doc_id, CASE WHEN c.doc_id >= 100000 THEN 1 ELSE 0 END AS is_new
         |FROM cur c LEFT JOIN prev p
         |  ON p.doc_id = c.doc_id AND sha256(p.text) = sha256(c.text)
         |WHERE p.doc_id IS NULL""".stripMargin,
    "delta_stale_docs" ->
      """WITH prev AS (SELECT doc_id, text FROM documents),
         |cur AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' changed' ELSE text END AS text
         |  FROM prev WHERE doc_id % 101 <> 0
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id, text FROM prev WHERE doc_id % 50 = 0)
         |SELECT p.doc_id FROM prev p LEFT JOIN cur c
         |  ON c.doc_id = p.doc_id AND sha256(c.text) = sha256(p.text)
         |WHERE c.doc_id IS NULL""".stripMargin,
    "dedup_embcos_pairs" ->
      s"""WITH $EmbEx,
         |coef AS (SELECT p.plane, d.dim, CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(d.dim AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END AS coef
         |         FROM (SELECT CAST(unnest(range(32)) AS INT) AS plane) p CROSS JOIN (SELECT CAST(unnest(range(64)) AS INT) AS dim) d),
         |sg AS (SELECT vec_id, plane, sum(x * coef) AS s FROM ex JOIN coef ON ex.pos = coef.dim GROUP BY vec_id, plane),
         |bk AS (SELECT vec_id, CAST(plane // 8 AS INT) AS band,
         |         CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << (plane % 8)) ELSE 0 END) AS BIGINT) AS sig
         |       FROM sg GROUP BY vec_id, CAST(plane // 8 AS INT)),
         |pairs AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |          FROM bk a JOIN bk b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |dots AS (SELECT p.v1, p.v2, sum(a.x * c.x) AS dot
         |         FROM pairs p JOIN ex a ON a.vec_id = p.v1 JOIN ex c ON c.vec_id = p.v2 AND c.pos = a.pos
         |         GROUP BY p.v1, p.v2)
         |SELECT v1, v2, round(dot / (na.n * nb.n), 4) + 0 AS cos
         |FROM dots JOIN norms na ON v1 = na.vec_id JOIN norms nb ON v2 = nb.vec_id""".stripMargin,
    "sim_brute_topk" ->
      s"""WITH $EmbEx,
         |dots AS (SELECT qe.vec_id AS q_id, e.vec_id AS vec_id, sum(qe.x * e.x) AS dot
         |         FROM ex qe JOIN ex e ON qe.pos = e.pos AND qe.vec_id < 5 AND e.vec_id <> qe.vec_id
         |         GROUP BY qe.vec_id, e.vec_id),
         |sc AS (SELECT dots.q_id, dots.vec_id, round(dot / (nq.n * nv.n), 6) AS cos6
         |       FROM dots JOIN norms nq ON dots.q_id = nq.vec_id JOIN norms nv ON dots.vec_id = nv.vec_id),
         |r AS (SELECT q_id, vec_id, cos6, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id) AS INT) AS rnk FROM sc)
         |SELECT q_id, vec_id, rnk, round(cos6, 4) AS cos FROM r WHERE rnk <= 10""".stripMargin,
    "sim_lsh_buckets" ->
      s"""WITH $EmbEx,
         |coef AS (SELECT p.plane, d.dim, CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(d.dim AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END AS coef
         |         FROM (SELECT CAST(unnest(range(8)) AS INT) AS plane) p CROSS JOIN (SELECT CAST(unnest(range(64)) AS INT) AS dim) d),
         |sg AS (SELECT vec_id, plane, sum(x * coef) AS s FROM ex JOIN coef ON ex.pos = coef.dim GROUP BY vec_id, plane)
         |SELECT vec_id, CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT) AS bucket
         |FROM sg GROUP BY vec_id""".stripMargin,
    "sim_lsh_topk" ->
      s"""WITH $EmbEx,
         |coef AS (SELECT p.plane, d.dim, CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(d.dim AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END AS coef
         |         FROM (SELECT CAST(unnest(range(8)) AS INT) AS plane) p CROSS JOIN (SELECT CAST(unnest(range(64)) AS INT) AS dim) d),
         |sg AS (SELECT vec_id, plane, sum(x * coef) AS s FROM ex JOIN coef ON ex.pos = coef.dim GROUP BY vec_id, plane),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT) AS bucket FROM sg GROUP BY vec_id),
         |q AS (SELECT vec_id AS q_id, bucket FROM bk WHERE vec_id < 5),
         |cand AS (SELECT q.q_id, v.vec_id FROM q JOIN bk v ON v.bucket = q.bucket AND v.vec_id <> q.q_id),
         |dots AS (SELECT c.q_id, c.vec_id, sum(a.x * b.x) AS dot
         |         FROM cand c JOIN ex a ON a.vec_id = c.q_id JOIN ex b ON b.vec_id = c.vec_id AND b.pos = a.pos
         |         GROUP BY c.q_id, c.vec_id),
         |sc AS (SELECT dots.q_id, dots.vec_id, round(dot / (nq.n * nv.n), 6) AS cos6
         |       FROM dots JOIN norms nq ON dots.q_id = nq.vec_id JOIN norms nv ON dots.vec_id = nv.vec_id),
         |r AS (SELECT q_id, vec_id, cos6, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id) AS INT) AS rnk FROM sc)
         |SELECT q_id, vec_id, rnk, round(cos6, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin,
    "sim_lsh_multiprobe_topk" ->
      s"""WITH $EmbEx,
         |coef AS (SELECT p.plane, d.dim, CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(d.dim AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END AS coef
         |         FROM (SELECT CAST(unnest(range(8)) AS INT) AS plane) p CROSS JOIN (SELECT CAST(unnest(range(64)) AS INT) AS dim) d),
         |sg AS (SELECT vec_id, plane, sum(x * coef) AS s FROM ex JOIN coef ON ex.pos = coef.dim GROUP BY vec_id, plane),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT) AS bucket FROM sg GROUP BY vec_id),
         |q AS (SELECT vec_id AS q_id, bucket FROM bk WHERE vec_id < 5),
         |probes AS (SELECT q_id, bucket FROM q
         |           UNION ALL
         |           SELECT q_id, xor(bucket, (1::BIGINT << bit)) AS bucket
         |           FROM q CROSS JOIN (SELECT CAST(unnest(range(8)) AS INT) AS bit)),
         |cand AS (SELECT DISTINCT p.q_id, v.vec_id FROM probes p JOIN bk v ON v.bucket = p.bucket AND v.vec_id <> p.q_id),
         |dots AS (SELECT c.q_id, c.vec_id, sum(a.x * b.x) AS dot
         |         FROM cand c JOIN ex a ON a.vec_id = c.q_id JOIN ex b ON b.vec_id = c.vec_id AND b.pos = a.pos
         |         GROUP BY c.q_id, c.vec_id),
         |sc AS (SELECT dots.q_id, dots.vec_id, round(dot / (nq.n * nv.n), 6) AS cos6
         |       FROM dots JOIN norms nq ON dots.q_id = nq.vec_id JOIN norms nv ON dots.vec_id = nv.vec_id),
         |r AS (SELECT q_id, vec_id, cos6, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id) AS INT) AS rnk FROM sc)
         |SELECT q_id, vec_id, rnk, round(cos6, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin,
    "sim_ivf_topk" ->
      s"""WITH $EmbEx,
         |$IvfChain,
         |cand AS (SELECT p.q_id, v.vec_id FROM probes p JOIN cells v ON v.cell = p.cell AND v.vec_id <> p.q_id),
         |dots AS (SELECT c.q_id, c.vec_id, sum(a.x * b.x) AS dot
         |         FROM cand c JOIN ex a ON a.vec_id = c.q_id JOIN ex b ON b.vec_id = c.vec_id AND b.pos = a.pos
         |         GROUP BY c.q_id, c.vec_id),
         |sc AS (SELECT dots.q_id, dots.vec_id, round(dot / (nq.n * nv.n), 6) AS cos6
         |       FROM dots JOIN norms nq ON dots.q_id = nq.vec_id JOIN norms nv ON dots.vec_id = nv.vec_id),
         |r AS (SELECT q_id, vec_id, cos6, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos6 DESC, vec_id) AS INT) AS rnk FROM sc)
         |SELECT q_id, vec_id, rnk, round(cos6, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin,
    // curation: n-gram decontamination vs an in-query eval set; pattern
    // redaction counts + redacted sha; SPDX license classification
    "cur_decontaminate" ->
      s"""WITH $Shingles,
         |ev AS (SELECT DISTINCT shingle FROM shv WHERE doc_id % 97 = 0),
         |hits AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM shv s JOIN ev ON s.shingle = ev.shingle
         |         WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
         |SELECT doc_id, n_hits FROM hits""".stripMargin,
    "cur_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b[0-9a-fA-F]{20,}\b')) AS INT) AS n_secrets,
        |  sha256(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9a-fA-F]{20,}\b', '<SECRET>', 'g')) AS redacted_sha
        |FROM documents""".stripMargin,
    "cur_license" ->
      """SELECT doc_id,
        |  regexp_extract(text, 'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1) AS license,
        |  CASE
        |    WHEN regexp_extract(text, 'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1)
        |         IN ('MIT','Apache-2.0','BSD-2-Clause','BSD-3-Clause','ISC') THEN 'permissive'
        |    WHEN regexp_extract(text, 'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1)
        |         IN ('GPL-2.0-only','GPL-3.0-only','AGPL-3.0-only','LGPL-2.1-only') THEN 'copyleft'
        |    WHEN regexp_extract(text, 'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1) = '' THEN 'unknown'
        |    ELSE 'other' END AS license_class
        |FROM documents""".stripMargin,
    // PQ ADC top-k: per-block codebook (1 Lloyd round over subvectors),
    // 4 codes per vector, query LUT summed over codes — mirrors pqTopKFor
    "sim_pq_topk" ->
      s"""WITH $EmbEx,
         |sx AS (SELECT vec_id, CAST(pos // 16 AS INT) AS block, pos, x FROM ex),
         |s0 AS (SELECT block, CAST(vec_id AS INT) AS cell, pos, x AS cx FROM sx WHERE vec_id < 8),
         |d0 AS (SELECT e.vec_id, e.block, c.cell, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS d2
         |       FROM sx e JOIN s0 c ON e.block = c.block AND e.pos = c.pos
         |       GROUP BY e.vec_id, e.block, c.cell),
         |a0 AS (SELECT vec_id, block, cell FROM (
         |         SELECT vec_id, block, cell, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2, cell) AS rn FROM d0)
         |       WHERE rn = 1),
         |cb AS (SELECT e.block, a.cell, e.pos, round(avg(e.x), 6) AS cx
         |       FROM a0 a JOIN sx e ON a.vec_id = e.vec_id AND a.block = e.block
         |       GROUP BY e.block, a.cell, e.pos),
         |d1 AS (SELECT e.vec_id, e.block, c.cell, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS d2
         |       FROM sx e JOIN cb c ON e.block = c.block AND e.pos = c.pos
         |       GROUP BY e.vec_id, e.block, c.cell),
         |codes AS (SELECT vec_id, block, cell AS code FROM (
         |            SELECT vec_id, block, cell, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2, cell) AS rn FROM d1)
         |          WHERE rn = 1),
         |lut AS (SELECT e.vec_id AS q_id, e.block, c.cell AS code, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS pd
         |        FROM sx e JOIN cb c ON e.block = c.block AND e.pos = c.pos
         |        WHERE e.vec_id < 5
         |        GROUP BY e.vec_id, e.block, c.cell),
         |adc AS (SELECT l.q_id, v.vec_id, round(sum(l.pd), 6) AS adist
         |        FROM codes v JOIN lut l ON l.block = v.block AND l.code = v.code AND v.vec_id <> l.q_id
         |        GROUP BY l.q_id, v.vec_id),
         |r AS (SELECT q_id, vec_id, adist, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT) AS rnk FROM adc)
         |SELECT q_id, vec_id, rnk, adist FROM r WHERE rnk <= 5""".stripMargin,
    // IVF-PQ (IVFADC): trained coarse cells + PQ-coded residuals; the ADC
    // scan joins codes to the per-(query, probed-cell) residual LUT
    "sim_ivfpq_topk" ->
      s"""WITH $EmbEx,
         |$IvfChain,
         |rex AS (SELECT e.vec_id, cl.cell, e.pos, e.x - c.x AS x
         |        FROM ex e JOIN cells cl ON e.vec_id = cl.vec_id
         |                  JOIN c2 c ON c.cell = cl.cell AND c.pos = e.pos),
         |sx AS (SELECT vec_id, cell, CAST(pos // 16 AS INT) AS block, pos, x FROM rex),
         |s0 AS (SELECT block, CAST(vec_id AS INT) AS pqc, pos, x AS cx FROM sx WHERE vec_id < 8),
         |d0 AS (SELECT e.vec_id, e.block, c.pqc, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS d2
         |       FROM sx e JOIN s0 c ON e.block = c.block AND e.pos = c.pos
         |       GROUP BY e.vec_id, e.block, c.pqc),
         |a0 AS (SELECT vec_id, block, pqc FROM (
         |         SELECT vec_id, block, pqc, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2, pqc) AS rn FROM d0)
         |       WHERE rn = 1),
         |cb AS (SELECT e.block, a.pqc, e.pos, round(avg(e.x), 6) AS cx
         |       FROM a0 a JOIN sx e ON a.vec_id = e.vec_id AND a.block = e.block
         |       GROUP BY e.block, a.pqc, e.pos),
         |d1 AS (SELECT e.vec_id, e.block, c.pqc, round(sum((e.x - c.cx) * (e.x - c.cx)), 9) AS d2
         |       FROM sx e JOIN cb c ON e.block = c.block AND e.pos = c.pos
         |       GROUP BY e.vec_id, e.block, c.pqc),
         |codes AS (SELECT vec_id, block, pqc AS code FROM (
         |            SELECT vec_id, block, pqc, row_number() OVER (PARTITION BY vec_id, block ORDER BY d2, pqc) AS rn FROM d1)
         |          WHERE rn = 1),
         |codesc AS (SELECT c.vec_id, cl.cell, c.block, c.code FROM codes c JOIN cells cl ON c.vec_id = cl.vec_id),
         |qrex AS (SELECT p.q_id, p.cell, e.pos, e.x - c.x AS x
         |         FROM probes p JOIN ex e ON e.vec_id = p.q_id
         |                       JOIN c2 c ON c.cell = p.cell AND c.pos = e.pos),
         |lut AS (SELECT q.q_id, q.cell, cb.block, cb.pqc AS code, round(sum((q.x - cb.cx) * (q.x - cb.cx)), 9) AS pd
         |        FROM qrex q JOIN cb ON cb.pos = q.pos
         |        GROUP BY q.q_id, q.cell, cb.block, cb.pqc),
         |adc AS (SELECT l.q_id, v.vec_id, round(sum(l.pd), 6) AS adist
         |        FROM codesc v JOIN lut l ON l.cell = v.cell AND l.block = v.block AND l.code = v.code AND v.vec_id <> l.q_id
         |        GROUP BY l.q_id, v.vec_id),
         |r AS (SELECT q_id, vec_id, adist, CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS INT) AS rnk FROM adc)
         |SELECT q_id, vec_id, rnk, adist FROM r WHERE rnk <= 5""".stripMargin,
    "text_langid" ->
      s"""WITH $T,
         |sc AS (SELECT doc_id,
         |         CAST(sum(CASE WHEN term IN ('spark','data','query') THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |         CAST(sum(CASE WHEN term IN ('join','merge','sort') THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |         CAST(sum(CASE WHEN term IN ('window','stream','batch') THEN 1 ELSE 0 END) AS BIGINT) AS s3
         |       FROM terms GROUP BY doc_id),
         |j AS (SELECT d.doc_id, coalesce(s1, 0) AS s1, coalesce(s2, 0) AS s2, coalesce(s3, 0) AS s3
         |      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)
         |SELECT doc_id, s1, s2, s3,
         |  CASE WHEN s1 = 0 AND s2 = 0 AND s3 = 0 THEN 'und'
         |       WHEN s1 >= s2 AND s1 >= s3 THEN 'l1'
         |       WHEN s2 >= s3 THEN 'l2' ELSE 'l3' END AS langid
         |FROM j""".stripMargin,
    "text_quality" ->
      """WITH ws AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS word FROM documents),
        |tok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |          CAST(sum(length(word)) AS BIGINT) AS sum_len,
        |          CAST(sum(CASE WHEN lower(word) IN ('the','a','and','of','to') THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits
        |        FROM ws GROUP BY doc_id),
        |q0 AS (SELECT d.doc_id, CAST(length(text) AS INT) AS n_chars, n_tokens,
        |         (sum_len * 10000) // n_tokens AS avg_token_len_e4,
        |         (stop_hits * 1000000) // n_tokens AS stopword_ppm,
        |         (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) * 1000000) // length(text) AS alpha_ppm
        |       FROM documents d LEFT JOIN tok ON d.doc_id = tok.doc_id)
        |SELECT doc_id, n_chars, n_tokens, avg_token_len_e4, stopword_ppm, alpha_ppm,
        |  (alpha_ppm + (1000000 - stopword_ppm)) // 2 AS quality_ppm
        |FROM q0""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_ish_tokens
        |FROM documents""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $Shingles
         |SELECT doc_id, min(md5(shingle)) AS fingerprint, CAST(count(DISTINCT shingle) AS BIGINT) AS n_shingles
         |FROM shv GROUP BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH g AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w,
        |                  list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS ln
        |           FROM documents),
        |t AS (SELECT doc_id, ln,
        |        list_transform(range(greatest(len(w) - 2, 0)),
        |                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g3
        |      FROM g)
        |SELECT doc_id,
        |  CAST(len(ln) AS INT) AS n_lines,
        |  CAST(len(list_distinct(ln)) AS INT) AS n_distinct_lines,
        |  CAST(len(g3) AS INT) AS n_3grams,
        |  CAST(len(list_distinct(g3)) AS INT) AS n_distinct_3grams,
        |  CASE WHEN len(ln) > 0 THEN (CAST(len(ln) - len(list_distinct(ln)) AS BIGINT) * 1000000) // len(ln) ELSE CAST(0 AS BIGINT) END AS dup_line_ppm,
        |  CASE WHEN len(g3) > 0 THEN (CAST(len(g3) - len(list_distinct(g3)) AS BIGINT) * 1000000) // len(g3) ELSE CAST(0 AS BIGINT) END AS dup_3gram_ppm
        |FROM t""".stripMargin,
    "text_token_hist" ->
      """SELECT lang,
        |  CAST(floor(log2(len(regexp_extract_all(text, '\S+')) + 1)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang, bucket""".stripMargin,
    // sampling: md5(seed_key) hex-prefix coin, identical bytes in both engines
    "sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('s1_' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5('s1_' || CAST(doc_id AS VARCHAR)), 1, 2)
        |      < CASE WHEN lang = 'en' THEN '20' ELSE '80' END""".stripMargin,
    "sample_uniform_k" ->
      """SELECT doc_id FROM documents
        |ORDER BY md5('s2_' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 50""".stripMargin,
    "sample_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5('s3_' || CAST(doc_id AS VARCHAR)), 1, 2)
        |      < CASE WHEN source = 'src0' THEN 'g' WHEN source = 'src1' THEN '80'
        |             ELSE '20' END""".stripMargin,
    "sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 'ec' THEN 'train' WHEN b < 'f6' THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, substr(md5('s4_' || CAST(doc_id AS VARCHAR)), 1, 2) AS b
        |      FROM documents)""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks,
        |         doc_id % 8 AS shard, md5('e1_' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shard, toks,
        |         CAST(sum(toks) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS BIGINT) AS pos
        |  FROM t)
        |SELECT doc_id, shard, pos,
        |       shard * 1000000000000 + CAST(floor(pos / 1024) AS BIGINT) AS pack_id
        |FROM r""".stripMargin,
    // chunk rows: one row per (doc, pack) overlap — a doc straddling a pack
    // boundary splits into explicit (offset_in_doc, chunk_len) pieces that
    // tile the document (lens sum to toks; property-tested in PackingSpec)
    "pack_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks,
        |         doc_id % 8 AS shard, md5('e1_' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shard, toks,
        |         CAST(sum(toks) OVER (PARTITION BY shard ORDER BY ord, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS BIGINT) AS pos
        |  FROM t),
        |c AS (
        |  SELECT doc_id, shard, pos, toks,
        |         CAST(unnest(range(CASE WHEN toks > 0 THEN (pos + toks - 1) // 1024 - pos // 1024 + 1 ELSE 1 END)) AS BIGINT) AS ci
        |  FROM r)
        |SELECT doc_id,
        |  shard * 1000000000000 + pos // 1024 + ci AS pack_id,
        |  greatest(pos, (pos // 1024 + ci) * 1024) - pos AS offset_in_doc,
        |  least(pos + toks, (pos // 1024 + ci + 1) * 1024) - greatest(pos, (pos // 1024 + ci) * 1024) AS chunk_len
        |FROM c""".stripMargin,
    // BPE round-1 adjacent symbol pairs: chars of each word zipped with
    // their successor, plus (last char, end-of-word marker), weighted by
    // word frequency — the distributed core every merge round re-runs
    "bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS word FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w WHERE word <> '' GROUP BY word),
        |ex AS (SELECT word, cnt, CAST(unnest(range(1, len(word))) AS INT) AS i FROM wc),
        |pairs AS (
        |  SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, cnt FROM ex
        |  UNION ALL
        |  SELECT substr(word, len(word), 1), '</w>', cnt FROM wc)
        |SELECT a, b, CAST(sum(cnt) AS BIGINT) AS n FROM pairs GROUP BY a, b""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  lower(substr(hex(encode(text)), 1, 32)) AS head_hex,
        |  CAST(1 + octet_length(encode(text)) % 640 AS INT) AS fake_width,
        |  CAST(1 + (octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
        |  3 AS channels,
        |  round(CAST(octet_length(encode(text)) % 256 AS DOUBLE) / 255.0, 6) AS fake_mean_pixel
        |FROM documents""".stripMargin,
    "mm_decode_stub" ->
      """WITH m AS (SELECT doc_id, lower(substr(hex(encode(text)), 1, 32)) AS head_hex FROM documents)
        |SELECT doc_id, CAST(octet_length(encode(head_hex)) AS INT) AS payload_len,
        |  CAST(ascii(substr(head_hex, 1, 1)) + ascii(substr(head_hex, 2, 1)) + ascii(substr(head_hex, 3, 1)) + ascii(substr(head_hex, 4, 1)) AS DOUBLE) / 1020.0 AS fake_feature
        |FROM m""".stripMargin,
    "mm_resize_meta" ->
      """WITH m AS (SELECT doc_id, CAST(1 + octet_length(encode(text)) % 640 AS INT) AS w,
        |                  CAST(1 + (octet_length(encode(text)) * 7) % 480 AS INT) AS h FROM documents),
        |s AS (SELECT doc_id, w, h, least(640000 // w, 640000 // h) AS scale_e4 FROM m)
        |SELECT doc_id, w, h,
        |  CAST(greatest(1, (w * scale_e4) // 10000) AS INT) AS out_w,
        |  CAST(greatest(1, (h * scale_e4) // 10000) AS INT) AS out_h
        |FROM s""".stripMargin,
    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id, CAST(1 + octet_length(encode(text)) % 100 AS INT) AS n_frames FROM documents)
        |SELECT doc_id, n_frames, CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx FROM m""".stripMargin,
    "stream_window_agg" ->
      """SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // graph analytics (G1–G4) over the deterministic KG edge table derived
    // from the stored relational testdata (GraphOps.edges)
    "kg_degree" ->
      s"""WITH $Edges,
         |d AS (SELECT src AS node, 1 AS o, 0 AS i FROM edges
         |      UNION ALL SELECT dst, 0, 1 FROM edges)
         |SELECT node, CAST(sum(o) AS BIGINT) AS out_deg, CAST(sum(i) AS BIGINT) AS in_deg
         |FROM d GROUP BY node""".stripMargin,
    // fixed-point PageRank, 3 unrolled exact-integer rounds (micro-units,
    // d = 17/20; `//` is BIGINT floor division ≡ Spark's `div` on the
    // non-negative ranks) — float PageRank would be sum-order-dependent
    "kg_pagerank" ->
      s"""WITH $Edges,
         |e AS (SELECT src, dst FROM edges),
         |od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |c1 AS (SELECT e.dst, sum(r.pr // od.outdeg) AS s FROM e JOIN od ON e.src = od.src JOIN r0 r ON e.src = r.node GROUP BY e.dst),
         |r1 AS (SELECT n.node, CAST(150000 + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr FROM nodes n LEFT JOIN c1 c ON n.node = c.dst),
         |c2 AS (SELECT e.dst, sum(r.pr // od.outdeg) AS s FROM e JOIN od ON e.src = od.src JOIN r1 r ON e.src = r.node GROUP BY e.dst),
         |r2 AS (SELECT n.node, CAST(150000 + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr FROM nodes n LEFT JOIN c2 c ON n.node = c.dst),
         |c3 AS (SELECT e.dst, sum(r.pr // od.outdeg) AS s FROM e JOIN od ON e.src = od.src JOIN r2 r ON e.src = r.node GROUP BY e.dst),
         |r3 AS (SELECT n.node, CAST(150000 + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS pr FROM nodes n LEFT JOIN c3 c ON n.node = c.dst)
         |SELECT node, pr FROM r3""".stripMargin,
    // undirected transitive closure per component (same recursive-CTE form
    // as the dedup_clusters oracle); label = min reachable node id
    "kg_components" ->
      s"""WITH RECURSIVE $Edges,
         |ue AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
         |reach(v, l) AS (
         |  SELECT DISTINCT a, a FROM ue
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN ue e ON e.a = r.v)
         |SELECT v AS node, min(l) AS component FROM reach GROUP BY v""".stripMargin,
    "kg_two_hop" ->
      s"""WITH $Edges,
         |seeds AS (SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS seed FROM region),
         |h1 AS (SELECT s.seed, e.src AS mid FROM edges e JOIN seeds s ON e.dst = s.seed),
         |h2 AS (SELECT DISTINCT h.seed, e.src AS node FROM edges e JOIN h1 h ON e.dst = h.mid)
         |SELECT seed, CAST(count(*) AS BIGINT) AS n_two_hop FROM h2 GROUP BY seed""".stripMargin,
    "kg_pmi" ->
      s"""WITH $T, $M, $K,
         |dt AS (SELECT DISTINCT m.doc_id, k.label AS term FROM mentions m JOIN kb k ON m.surface = k.label),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |pairs AS (SELECT a.term AS t1, b.term AS t2, CAST(count(*) AS BIGINT) AS co
         |          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.term < b.term
         |          GROUP BY a.term, b.term),
         |marg AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term)
         |SELECT p.t1, p.t2, p.co, m1.df AS df1, m2.df AS df2,
         |  round(log2(CAST(p.co AS DOUBLE) * nd.n / (CAST(m1.df AS DOUBLE) * m2.df)), 6) AS pmi
         |FROM pairs p JOIN marg m1 ON p.t1 = m1.term JOIN marg m2 ON p.t2 = m2.term CROSS JOIN nd""".stripMargin,
    // undirected simple graph (edges + the order->nation shortcut), each
    // triangle enumerated once via a<b<c wedge closure — same construction
    "kg_triangles" ->
      s"""WITH $Edges,
         |sc AS (SELECT oc.src AS src, cn.dst AS dst
         |       FROM edges oc JOIN edges cn ON oc.dst = cn.src
         |       WHERE oc.src LIKE 'order:%' AND cn.dst LIKE 'nation:%'),
         |alle AS (SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM sc),
         |und AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
         |        FROM alle WHERE src <> dst),
         |tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
         |        FROM und ab JOIN und bc ON ab.hi = bc.lo
         |        JOIN und ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
         |tn AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM tn GROUP BY node""".stripMargin,
    // 3 unrolled reversed-BFS hops from the region seeds, min over paths —
    // mirrors the Spark plan's unrolled frontier expansion exactly
    "kg_shortest_path" ->
      s"""WITH $Edges,
         |rev AS (SELECT dst AS f, src AS t FROM edges),
         |seeds AS (SELECT 'region:' || CAST(r_regionkey AS VARCHAR) AS seed FROM region),
         |d0 AS (SELECT seed, seed AS node, 0 AS dist FROM seeds),
         |d1 AS (SELECT d0.seed, rev.t AS node, 1 AS dist FROM d0 JOIN rev ON d0.node = rev.f),
         |d2 AS (SELECT d1.seed, rev.t AS node, 2 AS dist FROM d1 JOIN rev ON d1.node = rev.f),
         |d3 AS (SELECT d2.seed, rev.t AS node, 3 AS dist FROM d2 JOIN rev ON d2.node = rev.f),
         |alld AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1
         |         UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
         |SELECT seed, node, CAST(min(dist) AS INT) AS dist FROM alld GROUP BY seed, node""".stripMargin,
    // exact percentile_cont on both engines (identical SQL-standard
    // interpolation formula over integer token counts)
    "text_length_quantiles" ->
      """WITH t AS (SELECT lang, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS toks FROM documents)
        |SELECT lang,
        |  round(quantile_cont(toks, 0.25), 4) AS p25,
        |  round(quantile_cont(toks, 0.50), 4) AS p50,
        |  round(quantile_cont(toks, 0.75), 4) AS p75,
        |  round(quantile_cont(toks, 0.95), 4) AS p95,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM t GROUP BY lang""".stripMargin,
    // add-one-smoothed bigram LM self-scoring: exact BIGINT counts, the
    // only floats are the final log2/avg (rounded to 6 dp)
    "text_lm_score" ->
      """WITH tp AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z_][a-z0-9_]{2,}') AS ts FROM documents),
        |tpos AS (SELECT doc_id, CAST(unnest(range(len(ts))) AS INT) AS pos, unnest(ts) AS term FROM tp),
        |bgn AS (SELECT doc_id, w1, w2 FROM (
        |          SELECT doc_id, term AS w1, lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tpos)
        |        WHERE w2 IS NOT NULL),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bgn GROUP BY w1, w2),
        |cu AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw FROM cb GROUP BY w1),
        |vv AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v FROM tpos)
        |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-log2((c.c + 1.0) / (u.cw + vv.v))), 6) AS avg_nll
        |FROM bgn b JOIN cb c ON b.w1 = c.w1 AND b.w2 = c.w2 JOIN cu u ON b.w1 = u.w1 CROSS JOIN vv
        |GROUP BY b.doc_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)),2) AS sum_disc_price,
        |  round(avg(l_discount),6) AS avg_disc, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
  )
}
