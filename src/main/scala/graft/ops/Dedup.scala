package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Large-scale training-data deduplication operators over the `documents`
  * table: exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
  * bucket join), SimHash, and n-gram Jaccard. The embedding-cosine near-dup
  * variant lives in [[Similarity]].
  *
  * All hashes are md5 (present and bit-identical in both Spark and DuckDB) so
  * every operator has an exact SQL oracle; the production engine would swap
  * xxhash64 for md5 (cheaper, same plumbing).
  *
  * Scale notes: every stage is groupBy/join on pre-hashed keys — no
  * driver-side state, no UDFs; band signatures keep the LSH self-join's
  * key cardinality high (no mega-groups), and at 100 TB the band join
  * would additionally salt its hottest buckets like kg.Candidates.
  */
object Dedup {

  /** 3-word shingles per document (word order preserved).
    *
    * Computed IN-ROW: the word array never leaves its document's row, so the
    * shingle stage has ZERO exchanges (the per-doc window it replaces
    * shuffled every word of the corpus before the first aggregation). Same
    * trick as the extraction stage's in-row ±k contexts (kg.Extract.perLine).
    * Plan-asserted exchange-free in PlanSpec. */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesFor(Tables.documents(spark, dir))

  /** Shingles over any (doc_id, text) frame (unit-test seam). The word
    * array is projected once, so [[shingleArr]]'s four references to it are
    * attribute reads rather than four re-splits of the text. */
  def shinglesFor(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(shingleArr(col("ws"))).as("shingle"))

  /** The one word grammar of every text operator here: the non-empty tokens
    * of a split on single spaces (runs of spaces yield no empty words). */
  private def words(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** The per-doc shingle ARRAY (what [[shinglesFor]] explodes), in-row, over
    * an already-projected [[words]] column: windows of 3 consecutive words. */
  private[ops] def shingleArr(ws: Column): Column =
    // element_at is 1-based
    transform(slice(ws, lit(1), greatest(size(ws) - 2, lit(0))),
      (w, i) => concat_ws(" ", w, element_at(ws, i + 2), element_at(ws, i + 3)))

  /** Exact dedup: content-hash groups with a deterministic representative. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("cnt"))

  /** The 8 per-seed minhash minima computed IN-ROW as one expression:
    * element s is min over the doc's shingles of md5(shingle#s) — the SAME
    * values as the batch aggregation form (`array_min` and the `min`
    * aggregate share UTF8String binary ordering, and md5 hex is ASCII;
    * equivalence property-tested in StreamingNearDedupSpec). Elements are
    * null iff the doc has no shingles (<3 words), mirroring the absent
    * groups of the aggregation form.
    *
    * This is the STREAMING form only (graft.streaming.StreamingNearDedup):
    * a stateless per-row expression needs no streaming aggregation state.
    * The batch path deliberately keeps explode + groupBy instead — measured
    * at sf0.1/local[32], this HOF form is ~8× slower (higher-order
    * functions evaluate interpreted with per-seed array allocation, while
    * the aggregation form runs md5 + partial min inside whole-stage
    * codegen), and the exchange it would remove is already collapsed to 8
    * rows/doc map-side by partial aggregation — there was no scale win to
    * buy. */
  private[ops] def seedMinArr(sh: Column): Column =
    transform(sequence(lit(0), lit(7)), s =>
      array_min(transform(sh, x => md5(concat(x, lit("#"), s.cast("string"))))))

  /** MinHash signatures: 8 permutations simulated as min(md5(shingle#seed)).
    * Codegen'd explode + groupBy: md5 and the partial min run inside
    * whole-stage codegen, and partial aggregation collapses the stream to 8
    * rows/doc before the exchange (see [[seedMinArr]] for why the in-row
    * expression form is streaming-only). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashes(shinglesFor(Tables.documents(spark, dir)))

  /** Signatures from any (doc_id, shingle) stream. MinHash minima are
    * duplicate-invariant (the min over a multiset equals the min over its
    * distinct set), so a caller that already holds a materialized distinct
    * shingle table ([[ngramJaccardFor]]) derives signatures from it instead
    * of re-scanning and re-shingling the corpus a second time. */
  def minhashes(shingles: DataFrame): DataFrame =
    shingles
      .withColumn("seed", explode(sequence(lit(0), lit(7))))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(md5(concat(col("shingle"), lit("#"), col("seed").cast("string")))).as("minhash"))

  /** Per-doc LSH band signatures (4 bands × 2 minhash rows) from a
    * (doc_id, shingle) stream — the per-byte half of near-dup discovery
    * (everything downstream is compact): pipelines stage/compose this table
    * (delta mode recomputes signatures for CHANGED docs only and composes
    * the rest). A distinct shingle table is an equivalent input (see
    * [[minhashes]]). */
  def bandSignatures(shingles: DataFrame): DataFrame =
    minhashes(shingles)
      .withColumn("band", shiftright(col("seed"), 1))
      .groupBy(col("doc_id"), col("band"))
      .agg(concat_ws("|",
        min(when(col("seed") % 2 === 0, col("minhash"))),
        min(when(col("seed") % 2 === 1, col("minhash")))).as("sig"))

  /** Adds `m` = [[seedMinArr]] and `ne` = has-shingles to `docs`, as REAL
    * intermediate columns: downstream per-band references are then cheap
    * attribute reads. (Higher-order functions are CodegenFallback — no
    * common-subexpression elimination — so inlining `m` into each
    * element_at would recompute all 8 minima per reference; CollapseProject
    * keeps the projection split because the alias is non-cheap and
    * multiply-referenced.) The word array `ws` is a real column for the
    * same reason, as in [[shinglesFor]]. Streaming-only — see
    * [[seedMinArr]]. */
  private[graft] def withSeedMins(docs: DataFrame): DataFrame =
    docs.withColumn("ws", words(col("text")))
      .withColumn("sh", shingleArr(col("ws")))
      .withColumn("ne", size(col("sh")) > 0)
      .withColumn("m", seedMinArr(col("sh")))
      .drop("ws", "sh")

  /** Near-dup candidate pairs (d1 < d2) from a band signature table: docs
    * that share a (band, sig) bucket. The pair join is on high-cardinality
    * keys, so the self-join cannot hot-spot — except for one mega-bucket (an
    * exact-duplicate cluster [[exact]] should have collapsed FIRST), which
    * emits m(m-1)/2 pairs. `maxBucket` is that hot-bucket guard: buckets above
    * it are excluded from pairing, and the exclusions are MEASURED and logged
    * per run (mirroring kg.Candidates' hot-key measurement), so a capped run
    * never silently reads as full coverage.
    *
    * `sigs` must be materialized (a staged table or a `localCheckpoint`): it
    * is read by the bucket count and by both sides of the self-join.
    * Constructing this DataFrame runs Spark jobs — the bucket count is
    * materialized once and serves both the measurement and the cap filter. */
  def candidatePairs(sigs: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val bucketCounts = sigs.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bucket_n")).localCheckpoint()
    val hot = bucketCounts
      .filter(col("bucket_n") > maxBucket)
      .agg(count(lit(1)).as("n_excluded"), max(col("bucket_n")).as("largest"))
      .collect()(0)
    val nExcluded = hot.getLong(0)
    if (nExcluded > 0)
      println(s"[dedup] hot-bucket guard: EXCLUDED $nExcluded (band,sig) buckets " +
        s"larger than $maxBucket docs (largest=${hot.get(1)}) from near-dup pairing — " +
        "run exact dedup first, or raise maxBucket to include them")
    val small = bucketCounts.filter(col("bucket_n") <= maxBucket).select(col("band"), col("sig"))
    val capped = sigs.join(small, Seq("band", "sig"), "left_semi")
    capped.as("a").join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** LSH banding: 4 bands × 2 rows; near-dup candidate pairs share a band
    * signature ([[candidatePairs]] with the [[DefaultMaxBucket]] cap over
    * the executor-local signature table). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(bandSignatures(shinglesFor(Tables.documents(spark, dir))).localCheckpoint())

  /** Production default for the hot-bucket cap: a 1000-doc bucket still emits
    * ~5·10^5 pairs — tolerable once; anything larger is an exact-duplicate
    * cluster that belongs to [[exact]] (the pipeline order is exact-dedup →
    * near-dedup), not to quadratic band pairing. */
  val DefaultMaxBucket = 1000

  // --- Substring/passage-level dedup -----------------------------------
  //
  // Doc-level dedup (exact + near) misses the most common real-corpus
  // redundancy: a long token span (boilerplate header, license blob, quoted
  // passage) repeated across otherwise-distinct documents. The standard
  // scalable treatment is fixed-n token windows at a fixed stride, hashed
  // and grouped corpus-wide; the first occurrence (min doc_id, then min
  // offset) keeps, every other occurrence is a STRIP decision — a compact
  // (doc_id, span_start, span_len) row, applied to the text by an in-row
  // token filter. Suffix-array substring dedup finds arbitrary-length
  // repeats but needs a global sort of every suffix; hashed windows are the
  // shape that survives 10^12 documents (one high-cardinality hash-groupBy).

  /** Fixed-n token spans at `stride`: (doc_id, span_start, span_hash), where
    * span_start indexes the document's non-empty-token array (same word
    * grammar as [[shinglesFor]]). Windows are computed IN-ROW (the token
    * array never leaves its row); only full n-token windows are emitted. */
  def spanHashes(docs: DataFrame, n: Int, stride: Int): DataFrame = {
    require(n > 0 && stride > 0, "span length and stride must be positive")
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      // sequence(a, b) steps DOWNWARD when b < a, so the short-doc case must
      // be guarded to an empty start list, not sequence(0, negative)
      .select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= n,
            sequence(lit(0), size(col("ws")) - n, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("span_start"))
      .select(col("doc_id"), col("span_start"),
        md5(concat_ws(" ", slice(col("ws"), col("span_start") + 1, lit(n)))).as("span_hash"))
  }

  /** Span-level dedup decisions: every window with its corpus-wide occurrence
    * count and keep flag — keep = 1 exactly for the first occurrence of the
    * hash (min doc_id, then min span_start: deterministic), 0 for every
    * recurrence. One hash-groupBy (partial agg applies) + one equi-join back
    * on the high-cardinality hash — no window over the corpus, no skew key.
    * Rows with keep = 0 are the strip set [[stripSpans]] consumes. */
  def dupSpans(docs: DataFrame, n: Int = 10, stride: Int = 10): DataFrame =
    spanDecisionsFromHashes(spanHashes(docs, n, stride), n)

  /** Keep/strip decisions from an (already-computed or delta-composed) span
    * hash table — the compact corpus-global half of substring dedup. */
  def spanDecisionsFromHashes(h: DataFrame, n: Int): DataFrame = {
    val firsts = h.groupBy(col("span_hash"))
      .agg(min(struct(col("doc_id"), col("span_start"))).as("first"),
           count(lit(1)).as("n_occurrences"))
    h.join(firsts, "span_hash")
      .select(col("doc_id"), col("span_start"), lit(n).as("span_len"),
        col("span_hash"), col("n_occurrences"),
        when(col("first.doc_id") === col("doc_id") &&
             col("first.span_start") === col("span_start"), 1).otherwise(0).as("keep"))
  }

  /** Apply strip decisions: rebuild each document's text with the tokens of
    * every strip span removed (token-level — rebuilt text is the kept
    * tokens joined by single spaces). All columns pass through, `text`
    * replaced. `strips` is the compact (doc_id, span_start, span_len) table
    * of the keep = 0 rows of [[dupSpans]] (only affected docs join);
    * unaffected documents' text is returned untouched, byte-identical. */
  def stripSpans(docs: DataFrame, strips: DataFrame): DataFrame = {
    val perDoc = strips
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_len"))).as("strips"))
    val kept = filter(words(col("text")), (w, i) =>
      !exists(col("strips"), s =>
        i >= s.getField("span_start") &&
        i < s.getField("span_start") + s.getField("span_len")))
    val outCols = docs.columns.map {
      case "text" => when(col("strips").isNull, col("text"))
                       .otherwise(concat_ws(" ", kept)).as("text")
      case c => col(c)
    }
    docs.join(perDoc, Seq("doc_id"), "left_outer").select(outCols.toSeq: _*)
  }

  /** Operator entry: 10-token windows at stride 5 over `documents` (the
    * overlapping-stride form — recurrences are caught even when the repeat
    * is not window-aligned in the recurring document). */
  def spans(spark: SparkSession, dir: String): DataFrame =
    dupSpans(Tables.documents(spark, dir), n = 10, stride = 5)

  /** SimHash (32-bit): per-term md5 hex high-bits weighted by tf. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(DocOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val bits = tf
      .withColumn("bit", explode(sequence(lit(0), lit(31))))
      .withColumn("v",
        when(md5(col("term")).substr(col("bit") + 1, lit(1)) >= "8", col("tf"))
          .otherwise(-col("tf")))
      .groupBy(col("doc_id"), col("bit")).agg(sum(col("v")).as("s"))
    bits.groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, pow(lit(2), col("bit")).cast("long")).otherwise(0L)).as("simhash"))
  }

  /** n-gram Jaccard VERIFY stage for the LSH candidate pairs: exact Jaccard
    * over 3-word shingle sets, computed only for pairs that survived the
    * MinHash band funnel (minhashPairs) — the standard two-stage near-dup
    * pipeline (cheap probabilistic candidates → exact verification on the
    * tiny surviving set), never all-pairs. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFor(Tables.documents(spark, dir))

  def ngramJaccardFor(docs: DataFrame): DataFrame = {
    // the distinct shingle-set table is read four times (per-doc counts,
    // both intersection sides and the signature derivation), the signature
    // table three times (the bucket count and both sides of the self-join in
    // candidatePairs) and the candidate pairs twice — materialize each so the shingle and
    // minhash/band towers compute once per run, not per reference (the pair
    // set is the tiny post-LSH survivor table).
    val sets = shinglesFor(docs).select(col("doc_id"), col("shingle")).distinct()
      .localCheckpoint()
    val counts = sets.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // LSH candidates from the SAME materialized shingle table: minhash
    // minima are duplicate-invariant, so signatures over the distinct sets
    // are identical to bandSignatures(shinglesFor(docs)) — without scanning
    // and shingling the corpus a second time (equivalence property-tested in
    // DedupSimilaritySpec; at 100 TB this halves the stage's corpus passes).
    // The pairs are exactly the capped set minhashPairs returns.
    val pairs = candidatePairs(bandSignatures(sets).localCheckpoint()).localCheckpoint()
    val inter = pairs
      .join(sets.as("x"), col("d1") === col("x.doc_id"))
      .join(sets.as("y"), col("d2") === col("y.doc_id") && col("x.shingle") === col("y.shingle"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    pairs
      .join(counts.select(col("doc_id").as("d1"), col("n").as("na")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n").as("nb")), "d2")
      .join(inter, Seq("d1", "d2"), "left_outer")
      .select(col("d1"), col("d2"),
        round(coalesce(col("i"), lit(0L)).cast("double") /
              (col("na") + col("nb") - coalesce(col("i"), lit(0L))), 6).as("jaccard"))
  }

  /** Connected components over near-dup pairs — the step that turns pairwise
    * candidates into the actual DEDUP DECISION: a 3-way duplicate group
    * {A,B,C} discovered as pairs (A,B),(B,C) must collapse to ONE
    * representative, which naive pairwise dropping cannot do.
    *
    * Algorithm: iterative min-label propagation PLUS pointer jumping
    * (label(v) ← label(label(v)) each round), all in DataFrames — no
    * driver-side graph state, every round is joins + a min aggregation. The
    * jump halves the distance to each component's minimum every round, so
    * convergence is O(log diameter) rounds, not O(diameter) — the same
    * doubling idea as the large-star/small-star CC algorithm. A graph that
    * has not converged after 25 rounds fails loudly.
    *
    * Materialization rule, decided by ONE measured size — the doubled edge
    * table's row count against `peelThreshold`:
    *  - below it the fixpoint is job-overhead-bound: every table is
    *    executor-local (`localCheckpoint`), nothing is peeled, and each
    *    round's propagate result stays lazy (replaying the tiny propagate
    *    join twice is cheaper than an extra materialization job per round).
    *    A caller that lost this state restarts CC from its input pairs.
    *  - at or above it, every CC table (`cc_edges`, `cc_deg`,
    *    `cc_core_edges`, `cc_round_N`, `cc_prop_N`, `cc_members`; names
    *    are deterministic) goes through `materialize`. The default is
    *    executor-local; a checkpointed pipeline passes its stage writer
    *    (CurationPipeline's `stage`), which makes every ROUND resumable — a
    *    run killed mid-iteration restarts from its last committed round —
    *    and survives lost executor blocks.
    *
    * Degree-1 peeling (same gate): leaves (nodes with exactly one incident
    * edge) are split off BEFORE the fixpoint — the rounds then run over the
    * core subgraph only, and the leaves re-attach afterwards with one join
    * plus a component-min resolution (exact: the final label is the minimum
    * over ALL members, so a leaf can still be its component's minimum). On
    * leaf-heavy graphs — the KG edge table is 90% degree-1 order nodes, and
    * a near-dup pair graph is mostly isolated pairs — this shrinks every
    * round's propagate join by the leaf fraction. Below the gate the 3 extra
    * passes would cost more than they save (the measured-size-switch
    * discipline of kg.Candidates).
    *
    * Returns (doc_id, cluster) for every doc that appears in ≥1 pair;
    * cluster = the component's minimum doc_id (deterministic). */
  def connectedComponents(pairs: DataFrame,
      materialize: (DataFrame, String) => DataFrame = executorLocal,
      peelThreshold: Long = 100000L): DataFrame = {
    // measured on an executor-local copy, so the pair join runs once; above
    // the gate `materialize` takes the copy over
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b"))).localCheckpoint()
    if (edges.count() >= peelThreshold) ccPeeled(materialize(edges, "cc_edges"), materialize)
    else ccFixpoint(edges, edges.select(col("a").as("v")).distinct(), None)
      .select(col("v").as("doc_id"), col("l").as("cluster"))
  }

  /** Round bound of the CC fixpoint: pointer jumping converges in
    * O(log diameter) rounds, so 25 covers any diameter a real graph has. */
  private val MaxCcRounds = 25

  /** The default CC materializer: executor-local lineage truncation. */
  private val executorLocal: (DataFrame, String) => DataFrame = (df, _) => df.localCheckpoint()

  /** Leaf-peeled CC (see [[connectedComponents]]): fixpoint over the core
    * subgraph, then exact leaf re-attachment + component-min resolution. */
  private def ccPeeled(edges: DataFrame,
      materialize: (DataFrame, String) => DataFrame): DataFrame = {
    // multiset degree over the doubled table: the a-side covers every
    // endpoint once per incident edge, so deg == 1 ⟺ exactly one edge
    val deg = materialize(
      edges.groupBy(col("a")).agg(count(lit(1)).as("deg")), "cc_deg")
    // shuffle_hash hints throughout: the materialized tables carry no size
    // statistics, and the hashed sides are label/degree-bounded (guide §3.1)
    val leaves = deg.filter(col("deg") === 1).select(col("a").as("leaf"))
    // each leaf with its single neighbour (exactly one edge row per leaf)
    val leafEdge = edges.join(leaves.hint("shuffle_hash"), col("a") === col("leaf"), "left_semi")
      .select(col("a").as("lv"), col("b").as("nbr"))
    // core = edges with NEITHER endpoint a leaf; core NODES are all non-leaf
    // nodes (an isolated core node — the middle of a 3-path — has no core
    // edge but must still carry a label for its leaves to attach to)
    val core = materialize(
      edges.join(leaves.hint("shuffle_hash"), col("a") === col("leaf"), "left_anti")
           .join(leaves.hint("shuffle_hash"), col("b") === col("leaf"), "left_anti"),
      "cc_core_edges")
    val coreNodes = deg.filter(col("deg") > 1).select(col("a").as("v"))
    val coreLab = ccFixpoint(core, coreNodes, Some(materialize))
    // leaf label: the neighbour's core label; a leaf whose neighbour is
    // itself a leaf is one half of an isolated pair — label = the pair min
    val leafPre = leafEdge
      .join(coreLab.select(col("v").as("nbr"), col("l")).hint("shuffle_hash"),
            Seq("nbr"), "left_outer")
      .select(col("lv").as("v"), coalesce(col("l"), least(col("lv"), col("nbr"))).as("l"))
    // exact component minimum over ALL members (core + leaves): every member
    // carries its component's unique core label (or pair-min), so one
    // min-groupBy + one join finishes the relabeling
    val members = materialize(coreLab.unionByName(leafPre), "cc_members")
    val rep = members.groupBy(col("l")).agg(min(col("v")).as("m"))
    members.join(rep.hint("shuffle_hash"), "l")
      .select(col("v").as("doc_id"), col("m").as("cluster"))
  }

  /** The min-label + pointer-jump fixpoint over `edges`, starting from
    * identity labels on `nodes`; returns the converged (v, l) table.
    * `materialize` is None below the peel gate (see [[connectedComponents]]):
    * rounds are then executor-local and each propagate result stays lazy. */
  private def ccFixpoint(edges: DataFrame, nodes: DataFrame,
      materialize: Option[(DataFrame, String) => DataFrame]): DataFrame = {
    val round = materialize.getOrElse(executorLocal)
    var labels = round(nodes.select(col("v"), col("v").as("l")), "cc_round_0")
    var converged = false
    var i = 0
    while (!converged && i < MaxCcRounds) {
      // propagate: l(v) ← min(l(v), min over neighbours u of l(u)).
      // `prop` is BOTH sides of the pointer-jump self-join below, and the two
      // sides shuffle on different keys (x.l vs v2), so without
      // materialization the edges ⋈ labels propagate join — the expensive
      // half of every round — executed twice per round. lold rides along so
      // the round's change set is computable without a second join.
      val prop0 = labels.join(nbrMin(edges, labels).hint("shuffle_hash"),
                    col("v") === col("b"), "left_outer")
          .select(col("v"), least(col("l"), coalesce(col("nl"), col("l"))).as("l"),
                  col("l").as("lold"))
      val prop = materialize.fold(prop0)(_(prop0, s"cc_prop_${i + 1}"))
      // pointer jump: l(v) ← l(l(v)) — labels only ever decrease, so chasing
      // one hop toward the minimum is always sound and doubles the reach.
      // chg marks rows whose label decreased this round (propagate or jump):
      // convergence is then a filter over the materialized round table —
      // checked EVERY round for free, with no comparison join.
      val next = round(prop.as("x")
        .join(prop.select(col("v").as("v2"), col("l").as("l2")).hint("shuffle_hash").as("y"),
              col("x.l") === col("y.v2"), "left_outer")
        .select(col("x.v").as("v"),
                least(col("x.l"), coalesce(col("y.l2"), col("x.l"))).as("l"),
                col("x.lold").as("lold"))
        .select(col("v"), col("l"), (col("l") =!= col("lold")).as("chg")),
        s"cc_round_${i + 1}")
      converged = next.filter(col("chg")).isEmpty
      labels = next.select(col("v"), col("l"))
      i += 1
    }
    require(converged, s"connected components did not converge in $MaxCcRounds rounds")
    labels
  }

  /** One propagate half-round: per node, the minimum neighbour label.
    * The materialized round tables carry no size statistics, so the planner
    * would default every round to sort-merge; the label side is |V| rows and
    * hashes per partition — a shuffled hash join by design (guide §3.1). */
  private def nbrMin(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.hint("shuffle_hash"), col("a") === col("v"))
      .groupBy(col("b")).agg(min(col("l")).as("nl"))

  /** Near-dup cluster collapse (the keep/drop table): every document joined
    * to its component, singletons as their own cluster; keep = 1 exactly for
    * the deterministic representative (the component's min doc_id) — dropping
    * keep=0 rows removes every redundant copy of an N-way duplicate group
    * while keeping exactly one. */
  def clustersFor(docs: DataFrame, pairs: DataFrame,
      materialize: (DataFrame, String) => DataFrame = executorLocal): DataFrame = {
    val cc = connectedComponents(pairs, materialize)
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("keep", when(col("cluster") === col("doc_id"), 1).otherwise(0))
  }

  /** Operator entry: collapse the guarded MinHash-LSH pair graph over the
    * `documents` table into clusters + keep/drop. */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    clustersFor(docs, candidatePairs(bandSignatures(shinglesFor(docs)).localCheckpoint()))
  }
}
