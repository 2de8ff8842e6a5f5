package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TermCounter

/** Relational-operator parity implementations (SURVEY.md §2.4–§2.8): the KB
  * dictionary (S2), candidate-generation joins incl. the salted skew join
  * (J1–J7), TF-IDF/cosine aggregations (A1–A4), majority vote (A5), windows
  * (W1–W3) and set operations (U2–U4) — each with an exact DuckDB oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes (the real target is a 10^12-file corpus on 1000 executors):
  *  - J1 broadcasts the dictionary only because it is provably small here; the
  *    production path in [[graft.kg.Candidates]] switches on measured size.
  *  - J2 demonstrates explicit key salting (dict replicated R ways, probe side
  *    salted by xxhash64) — the primary skew defense; AQE skew-join is backstop.
  *  - A1–A4 relationalize TF-IDF/cosine as join+agg so Catalyst plans partial
  *    (map-side) aggregation and whole-stage codegen end-to-end — no UDAF.
  */
object RelOps {

  /** All tokens per doc, including stoplisted ones (TF is over the raw stream).
    * The isNotNull filter is a no-op on the data (doc_id is never null) but
    * keeps every tf branch canonically IDENTICAL to branches where a join on
    * doc_id infers the same constraint — otherwise the inferred filter forks
    * the subtree and defeats the exchange reuse the composite queries rely on. */
  private def docTerms(spark: SparkSession, dir: String): DataFrame =
    DocOps.srcFiles(spark, dir)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(DocOps.tokens(col("content"))).as("term"))

  /** Mentions = identifier tokens minus the stoplist (same shape as E2). */
  private[ops] def mentions(spark: SparkSession, dir: String): DataFrame =
    docTerms(spark, dir)
      .filter(!col("term").isin(DocOps.Stoplist: _*))
      .withColumnRenamed("term", "surface")

  // --------------------------------------------------------------------------
  // S2: KB label dictionary — top-20 tokens by corpus frequency.
  //
  // Scale shape: the global top-k is orderBy(...).limit(k), which Catalyst
  // plans as TakeOrderedAndProject — per-partition heaps + a k-row merge on
  // the driver, NEVER a single-partition global Window (a no-partition
  // Window funnels the whole vocabulary aggregate through one task; at a
  // real corpus the vocabulary is 10^8–10^9 identifiers). The rank
  // (entity_id) is then derived INSIDE the k-row result via one in-row
  // sort_array over a collect_list of exactly k rows — bounded by k, not by
  // the corpus. Plan-asserted in PlanSpec.
  // --------------------------------------------------------------------------
  def s2Kb(spark: SparkSession, dir: String): DataFrame = {
    // prior = total corpus frequency = sum of per-doc tf — rooted in the SAME
    // (doc_id, term) aggregation as every other tf/idf consumer, so composite
    // queries (J1–J6, W1, A2–A4) reuse ONE exchange over the corpus scan
    // (ReusedExchange, plan-asserted) instead of re-scanning per subtree
    val cnt = a1Tf(spark, dir).groupBy(col("term")).agg(sum(col("tf")).as("prior"))
    val top = cnt.orderBy(col("prior").desc, col("term").asc).limit(20)
    top
      .agg(sort_array(collect_list(struct(
        (-col("prior")).as("np"), col("term").as("label"), col("prior").as("prior")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("long").as("entity_id"),
              col("e.label").as("label"), col("e.prior").as("prior"))
  }

  /** DuckDB CTEs mirroring docTerms / mentions / kb — kept adjacent. */
  val TermsCte: String =
    """terms AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z_][a-z0-9_]{2,}')) AS term FROM documents)"""
  val MentionsCte: String =
    """mentions AS (SELECT doc_id, term AS surface FROM terms WHERE term NOT IN ('the','and','for','not'))"""
  val KbCte: String =
    """kb AS (SELECT entity_id, label, prior FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY prior DESC, term) AS BIGINT) AS entity_id, term AS label, prior
      |  FROM (SELECT term, CAST(count(*) AS BIGINT) AS prior FROM terms GROUP BY term))
      | WHERE entity_id <= 20)""".stripMargin

  // --------------------------------------------------------------------------
  // J1: candidate-generation equi join (broadcast hash join — dict is small).
  // --------------------------------------------------------------------------
  def j1Candidates(spark: SparkSession, dir: String): DataFrame =
    mentions(spark, dir)
      .join(broadcast(s2Kb(spark, dir)), col("surface") === col("label"), "inner")
      .select(col("doc_id"), col("surface"), col("entity_id"))

  /** J2: the same join, salted R=8 ways to defuse hot-key skew. The dict side
    * is replicated per salt; the probe side derives its salt from xxhash64 of
    * the row (engine-internal, never in output). Result ≡ J1 by construction —
    * the oracle is the plain-join SQL. */
  def j2SaltedCandidates(spark: SparkSession, dir: String): DataFrame = {
    val R = 8
    val salted = mentions(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("doc_id"), col("surface")), lit(R)).cast("int"))
    val dict = s2Kb(spark, dir)
      .withColumn("salt", explode(sequence(lit(0), lit(R - 1))))
    salted.join(dict, salted("surface") === dict("label") && salted("salt") === dict("salt"), "inner")
      .select(col("doc_id"), col("surface"), col("entity_id"))
  }

  /** J3: anti join — NIL mention surfaces with no KB hit. */
  def j3NilMentions(spark: SparkSession, dir: String): DataFrame =
    mentions(spark, dir).select(col("surface")).distinct()
      .join(s2Kb(spark, dir), col("surface") === col("label"), "left_anti")

  /** J4: semi join — docs having at least one candidate. */
  def j4DocsWithCandidates(spark: SparkSession, dir: String): DataFrame =
    DocOps.srcFiles(spark, dir).select(col("doc_id"), col("repo"), col("path"))
      .join(j1Candidates(spark, dir).select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")

  // --------------------------------------------------------------------------
  // A1–A4: TF-IDF / cosine relationalized (join + two-phase hash agg).
  // --------------------------------------------------------------------------
  def a1Tf(spark: SparkSession, dir: String): DataFrame =
    docTerms(spark, dir).groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** IDF derived from the tf frame: tf has exactly one row per (doc, term),
    * so df = count(*) — identical to countDistinct over the raw stream, but
    * rooted in the same aggregation exchange as tf itself. The planner then
    * computes the corpus scan + explode + (doc_id, term) aggregation ONCE and
    * feeds every consumer through a ReusedExchange — previously each of
    * a3/a4/j5/w1/j6 re-derived it 3–5× from separate scans. */
  private def idfFromTf(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    // sum(tf ≥ 1) ≡ count(*) here (tf is always ≥ 1) but references tf in a
    // form the optimizer cannot fold back to count(1) — a bare count would
    // get the inner count pruned out of this branch (RemoveRedundantAggregates),
    // leaving two SLIGHTLY different tf aggregates and no exchange reuse.
    // Keeping both branches byte-identical is what lets the planner compute
    // the corpus scan + explode + (doc_id, term) aggregation once.
    a1Tf(spark, dir).groupBy(col("term"))
      .agg(sum(when(col("tf") >= 1, 1L).otherwise(0L)).as("df"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), TermCounter.idf(col("n"), col("df")).as("idf"))
  }

  def a2Idf(spark: SparkSession, dir: String): DataFrame =
    idfFromTf(spark, dir).select(col("term"), col("df"), round(col("idf"), 6).as("idf"))

  /** tf-idf weights per (doc, term) — unrounded, internal. */
  private def tfidf(spark: SparkSession, dir: String): DataFrame =
    a1Tf(spark, dir).join(idfFromTf(spark, dir).select(col("term"), col("idf")), "term")
      .select(col("doc_id"), col("term"), (col("tf") * col("idf")).as("w"))

  def a3Norms(spark: SparkSession, dir: String): DataFrame =
    tfidf(spark, dir).groupBy(col("doc_id"))
      .agg(round(sqrt(sum(col("w") * col("w"))), 6).as("l2_norm"))

  /** A4: cosine(doc tf-idf, fixed query {spark, join, data} with tf=1). */
  def a4CosineQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = tfidf(spark, dir)
    // query weight = idf(term), i.e. tf=1 on the query side. The query terms
    // join as a 3-row literal frame instead of an isin filter: a static IN
    // predicate gets inferred across the w ⋈ q join and pushed into one tf
    // branch, forking it from the canonical form every other branch shares —
    // the literal join keeps all of them rooted in ONE reused tf exchange.
    val q = idfFromTf(spark, dir)
      .join(broadcast(Seq("spark", "join", "data").toDF("term")), "term")
      .select(col("term"), col("idf").as("wq"))
    val qNorm = q.agg(sqrt(sum(col("wq") * col("wq"))).as("qn"))
    val dNorm = w.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("dn"))
    w.join(broadcast(q), "term")
      .groupBy(col("doc_id")).agg(sum(col("w") * col("wq")).as("dot"))
      .join(dNorm, "doc_id").crossJoin(broadcast(qNorm))
      .select(col("doc_id"), round(col("dot") / (col("dn") * col("qn")), 4).as("cos"))
  }

  // --------------------------------------------------------------------------
  // J5 + A4: full context-scoring join — mention tf vectors ⋈ entity context
  // vectors on term, repartitioned by mention hash before the join (the
  // explicit repartition the north rule mandates), then cosine per pair.
  // --------------------------------------------------------------------------
  /** Entity context: top-10 co-occurring terms (by count desc, term asc) over
    * docs that contain the entity's label. */
  def kbContext(spark: SparkSession, dir: String): DataFrame = {
    val kb = s2Kb(spark, dir)
    // co-occurrence counts from the tf frame (sum(tf) ≡ counting the raw
    // stream), so this rides the same reused (doc_id, term) exchange
    val tf = a1Tf(spark, dir)
    val docsWithLabel = tf.join(broadcast(kb), col("term") === col("label"))
      .select(col("entity_id"), col("doc_id")).distinct()
    val co = docsWithLabel.join(tf, "doc_id")
      .groupBy(col("entity_id"), col("term")).agg(sum(col("tf")).as("cnt"))
    val w = Window.partitionBy(col("entity_id")).orderBy(col("cnt").desc, col("term").asc)
    co.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("entity_id"), col("term"), col("cnt").cast("double").as("we"))
  }

  def j5CosineScore(spark: SparkSession, dir: String): DataFrame = {
    val spk = spark
    val docVec = a1Tf(spk, dir).select(col("doc_id"), col("term"), col("tf").cast("double").as("wd"))
      .repartition(col("doc_id")) // explicit repartition by mention hash pre-join
    val ctx = kbContext(spk, dir)
    val dNorm = docVec.groupBy(col("doc_id")).agg(sqrt(sum(col("wd") * col("wd"))).as("dn"))
    val eNorm = ctx.groupBy(col("entity_id")).agg(sqrt(sum(col("we") * col("we"))).as("en"))
    docVec.join(ctx, "term")
      .groupBy(col("doc_id"), col("entity_id")).agg(sum(col("wd") * col("we")).as("dot"))
      .join(dNorm, "doc_id").join(broadcast(eNorm), "entity_id")
      .select(col("doc_id"), col("entity_id"),
              round(col("dot") / (col("dn") * col("en")), 4).as("score"))
  }

  // --------------------------------------------------------------------------
  // W1: top-1 candidate per mention (deterministic integer ranking).
  // --------------------------------------------------------------------------
  def w1Top1(spark: SparkSession, dir: String): DataFrame = {
    val tfOfLabel = a1Tf(spark, dir)
      .join(broadcast(s2Kb(spark, dir)), col("term") === col("label"))
      .select(col("doc_id"), col("entity_id"), col("tf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("entity_id").asc)
    tfOfLabel.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("entity_id"), col("tf"))
  }

  /** W2 (frame spec): ±1-row moving sum per order. The ordering must be TOTAL
    * — (l_orderkey, l_linenumber) is not unique in the testdata, and a ROWS
    * frame over a partial order is engine-nondeterministic. */
  def w2MovingSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
               col("l_partkey"), col("l_suppkey"))
      .rowsBetween(-1, 1)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
              round(sum(col("l_quantity")).over(w), 2).as("moving_qty"))
  }

  /** J8: bucketed RANGE join — "events of the same user within ±5 minutes
    * of each error event". A naive range join is an equi join on user_id
    * with the range as a post-filter: per-user quadratic, and a user with
    * 10^6 events makes one task quadratic at corpus scale. The standard
    * scale shape bucketes time at the range width: the probe side explodes
    * into its own bucket ±1, the build side keeps its single bucket, and
    * the join is EQUI on (user_id, bucket) — every in-range pair lands in
    * exactly one bucket pairing, per-task work is bounded by bucket
    * population, and the exact range predicate filters the bucket-edge
    * false positives. Plan-asserted: hash join, never
    * BroadcastNestedLoopJoin/CartesianProduct. Exact integer-microsecond
    * time arithmetic throughout — bucket = `us div width` BIGINT division
    * (all epochs positive, so trunc ≡ floor; no double rounding anywhere). */
  def j8RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 300L * 1000000L
    val ev = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val bucket = expr(s"us div ${gapUs}L")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"), col("us").as("err_us"),
              bucket.as("bucket"))
    val probes = ev
      .select(col("user_id"), col("event_id"), col("us"),
              explode(array(bucket - 1, bucket, bucket + 1)).as("bucket"))
    val nearby = errors.join(probes, Seq("user_id", "bucket"))
      .filter(abs(col("us") - col("err_us")) <= gapUs && col("event_id") =!= col("err_id"))
      .groupBy(col("user_id"), col("err_id"))
      .agg(count(lit(1)).as("n_nearby"))
    errors.select(col("user_id"), col("err_id"))
      .join(nearby, Seq("user_id", "err_id"), "left_outer")
      .select(col("user_id"), col("err_id"),
              coalesce(col("n_nearby"), lit(0L)).as("n_nearby"))
  }

  /** J9: AS-OF join — "the most recent error event of the same user at or
    * before each event". A join-based as-of is a per-user range join with a
    * top-1; the Spark-native scale shape needs NO join at all: union the
    * (deduplicated) error markers with the event stream and take a running
    * `last(ignoreNulls)` over one per-user window — ONE shuffle on user_id,
    * one sort, and zero join fan-out regardless of error density. Markers
    * sort before events at equal timestamps (kind desc) so an event at the
    * marker's own microsecond matches it; markers are pre-deduplicated to
    * one per (user, us) (max event_id) because an as-of against tied keys
    * is otherwise nondeterministic in ANY engine. The DuckDB oracle is the
    * NATIVE `ASOF LEFT JOIN` — the equivalence of the union+window form and
    * a real as-of join is engine-checked, row for row. */
  def j9AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val err = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("us")).agg(max(col("event_id")).as("asof_err_id"))
    val tagged = ev
      .select(col("user_id"), col("us"), col("event_id"),
              lit(null).cast("long").as("m_id"), lit(null).cast("long").as("m_us"),
              lit(0).as("kind"))
      .unionByName(err.select(col("user_id"), col("us"),
              lit(null).cast("long").as("event_id"),
              col("asof_err_id").as("m_id"), col("us").as("m_us"), lit(1).as("kind")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("kind").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("a_id", last(col("m_id"), ignoreNulls = true).over(w))
      .withColumn("a_us", last(col("m_us"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("user_id"), col("event_id"), col("a_id").as("asof_err_id"),
              (col("us") - col("a_us")).as("us_since_err"))
  }

  /** W4: gap-based sessionization — the classic event-analytics window op:
    * per user, a new session starts when the gap to the previous event
    * exceeds `gap` (30 min); sessions are then rolled up to one row each.
    *
    * Shape at scale: ONE shuffle keyed on user_id — the lag and the running
    * sum share the same (partition, ordering) so they run in one Window
    * over one sort, and the session rollup's clustering requirement
    * (user_id, session_idx) is already satisfied by hashpartitioning
    * (user_id), so the groupBy adds no exchange. Ordering is TOTAL
    * ((ts, event_id) — ts alone could tie) and the frame is explicit ROWS.
    * Timestamps compare in exact integer microseconds (`unix_micros` ≡
    * DuckDB's `epoch_us`). The streaming form of this operator is
    * [[graft.streaming.StreamingSessionize]] (Spark's `session_window` —
    * identical membership semantics, proven in StreamingSessionizeSpec). */
  def w4Sessionize(spark: SparkSession, dir: String): DataFrame =
    w4SessionizeFor(Tables.events(spark, dir))

  def w4SessionizeFor(events: DataFrame): DataFrame = {
    val gapUs = 1800L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(ws))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
           date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
           count(lit(1)).as("n_events"),
           round(sum(col("value")), 2).as("total_value"))
  }

  /** W3: rank KB entities by lookup prior (the no-context fallback ranking).
    * rank() = 1 + |rows strictly ahead in (prior desc, label asc)| — computed
    * as a broadcast non-equi self-join over the k-row dictionary instead of a
    * no-partition Window, so the idiom stays scale-safe even though the input
    * here is bounded (it is the k-row KB dict). */
  def w3RankPrior(spark: SparkSession, dir: String): DataFrame = {
    val kb = s2Kb(spark, dir)
    val other = kb.select(col("prior").as("p2"), col("label").as("l2"))
    kb.join(broadcast(other),
        col("p2") > col("prior") || (col("p2") === col("prior") && col("l2") < col("label")),
        "left_outer")
      .groupBy(col("entity_id"), col("label"), col("prior"))
      .agg((count(col("l2")) + 1L).as("rnk"))
      .select(col("entity_id"), col("label"), col("prior"), col("rnk"))
  }

  // --------------------------------------------------------------------------
  // A5–A9 aggregations
  // --------------------------------------------------------------------------
  /** A5: majority vote — canonical term per lang cluster, deterministic tie-break. */
  def a5MajorityVote(spark: SparkSession, dir: String): DataFrame = {
    val votes = DocOps.srcFiles(spark, dir)
      .select(col("lang"), explode(DocOps.tokens(col("content"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("term").asc)
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("lang"), col("term").as("top_term"), col("cnt"))
  }

  /** A6: hot-key frequency top-k (feeds the J2 salting hot-set).
    * orderBy+limit → TakeOrderedAndProject — no single-partition Window
    * (the production hot-key path in kg.Candidates uses a threshold filter;
    * this parity query is the top-k form, in the scale-safe shape). */
  def a6HotKeys(spark: SparkSession, dir: String): DataFrame =
    docTerms(spark, dir).groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(10)
      .select(col("term"), col("cnt"))

  /** A7: lineage/metrics rollup per repo (per-partition variant is in graft.kg). */
  def a7LineageRollup(spark: SparkSession, dir: String): DataFrame =
    DocOps.srcFiles(spark, dir)
      .select(col("repo"), col("path"), explode(DocOps.tokens(col("content"))).as("term"))
      .groupBy(col("repo"))
      .agg(countDistinct(col("path")).as("files"), count(lit(1)).as("token_rows"))

  /** A10: ROLLUP subtotals — the shape of every per-run report (per stage,
    * per stage-group, grand total in one pass). Spark expands the grouping
    * sets BEFORE aggregation but the partial agg still applies per set;
    * one exchange keyed on the expanded grouping columns. Subtotal rows are
    * identified with `grouping()` — NOT by null-coalescing the cell, which
    * would conflate a subtotal with a genuine NULL or literal "(all)" value
    * in the data — then labeled "(all)" so both engines agree on a non-null
    * sort key (the oracle mirrors with SQL `GROUPING()`). */
  def a10Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("total_price"),
           grouping(col("o_orderpriority")).as("gp"),
           grouping(col("o_orderstatus")).as("gs"))
      .select(when(col("gp") === 1, lit("(all)")).otherwise(col("o_orderpriority")).as("priority"),
              when(col("gs") === 1, lit("(all)")).otherwise(col("o_orderstatus")).as("status"),
              col("n_orders"), col("total_price"))

  /** A11: CUBE / grouping-sets — every cross-dimension subtotal in ONE pass
    * (per-lang, per-source, per-(lang,source), grand total): the corpus-card
    * rollup a curation run publishes. Same machinery as A10 — Expand
    * multiplies each input row by the 4 grouping sets BEFORE the partial
    * aggregate, so map-side combine still collapses per set and the plan
    * pays one exchange keyed on the expanded grouping columns + grouping id
    * (plan-asserted in PlanSpec). Subtotals identified via `grouping()`,
    * never by null-coalescing. At 100 TB the Expand factor (2^dims) is the
    * knob to watch: 2 dims = 4× pre-agg rows, collapsed map-side to at most
    * 4× the group cardinality — fine; 6+ dims wants explicit grouping sets
    * instead of full CUBE. */
  def a11Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           grouping(col("lang")).as("gl"),
           grouping(col("source")).as("gs"))
      .select(when(col("gl") === 1, lit("(all)")).otherwise(col("lang")).as("lang"),
              when(col("gs") === 1, lit("(all)")).otherwise(col("source")).as("source"),
              col("n_docs"), col("total_chars"))

  /** A12: PIVOT — long-to-wide reshaping of per-(lang, source) doc counts
    * into one column per source, the corpus-report/crosstab operator.
    * Pivot VALUES ARE DECLARED (not discovered): Spark plans a declared
    * pivot as ONE two-phase aggregation of conditional counts — no second
    * pass to enumerate keys, no per-value shuffle, which is the 100 TB
    * shape (an undeclared pivot first runs a distinct over the pivot
    * column). Wide columns are bounded by the declared value list. */
  def a12Pivot(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Seq("src0", "src1", "src2", "src3")
    Tables.documents(spark, dir)
      .filter(col("source").isin(srcs.map(lit): _*))
      .groupBy(col("lang"))
      .pivot("source", srcs)
      .agg(count(lit(1)))
      .na.fill(0L, srcs)
  }

  /** A8: distinct (dedup across extractor overlap). */
  def a8Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("lang"), col("source")).distinct()

  /** A9: conditional aggregation counters in one pass. */
  def a9Counters(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_r"),
      sum(when(col("l_returnflag") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("hi_qty"))

  // --------------------------------------------------------------------------
  // J6/J7 evaluation + invariant joins
  // --------------------------------------------------------------------------
  /** J6: precision/recall of emitted top-1 annotations vs a gold subset
    * (entities 1..10 ranked by label tf) via full-outer join + conditional agg. */
  def j6Eval(spark: SparkSession, dir: String): DataFrame = {
    val emitted = w1Top1(spark, dir).select(col("doc_id"), col("entity_id"))
    val tfOfLabel = a1Tf(spark, dir)
      .join(broadcast(s2Kb(spark, dir).filter(col("entity_id") <= 10)), col("term") === col("label"))
      .select(col("doc_id"), col("entity_id"), col("tf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("entity_id").asc)
    val gold = tfOfLabel.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("entity_id"))
    val j = emitted.as("e").join(gold.as("g"),
      col("e.doc_id") === col("g.doc_id") && col("e.entity_id") === col("g.entity_id"), "full_outer")
    j.agg(
      sum(when(col("e.doc_id").isNotNull && col("g.doc_id").isNotNull, 1L).otherwise(0L)).as("matched"),
      sum(when(col("e.doc_id").isNotNull, 1L).otherwise(0L)).as("emitted_cnt"),
      sum(when(col("g.doc_id").isNotNull, 1L).otherwise(0L)).as("gold_cnt"))
      .select(col("matched"), col("emitted_cnt"), col("gold_cnt"),
        round(col("matched").cast("double") / col("emitted_cnt"), 6).as("precision"),
        round(col("matched").cast("double") / col("gold_cnt"), 6).as("recall"))
  }

  /** J7: per-row sha256 invariant — recomputed vs snapshot hashes; must be 0. */
  def j7ShaCheck(spark: SparkSession, dir: String): DataFrame = {
    val a = DocOps.f3Sha256(spark, dir).withColumnRenamed("sha", "sha_a")
    val b = DocOps.srcFiles(spark, dir)
      .select(col("doc_id"), sha2(col("content"), 256).as("sha_b"))
    a.join(b, "doc_id").filter(col("sha_a") =!= col("sha_b"))
      .agg(count(lit(1)).as("mismatches"))
  }

  // --------------------------------------------------------------------------
  // U2–U4 set operations, O3 global top-k
  // --------------------------------------------------------------------------
  /** U2: resume pending set — all repos except repos already done (those with an 'en' doc). */
  def u2ExceptResume(spark: SparkSession, dir: String): DataFrame = {
    val all = DocOps.srcFiles(spark, dir).select(col("repo")).distinct()
    val done = DocOps.srcFiles(spark, dir).filter(col("lang") === "en").select(col("repo")).distinct()
    all.except(done)
  }

  /** U3: sha-set equality both ways (both counts must be 0). */
  def u3ShaExcept(spark: SparkSession, dir: String): DataFrame = {
    val a = DocOps.f3Sha256(spark, dir).select(col("sha"))
    val b = DocOps.srcFiles(spark, dir).select(sha2(col("content"), 256).as("sha"))
    val ab = a.except(b).agg(count(lit(1)).as("c")).select(col("c").as("a_minus_b"))
    val ba = b.except(a).agg(count(lit(1)).as("c")).select(col("c").as("b_minus_a"))
    ab.crossJoin(ba)
  }

  /** U4: intersect — sources appearing both in 'en' docs and in long docs. */
  def u4Intersect(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.documents(spark, dir).filter(col("lang") === "en").select(col("source")).distinct()
    val b = Tables.documents(spark, dir).filter(col("n_chars") > 300).select(col("source")).distinct()
    a.intersect(b)
  }

  /** O3: global top-k → TakeOrderedAndProject (no full sort at scale). */
  def o3GlobalTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** Classic 3-way join + agg (customer ⋈ orders ⋈ lineitem). */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("cnt"))
}
