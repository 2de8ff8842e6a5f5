package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{DocOps, RelOps}
import graft.kg.{Candidates, Canonicalize, CorpusGen, Extract}

/** Physical-plan shape assertions (SURVEY.md §4/§5.5): the plans must stay
  * the plans we designed for 100 TB — pushdown reaching the scan, partial
  * aggregation surviving, broadcast where intended, codegen in the hot path.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("F1: filters are pushed to the parquet scan") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.sparkPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(l_quantity"),
      s"no pushed filter in:\n$scan")
  }

  test("F2: column pruning reaches the scan (ReadSchema is minimal)") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.sparkPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("ReadSchema") && scan.contains("l_orderkey") &&
           !scan.contains("l_extendedprice"), s"pruning failed:\n$scan")
  }

  test("A5: vote tallies use two-phase (partial) hash aggregation") {
    val linked = CorpusGen.srcFiles(spark, 10).toDF()
      .selectExpr("repo", "'ident' AS kind", "lang AS norm", "cast(length(path) as long) AS entity_id")
    val p = plan(Canonicalize.vote(linked))
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"no partial agg in:\n$p")
  }

  test("A11: CUBE expands grouping sets BEFORE a partial agg, one exchange") {
    val df = graft.ops.RelOps.a11Cube(spark, sf)
    val p = plan(df)
    assert(p.contains("Expand"), s"no Expand in:\n$p")
    assert(p.contains("HashAggregate") && p.contains("partial"),
      s"no partial agg over the expanded rows in:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"CUBE should pay exactly one exchange:\n$p")
  }

  test("J1: small dictionary plans a BroadcastHashJoin") {
    val mentions = Extract.mentionsFromLines(Extract.perLine(CorpusGen.srcFiles(spark, 20).toDF()))
    val dict = Candidates.dictionary(CorpusGen.kbEntries(spark).toDF())
    val p = plan(Candidates.candidates(mentions, dict, broadcastDict = true))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("whole-stage codegen covers the extraction hot path") {
    val df = Extract.perLine(CorpusGen.srcFiles(spark, 10).toDF())
    df.collect() // AQE finalizes the physical plan (and codegen ids) on execution
    val p = plan(df)
    // codegen'd operators are prefixed "*(stageId)" in the plan string
    assert(p.contains("*(1)"), s"no codegen span in:\n$p")
  }

  test("scoring plan has no sort and no sort-merge join (SHJ/BHJ + hash aggs only)") {
    val src = CorpusGen.srcFiles(spark, 30).toDF()
    val pl = Extract.perLine(src)
    val mentions = Extract.mentionsFromLines(pl)
    val dict = Candidates.dictionary(CorpusGen.kbEntries(spark).toDF())
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    val prev = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try {
      val scored = graft.kg.Scoring.top1(graft.kg.Scoring.score(
        cands, Extract.contexts(pl), CorpusGen.kbContexts(spark).toDF()))
      val p = plan(scored)
      assert(!p.contains("SortMergeJoin"), s"SMJ in scoring plan:\n$p")
      // top1's max(struct) plans a partial SortAggregate (struct agg buffers
      // aren't HashAggregate-eligible): a per-partition sort by group key with
      // map-side combine — measured faster than the Window alternative, which
      // needs an exchange plus a global sort per partition key. Assert the
      // expensive shapes stay absent: no window exec, no global sort.
      assert(!p.contains("Window"), s"window exec in scoring plan:\n$p")
      assert(!p.linesIterator.exists(l => l.contains("Sort [") && l.contains("], true,")),
        s"global sort in scoring plan:\n$p")
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", prev)
  }

  test("extraction plan has zero exchanges (in-row contexts)") {
    val p = plan(Extract.perLine(CorpusGen.srcFiles(spark, 10).toDF()))
    assert(!p.contains("Exchange"), s"unexpected exchange in extraction:\n$p")
  }

  test("O3: global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = plan(RelOps.o3GlobalTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"unexpected plan:\n$p")
  }

  test("S2/A6: vocabulary top-k plans TakeOrderedAndProject, never a no-partition Window") {
    // the old shape funneled the whole vocabulary aggregate through ONE task
    // (WindowExec: No Partition Defined); s2Kb is embedded in 8 oracled plans
    for ((name, df) <- Seq("s2Kb" -> RelOps.s2Kb(spark, sf),
                           "a6HotKeys" -> RelOps.a6HotKeys(spark, sf))) {
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"), s"$name lost top-k shape:\n$p")
      assert(!p.contains("Window"), s"$name has a window exec:\n$p")
    }
    // W3's rank over the k-row dict is a broadcast self-join, not a Window
    assert(!plan(RelOps.w3RankPrior(spark, sf)).contains("Window"))
  }

  test("dedup shingles are exchange-free before the first aggregation") {
    val p = plan(graft.ops.Dedup.shingles(spark, sf))
    assert(!p.contains("Exchange"), s"shingle stage shuffles:\n$p")
  }

  test("bucketed range join is a hash join — never nested-loop/cartesian") {
    val p = plan(RelOps.j8RangeJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a product:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash join on (user_id, bucket):\n$p")
  }

  test("degree-oriented triangles: hash joins only, never nested-loop/cartesian") {
    // the wedge join carries a non-equi term (vk ordering) ON TOP of the
    // equi pivot key — it must plan as a hash join with the inequality as a
    // post-join condition, and the degree/closure joins must stay equi too
    val p = plan(graft.ops.GraphOps.triangles(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle closure degraded to a product:\n$p")
    assert(p.contains("HashJoin"), s"expected hash joins in the wedge closure:\n$p")
  }

  test("as-of join plans with ZERO join operators — union + one window") {
    val p = plan(RelOps.j9AsofJoin(spark, sf))
    assert(!p.contains("Join"), s"as-of should be joinless:\n$p")
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 exchanges (marker agg + window), got $exchanges:\n$p")
  }

  test("sessionization is ONE exchange: lag, running sum and rollup share user_id partitioning") {
    // both windows run in one sort over hashpartitioning(user_id), and the
    // (user_id, session_idx) rollup's clustering is already satisfied by it
    val p = plan(RelOps.w4Sessionize(spark, sf))
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("pred-partitioned triple sink prunes partitions on read-back") {
    // S5 writes triples partitioned by pred; a consumer filtering on pred
    // must touch only that partition's files (PartitionFilters in the scan,
    // not a post-scan Filter over all rows) — at 100 TB this is the
    // difference between reading one predicate's directory and the corpus
    val dir = java.nio.file.Files.createTempDirectory("prune").toString + "/triples"
    import spark.implicits._
    Seq(("s1", "imports", "o1"), ("s2", "mentions", "o2"), ("s3", "documents", "o3"))
      .toDF("subj", "pred", "obj")
      .write.partitionBy("pred").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("pred") === "imports")
    val scan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pred#\\d+ = imports".r
             .findFirstIn(scan).isDefined,
      s"partition filter not pushed:\n$scan")
    assert(q.count() == 1)
  }

  test("pagerank rounds reuse the prepared edge-table exchange (AQE off)") {
    // with AQE the printed plan repeats the subtree (stage-cache dedup is a
    // runtime artifact — see PLANS.md header); with AQE off the static
    // ReuseExchange rule is visible in the plan itself
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.ops.GraphOps.pagerank(spark, sf).queryExecution
        .executedPlan.toString
      assert(p.contains("ReusedExchange"), s"no exchange reuse across rounds:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("streaming band-signature expression path is exchange-free") {
    // the streaming near-dup filter attaches band signatures as per-row
    // expressions (no aggregation state) — the whole signed projection must
    // plan without any Exchange
    val p = plan(graft.streaming.StreamingNearDedup.withBandSigCols(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
                org.apache.spark.sql.functions.col("text"))))
    assert(!p.contains("Exchange"), s"streaming signature path shuffles:\n$p")
  }

  test("text_langid is fully in-row: zero exchanges") {
    // marker counting runs as size(filter(tokens, isin)) per language — the
    // old explode + corpus-wide groupBy re-shuffled every token of the corpus
    val p = plan(graft.ops.TextAnalysis.langId(spark, sf))
    assert(!p.contains("Exchange"), s"langId shuffles:\n$p")
  }

  test("scoring join degrades to ShuffledHashJoin when kbCtx is measured large") {
    val src = CorpusGen.srcFiles(spark, 30).toDF()
    val pl = Extract.perLine(src)
    val mentions = Extract.mentionsFromLines(pl)
    val dict = Candidates.dictionary(CorpusGen.kbEntries(spark).toDF())
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    val prevSmj = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try {
      val scored = graft.kg.Scoring.score(
        cands, Extract.contexts(pl), CorpusGen.kbContexts(spark).toDF(),
        broadcastKbCtx = false)
      val p = plan(scored)
      // the SHUFFLE_HASH hint overrides size-based broadcast: the kbCtx join
      // must run as a shuffled hash join, and nothing may fall back to SMJ
      assert(p.contains("ShuffledHashJoin"), s"no SHJ with broadcastKbCtx=false:\n$p")
      assert(!p.contains("SortMergeJoin"), s"SMJ in forced-large scoring plan:\n$p")
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", prevSmj)
  }

  test("tf-rooted composite queries reuse one exchange: documents scanned ≤2×") {
    // a3/a4/j5/w1/j6 used to re-derive tf/idf from separate corpus scans
    // (3–5 scans per query); everything now roots in the one (doc_id, term)
    // aggregation, which AQE materializes once and reuses (ReusedExchange)
    for ((name, df) <- Seq("a3_norms" -> RelOps.a3Norms(spark, sf),
                           "a4_cosine_query" -> RelOps.a4CosineQuery(spark, sf),
                           "j5_cosine_score" -> RelOps.j5CosineScore(spark, sf),
                           "j6_eval_pr" -> RelOps.j6Eval(spark, sf))) {
      df.collect() // finalize the adaptive plan (reuse happens at runtime)
      // count scans in the FINAL adaptive plan only (the string also echoes
      // the pre-reuse "Initial Plan", which would double-count)
      val p = plan(df).split("== Initial Plan ==")(0)
      val scans = p.linesIterator.count(l => l.contains("FileScan parquet") &&
                                             l.contains("documents"))
      assert(scans <= 2, s"$name scans documents $scans times:\n$p")
      assert(p.contains("ReusedExchange"), s"$name has no exchange reuse:\n$p")
    }
  }

  test("KB-vocabulary prune switches broadcast↔shuffled-hash semi-join on measured size") {
    val src = CorpusGen.srcFiles(spark, 30).toDF()
    val pl = Extract.perLine(src)
    val mentions = Extract.mentionsFromLines(pl)
    val dict = Candidates.dictionary(CorpusGen.kbEntries(spark).toDF())
    val cands = Candidates.candidates(mentions, dict, broadcastDict = true)
    val prevSmj = spark.conf.get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try {
      def planFor(bcTerms: Boolean): String = plan(graft.kg.Scoring.score(
        cands, Extract.contexts(pl), CorpusGen.kbContexts(spark).toDF(),
        broadcastKbTerms = bcTerms))
      val pb = planFor(true)
      assert(pb.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
        s"no broadcast semi-join with broadcastKbTerms=true:\n$pb")
      val ps = planFor(false)
      assert(ps.linesIterator.exists(l => l.contains("ShuffledHashJoin") && l.contains("LeftSemi")),
        s"no shuffled-hash semi-join with broadcastKbTerms=false:\n$ps")
      assert(!ps.contains("SortMergeJoin"), s"SMJ in huge-vocabulary scoring plan:\n$ps")
    } finally spark.conf.set("spark.sql.join.preferSortMergeJoin", prevSmj)
  }

  test("IVF-PQ search over a stored codes table never reads raw embeddings") {
    // production shape: codes are the stored index, raw vectors stay cold —
    // the ADC scan's ReadSchema must be (vec_id, cell, block, code) only
    val emb = Tables.embeddings(spark, sf)
    val (codes, lut) = graft.ops.Similarity.ivfpqIndexAndLut(emb)
    val dir = java.nio.file.Files.createTempDirectory("pqcodes").toString
    codes.write.mode("overwrite").parquet(dir)
    val search = graft.ops.Similarity.ivfpqAdc(spark.read.parquet(dir), lut, k = 5)
    val codesLeaf = search.queryExecution.sparkPlan.collectLeaves()
      .map(_.toString).find(_.contains("pqcodes"))
    assert(codesLeaf.isDefined, "codes scan leaf not found")
    assert(codesLeaf.get.contains("ReadSchema") && !codesLeaf.get.contains("embedding"),
      s"codes scan must not read embeddings:\n${codesLeaf.get}")
    assert(search.count() > 0)
  }

  test("partition pruning reaches the lang-partitioned checkpoint scan") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    CorpusGen.srcFiles(spark, 40).toDF()
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("lang") === "scala").select("repo", "path")
    val scan = df.queryExecution.sparkPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("isnotnull(lang"),
      s"no partition filter in:\n$scan")
  }

  test("global plan lint: no query plans a no-partition Window or a cartesian product") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.sparkPlan
      val badWindows = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      val cartesians = plan.collect { case c: CartesianProductExec => c }
      (if (badWindows.nonEmpty) Seq(s"$name: no-partition Window") else Nil) ++
        (if (cartesians.nonEmpty) Seq(s"$name: CartesianProduct") else Nil)
    }
    assert(offenders.isEmpty, s"scale-killer plan shapes:\n${offenders.mkString("\n")}")
  }

  test("E5 normalize is idempotent over camel/snake/dot surfaces") {
    import spark.implicits._
    val surfaces = Seq("AlphaBeta", "alpha_beta", "a.b.C", "getX_id", "ABC", "x__y",
                       "Alpha_Beta.GammaDelta", "", "a", "A1b2C3")
    val df = surfaces.toDF("s")
      .select(DocOps.normalize(col("s")).as("n1"))
      .select(col("n1"), DocOps.normalize(col("n1")).as("n2"))
    assert(df.filter(col("n1") =!= col("n2")).count() == 0)
  }
}
