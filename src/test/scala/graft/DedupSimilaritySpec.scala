package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.{ParquetTableIO, StagedRun, TableIO}
import graft.ops.{Dedup, Similarity}
import java.nio.file.Files

/** Near-dup discovery quality gates:
  *  - LSH→Jaccard funnel: every planted near-dup pair survives
  *    minhashPairs and is verified by ngramJaccard with high similarity;
  *  - embedding LSH bands: recall ≥ 0.9 of brute-force high-cosine pairs
  *    (the old vec_id-bucket pairing had ~1/50 recall by construction).
  */
class DedupSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // --- text near-dups --------------------------------------------------
  private def sentence(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    val pool = Array("alpha", "beta", "gamma", "delta", "kernel", "socket",
                     "stream", "batch", "vector", "matrix", "cursor", "ledger")
    (0 until n).map(_ => pool(r.nextInt(pool.length))).mkString(" ")
  }

  // 10 base docs; docs 100..102 are near-dups of docs 0..2 (one word changed
  // out of 40 → shingle Jaccard ≈ 0.93); the rest are unrelated.
  private lazy val docs = {
    val base = (0 until 10).map(i => (i.toLong, sentence(i, 40)))
    val dups = (0 until 3).map { i =>
      val words = sentence(i, 40).split(" ")
      words(20) = "CHANGED"
      ((100 + i).toLong, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  /** The materialized band signature table `candidatePairs` requires. */
  private def sigsOf(d: org.apache.spark.sql.DataFrame) =
    Dedup.bandSignatures(Dedup.shinglesFor(d)).localCheckpoint()

  test("shingles: in-row computation matches the sliding-window definition") {
    val d = Seq((1L, "a  bb ccc dddd e")).toDF("doc_id", "text") // double space
    val sh = Dedup.shinglesFor(d).as[(Long, String)].collect().map(_._2).toSeq
    assert(sh == Seq("a bb ccc", "bb ccc dddd", "ccc dddd e"))
    // the streaming path's in-row shingle array (withSeedMins: words →
    // shingleArr → per-seed minima) sees exactly the exploded stream
    val stream = Dedup.minhashes(Dedup.shinglesFor(d))
      .as[(Long, Int, String)].collect().map(r => r._2 -> r._3).toMap
    val inRow = Dedup.withSeedMins(d).select(col("ne"), col("m"))
      .as[(Boolean, Seq[String])].head()
    assert(inRow == ((true, (0 until 8).map(stream))))
    // short docs produce no shingles, not a crash
    assert(Dedup.shinglesFor(Seq((2L, "one two")).toDF("doc_id", "text")).count() == 0)
  }

  test("band signatures from distinct shingles equal the from-docs form") {
    // the `docs` corpus repeats words inside each sentence, so its shingle
    // multiset has real duplicates — min-over-distinct must still match
    val fromDocs = Dedup.bandSignatures(Dedup.shinglesFor(docs))
      .as[(Long, Int, String)].collect().toSet
    val distinctSets = Dedup.shinglesFor(docs)
      .select(col("doc_id"), col("shingle")).distinct()
    assert(Dedup.shinglesFor(docs).count() > distinctSets.count(),
      "corpus has no duplicate shingles: the invariance check would be vacuous")
    val fromSets = Dedup.bandSignatures(distinctSets)
      .as[(Long, Int, String)].collect().toSet
    assert(fromDocs == fromSets)
    assert(fromDocs.nonEmpty)
  }

  test("LSH→Jaccard funnel: every planted near-dup pair survives") {
    val expected = Set((0L, 100L), (1L, 101L), (2L, 102L))
    val pairs = Dedup.candidatePairs(sigsOf(docs))
      .as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(pairs), s"LSH candidates missed near-dups: $pairs")
    val jac = Dedup.ngramJaccardFor(docs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    expected.foreach { p =>
      assert(jac.contains(p) && jac(p) >= 0.8, s"pair $p jaccard=${jac.get(p)}")
    }
    // ngramJaccard only scores LSH candidates — never all-pairs
    assert(jac.keySet == pairs)
  }

  // --- embedding near-dups ---------------------------------------------
  /** 120 base unit-ish vectors + 40 planted near-dups (cos ≈ 0.995). */
  private lazy val embeddings = {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(64)(r.nextGaussian().toFloat)
    }
    val base = (0 until 120).map(i => (i.toLong, vec(i)))
    val dups = (0 until 40).map { i =>
      val r = new scala.util.Random(10000 + i)
      val v = vec(i)
      val d = v.map(x => x + 0.1f * r.nextGaussian().toFloat)
      ((1000 + i).toLong, d)
    }
    (base ++ dups).toDF("vec_id", "embedding")
  }

  private def cosPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  test("hot-bucket guard: an exact-dup mega-cluster is excluded from band pairing") {
    // 30 identical docs would otherwise emit 30·29/2 = 435 pairs per band
    val mega = (0 until 30).map(i => (i.toLong, sentence(7, 40))) ++
               Seq((500L, sentence(8, 40)), (501L, sentence(9, 40)))
    val df = mega.toDF("doc_id", "text")
    def pairSet(d: org.apache.spark.sql.DataFrame, maxBucket: Int) =
      Dedup.candidatePairs(sigsOf(d), maxBucket).as[(Long, Long)].collect().toSet
    val unguarded = pairSet(df, Int.MaxValue).size
    assert(unguarded >= 435, s"mega-cluster should pair quadratically unguarded: $unguarded")
    val guarded = pairSet(df, 10).size
    assert(guarded == 0, s"capped buckets must not pair: $guarded")
    // the default cap leaves normal corpora untouched…
    val uncapped = pairSet(docs, Int.MaxValue)
    assert(Dedup.candidatePairs(sigsOf(docs)).as[(Long, Long)].collect().toSet == uncapped)
    // …and even a tight cap does not disturb normal near-dup discovery
    assert(pairSet(docs, 10) == uncapped)
  }

  test("cluster collapse: a 3-way duplicate chain keeps exactly one representative") {
    // {1,2,3} known only via pairs (1,2),(2,3) — pairwise dropping would keep
    // two of the three; the component collapse must keep exactly one
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    val out = Dedup.clustersFor(docs, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out == Map(
      1L -> (1L, 1), 2L -> (1L, 0), 3L -> (1L, 0),
      4L -> (4L, 1), 10L -> (10L, 1), 11L -> (10L, 0)))
  }

  test("cluster collapse: pointer jumping converges on a long chain in O(log n) rounds") {
    // a 41-node path has diameter 40; plain propagation needs 40 rounds —
    // the jump must get there well inside the 25-round budget (≈ log2 rounds)
    val pairs = (0 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 41 && cc.values.forall(_ == 0L), s"chain did not collapse: $cc")
  }

  // a graph exercising every peel case: a chain whose ends are leaves and
  // whose minimum IS a leaf (0-1-2), an isolated pair (10,11), a 3-path
  // whose middle is an isolated CORE node after peeling (20-21-22), a
  // triangle with a pendant leaf (30,31,32 + 33), and a star (40 + leaves)
  private lazy val peelPairs = Seq(
    (0L, 1L), (1L, 2L),
    (10L, 11L),
    (20L, 21L), (21L, 22L),
    (30L, 31L), (31L, 32L), (30L, 32L), (32L, 33L),
    (40L, 41L), (40L, 42L), (40L, 43L)).toDF("d1", "d2")

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cluster collapse: leaf peeling is exact on every leaf shape") {
    val unpeeled = asMap(Dedup.connectedComponents(peelPairs))
    val peeled = asMap(Dedup.connectedComponents(peelPairs, peelThreshold = 0L))
    assert(peeled == unpeeled, s"peeled=$peeled unpeeled=$unpeeled")
    assert(peeled(2L) == 0L && peeled(11L) == 10L && peeled(22L) == 20L &&
           peeled(33L) == 30L && peeled(43L) == 40L)
  }

  /** CC of [[peelPairs]] above the peel gate, every CC table staged through
    * a [[StagedRun]] on `stageIo` (the CurationPipeline wiring). */
  private def stagedCC(stageIo: TableIO, resume0: Boolean): Map[Long, Long] = {
    val run = new StagedRun {
      def io = stageIo; def runId = "cc"; def resume = resume0
    }
    asMap(Dedup.connectedComponents(peelPairs,
      (df, name) => run.stage(spark, name, df), peelThreshold = 0L))
  }

  test("staged CC rounds: drop the last committed round, resume reproduces the output") {
    val io = new ParquetTableIO(Files.createTempDirectory("cc_staged").toString)
    val first = stagedCC(io, resume0 = false)
    assert(first == asMap(Dedup.connectedComponents(peelPairs)))
    // kill ACROSS a round boundary: drop the last committed round and
    // everything after it — resume picks up from the surviving rounds
    val ccRounds = io.list(spark, "").filter(_.startsWith("cc_round_"))
    assert(ccRounds.size >= 2, s"expected staged CC rounds, got $ccRounds")
    val lastRound = ccRounds.map(_.stripPrefix("cc_round_").toInt).max
    io.drop(spark, s"cc_round_$lastRound")
    io.drop(spark, "cc_members")
    assert(stagedCC(io, resume0 = true) == first && first.nonEmpty)
  }

  test("mid-CC kill: resume restarts from the last committed round") {
    class KillAt(root: String, table: String) extends CountingIO(root) {
      override def write(df: org.apache.spark.sql.DataFrame, t: String,
                         partitionBy: Seq[String] = Nil): Unit = {
        if (t == table) throw new RuntimeException(s"injected kill before $t")
        super.write(df, t, partitionBy)
      }
    }
    val goldenIo = new CountingIO(Files.createTempDirectory("cc_kill_gold").toString)
    val golden = stagedCC(goldenIo, resume0 = false)

    // kill BETWEEN CC round commits: cc_edges + cc_round_0 land, round 1 dies
    val dir = Files.createTempDirectory("cc_kill").toString
    val e = intercept[RuntimeException](stagedCC(new KillAt(dir, "cc_round_1"), resume0 = false))
    assert(e.getMessage.contains("cc_round_1"))
    val onDisk = new ParquetTableIO(dir)
    assert(onDisk.exists(spark, "cc_edges") && onDisk.exists(spark, "cc_round_0"))

    // resume: identical clusters, and the committed rounds are READ, not
    // re-executed — only the killed round onward is recomputed
    val resumeIo = new CountingIO(dir)
    assert(stagedCC(resumeIo, resume0 = true) == golden && golden.nonEmpty)
    assert(resumeIo.written.contains("cc_round_1"))
    for (t <- Seq("cc_edges", "cc_round_0"))
      assert(!resumeIo.written.contains(t), s"$t re-executed on resume: ${resumeIo.written}")
    assert(resumeIo.written.size < goldenIo.written.size,
      s"resume re-ran everything: ${resumeIo.written.size} vs fresh ${goldenIo.written.size}")
  }

  test("cluster collapse end-to-end: planted near-dups drop, all else kept") {
    val out = Dedup.clustersFor(docs, Dedup.candidatePairs(sigsOf(docs)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // docs 100..102 are near-dups of 0..2 → cluster to the base doc, keep=0
    (0 until 3).foreach { i =>
      assert(out((100 + i).toLong) == (i.toLong, 0), s"dup ${100 + i}: ${out((100 + i).toLong)}")
    }
    // every other doc is its own kept cluster
    (3 until 10).foreach { i => assert(out(i.toLong) == (i.toLong, 1)) }
    assert(out.values.count(_._2 == 1) == 10, s"exactly the 10 base docs survive: $out")
  }

  test("span dedup: recurring boilerplate keeps only its first occurrence; strip removes it") {
    // 12-token boilerplate shared by docs 1..3 with unique tails
    val boiler = "this file is part of the example project released under license terms"
    val tails = Map(1L -> sentence(21, 15), 2L -> sentence(22, 15), 3L -> sentence(23, 15))
    val d = Seq(
      (1L, boiler + " " + tails(1L)),
      (2L, boiler + " " + tails(2L)),
      (3L, boiler + " " + tails(3L)),
      (4L, sentence(24, 20)),
      (5L, "too short")).toDF("doc_id", "text")
    val dec = Dedup.dupSpans(d, n = 12, stride = 12)
    val boilerRows = dec.filter(col("span_start") === 0 && col("n_occurrences") === 3)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    assert(boilerRows == Map(1L -> 1, 2L -> 0, 3L -> 0),
      s"first occurrence (min doc) keeps, recurrences strip: $boilerRows")
    // docs shorter than n emit no spans (and must not crash sequence())
    assert(dec.filter(col("doc_id") === 5L).count() == 0)

    val strips = dec.filter(col("keep") === 0).select("doc_id", "span_start", "span_len")
    val stripped = Dedup.stripSpans(d, strips)
      .as[(Long, String)].collect().toMap
    assert(stripped(1L) == boiler + " " + tails(1L), "first occurrence byte-identical")
    assert(stripped(2L) == tails(2L) && stripped(3L) == tails(3L),
      "recurrences lose exactly the boilerplate span")
    assert(stripped(4L) == sentence(24, 20) && stripped(5L) == "too short",
      "untouched docs byte-identical")
    // corpus-wide: the boilerplate now occurs exactly once
    assert(stripped.values.count(_.contains("released under license")) == 1)
  }

  test("span dedup: overlapping stride catches recurrences not window-aligned") {
    val passage = sentence(31, 10)
    val d = Seq(
      (1L, passage + " " + sentence(32, 10)),                       // passage at token 0
      (2L, sentence(33, 5) + " " + passage + " " + sentence(34, 7)) // passage at token 5
    ).toDF("doc_id", "text")
    val dups = Dedup.dupSpans(d, n = 10, stride = 5)
      .filter(col("n_occurrences") >= 2)
      .select("doc_id", "span_start", "keep").as[(Long, Int, Int)].collect().toSet
    assert(dups == Set((1L, 0, 1), (2L, 5, 0)),
      s"stride-5 windows must align on the shifted recurrence: $dups")
  }

  test("multi-probe LSH: superset of single-probe candidates, better near-dup recall") {
    val single = Similarity.lshTopKFor(embeddings, k = 3, multiProbe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.lshTopKFor(embeddings, k = 3, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // queries are vec_id 0..4; their planted near-dups are 1000..1004 — the
    // true rank-1 neighbour. Multi-probe must find at least as many of them.
    def hits(s: Set[(Long, Long)]) = (0 until 5).count(i => s.contains((i.toLong, (1000 + i).toLong)))
    assert(hits(multi) >= hits(single), s"multi=$multi vs single=$single")
    assert(hits(multi) >= 4, s"multi-probe should recover ≥4/5 planted rank-1 neighbours, got ${hits(multi)}")
  }

  test("IVF ANN: every vector lands in exactly one cell; planted dups found via probed cells") {
    val cells = Similarity.ivfCellsFor(embeddings)
    assert(cells.count() == embeddings.count())
    assert(cells.select("vec_id").distinct().count() == embeddings.count())
    def hitsOf(iters: Int): Int = {
      val top = Similarity.ivfTopKFor(embeddings, k = 3, nprobe = 2, iters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // queries 0..4 have planted near-dups 1000..1004 (cos ≈ 0.995): a
      // near-identical vector lands in the query's own cell, so nprobe≥1 finds it
      (0 until 5).count(i => top.contains((i.toLong, (1000 + i).toLong)))
    }
    val trained = hitsOf(2)
    assert(trained >= 4, s"IVF should recover ≥4/5 planted rank-1 neighbours, got $trained")
    // k-means training must not lose recall vs the raw-seed stand-in (iters=0)
    assert(trained >= hitsOf(0), "trained centroids lost recall vs seed centroids")
  }

  test("PQ: 4 codes per vector in [0, ksub); ADC finds planted near-dups") {
    val cents = Similarity.pqCodebookFor(embeddings)
    val codes = Similarity.pqCodesFor(embeddings, cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codes.length == embeddings.count() * 4, "every vector must get one code per block")
    assert(codes.forall { case (_, b, c) => b >= 0 && b < 4 && c >= 0 && c < 8 })
    // a planted near-dup (cos ≈ 0.995) quantizes to codes near the query's
    // own, so its ADC distance ranks it at/near the top
    val top = Similarity.pqTopKFor(embeddings, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 5).count(i => top.contains((i.toLong, (1000 + i).toLong)))
    assert(hits >= 4, s"PQ ADC should recover ≥4/5 planted neighbours in top-3, got $hits")
  }

  test("IVF-PQ: codes in range; ADC over probed cells matches plain IVF's planted recall") {
    val (codes, lut) = Similarity.ivfpqIndexAndLut(embeddings)
    val c = codes.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("block"),
                                      r.getAs[Int]("code"), r.getAs[Long]("cell")))
    assert(c.length == embeddings.count() * 4, "one code per (vector, block)")
    assert(c.forall { case (_, b, cd, _) => b >= 0 && b < 4 && cd >= 0 && cd < 8 })
    // every vector's 4 codes agree on one coarse cell
    assert(c.groupBy(_._1).values.forall(_.map(_._4).distinct.length == 1))

    def hitsOf(top: Set[(Long, Long)]): Int =
      (0 until 5).count(i => top.contains((i.toLong, (1000 + i).toLong)))
    val ivfpq = Similarity.ivfpqTopKFor(embeddings, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopKFor(embeddings, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // residual quantization is tight for a cos≈0.995 near-dup in the same
    // cell: the composition must not lose the recall plain IVF has
    assert(hitsOf(ivfpq) >= hitsOf(ivf),
      s"IVF-PQ recall ${hitsOf(ivfpq)} < plain IVF ${hitsOf(ivf)}")
    assert(hitsOf(ivfpq) >= 4, s"IVF-PQ should recover ≥4/5 planted neighbours, got ${hitsOf(ivfpq)}")
  }

  test("embedding LSH bands: recall ≥ 0.9 vs brute-force high-cosine pairs") {
    // ground truth: all pairs with cosine ≥ 0.9 by brute force
    val v = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e"))
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def l2(a: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, x) => acc + x))
    val brute = v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        (dot(col("a.e"), col("b.e")) / (l2(col("a.e")) * l2(col("b.e")))).as("cos"))
      .filter(col("cos") >= 0.9)
    val truth = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 30, s"fixture must plant near-dups; got ${truth.size}")

    val lshPairs = Similarity.embeddingCosinePairsFor(embeddings)
    val found = cosPairs(lshPairs).keySet
    val recall = (truth & found).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (truth=${truth.size}, found overlap=${(truth & found).size})")
    // and it is nowhere near all-pairs: candidate set ≪ n(n-1)/2
    val n = embeddings.count()
    assert(found.size < n * (n - 1) / 2 / 4, s"candidate set too dense: ${found.size}")
  }
}
