package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed BPE (byte-pair-encoding) tokenizer TRAINING — the missing
  * piece between corpus curation and an actual pretraining run: the merge
  * table every tokenizer ships is learned from corpus statistics, and at
  * 100 TB that learning is itself a distributed job.
  *
  * The algorithm (Sennrich et al., ACL 2016 — public knowledge): words are
  * sequences of symbols, initially characters plus an end-of-word marker;
  * each round counts adjacent symbol pairs weighted by word frequency,
  * merges the most frequent pair into a new symbol everywhere, and repeats.
  *
  * Scale story — the reason this is corpus-scale-feasible at all:
  *  - the CORPUS is touched exactly once ([[wordCounts]]: one shuffle into a
  *    vocabulary-sized (word, count) table — Zipf-bounded, millions of rows
  *    at any corpus size, like the bigram-LM's model tables);
  *  - every merge round then runs over the VOCABULARY table only: pair
  *    counting is an in-row zip of each word's symbol array with its own
  *    tail (no window, no per-symbol exchange) followed by one partial-agg
  *    groupBy bounded by |alphabet|² symbols;
  *  - the winning pair is a ONE-ROW driver read per round (the same scalar
  *    policy-read discipline as the measured-size join switches), and the
  *    merge itself is a narrow in-row fold — no shuffle at all;
  *  - round lineage is truncated with `localCheckpoint` (the CC-rounds
  *    discipline) so round k never re-executes rounds 1..k-1.
  *
  * Merge application is a greedy left-to-right fold, the reference BPE
  * semantics: overlapping occurrences ("aaa" under merge (a,a)) collapse
  * leftmost-first. Determinism: ties on pair count break lexicographically
  * (count DESC, a ASC, b ASC) — reproducible on any cluster size.
  *
  * Correctness: [[pairCounts]] is DuckDB-oracled (`bpe_pair_counts`); the
  * merge loop and final segmentation are pinned against an independent
  * single-threaded reference implementation plus reassembly/monotonicity
  * properties in BpeSpec (the learned merges are data-dependent, so a pure
  * SQL oracle cannot express the loop — same exemption contract as the
  * pipeline's independent oracle).
  */
object Bpe {

  val EndOfWord = "</w>"

  /** One corpus pass: whitespace-tokenized, lowercased word frequencies. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** word → initial symbol array: characters + the end-of-word marker. */
  def initialSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(EndOfWord)))

  /** Adjacent-pair frequencies over a (word, cnt, syms) vocabulary table:
    * in-row zip of the symbol array with its own tail (the bigram-LM
    * discipline), one |symbols|²-bounded aggregation. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"),
        explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("n"))

  /** Greedy left-to-right merge of adjacent (a, b) → a+b inside one symbol
    * array — a narrow fold, no shuffle. Leftmost-first on overlaps: the
    * freshly merged symbol never re-pairs with the next element this round
    * (reference BPE semantics).
    *
    * The fold is an interpreted higher-order `aggregate` with per-element
    * array copies, and in a merge round most of the vocabulary does NOT
    * contain the winning pair — so the fold is gated behind a codegen'd
    * containment probe on the NUL-joined symbol string. The probe is
    * conservative-correct: adjacency always implies the substring match
    * (no false negatives), and a false positive (a symbol itself containing
    * the separator around a/b) merely runs the fold, which is then the
    * identity. Measured at a 10^5-word vocabulary × 64 merges: the merge
    * apply dropped from ~0.97 s/round to ~0.2 s/round (BENCH.md, "BPE merge
    * rounds at vocabulary scale"). */
  def mergePair(syms: Column, a: String, b: String): Column = {
    val sep = "\u0000"
    val folded = aggregate(syms, array().cast("array<string>"), (acc, t) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && t === lit(b),
           concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(t))))
    when(array_join(syms, sep).contains(lit(a + sep + b)), folded)
      .otherwise(syms)
  }

  /** Learn `k` merges from a corpus. Returns the ordered merge table and the
    * final vocabulary segmentation. Stops early if no pair repeats. */
  def train(docs: DataFrame, k: Int): (Seq[(String, String)], DataFrame) = {
    require(k >= 1, "need at least one merge round")
    var vocab = wordCounts(docs)
      .withColumn("syms", initialSymbols(col("word")))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    var round = 0
    while (continue && round < k) {
      // one-row scalar read per round (deterministic tiebreak)
      val top = pairCounts(vocab)
        .filter(col("n") > 1) // a pair seen once cannot help compression
        .orderBy(desc("n"), asc("a"), asc("b")).limit(1)
        .collect()
      if (top.isEmpty) continue = false
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        vocab = vocab.withColumn("syms", mergePair(col("syms"), a, b))
          .localCheckpoint() // CC-rounds discipline: round k never replays 1..k-1
        round += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** Segment arbitrary words with an ALREADY-LEARNED merge table (the
    * inference side): replay the merges in rank order — a composition of
    * narrow folds. At corpus scale this runs over the DISTINCT-words table
    * once and docs join the segmentation back by word (vocabulary-sized
    * build side), never re-deriving per occurrence. */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(words.withColumn("syms", initialSymbols(col("word")))) {
      case (df, (a, b)) => df.withColumn("syms", mergePair(col("syms"), a, b))
    }

  // ------------------------------------------------------- driver queries

  /** Oracled: round-1 pair counts over the documents corpus. */
  def pairCountsQuery(spark: SparkSession, dir: String): DataFrame =
    pairCounts(wordCounts(Tables.documents(spark, dir))
      .withColumn("syms", initialSymbols(col("word"))))

  /** Rows-only (data-dependent loop — independent oracle in BpeSpec):
    * the learned merge table, rank-ordered. */
  def mergesQuery(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val (merges, _) = train(Tables.documents(spark, dir), k)
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "a", "b")
  }

  /** Rows-only: the final vocabulary segmentation under those merges. */
  def encodeQuery(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val (_, vocab) = train(Tables.documents(spark, dir), k)
    vocab.select(col("word"), col("cnt"),
                 concat_ws(" ", col("syms")).as("segmentation"),
                 size(col("syms")).as("n_syms"))
  }
}
