package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Streaming NEAR-dup filtering against a static signature index — the
  * production split of near-dedup across batch and stream: the nightly batch
  * funnel consolidates the corpus and publishes its MinHash-LSH band
  * signature table (`Dedup.bandSignatures`, the curation pipeline's
  * checkpointed `c3_minhash_sigs` stage); the intra-day ingest stream then
  * drops any arriving document that LSH-collides with the existing corpus
  * before it is stored or processed further.
  *
  * Why this shape: true streaming near-dedup (stream-vs-stream) needs a
  * stateful any-of-k-bands match — per-band dedup state PLUS a per-doc vote,
  * i.e. chained stateful operators over an unbounded keyspace. The
  * stream-vs-index form needs NO state at all: band signatures are computed
  * IN-ROW (`Dedup.withSeedMins`: the batch path's word grammar and shingle
  * array, projected once per document, with the per-seed minima as one
  * stateless expression; equal to the batch signatures, property-tested),
  * and each band becomes one stream-static LEFT ANTI join
  * against the index — stateless, supported in append mode, and exactly the
  * semantics "new vs existing corpus" that a daily-crawl pipeline wants.
  * Stream-vs-stream bursts of IDENTICAL content are already handled by
  * [[StreamingDedup]] (exact, watermark-bounded) upstream.
  *
  * Scale: the static index is the corpus's (doc × 4)-row compact signature
  * table, read per micro-batch; each anti join shuffles only the
  * micro-batch side (the index side partitions once per batch and is
  * vocabulary-of-signatures-sized, not text-sized). Documents with no
  * shingles (<3 words) have null band signatures and are always kept —
  * matching the batch funnel, where such docs never enter band pairing. */
object StreamingNearDedup {

  /** Adds `sig_0..sig_3` band-signature columns to a (doc_id, text, ...)
    * frame, in-row (works on streaming AND batch frames — equivalence with
    * `Dedup.bandSignatures` is property-tested). */
  def withBandSigCols(docs: DataFrame): DataFrame = {
    val withM = Dedup.withSeedMins(docs)
    (0 until 4).foldLeft(withM) { (df, b) =>
      df.withColumn(s"sig_$b",
        when(col("ne"), concat_ws("|",
          element_at(col("m"), b * 2 + 1), element_at(col("m"), b * 2 + 2))))
    }.drop("m", "ne")
  }

  /** Drop stream documents whose content LSH-collides (any of the 4 band
    * signatures) with `index` — a static `(band, sig)` table as published
    * by `Dedup.bandSignatures` (extra columns like doc_id are ignored).
    * Emits the input columns plus the four `sig_b` columns (kept so the
    * survivors' signatures can be appended to tomorrow's index without
    * recomputation). */
  def dropAgainstIndex(stream: DataFrame, index: DataFrame): DataFrame = {
    val signed = withBandSigCols(stream)
    (0 until 4).foldLeft(signed) { (df, b) =>
      df.join(
        index.filter(col("band") === b).select(col("sig").as(s"sig_$b")),
        Seq(s"sig_$b"), "left_anti")
    }
  }
}
