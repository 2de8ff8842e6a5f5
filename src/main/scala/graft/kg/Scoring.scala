package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TermCounter

/** Context-based disambiguation (SURVEY.md §2.5 A1–A4, J5, W1/W3): score each
  * (mention, candidate entity) pair with TF-IDF/cosine between the mention's
  * ±k-line context terms and the entity's KB context vector; keep the top-1
  * per mention (deterministic tie-break), falling back to the lookup prior
  * when the context carries no signal.
  *
  * Shuffle budget — designed for 10^12 files, where this stage is the
  * pipeline's largest data volume:
  *  1. contexts are stored once per line (every mention on a line shares the
  *     identical ±k context), so all TF work is per distinct context;
  *  2. term frequencies are computed INSIDE the row with array higher-order
  *     functions — the corpus-wide (ctx, term) hash aggregation (the biggest
  *     shuffle in the naive plan) never happens;
  *  3. the IDF aggregation's map-side combine reduces to vocabulary-bounded
  *     rows per partition before its exchange;
  *  4. one `repartition(ctx_id)` of the compact context rows leaves the
  *     stream hash-partitioned by ctx_id, and the norm aggregation and the
  *     scoring join both reuse that one exchange (the explicit mention-hash
  *     repartitioning the north rule mandates — expressed once, reused
  *     thrice);
  *  5. each (context, entity) cosine is computed once and fanned back out to
  *     co-located mentions.
  *
  * All relational — join + two-phase hash aggregation, no UDAF, whole-stage
  * codegen end to end.
  *
  * Determinism: float sums depend on partition order, so ranking compares
  * scores rounded to 1e-9 with entity_id as total tie-break — output is
  * stable across partition counts (tested shuffle.partitions 2 vs 13).
  */
object Scoring {

  /** A1 as in-row term frequency per distinct context — no shuffle; one row
    * per (ctx_id, term). Runs as the native one-pass
    * [[graft.functions.TermCounts]] expression (the HOF
    * `transform(array_distinct(...), t → size(filter(...)))` form it
    * replaces is O(distinct × length) per context — property-tested equal
    * including entry order). */
  private def ctxTf(ctxs: DataFrame): DataFrame =
    ctxs.select(col("ctx_id"),
                explode(TermCounter.termCounts(col("ctx_terms"))).as("e"))
      .select(col("ctx_id"), col("e.term").as("term"), col("e.tf").as("tf"))

  /** Per-term document frequency of a context set — the additive IDF
    * contribution unit (streaming accumulates these per micro-batch). */
  def termDf(ctxs: DataFrame): DataFrame =
    ctxTf(ctxs).groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Global IDF from accumulated (term, df) stats + a one-row (n) frame —
    * the same formula the batch path uses, so a snapshot built from summed
    * per-batch stats reproduces batch scores exactly. */
  def idfFromStats(stats: DataFrame, nCtx: DataFrame): DataFrame =
    stats.groupBy(col("term")).agg(sum(col("df")).as("df"))
      .crossJoin(broadcast(nCtx))
      .select(col("term"), TermCounter.idf(col("n"), col("df")).as("idf"))

  /** Scores every candidate pair. `candidates` is [[Candidates.candidates]]
    * output (mention_id, ctx_id, entity_id, prior); `contexts` is the
    * (ctx_id, ctx_terms) table of [[Extract.contexts]], one row per ctx_id.
    * Its `count()` is the IDF numerator's context count, so it should be a
    * checkpointed table (a parquet-metadata read).
    *
    * `broadcastKbCtx`: the entity context-vector table is broadcast only when
    * the caller measured it small (a DBpedia-scale KB is multi-GB exploded —
    * then the join runs as a shuffled hash join; preferSortMergeJoin=false).
    * `idfOverride`: a precomputed (term, idf) snapshot (streaming's global
    * IDF) replacing the corpus-local computation.
    * `broadcastKbTerms`: whether the KB-vocabulary prune's distinct-term set
    * is broadcast — decided by the caller on MEASURED size like the kbCtx
    * join above it (at DBpedia scale the distinct KB vocabulary alone is
    * 10^6–10^7 strings — a multi-hundred-MB broadcast); when false the prune
    * runs as a shuffled-hash semi-join instead. */
  def score(candidates: DataFrame, contexts: DataFrame, kbCtx: DataFrame,
            broadcastKbCtx: Boolean = true,
            idfOverride: Option[DataFrame] = None,
            broadcastKbTerms: Boolean = true): DataFrame = {

    // line contexts, hash-partitioned by ctx_id up front — the one explicit
    // exchange of the COMPACT rows (terms still in arrays); the tf explode,
    // the norm aggregation and the scoring join's big side all inherit it,
    // so the exploded term stream is never shuffled at all.
    val ctxs = contexts.repartition(col("ctx_id"))

    // The per-(ctx, term) stream feeds three consumers (the IDF aggregation,
    // the pruned dot-product fan-out and the norm aggregation). Measured at
    // 50k files (r6): materializing it with localCheckpoint to save the
    // per-consumer explode recompute made the stage SLOWER (top1 9.3→12.9 s)
    // — storing the exploded string stream costs more than re-running the
    // codegen'd TermCounts projection over the reused ctx_id exchange, and
    // the checkpoint's missing size statistics degrade the downstream join
    // strategy choices. Left recomputed deliberately.
    val tf = ctxTf(ctxs)

    // A2: document frequency / IDF over the context corpus. tf has exactly
    // one row per (ctx, term), so df = count(*) — partial aggregation shrinks
    // each partition to vocabulary size before the (cheap) exchange.
    val idf = idfOverride.getOrElse {
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // context count as a literal: no separate aggregation pass over the
      // context stream and no BroadcastNestedLoopJoin wrapper in the plan
      val n = contexts.count()
      df.select(col("term"), TermCounter.idf(lit(n), col("df")).as("idf"))
    }

    // idf is vocabulary-sized → AQE broadcasts it; wM stays partitioned by ctx_id
    val wM = tf.join(idf, "term")
      .select(col("ctx_id"), col("term"), (col("tf") * col("idf")).as("wm"))

    // A3 entity-side L2 norm (entity-count-sized); the context-side norm is
    // folded into the scoring aggregation below so the term stream is
    // consumed exactly once.
    val eNorm = kbCtx.groupBy(col("entity_id")).agg(sqrt(sum(col("weight") * col("weight"))).as("e_norm"))
    // not broadcastable → explicit SHUFFLE_HASH hint: the big side is a
    // streamed exploded term stream, sorting it for SMJ would spill; the KB
    // side (though too big to broadcast) still hashes per partition
    val maybeBcast: DataFrame => DataFrame =
      if (broadcastKbCtx) broadcast else (df => df.hint("shuffle_hash"))

    // J5 + A4: one cosine per distinct (context, candidate entity) pair.
    // kbCtx joins left-outer so ALL context terms flow through one groupBy,
    // which emits the dot product and the context norm together (A3+A4 in a
    // single pass over the big side — no separate norm aggregation).
    val pairs = candidates.select(col("mention_id"), col("ctx_id"), col("entity_id"), col("prior"))
    // distinct (ctx, entity) pairs, pre-partitioned by ctx_id alone: the
    // ctx_id hash partitioning satisfies the distinct's clustered
    // distribution (subset of keys) AND the downstream wM join — one
    // exchange instead of two
    val ctxEntity = pairs.select(col("ctx_id"), col("entity_id"))
      .repartition(col("ctx_id")).dropDuplicates("ctx_id", "entity_id")
    // The dot product only needs terms that exist in SOME entity vector, so
    // the fan-out join (ctx × candidate-entity × term — the widest stream of
    // the stage) is pruned to the KB vocabulary by a broadcast semi-join
    // first: at open-vocabulary corpus scale the context vocabulary is
    // ~10^8-10^9 terms while the KB vocabulary is orders smaller, and
    // without the prune every context term rides through the per-candidate
    // fan-out. The context L2 norm still needs ALL terms — computed in a
    // separate exchange-free aggregation over the already-ctx_id-partitioned
    // wM stream (tiny output, map-side combined).
    // the prune's build side follows the same measured-size policy as the
    // kbCtx join: broadcast when small, else a shuffled-hash semi-join (the
    // pruned stream re-exchanges to ctx_id below either way, so the extra
    // term-hash exchange only exists in the huge-KB mode where it is far
    // cheaper than the unpruned per-candidate fan-out it prevents)
    val kbTerms = kbCtx.select(col("term")).distinct()
    val wMKb =
      if (broadcastKbTerms) wM.join(broadcast(kbTerms), Seq("term"), "left_semi")
      else wM.join(kbTerms.hint("shuffle_hash"), Seq("term"), "left_semi")
    val mNorm = wM.groupBy(col("ctx_id")).agg(sqrt(sum(col("wm") * col("wm"))).as("m_norm"))
    // inner join now: a (ctx, entity) pair with no shared term simply gets no
    // row, exactly like the old left-outer + filter(dot > 0) (all weights > 0)
    val dots = ctxEntity.join(wMKb, "ctx_id")
      .join(maybeBcast(kbCtx), Seq("entity_id", "term"), "inner")
      .groupBy(col("ctx_id"), col("entity_id"))
      .agg(sum(col("wm") * col("weight")).as("dot"))
    val cosine = dots.filter(col("dot") > 0)
      .join(mNorm, "ctx_id")
      .join(maybeBcast(eNorm), "entity_id")
      .select(col("ctx_id"), col("entity_id"),
              (col("dot") / (col("m_norm") * col("e_norm"))).as("cos"))

    // fan the context-level cosines back out to mentions; W3 fallback to the
    // scaled lookup prior where the context shares no term with the entity.
    // (r6 measured: pre-repartitioning pairs by ctx_id alone to co-partition
    // with the cosine stream did NOT help — Spark 4 requires all cluster
    // keys for co-partitioning by default, so the join re-exchanges both
    // sides on (ctx_id, entity_id) regardless and the extra repartition is
    // pure cost. Left as the plain join.)
    pairs.join(cosine, Seq("ctx_id", "entity_id"), "left_outer")
      .select(col("mention_id"), col("entity_id"),
              coalesce(col("cos"), col("prior") * 1e-9).as("score"))
  }

  /** W1: argmax-score candidate per mention, deterministic. Implemented as
    * max over a struct with a unique tie-break key — a two-phase partial
    * aggregation instead of a window sort (no per-partition sort, map-side
    * combine; ties break toward the smaller entity_id exactly like
    * row_number over (score desc, entity_id asc)). */
  def top1(scored: DataFrame): DataFrame =
    scored.groupBy(col("mention_id"))
      .agg(max(struct(round(col("score"), 9).as("s"),
                      (-col("entity_id")).as("nid"),
                      col("entity_id").as("eid"))).as("m"))
      .select(col("mention_id"), col("m.eid").as("entity_id"), col("m.s").as("score"))
}
