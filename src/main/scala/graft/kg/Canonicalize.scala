package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Majority-vote canonicalization + triple materialization (SURVEY.md A5, S5).
  *
  * Vote tallies are two-phase hash aggregations (HashAggregate(partial) →
  * Exchange → HashAggregate(final)); the argmax uses max over a struct with a
  * unique tie-break key, so it is deterministic AND keeps partial aggregation
  * (no UDAF, no collect_list).
  */
object Canonicalize {

  /** A5: per (repo, kind, norm) cluster, elect the majority entity.
    * Returns cluster → (entity_id, conf = vote share). */
  def vote(linked: DataFrame): DataFrame = {
    val tallies = linked.groupBy(col("repo"), col("kind"), col("norm"), col("entity_id"))
      .agg(count(lit(1)).as("cnt"))
    tallies.groupBy(col("repo"), col("kind"), col("norm"))
      .agg(max(struct(col("cnt"), (-col("entity_id")).as("nid"), col("entity_id").as("eid"))).as("m"),
           sum(col("cnt")).as("total"))
      .select(col("repo"), col("kind"), col("norm"),
              col("m.eid").as("entity_id"),
              round(col("m.cnt").cast("double") / col("total"), 6).as("conf"))
  }

  /** Join mention-level links (top-1 per mention) back to mentions and apply
    * the cluster-canonical entity. */
  def canonicalMentions(mentions: DataFrame, top1: DataFrame): DataFrame = {
    val linked = mentions.join(top1.select(col("mention_id"), col("entity_id")), Seq("mention_id"))
    val canon = vote(linked)
    linked.drop("entity_id")
      .join(canon, Seq("repo", "kind", "norm"))
  }

  /** S5 projection: (subj, pred, obj) triples with provenance. Dedup is an
    * aggregation, not dropDuplicates: when two mentions on one line collapse
    * to the same triple with different conf, dropDuplicates keeps a
    * partition-order-dependent row — max conf keeps the highest
    * deterministically.
    *
    * The aggregation groups on the NATURAL key (repo, path, commit, line,
    * pred, entity_id) and builds the subj/obj strings AFTER it: subj is an
    * injective encoding of (repo, path, commit, line) ([[subject]];
    * provenance is functionally determined by it), so the group set is
    * identical to grouping by (subj, pred, obj) — but max(conf) over a double is
    * HashAggregate-eligible, where the old max(struct(conf, src_repo, ...))
    * forced a partial SortAggregate that sorted every pre-dedup mention row
    * by its ~100-char triple strings, and the concat runs once per OUTPUT
    * row instead of once per input row. */
  def triples(canonical: DataFrame): DataFrame =
    canonical
      .groupBy(col("repo"), col("path"), col("commit"), col("line"),
        predicate(col("kind")).as("pred"), col("entity_id"))
      .agg(max(col("conf")).as("conf"))
      .select(
        subject(col("repo"), col("path"), col("commit"), col("line")).as("subj"),
        col("pred"),
        concat(lit("kb:"), col("entity_id").cast("string")).as("obj"),
        col("conf"),
        col("repo").as("src_repo"), col("path").as("src_path"), col("commit").as("src_commit"))

  /** The triple subject `code:{repo}/{path}@{commit}#L{line}`, shared by the
    * emitted triples and the gold key space ([[Eval.goldTriples]]). It is
    * injective: each text field percent-escapes `%` and the separator that
    * ends it (repo `/` → `%2F`, path `@` → `%40`, commit `#` → `%23`), so
    * the first `/`, the next `@` and the next `#` split a subject back into
    * its fields — repo `a` with path `b/c` and repo `a/b` with path `c`
    * stay two subjects. */
  def subject(repo: Column, path: Column, commit: Column, line: Column): Column = {
    def esc(field: Column, sep: String, code: String): Column =
      replace(replace(field, lit("%"), lit("%25")), lit(sep), lit(code))
    concat(lit("code:"), esc(repo, "/", "%2F"), lit("/"), esc(path, "@", "%40"),
           lit("@"), esc(commit, "#", "%23"), lit("#L"), line.cast("string"))
  }

  /** The triple predicate of a mention kind. */
  def predicate(kind: Column): Column =
    when(kind === "import", lit("imports"))
      .when(kind === "doccomment", lit("documents"))
      .otherwise(lit("mentions"))
}
