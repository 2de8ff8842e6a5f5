package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Candidate generation (SURVEY.md §2.4 J1–J4, A6): mention.norm ⋈ KB key.
  *
  * Join-strategy policy at scale (BASELINE.json north_star: "broadcast-or-
  * shuffle hash-join candidate generation ... salted to defuse hot-label
  * skew"):
  *  - dictionary provably small → `broadcast()` hint (BroadcastHashJoin, no
  *    shuffle at all);
  *  - otherwise split the probe side on a measured hot-key set: hot keys get
  *    an explicitly salted join (dict rows replicated R ways — bounded,
  *    because the hot set is top-k only), cold keys a plain shuffled hash
  *    join. AQE skew handling stays enabled as backstop.
  */
object Candidates {

  /** S2: label/alias dictionary → one row per (norm_key, entity_id, prior). */
  def dictionary(kb: DataFrame): DataFrame =
    kb.select(col("entity_id"), col("prior"),
              explode(concat(array(col("label")), col("aliases"))).as("key"))
      .select(col("entity_id"), col("prior"), Extract.normalize(col("key")).as("norm_key"))
      .distinct()

  /** A6: measured hot-key set — mention norms above a frequency threshold. */
  def hotKeys(mentions: DataFrame, threshold: Long): DataFrame =
    mentions.groupBy(col("norm")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > threshold)
      .select(col("norm").as("hot_norm"))

  /** J1/J2: candidate pairs (mention_id, ctx_id, entity_id, prior) of the
    * [[Extract.mentionsFromLines]] rows.
    *
    * ctx_id rides through the join so the scoring stage goes straight to the
    * context level WITHOUT re-joining the two largest tables of the pipeline
    * (mentions ⋈ candidates on mention_id was two exchanges + a shuffle join
    * of ~N_mention rows each — measured the dominant part of stage 3). */
  def candidates(mentions: DataFrame, dict: DataFrame,
                 broadcastDict: Boolean, saltR: Int = 8,
                 hotThreshold: Long = 10000L): DataFrame = {
    val outCols = Seq(col("mention_id"), col("ctx_id"), col("entity_id"), col("prior"))
    val m = mentions.select(col("mention_id"), col("ctx_id"), col("norm"))
    if (broadcastDict) {
      m.join(broadcast(dict), col("norm") === col("norm_key"), "inner")
        .select(outCols: _*)
    } else {
      val hot = hotKeys(m, hotThreshold)
      val mHot  = m.join(broadcast(hot), col("norm") === col("hot_norm"), "left_semi")
      val mCold = m.join(broadcast(hot), col("norm") === col("hot_norm"), "left_anti")
      val dictHot = dict.join(broadcast(hot), col("norm_key") === col("hot_norm"), "left_semi")
        .withColumn("salt", explode(sequence(lit(0), lit(saltR - 1))))
      val hotJoin = mHot
        .withColumn("msalt", pmod(xxhash64(col("mention_id")), lit(saltR.toLong)).cast("int"))
        .join(dictHot, col("norm") === col("norm_key") && col("msalt") === col("salt"), "inner")
      val coldJoin = mCold.join(dict, col("norm") === col("norm_key"), "inner")
      hotJoin.select(outCols: _*).unionByName(coldJoin.select(outCols: _*))
    }
  }

  /** J3: NIL mentions — no KB hit; left unannotated (dropped downstream). */
  def nilMentions(mentions: DataFrame, dict: DataFrame): DataFrame =
    mentions.join(dict, col("norm") === col("norm_key"), "left_anti")

  /** J4: prune files with zero candidates before the scoring stage. */
  def filesWithCandidates(src: DataFrame, mentions: DataFrame, cands: DataFrame): DataFrame = {
    val linkedFiles = mentions.join(cands.select(col("mention_id")).distinct(), Seq("mention_id"))
      .select(col("repo"), col("path"), col("commit")).distinct()
    src.join(linkedFiles, Seq("repo", "path", "commit"), "left_semi")
  }
}
