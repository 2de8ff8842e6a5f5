package graft.kg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Evaluation harness (SURVEY.md J6/A9): precision/recall of emitted triples
  * vs the gold annotations, via one full-outer join + conditional aggregation.
  */
object Eval {

  /** The gold-annotation schema (T2D/Limaye-style): never inferred — CSV gold
    * files carry no types, and a schema-inference pass would double-read the
    * input. */
  val GoldSchema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("line", IntegerType),
    StructField("kind", StringType), StructField("surface", StringType),
    StructField("entity_id", LongType)))

  /** S4: gold/reference-annotation scan — T2D/Limaye-style gold read from
    * storage, the entry point for user-supplied gold annotation files
    * (columns: repo, path, commit, line, kind, surface, entity_id). */
  def goldFromParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** CSV form (T2D/Limaye gold in the wild is CSV), explicit schema. */
  def goldFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(GoldSchema).csv(path)

  /** Format-sniffing entry point: a `.csv` file, or a directory containing
    * any `.csv` part, reads as CSV; everything else as parquet. */
  def goldFromPath(spark: SparkSession, path: String): DataFrame =
    if (isCsv(spark, path)) goldFromCsv(spark, path) else goldFromParquet(spark, path)

  private def isCsv(spark: SparkSession, path: String): Boolean = {
    if (path.endsWith(".csv")) return true
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) return false
    val names = fs.listStatus(p).map(_.getPath.getName)
    // parquet wins when both are present: a stray summary.csv inside a
    // parquet table dir must not flip the whole gold table to CSV parsing
    !names.exists(_.endsWith(".parquet")) && names.exists(_.endsWith(".csv"))
  }

  /** Precision/recall against a gold path, parquet or CSV (S4 → J6 in one call). */
  def precisionRecallFromPath(spark: SparkSession, emitted: DataFrame, goldPath: String): DataFrame =
    precisionRecall(emitted, goldFromPath(spark, goldPath))

  /** Gold rows → the triple key space (the subject and predicate of
    * Canonicalize.triples). */
  def goldTriples(gold: DataFrame): DataFrame =
    gold.select(
      Canonicalize.subject(col("repo"), col("path"), col("commit"), col("line")).as("subj"),
      Canonicalize.predicate(col("kind")).as("pred"),
      concat(lit("kb:"), col("entity_id").cast("string")).as("obj"))
      .dropDuplicates("subj", "pred", "obj")

  /** One row: matched / emitted / gold counts + precision + recall. */
  def precisionRecall(emitted: DataFrame, gold: DataFrame): DataFrame = {
    val e = emitted.select(col("subj"), col("pred"), col("obj")).dropDuplicates()
      .withColumn("e", lit(1))
    val g = goldTriples(gold).withColumn("g", lit(1))
    e.join(g, Seq("subj", "pred", "obj"), "full_outer")
      .agg(sum(when(col("e").isNotNull && col("g").isNotNull, 1L).otherwise(0L)).as("matched"),
           sum(when(col("e").isNotNull, 1L).otherwise(0L)).as("emitted_cnt"),
           sum(when(col("g").isNotNull, 1L).otherwise(0L)).as("gold_cnt"))
      .select(col("matched"), col("emitted_cnt"), col("gold_cnt"),
              round(col("matched").cast("double") / col("emitted_cnt"), 6).as("precision"),
              round(col("matched").cast("double") / col("gold_cnt"), 6).as("recall"))
  }
}
