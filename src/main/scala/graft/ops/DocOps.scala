package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Operator-parity implementations over the driver testdata (SURVEY.md §2,
  * FIXTURES.md §B). Every function is pure `Column`-expression Spark — no UDFs,
  * no RDDs — so whole-stage codegen, predicate pushdown and column pruning all
  * apply, and each has an exact ANSI-SQL (DuckDB) oracle in
  * [[graft.SparkEntry.oracleSql]].
  *
  * The `documents` table is reinterpreted as a code corpus of the exact
  * `input_hint` shape (repo, path, commit, lang, content) — see
  * SURVEY.md §1.2 — so the KG-pipeline operators can be oracle-checked on
  * driver data as well as on the synthetic corpus.
  */
object DocOps {

  /** Identifier-token grammar shared by engine and oracles (SURVEY.md E2). */
  val IdentRe = "[a-z_][a-z0-9_]{2,}"

  /** Keyword stoplist applied to identifier mentions (SURVEY.md E2). */
  val Stoplist: Seq[String] = Seq("the", "and", "for", "not")

  /** Tokenize: lowercase then extract identifier-shaped tokens. Runs as the
    * native codegen'd scan [[graft.functions.CodeTokens]] — semantics are
    * exactly `regexp_extract_all(lower(c), IdentRe, 0)` (property-tested in
    * CodeTokensSpec; the DuckDB oracles keep the regexp form). */
  def tokens(c: Column): Column = graft.functions.CodeTokenizer.codeTokens(c)

  // --------------------------------------------------------------------------
  // S1: corpus scan — documents reinterpreted as src_files(repo,path,commit,lang,content)
  // --------------------------------------------------------------------------
  def srcFiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      concat(lit("org"), (col("doc_id") % 20).cast("string"),
             lit("/repo"), (col("doc_id") % 7).cast("string")).as("repo"),
      concat(lit("src/doc_"), col("doc_id").cast("string"), lit(".txt")).as("path"),
      md5(concat(col("doc_id").cast("string"), lit("|"), col("source"))).as("commit"),
      col("lang"),
      col("text").as("content"),
      col("doc_id"))

  /** Shared DuckDB CTE defining the same derived corpus (kept adjacent to the
    * Spark definition above so they can only drift together). */
  val SrcFilesCte: String =
    """src_files AS (
      |  SELECT 'org' || CAST(doc_id % 20 AS VARCHAR) || '/repo' || CAST(doc_id % 7 AS VARCHAR) AS repo,
      |         'src/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
      |         md5(CAST(doc_id AS VARCHAR) || '|' || source) AS "commit",
      |         lang, text AS content, doc_id
      |  FROM documents)""".stripMargin

  // S1 query: scan with projection (F2) — column pruning reaches the parquet scan.
  def s1CorpusScan(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .select(col("repo"), col("path"), col("commit"), col("lang"),
              length(col("content")).as("content_len"))

  // F1: lang/size filter — predicate pushed to the parquet scan.
  def f1Filter(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .filter(col("lang").isin("en", "de", "fr") &&
              col("content").isNotNull && length(col("content")) < 1500)
      .select(col("repo"), col("path"), col("lang"), col("doc_id"))

  // F3: per-row sha256(content) invariant (BASELINE.json input_hint).
  def f3Sha256(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .select(col("doc_id"), sha2(col("content"), 256).as("sha"))

  // --------------------------------------------------------------------------
  // E1–E8: mention extraction (generators — explode over regexp, no custom UDTF)
  // --------------------------------------------------------------------------

  /** E1: content → (pos, word); positions count empty tokens so both engines agree. */
  def e1WordPositions(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .select(col("doc_id"), posexplode(split(col("content"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)

  /** E2: identifier extractor with keyword stoplist. */
  def e2Identifiers(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .select(col("doc_id"), col("repo"), col("path"),
              explode(tokens(col("content"))).as("surface"))
      .filter(!col("surface").isin(Stoplist: _*))

  /** The PRODUCTION mention extractor ([[graft.kg.Extract]]: comment-line
    * gate, per-lang import grammars, CamelCase doc-comment entities, keyword
    * stoplist) run over the STORED synthetic code-corpus fixture — real
    * comment/import lines read back from parquet, the same files the DuckDB
    * oracle scans. Replaces the old parity rows that string-concatenated
    * their comment/import lines inside the query. */
  private def fixtureMentions(spark: SparkSession): DataFrame = {
    graft.Fixtures.ensure(spark)
    graft.kg.Extract.mentionsFromLines(
      graft.kg.Extract.perLine(spark.read.parquet(graft.Fixtures.SrcCorpusParquet)))
      .withColumnRenamed("line", "line_no")
  }

  /** E3: doc-comment entity extractor (production grammar over stored files). */
  def e3DocComments(spark: SparkSession, dir: String): DataFrame =
    fixtureMentions(spark).filter(col("kind") === "doccomment")
      .select(col("repo"), col("path"), col("line_no"), col("surface"))

  /** E4: import/dependency extractor (per-lang grammars over stored files). */
  def e4Imports(spark: SparkSession, dir: String): DataFrame =
    fixtureMentions(spark).filter(col("kind") === "import")
      .select(col("repo"), col("path"), col("line_no"), col("surface"))

  /** E5: mention normalizer — camelCase/snake_case/dot fold to space-separated
    * lowercase. Runs as the native one-pass scan (the oracle SQL keeps the
    * equivalent regexp chain; parity property-tested in CodeTokensSpec). */
  def normalize(c: Column): Column = graft.functions.CodeNormalizer.codeNormalize(c)

  def e5Normalize(spark: SparkSession, dir: String): DataFrame = {
    val terms = e2Identifiers(spark, dir).select(col("surface").as("term")).distinct()
    val camel = concat(lit("get"),
      upper(substring(col("term"), 1, 1)), substring(col("term"), 2, 1000000),
      lit("_id"))
    terms.select(col("term"), camel.as("surface"))
      .select(col("term"), col("surface"), normalize(col("surface")).as("norm"))
  }

  /** E6/W2: ±2-word context frame via lag/lead (the surrounding-row context). */
  def e6ContextWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    e1WordPositions(spark, dir)
      .select(col("doc_id"), col("pos"), col("word"),
        concat_ws(" ",
          lag(col("word"), 2).over(w), lag(col("word"), 1).over(w),
          lead(col("word"), 1).over(w), lead(col("word"), 2).over(w)).as("ctx"))
  }

  /** E7/U1: the three production extractors' union — [[fixtureMentions]]
    * already computes it as one per-line struct array (E7 without a union
    * re-scan); this entry exposes the full (kind-discriminated) stream. */
  def e7Union(spark: SparkSession, dir: String): DataFrame =
    fixtureMentions(spark)
      .select(col("repo"), col("path"), col("line_no"), col("kind"), col("surface"))

  /** E8: stable mention id (md5 here for oracle parity; the synthetic-corpus
    * pipeline uses xxhash64 internally, see graft.kg). */
  def e8MentionId(spark: SparkSession, dir: String): DataFrame =
    srcFiles(spark, dir)
      .select(col("doc_id"), col("repo"), col("path"), col("commit"),
              posexplode(split(col("content"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), col("pos"),
        md5(concat_ws("|", col("repo"), col("path"), col("commit"),
                      col("pos").cast("string"), col("word"))).as("mention_id"))
}
