package graft.kg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mention extraction (SURVEY.md §2.3, E1–E8): src_files → the per-line
  * table ([[perLine]]), from which the mention rows ([[mentionsFromLines]])
  * and the context table ([[contexts]]) both derive.
  *
  * Everything is built-in generator/regexp/array expressions — no UDFs, no
  * custom Generator — one WholeStageCodegen span around the whole per-line
  * projection.
  *
  * Scale design: ONE pass over the line stream. The three extractors (ident /
  * doc-comment / import) are array expressions gated per line kind and
  * concatenated into a single mention-struct array, so there is no 3-way
  * union re-scanning the corpus and no mentions⋈context join afterwards —
  * the ±k context (the only exchange in this stage: one window partitioned by
  * file) rides along in the same row. Lines with no mentions are dropped
  * before anything is materialized.
  */
object Extract {

  /** Identifier grammar (code-corpus mention kind "ident"). */
  val IdentRe = "[A-Za-z_][A-Za-z0-9_]{2,}"

  /** CamelCase-with-≥2-humps grammar for doc-comment entity references. */
  val CamelRe = "[A-Z][a-z0-9]*(?:[A-Z][A-Za-z0-9]*)+"

  /** Global keyword stoplist (per-lang keywords that match IdentRe). */
  val Keywords: Seq[String] = Seq(
    "def", "val", "var", "lazy", "object", "class", "trait", "extends",
    "public", "private", "static", "void", "return", "import", "from",
    "const", "let", "function", "require", "package")

  private val commentRe = "^\\s*(//|#)"
  private val importRe  = "^\\s*(import|from)\\s|require\\("

  /** E1: file → (line_no, line). */
  def lines(src: DataFrame): DataFrame =
    src.select(col("repo"), col("path"), col("commit"), col("lang"),
               posexplode(split(col("content"), "\n")).as(Seq("line_no", "line")))

  private def isComment: Column = col("line").rlike(commentRe)
  private def isImport: Column  = col("line").rlike(importRe)

  /** E2 surfaces: identifiers from code lines (comment/import lines excluded —
    * a lexer does not tokenize those as identifiers). Gating the tokenizer
    * INPUT (empty string on other line kinds) yields an empty array with no
    * casts. The tokenizer is the native codegen'd scan (≡ regexp IdentRe,
    * case preserved — property-tested in CodeTokensSpec). */
  private def identSurfaces: Column =
    array_except(
      graft.functions.CodeTokenizer.codeTokens(
        when(!isComment && !isImport, col("line")).otherwise(lit("")), lowerOutput = false),
      array(Keywords.map(lit): _*))

  /** E3 surfaces: CamelCase entity references inside doc-comment lines. */
  private def docCommentSurfaces: Column =
    regexp_extract_all(when(isComment, col("line")).otherwise(lit("")), lit(CamelRe), lit(0))

  /** E4 surface: import/dependency target, per-lang literal-pattern grammar;
    * the mention surface is the last path segment of the target. Gated
    * comment-FIRST (a comment line that mentions `require(...)` is a doc
    * comment, not an import) — the extractor gates are mutually exclusive,
    * matching the pinned oracle's if/else-if precedence. */
  private def importSurface: Column = {
    val gated = when(isImport && !isComment, col("line")).otherwise(lit(""))
    val target =
      when(col("lang").isin("scala", "java"),
           regexp_extract(gated, "^\\s*import\\s+([A-Za-z0-9_.]+)", 1))
        .when(col("lang") === "python",
           regexp_extract(gated, "^\\s*from\\s+[A-Za-z0-9_.]+\\s+import\\s+([A-Za-z0-9_.]+)", 1))
        .otherwise(regexp_extract(gated, "require\\('kb/([A-Za-z0-9_./]+)'\\)", 1))
    regexp_extract(target, "([A-Za-z0-9_]+)$", 1)
  }

  private def mentionStruct(kind: String, surface: Column) =
    struct(lit(kind).as("kind"), surface.as("surface"))

  /** E2∪E3∪E4 as one per-line struct array (E7 without a union). */
  private def mentionArray: Column =
    concat(
      transform(identSurfaces, s => mentionStruct("ident", s)),
      transform(docCommentSurfaces, s => mentionStruct("doccomment", s)),
      filter(array(mentionStruct("import", importSurface)), m => length(m("surface")) > 0))

  /** E5: normalization — camel split, lower, snake/dot fold, space collapse.
    * Runs as the native one-pass scan [[graft.functions.CodeNormalize]]
    * (≡ the regexp chain on ASCII input — property-tested). */
  def normalize(c: Column): Column = graft.functions.CodeNormalizer.codeNormalize(c)

  /** The one-pass per-line stage: mention array + ±k context + ctx_id.
    * Only lines carrying at least one mention survive.
    *
    * The ±k context is computed IN-ROW with `slice` over the file's own lines
    * array — a file's lines never leave their source row, so extraction has
    * ZERO shuffles (the per-file window this replaces exchanged every line of
    * the corpus). Stateless ⇒ also directly usable under Structured
    * Streaming (graft.streaming). */
  def perLine(src: DataFrame, k: Int = 2): DataFrame = {
    // each line is tokenized exactly ONCE (native codegen'd scan); the ±k
    // context is then the flatten of the sliced per-line token arrays — the
    // old form joined the ±k lines into one string and re-tokenized it, so
    // every line paid the tokenizer 2k+1 times. Tokens cannot span the line
    // boundary (the separator is never a token char), so the two forms are
    // identical — and this one matches the independent oracle's
    // per-line-flatMap construction verbatim.
    val withLines = src.select(col("repo"), col("path"), col("commit"), col("lang"),
                               split(col("content"), "\n").as("lines"))
      .withColumn("line_toks",
        transform(col("lines"), l => graft.functions.CodeTokenizer.codeTokens(l)))
    // (line_no, line, ctx_terms) structs, built inside the row
    val perLineStructs = transform(col("lines"), (line, i) => struct(
      i.as("line_no"),
      line.as("line"),
      flatten(slice(col("line_toks"),
                    greatest(lit(1), i + 1 - k),
                    least(size(col("lines")), i + 1 + k) - greatest(lit(1), i + 1 - k) + 1))
        .as("ctx_terms")))
    withLines
      .select(col("repo"), col("path"), col("commit"), col("lang"),
              explode(perLineStructs).as("pl"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
              col("pl.line_no").as("line_no"), col("pl.line").as("line"),
              col("pl.ctx_terms").as("ctx_terms"))
      .select(col("repo"), col("path"), col("commit"), col("line_no"),
              array_distinct(mentionArray).as("ms"),  // in-row dedup: ids are unique by construction
              col("ctx_terms"))
      .filter(size(col("ms")) > 0)
      .withColumn("ctx_id", xxhash64(col("repo"), col("path"), col("commit"), col("line_no")))
  }

  /** Contexts table: one row per mention-bearing line (already unique). */
  def contexts(perLine: DataFrame): DataFrame =
    perLine.select(col("ctx_id"), col("ctx_terms"))

  /** Mention rows (E7+E8): explode the struct array, attach norm + stable id.
    * Slim — no context payload; scoring joins contexts via ctx_id. */
  def mentionsFromLines(perLine: DataFrame): DataFrame =
    perLine.select(col("repo"), col("path"), col("commit"), col("ctx_id"),
                   col("line_no"), explode(col("ms")).as("m"))
      .select(
        xxhash64(col("repo"), col("path"), col("commit"), col("line_no"),
                 col("m.kind"), col("m.surface")).as("mention_id"),
        col("repo"), col("path"), col("commit"), col("ctx_id"),
        col("line_no").as("line"), col("m.kind").as("kind"), col("m.surface").as("surface"),
        normalize(col("m.surface")).as("norm"))
}
