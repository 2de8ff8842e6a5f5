package graft.kg

/** Typed data model of the KG-construction pipeline (SURVEY.md §1.2).
  * Primitives + Array[String] only — encoded via Encoders.product, fixed
  * schemas (the input_hint shape is fixed, nothing is inferred).
  */

/** The input table, exactly the BASELINE.json input_hint shape. */
case class SourceFile(repo: String, path: String, commit: String, lang: String, content: String)

/** Snapshot row for the per-row sha256(content) invariant (F3/J7). */
case class FileSha(repo: String, path: String, commit: String, sha256: String)

/** KB dictionary entry: canonical label + aliases + lookup prior (S2). */
case class KbEntry(entity_id: Long, label: String, aliases: Array[String], prior: Double)

/** Per-entity context term with pre-normalized weight (S3). */
case class KbContext(entity_id: Long, term: String, weight: Double)

/** Gold annotation row (T2D/Limaye-style fixture, FIXTURES.md A4). */
case class Gold(repo: String, path: String, commit: String,
                line: Int, kind: String, surface: String, entity_id: Long)
