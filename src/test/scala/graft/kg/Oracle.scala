package graft.kg

/** Independent single-threaded oracle (SURVEY.md §5.4): naive Scala loops
  * implementing the annotation semantics — lookup, tf-idf, cosine, top-1,
  * majority vote — with NO Spark and no shared code with the engine beyond
  * the corpus generator (which defines the input, not the computation).
  *
  * Its output stands in for the reference implementation's annotations
  * (the reference checkout is empty, SURVEY.md §0): the engine's emitted
  * triples must reach P/R ≥ 0.95 against it. Independence is the point — a
  * bug must be written twice (here and in graft.kg) to go unnoticed.
  */
object Oracle {

  case class OMention(repo: String, path: String, commit: String, line: Int,
                      kind: String, surface: String, norm: String, ctx: Seq[String])

  private val identRe = "[A-Za-z_][A-Za-z0-9_]{2,}".r
  private val camelRe = "[A-Z][a-z0-9]*(?:[A-Z][A-Za-z0-9]*)+".r
  private val tokenRe = "[a-z_][a-z0-9_]{2,}".r
  private val importJvmRe = "^\\s*import\\s+([A-Za-z0-9_.]+)".r.unanchored
  private val importPyRe  = "^\\s*from\\s+[A-Za-z0-9_.]+\\s+import\\s+([A-Za-z0-9_.]+)".r.unanchored
  private val importJsRe  = "require\\('kb/([A-Za-z0-9_./]+)'\\)".r.unanchored
  // deliberately re-stated (not imported from the engine): the oracle shares
  // no computation code with graft.kg
  private val keywords = Set(
    "def", "val", "var", "lazy", "object", "class", "trait", "extends",
    "public", "private", "static", "void", "return", "import", "from",
    "const", "let", "function", "require", "package")

  def normalize(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1 $2").toLowerCase
      .replaceAll("[_.]", " ").replaceAll(" +", " ").trim

  private def isComment(l: String) = l.matches("^\\s*(//|#).*")
  private def isImport(l: String) =
    l.matches("^\\s*(import|from)\\s.*") || l.contains("require(")

  def extract(f: SourceFile, k: Int = 2): Seq[OMention] = {
    val lines = f.content.split("\n", -1)
    val ctxOf: Int => Seq[String] = i => {
      val lo = math.max(0, i - k); val hi = math.min(lines.length - 1, i + k)
      (lo to hi).flatMap(j => tokenRe.findAllIn(lines(j).toLowerCase))
    }
    val out = scala.collection.mutable.LinkedHashMap[(Int, String, String), OMention]()
    for (i <- lines.indices) {
      val l = lines(i)
      val found: Seq[(String, String)] =
        if (isComment(l)) camelRe.findAllIn(l).map(s => ("doccomment", s)).toSeq
        else if (isImport(l)) {
          val target = f.lang match {
            case "python" => importPyRe.findFirstMatchIn(l).map(_.group(1))
            case "js"     => importJsRe.findFirstMatchIn(l).map(_.group(1))
            case _        => importJvmRe.findFirstMatchIn(l).map(_.group(1))
          }
          target.map(t => ("import", t.split("[./]").last)).toSeq
        } else identRe.findAllIn(l).filterNot(keywords).map(s => ("ident", s)).toSeq
      found.foreach { case (kind, surface) =>
        out.getOrElseUpdate((i, kind, surface),
          OMention(f.repo, f.path, f.commit, i, kind, surface, normalize(surface), ctxOf(i)))
      }
    }
    out.values.toSeq
  }

  /** Full annotation: returns triples (subj, pred, obj). */
  def annotate(files: Seq[SourceFile], kb: Seq[KbEntry], kbCtx: Seq[KbContext],
               k: Int = 2): Set[(String, String, String)] = {
    val mentions = files.flatMap(extract(_, k))
    val dict: Map[String, Seq[(Long, Double)]] = kb
      .flatMap(e => (e.label +: e.aliases.toSeq).map(a => (normalize(a), e.entity_id, e.prior)))
      .distinct
      .groupBy(_._1).map { case (nk, xs) => (nk, xs.map(x => (x._2, x._3))) }
    val ctxByEntity: Map[Long, Map[String, Double]] =
      kbCtx.groupBy(_.entity_id).map { case (e, xs) => (e, xs.map(x => (x.term, x.weight)).toMap) }

    // tf per distinct line context (mentions on one line share a context),
    // idf over the context corpus — mirrors the engine's ctx_id keying
    val ctxKey: OMention => (String, String, String, Int) =
      m => (m.repo, m.path, m.commit, m.line)
    val tfByCtx: Map[(String, String, String, Int), Map[String, Int]] =
      mentions.groupBy(ctxKey).map { case (k, ms) =>
        (k, ms.head.ctx.groupBy(identity).map { case (t, xs) => (t, xs.size) })
      }
    val n = tfByCtx.size
    val df = scala.collection.mutable.HashMap[String, Int]()
    tfByCtx.values.foreach(_.keys.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    def idf(t: String) = math.log((n + 1).toDouble / (df.getOrElse(t, 0) + 1)) + 1.0

    // score, top-1
    val linked: Seq[(OMention, Long)] = mentions.map(m => (m, tfByCtx(ctxKey(m)))).flatMap { case (m, tf) =>
      dict.get(m.norm).flatMap { cands =>
        val w = tf.map { case (t, c) => (t, c * idf(t)) }
        val mNorm = math.sqrt(w.values.map(x => x * x).sum)
        val scored = cands.map { case (eid, prior) =>
          val ev = ctxByEntity.getOrElse(eid, Map.empty)
          val dot = w.map { case (t, x) => x * ev.getOrElse(t, 0.0) }.sum
          val eNorm = math.sqrt(ev.values.map(x => x * x).sum)
          val s = if (dot > 0 && mNorm > 0 && eNorm > 0) dot / (mNorm * eNorm) else prior * 1e-9
          (eid, math.rint(s * 1e9) / 1e9)
        }
        scored.sortBy { case (eid, s) => (-s, eid) }.headOption.map { case (eid, _) => (m, eid) }
      }
    }

    // majority vote per (repo, kind, norm)
    val canon: Map[(String, String, String), Long] = linked
      .groupBy { case (m, _) => (m.repo, m.kind, m.norm) }
      .map { case (key, xs) =>
        val best = xs.groupBy(_._2).map { case (e, ys) => (e, ys.size) }.toSeq
          .sortBy { case (e, c) => (-c, e) }.head._1
        (key, best)
      }

    linked.map { case (m, _) =>
      val e = canon((m.repo, m.kind, m.norm))
      val pred = m.kind match {
        case "import" => "imports"; case "doccomment" => "documents"; case _ => "mentions"
      }
      def esc(field: String, sep: String, code: String) =
        field.replace("%", "%25").replace(sep, code)
      (s"code:${esc(m.repo, "/", "%2F")}/${esc(m.path, "@", "%40")}@" +
        s"${esc(m.commit, "#", "%23")}#L${m.line}", pred, s"kb:$e")
    }.toSet
  }
}
