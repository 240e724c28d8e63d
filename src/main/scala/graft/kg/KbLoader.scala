package graft.kg

import graft.model.KBEntry
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** The full data bundle behind a session's entity knowledge: NER lexicon,
  * grounding KB, NER stop list, and label taxonomy. [[KbData.builtin]] is
  * the compiled-in fixture set ([[Lexicon]]); [[KbLoader]] builds the same
  * bundle from plain data files so a user can add an entity surface, KB
  * entry, stop word, or taxonomy label without recompiling — the second
  * half of the extensibility story the rule DSL started ([[RuleDsl]]).
  */
final case class KbData(
    lexicon: Seq[(String, String)],
    kb: Seq[KBEntry],
    stopList: Set[String],
    taxonomyParents: Map[String, String])

object KbData {
  lazy val builtin: KbData = KbData(Lexicon.nerLexicon, Lexicon.kb,
    Lexicon.nerStopList, Lexicon.taxonomyParents)
}

/** Loader/renderer for [[KbData]] as a directory of data files — the
  * analogue of the reference's runtime-loaded TSV knowledge bases
  * (grounding/TsvIMKBFactory.scala:32-51 over the KB file list in
  * ReachKBConstants.scala:46-97), ner_stoplist.txt, and the YAML taxonomy
  * (main/.../reach/package.scala:10-22 over biogrammar/taxonomy.yml).
  *
  * Directory layout (every file optional — a missing file leaves that
  * component untouched by [[merge]], in both extend and replace mode):
  *
  * {{{
  *   lexicon.tsv   surface<TAB>label     (label optional, default
  *                                        Gene_or_gene_product)
  *   kb.tsv        text<TAB>id<TAB>species<TAB>namespace<TAB>kb_rank<TAB>
  *                 label<TAB>is_protein_kb<TAB>is_family_kb
  *                 (trailing fields optional: species "" , kb_rank 0,
  *                  label Gene_or_gene_product, booleans false)
  *   stoplist.txt  one surface per line (lowercased on load)
  *   taxonomy.yml  indentation tree: a label's parent is the nearest
  *                 shallower line above it; an optional trailing ':' is
  *                 stripped so the file reads as YAML. Spaces only.
  *                 Re-opening a label at root level continues it (new
  *                 children nest under it, its parent is kept); declaring
  *                 it under a DIFFERENT parent is a single-inheritance
  *                 error.
  * }}}
  *
  * `#` comment lines and blank lines are skipped everywhere. Errors carry
  * file + line. All parsing is driver-side (the bundle is dimension data,
  * MBs at most — it reaches executors through the session broadcasts,
  * [[Broadcasts.reloadKb]], exactly like the reference's singleton KBs).
  */
object KbLoader {

  final case class KbFileError(file: String, line: Int, msg: String)
      extends RuntimeException(s"$file:$line: $msg")

  /** Loaded components; None = file absent. */
  final case class KbDelta(
      lexicon: Option[Seq[(String, String)]],
      kb: Option[Seq[KBEntry]],
      stopList: Option[Set[String]],
      taxonomyParents: Option[Map[String, String]])

  private val GGP = "Gene_or_gene_product"

  private def dataLines(p: Path): Seq[(String, Int)] =
    // UTF-8 BOM stripped; linesIterator handles \n, \r and \r\n, so
    // Windows-authored bundles load unchanged
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .stripPrefix("\uFEFF")
      .linesIterator.zipWithIndex
      .map { case (l, i) => (l.replaceAll("\\s+$", ""), i + 1) }
      .filter { case (l, _) => l.trim.nonEmpty && !l.trim.startsWith("#") }
      .toSeq

  private[graft] def parseLexicon(lines: Seq[(String, Int)],
                               file: String): Seq[(String, String)] =
    lines.map { case (l, ln) =>
      l.split("\t", -1) match {
        case Array(s) if s.trim.nonEmpty => (s.trim, GGP)
        case Array(s, lab) if s.trim.nonEmpty && lab.trim.nonEmpty =>
          (s.trim, lab.trim)
        case _ => throw KbFileError(file, ln,
          s"expected 'surface<TAB>label' (label optional), got '$l'")
      }
    }

  private[graft] def parseKb(lines: Seq[(String, Int)],
                          file: String): Seq[KBEntry] =
    lines.map { case (l, ln) =>
      val f = l.split("\t", -1).map(_.trim)
      if (f.length < 2 || f.length > 8 || f(0).isEmpty || f(1).isEmpty)
        throw KbFileError(file, ln,
          "expected 'text<TAB>id[<TAB>species<TAB>namespace<TAB>kb_rank" +
            s"<TAB>label<TAB>is_protein_kb<TAB>is_family_kb]', got '$l'")
      def at(i: Int, d: String) = if (f.length > i && f(i).nonEmpty) f(i) else d
      def bool(i: Int) = at(i, "false") match {
        case "true" => true
        case "false" => false
        case b => throw KbFileError(file, ln, s"expected true/false, got '$b'")
      }
      val rank =
        try at(4, "0").toInt
        catch { case _: NumberFormatException =>
          throw KbFileError(file, ln, s"kb_rank must be an int: '${f(4)}'") }
      // namespace default deliberately NOT "uaz": that namespace marks the
      // failsafe (ungrounded) tier and canon treats it specially
      KBEntry(f(0), f(1), at(2, ""), at(3, "user"), rank, at(5, GGP),
        bool(6), bool(7))
    }

  private[graft] def parseStopList(lines: Seq[(String, Int)]): Set[String] =
    lines.map(_._1.trim.toLowerCase(java.util.Locale.ROOT)).toSet

  private[graft] def parseTaxonomy(lines: Seq[(String, Int)],
                                file: String): Map[String, String] = {
    val parents = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var stack = List.empty[(Int, String)] // (indent, label), deepest first
    lines.foreach { case (l, ln) =>
      if (l.contains('\t'))
        throw KbFileError(file, ln, "indent with spaces, not tabs")
      val indent = l.takeWhile(_ == ' ').length
      val label = l.trim.stripSuffix(":").trim
      if (label.isEmpty) throw KbFileError(file, ln, "empty label")
      stack = stack.dropWhile(_._1 >= indent)
      stack.headOption.foreach { case (_, parent) =>
        parents.get(label).filter(_ != parent).foreach { other =>
          throw KbFileError(file, ln,
            s"'$label' already has parent '$other' (single inheritance)")
        }
        parents += label -> parent
      }
      // a ROOT-level re-declaration of an already-parented label is the
      // flat-continuation idiom ("A:\n  B:\nB:\n  C:" nests C under B,
      // which KEEPS its parent A): it declares no parent, so it cannot
      // conflict — and there is deliberately no detach syntax (a label's
      // one parent comes from its one indented occurrence)
      stack = (indent, label) :: stack
    }
    parents.toMap
  }

  /** Load whichever of the four files exist under `dir`. A missing
    * directory or a directory containing NONE of the four files is an
    * error, not an empty delta — a mistyped `--kb` path must fail loudly,
    * not silently run on built-ins while reporting success.
    */
  def load(dir: String): KbDelta = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d))
      throw new IllegalArgumentException(s"KB bundle dir not found: $dir")
    def opt[T](name: String)(f: Seq[(String, Int)] => T): Option[T] = {
      val p = d.resolve(name)
      if (Files.isRegularFile(p)) Some(f(dataLines(p))) else None
    }
    val delta = KbDelta(
      opt("lexicon.tsv")(parseLexicon(_, "lexicon.tsv")),
      opt("kb.tsv")(parseKb(_, "kb.tsv")),
      opt("stoplist.txt")(parseStopList),
      opt("taxonomy.yml")(parseTaxonomy(_, "taxonomy.yml")))
    if (delta.lexicon.isEmpty && delta.kb.isEmpty &&
        delta.stopList.isEmpty && delta.taxonomyParents.isEmpty)
      throw new IllegalArgumentException(
        s"KB bundle dir has none of lexicon.tsv / kb.tsv / stoplist.txt / " +
          s"taxonomy.yml: $dir")
    delta
  }

  /** Combine a delta onto a base bundle. `replace = false` (extend, the
    * default wiring) concatenates/unions so loaded entries ride on top of
    * the base — later lexicon entries win surface conflicts in the trie,
    * KB entries compete through the normal (kb_rank, …) first-hit order
    * (use a negative kb_rank to beat built-ins, as the reference's override
    * KBs do), and loaded taxonomy edges override an existing child's
    * parent. `replace = true` swaps each PRESENT component wholesale;
    * absent files keep the base component either way (an empty taxonomy or
    * lexicon is never silently installed).
    */
  def merge(base: KbData, delta: KbDelta, replace: Boolean): KbData = {
    def comb[T](b: T, d: Option[T], ext: (T, T) => T): T =
      d.map(x => if (replace) x else ext(b, x)).getOrElse(b)
    val merged = KbData(
      comb[Seq[(String, String)]](base.lexicon, delta.lexicon, _ ++ _),
      comb[Seq[KBEntry]](base.kb, delta.kb, _ ++ _),
      comb[Set[String]](base.stopList, delta.stopList, _ ++ _),
      comb[Map[String, String]](base.taxonomyParents, delta.taxonomyParents,
        _ ++ _))
    Taxonomy(merged.taxonomyParents).validated // surface cycles at load time
    merged
  }

  /** Write a bundle back out as the four data files (the round-trip face:
    * `merge(builtin, load(render(builtin, dir)), replace = true) ==
    * builtin`). A value that [[load]] could not read back unchanged — it
    * holds a tab, CR or newline, has surrounding whitespace, is empty where
    * load would fill a default, or starts a row with `#` — is rejected with
    * a [[KbFileError]] naming the file and row it would have been written
    * to; nothing is written then.
    */
  def render(data: KbData, dir: String): Unit = {
    // fail fast on a cyclic taxonomy: with a cycle the roots computation
    // below (values minus keys) would silently drop the whole component
    Taxonomy(data.taxonomyParents).validated
    def rows(file: String, vs: Seq[Seq[(String, String)]]): String =
      vs.zipWithIndex.map { case (fields, i) =>
        fields.zipWithIndex.foreach { case ((what, v), j) =>
          checkField(file, i + 1, what, v, leading = j == 0) }
        fields.map(_._2).mkString("\t")
      }.mkString("", "\n", "\n")
    val lexicon = rows("lexicon.tsv", data.lexicon.map { case (s, l) =>
      Seq("surface" -> s, "label" -> l) })
    val kb = rows("kb.tsv", data.kb.map(e => Seq("text" -> e.text,
      "id" -> e.id, "species" -> e.species, "namespace" -> e.namespace,
      "kb_rank" -> e.kb_rank.toString, "label" -> e.label,
      "is_protein_kb" -> e.is_protein_kb.toString,
      "is_family_kb" -> e.is_family_kb.toString)))
    val stop = data.stopList.toSeq.sorted
    stop.zipWithIndex.foreach { case (w, i) =>
      if (w != w.toLowerCase(java.util.Locale.ROOT))
        throw KbFileError("stoplist.txt", i + 1,
          s"stop word '$w' is not lower case (load lowercases it)")
    }
    val stopText = rows("stoplist.txt", stop.map(w => Seq("stop word" -> w)))
    val children = data.taxonomyParents.toSeq.groupBy(_._2)
      .map { case (p, cs) => p -> cs.map(_._1).sorted }
    val roots = (data.taxonomyParents.values.toSet --
      data.taxonomyParents.keySet).toSeq.sorted
    val sb = new StringBuilder
    var line = 0
    def emit(label: String, depth: Int): Unit = {
      line += 1
      checkField("taxonomy.yml", line, "label", label, leading = true)
      sb.append("  " * depth).append(label).append(":\n")
      children.getOrElse(label, Nil).foreach(emit(_, depth + 1))
    }
    roots.foreach(emit(_, 0))

    val d = Paths.get(dir)
    Files.createDirectories(d)
    def write(name: String, text: String): Unit =
      Files.write(d.resolve(name), text.getBytes(StandardCharsets.UTF_8))
    write("lexicon.tsv", lexicon)
    write("kb.tsv", kb)
    write("stoplist.txt", stopText)
    write("taxonomy.yml", sb.toString)
  }

  /** Reject a value [[load]] would not read back as written: load splits
    * rows on line breaks and fields on tabs, trims every field, drops rows
    * that start with `#`, and fills a default for an empty field (only
    * kb.tsv's species reads back empty).
    */
  private def checkField(file: String, row: Int, what: String, v: String,
                         leading: Boolean): Unit = {
    val why =
      if (v.exists(c => c == '\t' || c == '\r' || c == '\n'))
        "contains a tab, CR or newline"
      else if (v.isEmpty && what != "species") "is empty"
      else if (v != v.trim) "has leading or trailing whitespace"
      else if (leading && v.startsWith("#")) "starts with '#' (a comment row)"
      else ""
    if (why.nonEmpty) {
      val shown = v.replace("\t", "\\t").replace("\r", "\\r")
        .replace("\n", "\\n")
      throw KbFileError(file, row, s"cannot render $what '$shown': it $why")
    }
  }
}
