package kgbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.functions.Text
import graft.operators.{Lemmatizer, Splitter, Tagger}

/** Expected outputs computed without Spark: the row-scalar twins of the
  * splitter, cleanup, tagger and mention normalizer run document by
  * document, the alias pick and triple projection are restated here, and
  * canonicalization is a union-find of this file's own.
  */
object Twin {

  /** (subj, pred, obj, repo, lang) */
  type Triple = (String, String, String, String, String)

  /** A document as the pipeline sees it after `Tables.docsDf`. */
  final case class Doc(repo: String, path: String,
      commit: String, lang: String, text: String)

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  /** The `documents.parquet` → Doc mapping, restated. */
  def doc(docId: Long, text: String, lang: String, source: String): Doc =
    Doc(source, s"docs/$docId.txt",
      sha256Hex(s"$source/$docId").substring(0, 40), lang, text)

  private val aliases = Tagger.aliasDict.groupBy(_.alias_norm)

  /** The winning entity for a mention: highest prior plus language bonus,
    * smallest entity id on ties; None when the normal form is empty or
    * not an alias.
    */
  def link(lang: String, mention: String): Option[String] = {
    val norm = Lemmatizer.normalizeScalar(mention)
    if (norm.isEmpty) None
    else aliases.get(norm).map(_.map { a =>
      (-(a.prior + (if (lang == a.pref_lang) Tagger.langBonus else 0.0)),
        a.entity_id)
    }.min._2)
  }

  /** Per document: every tagged mention as (label, mention, confidence). */
  def mentions(d: Doc, sentenceLevel: Boolean): Seq[(String, String, Double)] = {
    val texts =
      if (sentenceLevel) Splitter.splitScalar(d.text)
      else Seq(Text.cleanupScalar(d.text))
    texts.flatMap(Tagger.tagScalar).map(e => (e.label, e.text, e.confidence))
  }

  /** Per document: the (label, entity_id) links of its kept mentions. */
  def links(d: Doc, sentenceLevel: Boolean): Seq[(String, String)] =
    mentions(d, sentenceLevel).filter(_._3 >= Tagger.threshold)
      .flatMap { case (label, m, _) => link(d.lang, m).map(label -> _) }

  def subj(d: Doc): String = s"${d.repo}/${d.path}@${d.commit}"

  /** Triples of a set of documents, with `canon` applied to every object. */
  def triples(docs: Seq[Doc], sentenceLevel: Boolean,
      canon: String => String = identity): Set[Triple] =
    docs.flatMap { d =>
      links(d, sentenceLevel).map { case (label, e) =>
        (subj(d), s"mentions:$label", canon(e), d.repo, d.lang)
      }
    }.toSet

  /** UTF-8 byte order, the order Spark's string comparison uses. */
  def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** Connected components of the co-occurrence graph: every entity maps to
    * the smallest id (UTF-8 byte order) of its component. `groups` are the
    * entity sets that co-occur (one per document).
    */
  def components(groups: Iterable[Iterable[String]]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    groups.foreach { g =>
      g.foreach(e => parent.getOrElseUpdate(e, e))
      g.reduceOption { (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (utf8Less(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        a
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
