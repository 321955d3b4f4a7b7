package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One generated paragraph. `pid` encodes its place in the article as
  * `art * 4096 + section * 64 + paragraph`, the same key the ingest
  * cycle derives from `Articles.chunkRows` (section 0 is the abstract).
  */
final case class Para(pid: Long, art: Int, text: String, boiler: Boolean)

/** One generated article in the reference's JSONL shape. `copyOf` is
  * the original's number for a planted near-duplicate, else -1.
  */
final case class Article(art: Int, copyOf: Int, abstractText: String,
                         sectionNames: Vector[String], sections: Vector[Vector[String]])

/** Seeded PubMed-shaped corpus: articles with a `<S>`-tagged abstract
  * and numbered sections of paragraphs, a seeded share of short
  * boilerplate paragraphs (which curation drops) and of near-duplicate
  * articles (one token changed; which minhash dedup drops), plus a
  * held-back insert delta and a pool of query texts made by editing
  * corpus paragraphs. The same seed always gives the same corpus.
  *
  * Words are made of syllables and are at least four letters long, so
  * none collides with the stopwords `TextAnalysis.curate` uses to
  * guess a language; the English stopwords are mixed in at ~25%, which
  * makes every normal paragraph (>= 90 tokens) pass its quality bar.
  */
final class Corpus(val seed: Long, nParagraphs: Int, dupShare: Double, boilerShare: Double,
                   nDelta: Int) {
  import Corpus._

  private def rng(stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  val vocab: Vector[String] = {
    val r = rng(1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => Syllables(r.nextInt(Syllables.length))).mkString
    }
    seen.toVector
  }

  private def words(r: SplittableRandom, topic: Int, n: Int): Vector[String] =
    Vector.fill(n) {
      val u = r.nextDouble()
      if (u < 0.25) Stops(r.nextInt(Stops.length))
      else if (u < 0.7) vocab((topic * TopicWidth + r.nextInt(TopicWidth)) % VocabSize)
      else vocab(r.nextInt(VocabSize))
    }

  private def paragraph(r: SplittableRandom, topic: Int): String =
    words(r, topic, 90 + r.nextInt(110)).mkString(" ")

  /** Articles until the corpus holds `nParagraphs` chunks, so its size
    * does not drift with the seed. A copy always comes after its
    * original, so its id is the higher one: `minhashVerified` reports
    * pairs with id_a < id_b and the ingest cycle drops every id_b.
    */
  val articles: Vector[Article] = {
    val r = rng(2)
    val out = Vector.newBuilder[Article]
    var originals = Vector.empty[Article]
    var chunks = 0
    var a = 0
    while (chunks < nParagraphs) {
      if (originals.nonEmpty && r.nextDouble() < dupShare) {
        val o = originals(r.nextInt(originals.size))
        val s = r.nextInt(o.sections.size)
        val p = r.nextInt(o.sections(s).size)
        val toks = o.sections(s)(p).split(" ")
        val t = r.nextInt(toks.length)
        toks(t) = vocab(r.nextInt(VocabSize))
        val secs = o.sections.updated(s, o.sections(s).updated(p, toks.mkString(" ")))
        out += Article(a, o.art, o.abstractText, o.sectionNames, secs)
        chunks += 1 + secs.map(_.size).sum
      } else {
        val topic = r.nextInt(Topics)
        val abs = (0 until 4 + r.nextInt(3))
          .map(_ => "<S> " + words(r, topic, 22 + r.nextInt(14)).mkString(" ") + " . </S>")
          .mkString(" ")
        val nSec = 2 + r.nextInt(3)
        val names = (1 to nSec).map(i => s"$i ${SectionNames((i - 1) % SectionNames.length)}").toVector
        val secs = Vector.fill(nSec) {
          Vector.fill(1 + r.nextInt(3)) {
            if (r.nextDouble() < boilerShare) Boilerplate(r.nextInt(Boilerplate.length))
            else paragraph(r, topic)
          }
        }
        val art = Article(a, -1, abs, names, secs)
        originals :+= art
        out += art
        chunks += 1 + secs.map(_.size).sum
      }
      a += 1
    }
    out.result()
  }

  /** Every chunk `Articles.chunkRows` yields, abstract first, with the
    * abstract's `<S>` tags stripped the way `Articles.normalize` does.
    */
  val paragraphs: Vector[Para] = articles.flatMap { a =>
    val abs = Para(a.art.toLong * 4096, a.art,
      a.abstractText.replace("<S>", "").replace("</S>", ""), boiler = false)
    abs +: a.sections.zipWithIndex.flatMap { case (ps, s) =>
      ps.zipWithIndex.map { case (p, i) =>
        Para(a.art.toLong * 4096 + (s + 1) * 64 + i, a.art, p, Boilerplate.contains(p))
      }
    }
  }

  /** What a correct keep-decision keeps: every non-boilerplate
    * paragraph of every original article.
    */
  val expectedKept: Vector[Para] = paragraphs.filter(p => !p.boiler && articles(p.art).copyOf < 0)

  def keptArticles: Int = expectedKept.map(_.art).distinct.size

  /** Held-back delta: whole new articles (doc keys above every corpus
    * article), one normal paragraph each, folded in by the insert op.
    */
  val delta: Vector[(Int, String)] = {
    val r = rng(3)
    Vector.tabulate(nDelta)(i => (articles.size + i, paragraph(r, r.nextInt(Topics))))
  }

  /** `n` query texts: a 16-24 token window of a kept paragraph with a
    * quarter of its tokens replaced, drawn from stream `stream`.
    */
  def queries(stream: Long, n: Int): Vector[String] = {
    val r = rng(100 + stream)
    Vector.fill(n) {
      val toks = expectedKept(r.nextInt(expectedKept.size)).text.split(" ").filter(_.nonEmpty)
      val len = math.min(toks.length, 16 + r.nextInt(9))
      val from = r.nextInt(toks.length - len + 1)
      toks.slice(from, from + len)
        .map(t => if (r.nextDouble() < 0.25) vocab(r.nextInt(VocabSize)) else t)
        .mkString(" ")
    }
  }

  /** Writes the articles as reference-shaped JSONL (`article_id`,
    * `abstract_text`, `section_names`, `sections`). `clean` writes only
    * the articles and paragraphs a correct keep-decision keeps.
    */
  def writeJsonl(path: String, clean: Boolean): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try {
      for (a <- articles if !clean || a.copyOf < 0) {
        val kept = a.sections.map(ps => if (clean) ps.filterNot(Boilerplate.contains) else ps)
        val idx = kept.indices.filter(i => kept(i).nonEmpty)
        w.println(s"""{"article_id":${q(s"A${a.art}")},"abstract_text":[${q(a.abstractText)}],""" +
          s""""section_names":${idx.map(i => q(a.sectionNames(i))).mkString("[", ",", "]")},""" +
          s""""sections":${idx.map(i => kept(i).map(q).mkString("[", ",", "]")).mkString("[", ",", "]")}}""")
      }
    } finally w.close()
  }

  def stats: String =
    s"articles=${articles.size} near_dups=${articles.count(_.copyOf >= 0)} " +
      s"paragraphs=${paragraphs.size} boilerplate=${paragraphs.count(_.boiler)} " +
      s"kept_paragraphs=${expectedKept.size} kept_articles=$keptArticles " +
      s"mean_tokens=${expectedKept.map(_.text.count(_ == ' ') + 1).sum / math.max(expectedKept.size, 1)} " +
      s"delta=${delta.size}"
}

object Corpus {
  val VocabSize = 3000
  val Topics = 40
  val TopicWidth = 60
  val Syllables: Vector[String] =
    Vector("ka", "lo", "mi", "ne", "ru", "ta", "vo", "xi", "pe", "qu", "zo", "bi", "da", "fe",
      "gu", "hi", "jo", "sa", "te", "wi", "mar", "len", "tor", "vin", "cal", "pos")
  val Stops: Vector[String] = Vector("the", "a", "of", "to", "in", "and", "is", "on")
  val SectionNames: Vector[String] = Vector("introduction", "methods", "results", "discussion")
  val Boilerplate: Vector[String] = Vector(
    "the authors declare no competing interests",
    "data are available from the corresponding author on request",
    "this work was supported by a grant",
    "all procedures were approved by the ethics committee",
    "see supplementary material for details",
    "figure legends are given at the end")

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
