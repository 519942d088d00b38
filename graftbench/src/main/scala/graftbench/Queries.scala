package graftbench

import graft.model._
import scala.util.Random

/** One query of the workload: its template class, text and model. A PRF
  * flow (`prf`) is expanded first and the combined query is then
  * searched, as the reference's `fb=true` path does. */
final case class Query(cls: String, text: String, model: RetrievalModel,
                       prf: Boolean = false)

/** Seeded query generation over the vocabulary of
  * [[graft.corpus.CorpusGen]], from templates of the reference grammar.
  * Terms are drawn from the generator's keyword, planted-phrase, hot-id
  * and long-tail-identifier pools, so most queries match documents. */
object Queries {
  private val keywords = Seq("def", "class", "val", "var", "if", "else",
    "return", "import", "object", "match", "case", "for", "while", "new",
    "extends", "override", "private", "public", "static", "void", "int",
    "string", "true", "false")
  private val phrases = Seq("open inverted index", "query evaluation engine",
    "block max wand", "posting list merge", "delta gap encoding")
    .map(_.split(" ").toSeq)
  private val langs = Seq("scala", "java", "py", "go", "rs")

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // Term slots of one hotness each, so that a template's cost depends on
  // its shape more than on the terms a seed happens to draw.
  private def kw(r: Random): String = pick(r, keywords)        // in most docs
  private def hot(r: Random): String = s"x${r.nextInt(20)}"    // in most docs
  private def tail(r: Random): String = s"ident${r.nextInt(40)}" // in some docs
  private def phrase(r: Random): Seq[String] = pick(r, phrases) // planted

  /** Two adjacent words of a planted phrase. */
  private def bigram(r: Random): String = {
    val p = phrase(r); val i = r.nextInt(2); s"${p(i)} ${p(i + 1)}"
  }

  private def text(r: Random): String =
    s"${kw(r)} ${tail(r)} ${pick(r, phrase(r))}"

  /** The reference's sequential-dependence (SDM) shape over 3 terms. */
  def sdm(t: Seq[String]): String =
    s"#WAND(0.8 #AND(${t.mkString(" ")}) " +
      s"0.1 #AND(#NEAR/1(${t(0)} ${t(1)}) #NEAR/1(${t(1)} ${t(2)})) " +
      s"0.1 #AND(#WINDOW/8(${t(0)} ${t(1)}) #WINDOW/8(${t(1)} ${t(2)})))"

  /** Template classes of the interactive mix, one query of each per
    * round, slow and fast shapes interleaved: free text and SDM (the
    * shapes a pruned route would serve), boolean #AND/#OR (tie-prone:
    * hot terms tie at the top-k boundary and take the overflow pass),
    * #NEAR/#WINDOW/#SYN, multi-field terms, and PRF. */
  val interactiveClasses: Seq[String] = Seq("bm25_text", "prf", "ranked_and",
    "indri_sdm", "bm25_near", "unranked_or", "indri_window", "fields",
    "ranked_near", "indri_text", "bm25_syn")

  def interactive(cls: String, r: Random): Query = cls match {
    case "bm25_text"    => Query(cls, text(r), BM25())
    case "indri_text"   => Query(cls, text(r), Indri())
    case "prf"          => Query(cls, s"${pick(r, phrase(r))} ${tail(r)}", Indri(), prf = true)
    case "indri_sdm"    => Query(cls, sdm(phrase(r)), Indri())
    case "ranked_and"   => Query(cls, s"#AND(${kw(r)} ${kw(r)} ${hot(r)})", RankedBoolean)
    case "unranked_or"  => Query(cls, s"#OR(${tail(r)} ${hot(r)})", UnrankedBoolean)
    case "ranked_near"  =>
      Query(cls, s"#NEAR/${1 + r.nextInt(3)}(${bigram(r)})", RankedBoolean)
    case "bm25_near"    => Query(cls, s"#SUM(${kw(r)} #NEAR/1(${bigram(r)}))", BM25())
    case "indri_window" => Query(cls, s"#WINDOW/${4 + r.nextInt(5)}(${bigram(r)})", Indri())
    case "bm25_syn"     =>
      Query(cls, s"#SUM(#SYN(${tail(r)} ${tail(r)}) ${kw(r)})", BM25())
    case "fields"       =>
      Query(cls, s"#SUM(${kw(r)} ${pick(r, langs)}.title ${tail(r)})", BM25())
  }

  /** One query of a batch: batches are single-model (searchBatch takes
    * one model) and mostly free text, as TREC run files are. Position
    * `i` in the batch picks the template, so every batch of a model has
    * the same mix. Each template has dozens of distinct queries or more,
    * so a run's batches can all be distinct. */
  def batchQuery(model: RetrievalModel, i: Int, r: Random): Query = model match {
    case _: BM25 => i % 5 match {
      case 3 => Query("bm25_near", s"#SUM(${kw(r)} #NEAR/1(${bigram(r)}))", model)
      case 4 => Query("fields", s"#SUM(${kw(r)} ${pick(r, langs)}.title ${tail(r)})", model)
      case _ => Query("bm25_text", text(r), model)
    }
    case _ => i % 5 match {
      case 3 => Query("indri_sdm", sdm(bigram(r).split(" ").toSeq :+ tail(r)), model)
      case 4 => Query("indri_near", s"#NEAR/${1 + r.nextInt(4)}(${bigram(r)})", model)
      case _ => Query("indri_text", text(r), model)
    }
  }

  /** PRF parameters of the interactive PRF flows. */
  val fb = graft.exec.Expansion.FbParams(fbDocs = 10, fbTerms = 10,
    fbMu = 2500, fbOrigWeight = 0.5)

  /** Zipf(s = 1) rank in [0, n). */
  def zipf(r: Random, n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = r.nextDouble() * h
    var i = 0
    while (i < n - 1 && u > 1.0 / (i + 1)) { u -= 1.0 / (i + 1); i += 1 }
    i
  }
}
