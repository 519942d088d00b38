package graftbench

import graft.analysis.AnalyzerConfig
import graft.corpus.{CorpusDoc, CorpusGen}
import graft.oracle.RefEngine

/** Answer checks, all made outside the timed region. Served rankings
  * are compared with the reference transliteration
  * [[graft.oracle.RefEngine]]: same extids in the same order and
  * bit-identical float scores (the extid tiebreak included). */
object Check {
  type Ranking = Seq[(String, Double)]

  /** The fields the benchmark indexes, derived as IndexBuilder.fieldText
    * derives them. */
  val Fields: Seq[String] = Seq("body", "title", "url")

  def extid(d: CorpusDoc): String = s"${d.repo}/${d.path}@${d.commit}"

  def oracle(docs: Seq[CorpusDoc], cfg: AnalyzerConfig): RefEngine =
    new RefEngine(docs.map { d =>
      extid(d) -> Map("body" -> d.content, "title" -> d.path,
        "url" -> s"${d.repo}/${d.path}")
    }, cfg)

  def corpus(n: Int, seed: Long): Seq[CorpusDoc] = CorpusGen.docs(n, seed)

  /** Raw content bytes of a corpus (the denominator of the space ratio). */
  def contentBytes(docs: Seq[CorpusDoc]): Long =
    docs.map(_.content.getBytes("UTF-8").length.toLong).sum

  /** None when equal; otherwise the first difference. */
  def diff(got: Ranking, want: Ranking): Option[String] =
    if (got.length != want.length)
      Some(s"length ${got.length} != ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((ge, gs), (we, ws)), i)
          if ge != we || java.lang.Double.doubleToLongBits(gs) !=
            java.lang.Double.doubleToLongBits(ws) =>
        s"rank ${i + 1}: got ($ge, $gs) want ($we, $ws)"
    }

  /** Corrupt a correct ranking the way a broken engine might (swap two
    * ranks, or flip the lowest bit of a score) and confirm [[diff]]
    * notices. Returns true when the corruption is detected. */
  def selfTest(good: Ranking): Boolean = {
    val bad: Ranking =
      if (good.length >= 2 && good(0)._1 != good(1)._1)
        good.updated(0, (good(1)._1, good(0)._2)).updated(1, (good(0)._1, good(1)._2))
      else if (good.nonEmpty)
        good.updated(0, (good(0)._1, java.lang.Double.longBitsToDouble(
          java.lang.Double.doubleToLongBits(good(0)._2) ^ 1L)))
      else Seq(("corrupt", 1.0))
    diff(good, good).isEmpty && diff(bad, good).nonEmpty
  }

  def digestRanking(d: Digest, qid: String, r: Ranking): Unit = {
    d.add(qid)
    r.foreach { case (e, s) =>
      d.add(e).add(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(s)))
    }
  }
}
