package graft.exec

import graft.index.Index
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Indri RM pseudo-relevance-feedback query expansion (SURVEY §2.6;
  * reference `QryEval/src/QryExpansion.java:120-211`).
  *
  * Shape: the feedback set is ≤ fbDocs documents, so the expansion is a
  * driver-side fold over one pushed-down read — the feedback docs'
  * forward vectors ([[Index.fwdVectors]], partition- and row-pruned),
  * which also give their body lengths — and the ctf of their (bounded)
  * vocabulary from the driver's [[Index.lexicon]]. Every vocabulary term
  * scores a present-or-default contribution for EVERY feedback doc,
  * accumulated in doc rank order — the reference's doc loop,
  * FP-exactly.
  *
  * Numeric fidelity (`QryExpansion.java:180-203`): pMLE is a Java FLOAT
  * quotient (`(float) ctf / collectionLength`); everything else is
  * double; log is StrictMath (determinism, see [[StrictPow]]).
  *
  * Term-selection tiebreak: the reference's heap fill order comes from
  * HashMap iteration (nondeterministic across JVMs,
  * `QryExpansion.java:216-224`); we fix score-descending, term-ascending
  * (Spark's ordering: -0.0 = 0.0, NaN largest, terms by UTF-8 bytes).
  */
object Expansion {

  final case class FbParams(fbDocs: Int, fbTerms: Int, fbMu: Double,
                            fbOrigWeight: Double)

  /** Terms containing `.` or `,` after the first char are skipped
    * (`QryExpansion.java:137-144`; vacuous for the alnum code analyzer,
    * kept for fidelity). */
  private val SkipRe = "(?i).+(\\.|,).*".r

  /** The learned `#WAND(w1 t1 w2 t2 )` query for rank-ordered
    * (docid, score) feedback docs. */
  def learnedQuery(index: Index, topDocs: Seq[(Long, Double)],
                   fbMu: Double, fbTerms: Int): String = {
    val ids = topDocs.map(_._1).distinct
    val rows = index.fwdVectors(ids)
      .filter(col("field") === "body")
      .select(col("docid"), col("stems"), col("stemFreq").cast("array<int>"))
      .collect()
    // (term → tf) per feedback doc — the reference's TermVector
    // (`QryExpansion.java:131-151`)
    val vectors: Map[Long, Map[String, Int]] = rows
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).zip(r.getSeq[Int](2))
          .filterNot { case (t, _) => SkipRe.findFirstIn(t).isDefined }.toMap)
      .toMap
    // body length: a vector's stemFreq, taken before the SkipRe filter,
    // sums to the doc's surviving-token count — the `len` doclen stores
    val lens: Map[Long, Long] = rows
      .map(r => r.getLong(0) -> r.getSeq[Int](2).map(_.toLong).sum).toMap
    val vocab = vectors.valuesIterator.flatMap(_.keys).toSeq.distinct
    val ctfs: Seq[(String, Long)] =
      vocab.flatMap(t => index.lexicon.get(t, "body").map(s => (t, s._2)))

    val cl = index.fieldStats("body").collectionLength
    val docs = topDocs.map { case (d, s) =>
      (vectors.getOrElse(d, Map.empty[String, Int]),
        lens.getOrElse(d, 0L).toDouble, s)
    }
    val scored = ctfs.map { case (t, ctf) =>
      val mle = (ctf.toFloat / cl.toFloat).toDouble
      val logInvMle = StrictMath.log(1.0 / mle)
      // accumulate in DOC RANK ORDER (the reference's i-loop,
      // `QryExpansion.java:157-204`)
      var score = 0.0
      docs.foreach { case (vec, len, docScore) =>
        score += (vec.get(t) match {
          // (tf + mu*pMLE)/(docLen + mu) * docScore * log(1/pMLE)
          case Some(tf) =>
            (tf.toDouble + fbMu * mle) / (len + fbMu) * docScore * logInvMle
          // mu*pMLE/(docLen + mu) * docScore * log(1/pMLE)
          case None => fbMu * mle / (len + fbMu) * docScore * logInvMle
        })
      }
      (t, score)
    }
    def norm(x: Double) = if (x == 0.0) 0.0 else x // -0.0 sorts as 0.0
    val top = scored.sortWith { case ((ta, sa), (tb, sb)) =>
      val c = java.lang.Double.compare(norm(sb), norm(sa))
      if (c != 0) c < 0
      else UTF8String.fromString(ta).compareTo(UTF8String.fromString(tb)) < 0
    }.take(fbTerms)

    // `"#WAND(" + score + " " + term + " " ... + ")"`
    // (`QryExpansion.java:206-210` — Java Double.toString, trailing space)
    top.map { case (t, s) => s"$s $t " }.mkString("#WAND(", "", ")")
  }
}
