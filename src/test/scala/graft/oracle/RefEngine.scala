package graft.oracle

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.model._
import scala.collection.mutable

/** In-repo golden oracle: a straight-line, single-threaded transliteration
  * of the reference engine's algorithms (QryEval) with the SAME float
  * intermediates (SURVEY §2.4), evaluated over an in-memory index. The
  * Spark engine must match its top-k (extid, score) bit-for-bit.
  *
  * Deliberately written as direct Java-loop transliterations — an
  * independent second implementation, NOT shared with the engine's code
  * paths (except the Analyzer, which is definitionally shared).
  */
final case class RefPosting(docid: Int, positions: Vector[Int]) {
  def tf: Int = positions.length
}
final case class RefInvList(field: String, postings: Vector[RefPosting]) {
  def df: Int = postings.length
  def ctf: Int = postings.iterator.map(_.tf).sum
}

final class RefEngine(docsIn: Seq[(String, Map[String, String])],
                      cfg: AnalyzerConfig) {

  // ---- index build: docids in extid order (any deterministic order works;
  // ---- scores are docid-independent, ranking ties break on extid)
  private val sorted = docsIn.sortBy(_._1)
  val extids: Vector[String] = sorted.map(_._1).toVector
  val numDocs: Int = extids.length

  private val postings =
    mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[RefPosting]]
  private val doclen = mutable.HashMap.empty[(Int, String), Long]
  private val colLen = mutable.HashMap.empty[String, Long]
  private val colDocs = mutable.HashMap.empty[String, Long]

  sorted.zipWithIndex.foreach { case ((_, fields), docid) =>
    fields.foreach { case (field, text) =>
      val toks = Analyzer.tokenize(text, cfg)
      if (toks.nonEmpty) {
        doclen((docid, field)) = toks.length.toLong
        colLen(field) = colLen.getOrElse(field, 0L) + toks.length
        colDocs(field) = colDocs.getOrElse(field, 0L) + 1L
        toks.groupBy(_.term).foreach { case (term, ts) =>
          postings.getOrElseUpdate((term, field),
            mutable.ArrayBuffer.empty) +=
            RefPosting(docid, ts.map(_.pos).sorted.toVector)
        }
      }
    }
  }
  // docid-ascending postings
  postings.mapValuesInPlace((_, v) => v.sortBy(_.docid))

  def docLength(field: String, docid: Int): Long =
    doclen.getOrElse((docid, field), 0L)
  def sumTotalTermFreq(field: String): Long = colLen.getOrElse(field, 0L)
  def getDocCount(field: String): Long = colDocs.getOrElse(field, 0L)

  // ------------------------------------------------------------------ Il

  private val ilCache = mutable.HashMap.empty[Il, RefInvList]
  def evalIl(q: Il): RefInvList = ilCache.getOrElseUpdate(q, computeIl(q))

  private def computeIl(q: Il): RefInvList = q match {
    case Term(t, f) =>
      RefInvList(f, postings.get((t, f)).map(_.toVector).getOrElse(Vector.empty))

    case Syn(args) =>
      val lists = args.map(evalIl)
      val field = lists.head.field
      val byDoc = mutable.TreeMap.empty[Int, Vector[Int]]
      lists.foreach(_.postings.foreach { p =>
        byDoc(p.docid) = byDoc.getOrElse(p.docid, Vector.empty) ++ p.positions
      })
      RefInvList(field,
        byDoc.iterator.map { case (d, ps) => RefPosting(d, ps.sorted) }.toVector)

    case Near(distance, args) =>
      val lists = args.map(evalIl)
      val out = Vector.newBuilder[RefPosting]
      // QryopIlNear.java:60-121, transliterated
      val docsOf = lists.map(_.postings.map(p => p.docid -> p).toMap)
      val common = lists.map(_.postings.map(_.docid).toSet).reduce(_ intersect _)
      common.toVector.sorted.foreach { docid =>
        var prevMatch: Vector[Int] = docsOf.head(docid).positions
        var dead = false
        var j = 1
        while (j < lists.length && !dead) {
          val pstj = docsOf(j)(docid).positions
          var m = 0; var n = 0
          val temp = Vector.newBuilder[Int]
          var count = 0
          while (m < prevMatch.length && n < pstj.length) {
            val prevPos = prevMatch(m); val nextPos = pstj(n)
            if (nextPos < prevPos) n += 1
            else if (nextPos - prevPos <= distance) {
              temp += nextPos; count += 1; n += 1; m += 1
            } else m += 1
          }
          if (count == 0) dead = true
          else prevMatch = temp.result()
          j += 1
        }
        if (!dead) out += RefPosting(docid, prevMatch)
      }
      RefInvList(lists.head.field, out.result())

    case Window(distance, args) =>
      val lists0 = args.map(evalIl)
      // stable sort by df ascending (QryopIlWindow.java:52)
      val lists = lists0.sortBy(_.df)
      if (lists.length == 1) return lists.head
      val docsOf = lists.map(_.postings.map(p => p.docid -> p).toMap)
      val common = lists.map(_.postings.map(_.docid).toSet).reduce(_ intersect _)
      val out = Vector.newBuilder[RefPosting]
      common.toVector.sorted.foreach { docid =>
        val k = lists.length
        val pos = lists.indices.map(i => docsOf(i)(docid).positions).toArray
        val posPtr = new Array[Int](k)
        val termPos = Array.tabulate(k)(i => pos(i)(0))
        val termLen = Array.tabulate(k)(i => pos(i).length)
        var hasMore = true
        val temp = Vector.newBuilder[Int]
        var emitted = 0
        while (hasMore) {
          // validation (QryopIlWindow.java:146-166)
          var minPos = termPos(0); var maxPos = termPos(0)
          var minIdx = 0; var maxIdx = 0
          var i = 1
          while (i < k) {
            if (termPos(i) < minPos) { minPos = termPos(i); minIdx = i }
            else if (termPos(i) > maxPos) { maxPos = termPos(i); maxIdx = i }
            i += 1
          }
          if (maxPos - minPos <= distance - 1) {
            temp += termPos(maxIdx); emitted += 1
            var ii = 0; var stop = false
            while (ii < k && !stop) {
              posPtr(ii) += 1
              if (posPtr(ii) >= termLen(ii)) { hasMore = false; stop = true }
              else { termPos(ii) = pos(ii)(posPtr(ii)); ii += 1 }
            }
          } else {
            posPtr(minIdx) += 1
            if (posPtr(minIdx) >= termLen(minIdx)) hasMore = false
            else termPos(minIdx) = pos(minIdx)(posPtr(minIdx))
          }
        }
        if (emitted != 0) out += RefPosting(docid, temp.result())
      }
      RefInvList(lists.head.field, out.result())
  }

  // ------------------------------------------------------------------ Sl

  /** (docid → score), docid ascending. */
  def evalSl(q: Sl, model: RetrievalModel): Vector[(Int, Double)] = q match {
    case Score(c) =>
      val inv = evalIl(c)
      model match {
        case UnrankedBoolean =>
          inv.postings.map(p => p.docid -> 1.0f.toDouble)
        case RankedBoolean =>
          inv.postings.map(p => p.docid -> p.tf.toDouble)
        case BM25(k1, b, _) =>
          // QryopSlScore.java:121-168
          val docFreq = inv.df
          val n = numDocs
          val avgDocLen: Float =
            sumTotalTermFreq(inv.field).toFloat / getDocCount(inv.field)
          val rsj: Float =
            StrictMath.log((n - docFreq + 0.5) / (docFreq + 0.5)).toFloat
          inv.postings.map { p =>
            val dl = docLength(inv.field, p.docid)
            val tfW: Float = p.tf / (p.tf + k1 * (1 - b + b * dl / avgDocLen))
            p.docid -> (rsj * tfW).toDouble
          }
        case Indri(mu, lambda) =>
          // QryopSlScore.java:178-221
          val mle: Float = inv.ctf.toFloat / sumTotalTermFreq(inv.field)
          inv.postings.map { p =>
            val dl = docLength(inv.field, p.docid)
            val s: Float = lambda * (p.tf + mu * mle) / (dl + mu) +
              (1 - lambda) * mle
            p.docid -> s.toDouble
          }
      }

    case And(args) => model match {
      case UnrankedBoolean | RankedBoolean =>
        val lists = args.map(evalSl(_, model)).sortBy(_.length) // size-asc sort
        val maps = lists.map(_.toMap)
        val common = lists.map(_.map(_._1).toSet).reduce(_ intersect _)
        common.toVector.sorted.map { d =>
          var score = 1.0
          if (model == RankedBoolean)
            score = lists.indices.map(i => maps(i)(d)).foldLeft(Double.MaxValue)(math.min)
          d -> score
        }
      case Indri(_, _) =>
        val lists = args.map(evalSl(_, model))
        val qn = args.length
        indriCombine(args, lists, model, 1.0,
          (acc, s, _) => acc * s)
          .map { case (d, s) => d -> StrictMath.pow(s, 1.0 / qn) }
      case _ => throw new IllegalStateException("AND/BM25")
    }

    case Or(args) => model match {
      case UnrankedBoolean | RankedBoolean =>
        val lists = args.map(evalSl(_, model))
        val acc = mutable.TreeMap.empty[Int, Double]
        lists.foreach(_.foreach { case (d, s) =>
          val v = if (model == UnrankedBoolean) 1.0 else s
          acc.get(d) match {
            case None => acc(d) = v
            case Some(old) =>
              if (model == RankedBoolean) acc(d) = math.max(v, old)
          }
        })
        acc.toVector
      case _ => throw new IllegalStateException("OR model")
    }

    case Sum(args) => model match {
      case BM25(_, _, k3) =>
        // QryopSlSum.java:55-101 — accumulate child-order
        val qtf = 1
        val usr: Double = ((k3 + 1) * qtf / (k3 + qtf)).toDouble
        val lists = args.map(evalSl(_, model))
        val acc = mutable.LinkedHashMap.empty[Int, Double]
        lists.foreach(_.foreach { case (d, s) =>
          val v = s * usr
          acc(d) = acc.get(d).map(_ + v).getOrElse(v)
        })
        acc.toVector.sortBy(_._1)
      case _ => throw new IllegalStateException("SUM model")
    }

    case WAnd(weights, args) =>
      val wn = normalize(weights)
      val lists = args.map(evalSl(_, model))
      indriCombine(args, lists, model, 1.0,
        (acc, s, i) => acc * StrictMath.pow(s, wn(i)))

    case WSum(weights, args) =>
      val wn = normalize(weights)
      val lists = args.map(evalSl(_, model))
      indriCombine(args, lists, model, 0.0,
        (acc, s, i) => acc + s * wn(i))
  }

  private def normalize(ws: Seq[Float]): Seq[Float] = {
    var t = 0.0f; ws.foreach(t += _); ws.map(_ / t)
  }

  /** Docid union; fold score-or-default per child in child order
    * (`QryopSlAnd.java:134-174` / WAnd / WSum). */
  private def indriCombine(args: Seq[Sl], lists: Seq[Vector[(Int, Double)]],
      model: RetrievalModel, init: Double,
      step: (Double, Double, Int) => Double): Vector[(Int, Double)] = {
    val union = lists.flatMap(_.map(_._1)).distinct.sorted
    val maps = lists.map(_.toMap)
    union.toVector.map { d =>
      var acc = init
      var i = 0
      while (i < args.length) {
        val s = maps(i).getOrElse(d, defaultScore(args(i), d, model))
        acc = step(acc, s, i)
        i += 1
      }
      d -> acc
    }
  }

  /** getDefaultScore, recursive (`QryopSlScore.java:233-247`,
    * `QryopSlAnd.java:186-202`, WAnd :124-142, WSum :123-141). */
  def defaultScore(q: Sl, docid: Int, model: RetrievalModel): Double =
    model match {
      case UnrankedBoolean | RankedBoolean => 0.0
      case BM25(_, _, _) => 0.0
      case Indri(mu, lambda) => q match {
        case Score(c) =>
          val inv = evalIl(c) // field + ctf of the wrapped list
          val mle: Float = inv.ctf.toFloat / sumTotalTermFreq(inv.field)
          val dl = docLength(inv.field, docid)
          ((lambda * mu / (dl + mu) + (1 - lambda)) * mle).toDouble
        case And(args) =>
          var d = 1.0
          args.foreach(a => d *= defaultScore(a, docid, model))
          StrictMath.pow(d, 1.0 / args.length)
        case WAnd(weights, args) =>
          val wn = normalize(weights)
          var d = 1.0
          args.indices.foreach(i =>
            d *= StrictMath.pow(defaultScore(args(i), docid, model), wn(i)))
          d
        case WSum(weights, args) =>
          val wn = normalize(weights)
          var d = 0.0
          args.indices.foreach(i =>
            d += defaultScore(args(i), docid, model) * wn(i))
          d
        case _ => 0.0
      }
    }

  // ------------------------------------------------------------- ranking

  /** Top-k (extid, score): score desc, extid asc (`ScoreList.java:54-80`). */
  def topk(q: Qry, model: RetrievalModel, k: Int = 100): Vector[(String, Double)] = {
    val sl = Qry.asSl(q)
    evalSl(sl, model)
      .map { case (d, s) => (extids(d), s) }
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .take(k)
  }

  def topkQuery(queryText: String, model: RetrievalModel,
                k: Int = 100): Vector[(String, Double)] = {
    val ast = QueryParser.parseQuery(queryText, model, cfg).get
    topk(ast, model, k)
  }

  // ------------------------------------------- PRF expansion (SURVEY §2.6)

  private lazy val extidIndex: Map[String, Int] =
    extids.zipWithIndex.toMap

  /** Forward vector (term → tf) of one doc's body — the reference's
    * `TermVector` read (`QryEval/src/QryExpansion.java:131-151`). */
  private lazy val fwdBody: Map[Int, Map[String, Int]] = {
    val m = mutable.HashMap.empty[Int, mutable.HashMap[String, Int]]
    postings.foreach {
      case ((term, "body"), ps) =>
        ps.foreach(p =>
          m.getOrElseUpdate(p.docid, mutable.HashMap.empty)(term) = p.tf)
      case _ =>
    }
    m.map { case (d, tm) => d -> tm.toMap }.toMap
  }

  /** Straight-line transliteration of `QryExpansion.evaluateIndri`
    * (`QryExpansion.java:120-211`): per-doc loop in rank order, float
    * pMLE, double accumulation, StrictMath.log (determinism substitution
    * documented in ScoreExpressions). Tiebreak: score desc, term asc
    * (the reference's is HashMap-order-nondeterministic). */
  def expandIndri(topDocs: Seq[(Int, Double)], fbMu: Double,
                  fbTerms: Int): String = {
    val collectionLength = sumTotalTermFreq("body")
    val vecs = topDocs.map { case (d, _) => fwdBody.getOrElse(d, Map.empty) }
    val skip = "(?i).+(\\.|,).*".r
    val ctfMap = mutable.HashMap.empty[String, Long]
    vecs.foreach(_.keys.foreach { t =>
      if (t.nonEmpty && skip.matches(t) == false)
        if (!ctfMap.contains(t))
          ctfMap(t) = evalIl(Term(t, "body")).ctf.toLong
    })
    val score = mutable.LinkedHashMap.empty[String, Double]
    ctfMap.keys.toSeq.sorted.foreach(t => score(t) = 0.0)
    topDocs.zipWithIndex.foreach { case ((docid, docScore), i) =>
      val vec = vecs(i)
      val docLen = docLength("body", docid)
      score.keys.foreach { t =>
        val mle: Float = ctfMap(t).toFloat / collectionLength
        val contrib = vec.get(t) match {
          case Some(tf) =>
            (tf + fbMu * mle) / (docLen + fbMu) * docScore *
              StrictMath.log(1.0 / mle)
          case None =>
            fbMu * mle / (docLen + fbMu) * docScore *
              StrictMath.log(1.0 / mle)
        }
        score(t) = score(t) + contrib
      }
    }
    val top = score.toSeq
      .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .take(fbTerms)
    top.map { case (t, s) => s"$s $t " }.mkString("#WAND(", "", ")")
  }

  /** Orchestration `QryEval.java:154-185`: fresh top-fbDocs evaluation →
    * learned #WAND → combined rewrite. Returns (learned, combined). */
  def expandQuery(queryText: String, model: RetrievalModel, fbDocs: Int,
                  fbTerms: Int, fbMu: Double,
                  fbOrigWeight: Double): (String, String) = {
    val topDocs = topkQuery(queryText, model, fbDocs)
      .map { case (e, s) => (extidIndex(e), s) }
    val learned = expandIndri(topDocs, fbMu, fbTerms)
    val combined = "#WAND(" + fbOrigWeight + " " +
      QueryParser.addDefaultOp(queryText, model) + " " +
      (1 - fbOrigWeight) + " " + learned + ")"
    (learned, combined)
  }
}

object RefEngine {
  /** The oracle over generated docs, indexing `fields` with the text
    * `IndexBuilder.fieldText` gives them (body, title, url). */
  def of(corpus: Seq[graft.corpus.CorpusDoc], fields: Seq[String],
         cfg: AnalyzerConfig): RefEngine =
    new RefEngine(corpus.map { d =>
      val text = Map("body" -> d.content, "title" -> d.path,
        "url" -> s"${d.repo}/${d.path}")
      s"${d.repo}/${d.path}@${d.commit}" -> fields.map(f => f -> text(f)).toMap
    }, cfg)
}
