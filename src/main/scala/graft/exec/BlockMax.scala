package graft.exec

import graft.index.{Index, Posting, PostingBlock, PostingCodec}
import graft.model._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** Block-max pruned top-k for the two additive query families — the one
  * engine behind [[graft.api.SearchEngine.search]]'s pruned route
  * (SURVEY §4 item 5; the reference evaluates them exhaustively, DAAT):
  *
  *  - BM25 `#SUM` over scored leaves: the score is a sum of per-leaf
  *    contributions;
  *  - Indri product form, any nesting of `#WAND`/`#AND` over scored
  *    leaves — the reference's flagship SDM shape and PRF's combined
  *    query. `∏ sᵢ^{uᵢ}` (uᵢ > 0; nested #AND exponents multiply down the
  *    path) is monotone in every leaf, so in LOG space it is additive: a
  *    baseline (every leaf at its largest default score) plus per-leaf
  *    gains.
  *
  * A leaf is a plain term or a positional operator (`#NEAR`, `#WINDOW`,
  * `#SYN`, nested). Both families share one block cursor, one
  * materialized-list cursor, one worst-first heap and one pivot loop
  * (Broder et al.'s WAND with Ding & Suel's block maxima, public
  * literature); a [[Scorer]] supplies the per-leaf gain bounds and the
  * exact score. Bounds carry an epsilon margin, so float rounding never
  * flips a prune; accepted documents are scored by replaying the
  * exhaustive [[Planner]]'s float/double arithmetic in its child order,
  * so emitted scores are BIT-identical to it (property-tested in
  * BlockMaxWandSpec and IndriBlockMaxSpec).
  *
  * Distribution: the engine is a `mapPartitions` over the block table,
  * whose partitions hold whole segments (docid buckets) — the stored
  * snapshot is read without splitting a segment file, a derived table is
  * range-partitioned by segment ([[graft.index.Index.blocks]]) — so no
  * query shuffles. Each task runs the pivot loop per segment and emits
  * that segment's top-k, valid for the global extid tiebreak because
  * docid order within a segment IS extid order. Positional leaves are
  * matched inside the task from the decoded blocks' positions with the
  * [[PositionKernels]] the exhaustive plan uses; one job before the
  * top-k job sums their global df/ctf (a scorer statistic) over the same
  * blocks.
  */
object BlockMax {

  /** Score tree over leaf ids. */
  sealed trait PTree
  final case class PLeaf(id: Int) extends PTree
  final case class PAnd(children: Seq[PTree]) extends PTree
  final case class PWAnd(wn: Seq[Float], children: Seq[PTree]) extends PTree
  final case class PSum(leaves: Seq[Int]) extends PTree

  // ------------------------------------------------------------ scorers

  /** The additive face of a retrieval model over one query's leaves. */
  private sealed trait Scorer extends Serializable {
    /** Upper bound of leaf `id`'s gain over [[baseline]] at any posting
      * with tf ≤ maxTf and len in [minLen, maxLen]; never negative. */
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double
    /** Bound of a document that holds none of the leaves. */
    def baseline: Double
    /** What a document's bound must reach to enter a full heap whose
      * worst score is `worst`. */
    def bar(worst: Double): Double
    /** Exact score; `tf(id)` is 0 for a leaf absent from the document. */
    def score(tf: Array[Int], len: Long): Double
  }

  /** BM25 `#SUM` (`QryopSlSum.java:55-101`): child-ordered sum of the
    * per-posting scores of `QryopSlScore.java:146-157`, float-faithful
    * like [[Bm25TermScore]]. tf-weight increases in tf and decreases in
    * docLen, so `rsj·tfW(maxTf, minLen)` (rsj ≥ 0) / `rsj·tfW(1, maxLen)`
    * (rsj < 0) bounds a block for any (k1, b); a leaf occurring `mult`
    * times counts `mult` times, and a negative bound counts 0 (a document
    * missing the leaf scores 0 from it, which is larger). */
  private final case class Bm25Scorer(children: Array[Int], rsj: Array[Float],
                                      mult: Array[Int], k1: Float, b: Float,
                                      avgDocLen: Float, usrWeight: Double)
      extends Scorer {
    private def contribution(tf: Int, len: Long, r: Float): Double = {
      val tfW: Float = tf / (tf + k1 * (1 - b + b * len / avgDocLen))
      (r * tfW).toDouble
    }
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double = {
      val r = rsj(id)
      val raw =
        if (r >= 0) contribution(maxTf, minLen, r) else contribution(1, maxLen, r)
      math.max((raw + 1e-6 * (1.0 + math.abs(raw))) * mult(id), 0.0)
    }
    def baseline: Double = 0.0
    def bar(worst: Double): Double = worst
    def score(tf: Array[Int], len: Long): Double = {
      var s = 0.0
      var i = 0
      while (i < children.length) {
        val id = children(i)
        if (tf(id) > 0) s += contribution(tf(id), len, rsj(id)) * usrWeight
        i += 1
      }
      s
    }
  }

  /** Indri product form. The Dirichlet score
    * `λ(tf+μ·pMLE)/(len+μ) + (1-λ)pMLE` increases in tf and decreases in
    * len, so `present(maxTf, minLen)` bounds a block and `default(1)`
    * bounds an absent leaf; exact scores replay [[Planner.planSl]]'s
    * And/WAnd folds and StrictMath.pow calls over the float expressions
    * of [[IndriTermScore]]/[[IndriDefaultScore]]. */
  private final case class IndriScorer(tree: PTree, mle: Array[Float],
                                       u: Array[Double], mu: Float,
                                       lambda: Float) extends Scorer {
    private val Eps = 1e-7
    private def widen(x: Double): Double = x + Eps * (1.0 + math.abs(x))
    private def present(tf: Int, len: Long, m: Float): Double = {
      val s: Float = lambda * (tf + mu * m) / (len + mu) + (1 - lambda) * m
      s.toDouble
    }
    private def dflt(len: Long, m: Float): Double =
      (((lambda * mu / (len + mu)) + (1 - lambda)) * m).toDouble
    private val logDefUb: Array[Double] =
      mle.map(m => widen(math.log(dflt(1L, m))))
    val baseline: Double = u.indices.map(id => u(id) * logDefUb(id)).sum
    // the margin on the bar scales with the leaf count: float-vs-log
    // rounding of the exact replay can accumulate across leaves, so a
    // fixed single-eps margin could be outrun by a deep tree; widening
    // only loosens pruning, never flips one
    private val barEps = Eps * math.max(1, mle.length)
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double =
      math.max(u(id) *
        (widen(math.log(present(maxTf, minLen, mle(id)))) - logDefUb(id)), 0.0)
    def bar(worst: Double): Double =
      if (worst <= 0) Double.NegativeInfinity // log of non-positive
      else { val l = math.log(worst); l - barEps * (1.0 + math.abs(l)) }
    def score(tf: Array[Int], len: Long): Double = {
      def eval(t: PTree): Double = t match {
        case PLeaf(id) =>
          if (tf(id) > 0) present(tf(id), len, mle(id)) else dflt(len, mle(id))
        case PAnd(cs) =>
          StrictMath.pow(cs.foldLeft(1.0)((acc, c) => acc * eval(c)),
            1.0 / cs.length)
        case PWAnd(wn, cs) =>
          cs.zip(wn).foldLeft(1.0) { case (acc, (c, w)) =>
            acc * StrictMath.pow(eval(c), w.toDouble)
          }
        case PSum(_) =>
          throw new IllegalStateException("#SUM is not an Indri operator")
      }
      eval(tree)
    }
  }

  // ------------------------------------------------------------ cursors

  /** Docid-ascending cursor over one leaf within one segment;
    * `curDoc == Long.MaxValue` once exhausted. */
  private abstract class Cursor(val id: Int) {
    var curDoc: Long
    def advanceTo(target: Long): Unit
    final def next(): Unit = advanceTo(curDoc + 1)
    /** tf and len at curDoc. */
    def tf: Int
    def len: Long
    /** Gain bound of the current block, and over the whole segment. */
    def blockGain: Double
    def blockLastDoc: Long
    def segGain: Double
  }

  /** A term leaf's compressed blocks: a block is decoded only when
    * navigation lands INSIDE it; block-boundary skips read metadata
    * only. */
  private final class BlockCursor(id: Int, blocks: Array[PostingBlock],
                                  scorer: Scorer) extends Cursor(id) {
    private val gains =
      blocks.map(b => scorer.gain(id, b.maxTf, b.minLen, b.maxLen))
    val segGain: Double = gains.max
    private var bi = 0
    private var decoded: Array[Posting] = _
    private var lens: Array[Long] = _
    private var pi = 0
    var curDoc: Long = blocks(0).firstDocid // exact: first posting

    def blockGain: Double = gains(bi)
    def blockLastDoc: Long = blocks(bi).lastDocid

    private def decode(): Unit = {
      val b = blocks(bi)
      decoded = PostingCodec.decode(b.block, b.firstDocid)
      lens = PostingCodec.decodeLens(b.lens, b.df)
      pi = 0
    }
    def advanceTo(target: Long): Unit = {
      while (bi < blocks.length && blocks(bi).lastDocid < target) {
        bi += 1; decoded = null
      }
      if (bi >= blocks.length) curDoc = Long.MaxValue
      else if (decoded == null && target <= blocks(bi).firstDocid)
        curDoc = blocks(bi).firstDocid // undecoded: metadata is exact
      else {
        if (decoded == null) decode()
        // lastDocid ≥ target: the scan stops inside this block
        while (decoded(pi).docid < target) pi += 1
        curDoc = decoded(pi).docid
      }
    }
    private def here: Int = {
      if (decoded == null) decode()
      while (decoded(pi).docid < curDoc) pi += 1
      pi
    }
    def tf: Int = { val i = here; decoded(i).tf }
    def len: Long = { val i = here; lens(i) }
  }

  /** A positional leaf's list, materialized for one segment; the whole
    * list is one block. */
  private final class ListCursor(id: Int, l: PList, scorer: Scorer)
      extends Cursor(id) {
    val segGain: Double = l.docids.indices
      .map(i => scorer.gain(id, l.tfs(i), l.lens(i), l.lens(i))).max
    private var i = 0
    var curDoc: Long = l.docids(0)
    def blockGain: Double = segGain
    def blockLastDoc: Long = l.docids.last
    def advanceTo(target: Long): Unit = {
      while (i < l.docids.length && l.docids(i) < target) i += 1
      curDoc = if (i < l.docids.length) l.docids(i) else Long.MaxValue
    }
    def tf: Int = l.tfs(i)
    def len: Long = l.lens(i)
  }

  // ------------------------------------------------------- segment loop

  /** One segment's pruned evaluation → its local top-k (docid, score). */
  private def segmentTopK(cursors: Array[Cursor], scorer: Scorer,
                          nLeaves: Int, k: Int): Iterator[(Long, Double)] = {
    // worst-first heap: lowest score first, then HIGHEST docid first
    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = mutable.PriorityQueue.empty[(Long, Double)]
    def bar: Double =
      if (heap.size < k) Double.NegativeInfinity else scorer.bar(heap.head._2)
    val tfs = new Array[Int](nLeaves)
    var done = false
    while (!done) {
      val sorted = cursors.filter(_.curDoc != Long.MaxValue).sortBy(_.curDoc)
      val need = bar - scorer.baseline
      // pivot: the first prefix whose summed gain can reach the bar
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < sorted.length) {
        acc += sorted(i).segGain
        if (acc >= need) p = i
        i += 1
      }
      if (p < 0) done = true // no remaining doc can enter the heap
      else {
        val pivotDoc = sorted(p).curDoc
        if (sorted(0).curDoc == pivotDoc) {
          // every cursor AT pivotDoc contributes — including ties beyond
          // the pivot index — so the refinement bound, the scoring and
          // the advance all range over that tied set
          val atPivot = sorted.filter(_.curDoc == pivotDoc)
          if (scorer.baseline + atPivot.map(_.blockGain).sum >= bar) {
            java.util.Arrays.fill(tfs, 0)
            var len = 0L
            atPivot.foreach { c => tfs(c.id) = c.tf; len = c.len }
            val s = scorer.score(tfs, len)
            if (heap.size < k) heap.enqueue((pivotDoc, s))
            else {
              val (wd, ws) = heap.head
              if (s > ws || (s == ws && pivotDoc < wd)) {
                heap.dequeue(); heap.enqueue((pivotDoc, s))
              }
            }
            atPivot.foreach(_.next())
          } else {
            // skip past the bounded blocks: the next doc that can score
            var skipTo = Long.MaxValue
            atPivot.foreach(c => skipTo = math.min(skipTo, c.blockLastDoc + 1))
            sorted.find(_.curDoc > pivotDoc)
              .foreach(c => skipTo = math.min(skipTo, c.curDoc))
            atPivot.foreach(c => if (c.curDoc < skipTo) c.advanceTo(skipTo))
          }
        } else // align the cursors before the pivot
          sorted.take(p).foreach(c => if (c.curDoc < pivotDoc) c.advanceTo(pivotDoc))
      }
    }
    heap.dequeueAll.reverseIterator
  }

  // -------------------------------------------------- positional leaves

  /** A leaf's matches within one segment: docid-ascending docs with
    * their positions (tf = positions count) and field length. */
  private final class PList(val docids: Array[Long],
                            val pos: Array[Array[Int]],
                            val lens: Array[Long]) {
    val tfs: Array[Int] = pos.map(_.length)
    def isEmpty: Boolean = docids.isEmpty
    def ctf: Long = pos.iterator.map(_.length.toLong).sum
  }

  private def decodeAll(blocks: Array[PostingBlock]): PList = {
    val ps = blocks.flatMap(b => PostingCodec.decode(b.block, b.firstDocid))
    new PList(ps.map(_.docid), ps.map(_.positions),
      blocks.flatMap(b => PostingCodec.decodeLens(b.lens, b.df)))
  }

  /** Evaluate a positional leaf over one segment's decoded term lists,
    * with the semantics of [[Planner.planIl]]: #SYN unions the members'
    * positions (sorted, duplicates kept); #NEAR/#WINDOW match documents
    * holding every argument with the same kernels. #WINDOW's arguments
    * are not re-sorted by df: the kernel is permutation-invariant over
    * them (property-tested in PositionOpsSpec). */
  private def evalIl(il: Il, term: String => PList): PList = il match {
    case Term(t, _) => term(t)
    case Syn(as)    => union(as.map(evalIl(_, term)))
    case Near(d, as) =>
      matched(as.map(evalIl(_, term)))(PositionKernels.near(_, d))
    case Window(_, Seq(a)) => evalIl(a, term) // `QryopIlWindow.java:62-66`
    case Window(d, as) =>
      matched(as.map(evalIl(_, term)))(PositionKernels.window(_, d))
  }

  private def union(ls: Seq[PList]): PList = {
    val ptr = new Array[Int](ls.length)
    val (ds, ps, lens) = (mutable.ArrayBuilder.make[Long],
      mutable.ArrayBuilder.make[Array[Int]], mutable.ArrayBuilder.make[Long])
    var more = true
    while (more) {
      var d = Long.MaxValue
      ls.indices.foreach { j =>
        if (ptr(j) < ls(j).docids.length) d = math.min(d, ls(j).docids(ptr(j)))
      }
      if (d == Long.MaxValue) more = false
      else {
        val merged = mutable.ArrayBuilder.make[Int]
        var len = -1L // any member's: same doc, same field
        ls.indices.foreach { j =>
          val l = ls(j)
          if (ptr(j) < l.docids.length && l.docids(ptr(j)) == d) {
            merged ++= l.pos(ptr(j)); len = l.lens(ptr(j)); ptr(j) += 1
          }
        }
        val m = merged.result()
        java.util.Arrays.sort(m)
        ds += d; ps += m; lens += len
      }
    }
    new PList(ds.result(), ps.result(), lens.result())
  }

  /** Documents holding every argument, with the kernel's match positions
    * (empty ⇒ no match). */
  private def matched(ls: Seq[PList])(kernel: ArrayData => ArrayData): PList = {
    val (ds, ps, lens) = (mutable.ArrayBuilder.make[Long],
      mutable.ArrayBuilder.make[Array[Int]], mutable.ArrayBuilder.make[Long])
    val ptr = new Array[Int](ls.length)
    val first = ls.head
    first.docids.indices.foreach { i =>
      val d = first.docids(i)
      ptr(0) = i
      var all = true
      var j = 1
      while (all && j < ls.length) {
        val l = ls(j)
        while (ptr(j) < l.docids.length && l.docids(ptr(j)) < d) ptr(j) += 1
        all = ptr(j) < l.docids.length && l.docids(ptr(j)) == d
        j += 1
      }
      if (all) {
        val args = new GenericArrayData(ls.indices.map(j =>
          UnsafeArrayData.fromPrimitiveArray(ls(j).pos(ptr(j))): Any).toArray)
        val m = kernel(args).toIntArray()
        if (m.nonEmpty) { ds += d; ps += m; lens += first.lens(i) }
      }
    }
    new PList(ds.result(), ps.result(), lens.result())
  }

  // ------------------------------------------------------- segment tasks

  /** A partition's blocks, one segment at a time, per term in blockId
    * order. The partition holds whole segments, each as one contiguous
    * run (a stored segment file; a derived partition sorted by segment),
    * so a task holds one segment's blocks at a time; a segment that
    * comes back after another began is refused, never scored in parts. */
  private def segments(it: Iterator[PostingBlock])
      : Iterator[Map[String, Array[PostingBlock]]] = {
    val in = it.buffered
    val seen = mutable.HashSet.empty[Long]
    Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
      val seg = in.head.segment
      require(seen.add(seg), s"segment $seg's posting blocks are not one " +
        "contiguous run in their partition; the block-max engine scores a " +
        "segment from all of its blocks at once")
      val run = mutable.ArrayBuffer.empty[PostingBlock]
      while (in.hasNext && in.head.segment == seg) run += in.next()
      run.toArray.groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(_.blockId) }
    }
  }

  /** One segment's positional leaves, evaluated from its decoded terms. */
  private def positionalLists(byTerm: Map[String, Array[PostingBlock]],
                              leaves: IndexedSeq[Il]): Map[Int, PList] = {
    val decoded = mutable.HashMap.empty[String, PList]
    val term: String => PList = t => decoded.getOrElseUpdate(t,
      decodeAll(byTerm.getOrElse(t, Array.empty[PostingBlock])))
    leaves.indices.collect {
      case id if !leaves(id).isInstanceOf[Term] => id -> evalIl(leaves(id), term)
    }.toMap
  }

  private def segmentTask(byTerm: Map[String, Array[PostingBlock]],
                          leaves: IndexedSeq[Il], scorer: Scorer,
                          k: Int): Iterator[(Long, Double)] = {
    val lists = positionalLists(byTerm, leaves)
    val cursors: Array[Cursor] = leaves.indices.flatMap { id =>
      leaves(id) match {
        case Term(t, _) => byTerm.get(t).map(new BlockCursor(id, _, scorer))
        case _ => Some(lists(id)).filterNot(_.isEmpty)
          .map(new ListCursor(id, _, scorer))
      }
    }.toArray
    segmentTopK(cursors, scorer, leaves.length, k)
  }

  // -------------------------------------------------------- extraction

  /** The score tree and its distinct leaves (a repeated leaf keeps one
    * id), or why the engine does not serve the shape. */
  private def extract(ast: Sl, model: RetrievalModel)
      : Either[String, (PTree, IndexedSeq[Il])] = {
    val ids = mutable.LinkedHashMap.empty[Il, Int]
    def leaf(il: Il): Int = ids.getOrElseUpdate(il, ids.size)
    def product(q: Sl): Option[PTree] = q match {
      case Score(il) => Some(PLeaf(leaf(il)))
      case And(args) if args.nonEmpty =>
        val cs = args.map(product)
        if (cs.forall(_.isDefined)) Some(PAnd(cs.flatten)) else None
      case WAnd(ws, args) if args.nonEmpty && ws.length == args.length =>
        val cs = args.map(product)
        val wn = Planner.normalizeWeights(ws)
        if (cs.forall(_.isDefined) && wn.forall(_ > 0f))
          Some(PWAnd(wn, cs.flatten))
        else None
      case _ => None
    }
    val tree: Either[String, PTree] = (model, ast) match {
      case (_: BM25, Sum(args)) if args.forall(_.isInstanceOf[Score]) =>
        Right(PSum(args.collect { case Score(il) => leaf(il) }))
      case (_: BM25, _) => Left("not a #SUM of scored leaves")
      case (_: Indri, _) =>
        product(ast).toRight("not a product-form #WAND/#AND tree")
      case _ => Left("boolean model")
    }
    tree.map(t => (t, ids.keys.toIndexedSeq))
  }

  private def fieldsOf(il: Il): Seq[String] = il match {
    case Term(_, f)    => Seq(f)
    case Syn(as)       => as.flatMap(fieldsOf)
    case Near(_, as)   => as.flatMap(fieldsOf)
    case Window(_, as) => as.flatMap(fieldsOf)
  }

  private def termsOf(il: Il): Seq[String] = il match {
    case Term(t, _)    => Seq(t)
    case Syn(as)       => as.flatMap(termsOf)
    case Near(_, as)   => as.flatMap(termsOf)
    case Window(_, as) => as.flatMap(termsOf)
  }

  private def exponents(t: PTree, u: Double, out: Array[Double]): Unit =
    t match {
      case PLeaf(id)     => out(id) += u
      case PAnd(cs)      => cs.foreach(exponents(_, u / cs.length, out))
      case PWAnd(wn, cs) =>
        cs.zip(wn).foreach { case (c, w) => exponents(c, u * w, out) }
      case PSum(_)       =>
    }

  // ------------------------------------------------------------ driver

  /** Pruned (docid, score) top-k candidates of each segment — feed them to
    * `SearchEngine.rank` for the global extid-tiebroken top-k — or
    * Left(reason) when the shape or the statistics call for the
    * exhaustive planner: a boolean model, a BM25 tree other than a #SUM of
    * scored leaves, a non-product Indri tree, leaves in more than one
    * field, or an Indri leaf with zero ctf (its default score is 0, which
    * zeroes every document alike). `blocks` must hold whole segments per
    * partition ([[graft.index.Index.blocks]] does). */
  def topK(index: Index, blocks: Dataset[PostingBlock], ast: Sl,
           model: RetrievalModel, k: Int): Either[String, DataFrame] = {
    val (tree, leaves) = extract(ast, model) match {
      case Right(x) => x
      case Left(why) => return Left(why)
    }
    val fields = leaves.flatMap(fieldsOf).distinct
    if (fields.size != 1) return Left("leaves span more than one field")
    val field = fields.head
    val terms = leaves.flatMap(termsOf).distinct
    // the exhaustive planner's leaf-stat job: same field validation
    val termStats = Planner.leafStats(index, terms.map((_, field)))
    def termStat(t: String) = termStats.getOrElse((t, field), (0L, 0L))
    val cl = index.fieldStats(field).collectionLength
    if (model.isInstanceOf[Indri]) {
      if (cl <= 0) return Left(s"field $field holds no documents")
      if (leaves.exists { case Term(t, _) => termStat(t)._2 == 0L
                          case _          => false })
        return Left("zero-ctf leaf")
    }
    val spark = index.spark
    import spark.implicits._
    val inField = blocks.filter(col("field") === field)
    // the positional leaves' global (df, ctf), matched per segment
    val positional = leaves.indices.filterNot(id => leaves(id).isInstanceOf[Term])
    val posStats: Map[Int, (Long, Long)] =
      if (positional.isEmpty) Map.empty
      else {
        val lv = leaves
        inField.filter(col("term").isin(positional.flatMap(id =>
            termsOf(leaves(id))).distinct: _*))
          .mapPartitions(segments(_).flatMap(byTerm =>
            positionalLists(byTerm, lv).iterator.map { case (id, l) =>
              (id, l.docids.length.toLong, l.ctf)
            }))
          .collect()
          .groupBy(_._1).map { case (id, xs) =>
            id -> (xs.map(_._2).sum, xs.map(_._3).sum)
          }
      }
    val stat: Int => (Long, Long) = id => leaves(id) match {
      case Term(t, _) => termStat(t)
      case _          => posStats.getOrElse(id, (0L, 0L))
    }
    val scorer: Scorer = model match {
      case BM25(k1, b, k3) =>
        val n = index.stats.numDocs
        val children = tree match {
          case PSum(ls) => ls.toArray
          case _ => throw new IllegalStateException("BM25 tree is a #SUM")
        }
        val qtf = 1 // QryopSlSum.java:69-75
        Bm25Scorer(children,
          leaves.indices.map { id =>
            val df = stat(id)._1 // QryopSlScore.java:146, no max(0,·) floor
            StrictMath.log((n - df + 0.5) / (df + 0.5)).toFloat
          }.toArray,
          leaves.indices.map(id => children.count(_ == id)).toArray,
          k1, b, index.fieldStats(field).avgDocLen,
          ((k3 + 1) * qtf / (k3 + qtf)).toDouble)
      case Indri(mu, lambda) =>
        // (float) ctf / cl (QryopSlScore.java:200)
        val mle = leaves.indices.map(id => stat(id)._2.toFloat / cl).toArray
        if (mle.exists(_ <= 0f)) return Left("zero-ctf leaf")
        val u = new Array[Double](leaves.length)
        exponents(tree, 1.0, u)
        IndriScorer(tree, mle, u, mu, lambda)
      case other => throw new IllegalStateException(s"no scorer for $other")
    }
    val (lv, kk) = (leaves, k)
    Right(inField.filter(col("term").isin(terms: _*))
      .mapPartitions(segments(_).flatMap(segmentTask(_, lv, scorer, kk)))
      .toDF("docid", "score"))
  }
}
