package graft.exec

import graft.api.Route
import graft.index.{Index, Posting, PostingBlock, PostingCodec}
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.{col, collect_list, first,
  map_from_entries, struct}

import scala.collection.mutable

/** The query engine: document-at-a-time evaluation of a query's score
  * tree over the compressed block table, segment by segment (SURVEY §2–3;
  * the reference evaluates DAAT over inverted lists). [[candidates]]
  * compiles a query once and itself chooses one of two modes, which share
  * one segment loop ([[walk]]) and one exact scorer ([[DocScorer]]):
  *
  *  - pruned (SURVEY §4 item 5) for the two additive families: BM25
  *    `#SUM` over scored leaves in any fields (a sum of per-leaf
  *    contributions) and Indri product form in one field, any nesting of
  *    `#WAND`/`#AND` over scored leaves — the reference's flagship SDM
  *    shape and PRF's combined query. `∏ sᵢ^{uᵢ}` (uᵢ > 0; nested #AND
  *    exponents multiply down the path) is monotone in every leaf, so in
  *    LOG space it is additive: a baseline (every leaf at its largest
  *    default score) plus per-leaf gains;
  *  - unpruned (also [[all]], behind [[Planner.plan]]): every document the
  *    tree matches, with its score — any operator, any retrieval model,
  *    any number of fields.
  *
  * A leaf is a plain term or a positional operator (`#NEAR`, `#WINDOW`,
  * `#SYN`, nested), matched inside the segment task from the decoded
  * blocks' positions with the [[PositionKernels]]; one job before the
  * scoring job sums their global df/ctf (a scorer statistic) over the same
  * blocks. The loop is Broder et al.'s WAND with Ding & Suel's block
  * maxima (public literature) over one block cursor per term leaf and one
  * materialized-list cursor per positional leaf. The pruned mode feeds it
  * a worst-first heap and [[Bounds]] — per-leaf gain bounds with an
  * epsilon margin, so float rounding never flips a prune; the unpruned
  * mode runs it [[Unbounded]], so it reaches every document a leaf holds
  * and emits those the tree matches. Both score a document with the same
  * [[DocScorer]], so they are BIT-identical to each other (BlockMaxWandSpec,
  * IndriBlockMaxSpec) and to the test-only reference engine
  * (EngineVsOracleSpec).
  *
  * Distribution: a `mapPartitions` over the block table filtered to the
  * query's terms and fields, whose partitions hold whole segments (docid
  * buckets) — the stored snapshot is read without splitting a segment
  * file, a derived table is range-partitioned by segment
  * ([[graft.index.Index.blocks]]) — so no query shuffles, except the one
  * doc-length join of an unpruned Indri tree over more than one field (a
  * document's length in a field where no leaf matched it comes from
  * `doclen`). The pruned mode emits each segment's top-k, valid for the
  * global extid tiebreak because docid order within a segment IS extid
  * order. What a query looks up by key stays on the driver: term leaves'
  * df/ctf in [[graft.index.Index.lexicon]], the ranking's extids in
  * [[graft.index.Index.extids]]. So a query of term leaves runs one Spark
  * job, the scoring; positional leaves add one, their statistics.
  */
object BlockMax {

  /** A query's score tree over numbered leaves. */
  private sealed trait PTree { def children: Seq[PTree] }
  private final case class PLeaf(id: Int) extends PTree {
    def children: Seq[PTree] = Nil
  }
  private final case class PAnd(children: Seq[PTree]) extends PTree
  private final case class POr(children: Seq[PTree]) extends PTree
  private final case class PSum(children: Seq[PTree]) extends PTree
  private final case class PWAnd(wn: Seq[Float], children: Seq[PTree]) extends PTree
  private final case class PWSum(wn: Seq[Float], children: Seq[PTree]) extends PTree

  // ------------------------------------------------------------ scoring

  /** The exact score of one document — the one score implementation of
    * every retrieval model. `tf(id)` is 0 for a leaf absent from the
    * document, `lens(field(id))` its length in leaf `id`'s field; `stat`
    * is a leaf's BM25 rsj or Indri pMLE. Java float intermediates widen to
    * double at the end, and operators fold in child order, exactly as the
    * reference does (SURVEY §2.4). */
  private final case class DocScorer(tree: PTree, model: RetrievalModel,
                                     field: Array[Int], stat: Array[Float],
                                     avgDocLen: Array[Float]) {
    private val boolean = model == RankedBoolean || model == UnrankedBoolean
    private val usrWeight: Double = model match {
      case BM25(_, _, k3) =>
        val qtf = 1 // QryopSlSum.java:69-75
        ((k3 + 1) * qtf / (k3 + qtf)).toDouble
      case _ => 1.0
    }

    /** A leaf's score at tf > 0 (`QryopSlScore.java:146-157` BM25,
      * :200-210 Indri) and its Indri default at tf = 0 (:233-247, the
      * factored form of :243). */
    def leaf(id: Int, tf: Int, len: Long): Double = model match {
      case UnrankedBoolean => 1.0
      case RankedBoolean   => tf.toDouble
      case BM25(k1, b, _) =>
        val tfW: Float = tf / (tf + k1 * (1 - b + b * len / avgDocLen(id)))
        (stat(id) * tfW).toDouble
      case Indri(mu, lambda) =>
        val m = stat(id)
        if (tf > 0) (lambda * (tf + mu * m) / (len + mu) + (1 - lambda) * m).toDouble
        else (((lambda * mu / (len + mu)) + (1 - lambda)) * m).toDouble
    }

    /** Whether the document is in the tree's result list: boolean #AND
      * needs every child, every other operator any. */
    def matches(tf: Array[Int], t: PTree = tree): Boolean = t match {
      case PLeaf(id)           => tf(id) > 0
      case PAnd(cs) if boolean => cs.forall(matches(tf, _))
      case _                   => t.children.exists(matches(tf, _))
    }

    def score(tf: Array[Int], lens: Array[Long]): Double = {
      def eval(t: PTree): Double = t match {
        case PLeaf(id) => leaf(id, tf(id), lens(field(id)))
        case PAnd(cs) => model match { // QryopSlAnd.java:65-123, :134-174
          case RankedBoolean   => cs.map(eval).reduce((a, b) => math.min(a, b))
          case UnrankedBoolean => 1.0
          case _ =>
            StrictMath.pow(cs.foldLeft(1.0)((acc, c) => acc * eval(c)),
              1.0 / cs.length)
        }
        case POr(cs) => // QryopSlOr.java:57-99
          if (model == UnrankedBoolean) 1.0
          else cs.filter(matches(tf, _)).map(eval).reduce((a, b) => math.max(a, b))
        case PSum(cs) => // QryopSlSum.java:55-101: present children only
          cs.foldLeft(0.0)((acc, c) =>
            if (matches(tf, c)) acc + eval(c) * usrWeight else acc)
        case PWAnd(wn, cs) =>
          cs.zip(wn).foldLeft(1.0) { case (acc, (c, w)) =>
            acc * StrictMath.pow(eval(c), w.toDouble)
          }
        case PWSum(wn, cs) =>
          cs.zip(wn).foldLeft(0.0) { case (acc, (c, w)) => acc + eval(c) * w }
      }
      eval(tree)
    }
  }

  /** The pruning face of a retrieval model over one query's leaves. */
  private sealed trait Bounds extends Serializable {
    /** Upper bound of leaf `id`'s gain over [[baseline]] at any posting
      * with tf ≤ maxTf and len in [minLen, maxLen]; never negative. */
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double
    /** Bound of a document that holds none of the leaves. */
    def baseline: Double
    /** What a document's bound must reach to enter a full heap whose
      * worst score is `worst`. */
    def bar(worst: Double): Double
  }

  /** BM25 `#SUM`: tf-weight increases in tf and decreases in docLen, so
    * `rsj·tfW(maxTf, minLen)` (rsj ≥ 0) / `rsj·tfW(1, maxLen)` (rsj < 0)
    * bounds a block for any (k1, b); a leaf occurring `mult` times counts
    * `mult` times, and a negative bound counts 0 (a document missing the
    * leaf scores 0 from it, which is larger). */
  private final case class Bm25Bounds(s: DocScorer, mult: Array[Int])
      extends Bounds {
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double = {
      val raw =
        if (s.stat(id) >= 0) s.leaf(id, maxTf, minLen) else s.leaf(id, 1, maxLen)
      math.max((raw + 1e-6 * (1.0 + math.abs(raw))) * mult(id), 0.0)
    }
    def baseline: Double = 0.0
    def bar(worst: Double): Double = worst
  }

  /** Indri product form. The Dirichlet score increases in tf and
    * decreases in len, so the score at (maxTf, minLen) bounds a block and
    * the default at len 1 bounds an absent leaf; `u` are the leaves'
    * exponents. */
  private final case class IndriBounds(s: DocScorer, u: Array[Double])
      extends Bounds {
    private val Eps = 1e-7
    private def widen(x: Double): Double = x + Eps * (1.0 + math.abs(x))
    private val logDefUb: Array[Double] =
      u.indices.map(id => widen(math.log(s.leaf(id, 0, 1L)))).toArray
    val baseline: Double = u.indices.map(id => u(id) * logDefUb(id)).sum
    // the margin on the bar scales with the leaf count: float-vs-log
    // rounding of the exact score can accumulate across leaves, so a
    // fixed single-eps margin could be outrun by a deep tree; widening
    // only loosens pruning, never flips one
    private val barEps = Eps * math.max(1, u.length)
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double =
      math.max(u(id) *
        (widen(math.log(s.leaf(id, maxTf, minLen))) - logDefUb(id)), 0.0)
    def bar(worst: Double): Double =
      if (worst <= 0) Double.NegativeInfinity // log of non-positive
      else { val l = math.log(worst); l - barEps * (1.0 + math.abs(l)) }
  }

  // ------------------------------------------------------------ cursors

  /** Docid-ascending cursor over one leaf within one segment;
    * `curDoc == Long.MaxValue` once exhausted. */
  private abstract class Cursor(val id: Int) {
    var curDoc: Long
    def advanceTo(target: Long): Unit
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
                                  bounds: Bounds) extends Cursor(id) {
    private val gains =
      blocks.map(b => bounds.gain(id, b.maxTf, b.minLen, b.maxLen))
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
  private final class ListCursor(id: Int, l: PList, bounds: Bounds)
      extends Cursor(id) {
    val segGain: Double = l.docids.indices
      .map(i => bounds.gain(id, l.tfs(i), l.lens(i), l.lens(i))).max
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

  /** Where the segment loop sends the documents it reaches: `bar` is what
    * a document's bound must reach; `visit` gets every leaf's tf (0 =
    * absent) and the lengths in the query's fields (-1 where no leaf holds
    * the document), and keeps neither array. */
  private abstract class Sink[T] {
    def bar: Double
    def visit(doc: Long, tf: Array[Int], lens: Array[Long]): Unit
    def result: Iterator[T]
  }

  /** The pruned mode's sink: the segment's top k (docid, score) in a
    * worst-first heap, whose worst score sets the bar once it is full. */
  private final class TopK(scorer: DocScorer, bounds: Bounds, k: Int)
      extends Sink[(Long, Double)] {
    // worst-first heap: lowest score first, then HIGHEST docid first
    private val heap = mutable.PriorityQueue.empty[(Long, Double)](
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) })
    def bar: Double =
      if (heap.size < k) Double.NegativeInfinity else bounds.bar(heap.head._2)
    def visit(doc: Long, tf: Array[Int], lens: Array[Long]): Unit = {
      val s = scorer.score(tf, lens)
      // a full heap gives up its worst only to a better document
      if (heap.size == k &&
          { val (wd, ws) = heap.head; s > ws || (s == ws && doc < wd) })
        heap.dequeue()
      if (heap.size < k) heap.enqueue((doc, s))
    }
    def result: Iterator[(Long, Double)] = heap.dequeueAll.reverseIterator
  }

  /** The unpruned mode's sink: every document the tree matches, as
    * `emit` makes it. */
  private final class Matches[T](scorer: DocScorer,
                                 emit: (Long, Array[Int], Array[Long]) => T)
      extends Sink[T] {
    private val out = mutable.ArrayBuffer.empty[T]
    def bar: Double = Double.NegativeInfinity
    def visit(doc: Long, tf: Array[Int], lens: Array[Long]): Unit =
      if (scorer.matches(tf)) out += emit(doc, tf, lens)
    def result: Iterator[T] = out.iterator
  }

  /** The bound of the unpruned mode, which never prunes: every gain is 0
    * and the bar −∞, so the loop reaches every document a cursor holds. */
  private object Unbounded extends Bounds {
    def gain(id: Int, maxTf: Int, minLen: Long, maxLen: Long): Double = 0.0
    def baseline: Double = 0.0
    def bar(worst: Double): Double = Double.NegativeInfinity
  }

  /** One segment's document-at-a-time walk — the one loop of both modes.
    * The cursors stay ordered by current docid in `cs`, in place, with
    * the exhausted ones dropped off its end. The pivot is the first
    * cursor whose prefix's segment gains can reach the sink's bar; its
    * document is visited, with every leaf that holds it, when those
    * leaves' block gains reach the bar too, else they skip past their
    * blocks. The loop allocates nothing per document; a sink may. */
  private def walk[T](cs: Array[Cursor], bounds: Bounds, field: Array[Int],
                      nLeaves: Int, nFields: Int, sink: Sink[T]): Iterator[T] = {
    val tfs = new Array[Int](nLeaves)
    val lens = new Array[Long](nFields)
    var n = cs.length
    // restores the docid order after cs(0 until q) advanced
    def reorder(q: Int): Unit = {
      var i = q - 1
      while (i >= 0) {
        val c = cs(i)
        var j = i + 1
        while (j < n && cs(j).curDoc < c.curDoc) { cs(j - 1) = cs(j); j += 1 }
        cs(j - 1) = c
        i -= 1
      }
      while (n > 0 && cs(n - 1).curDoc == Long.MaxValue) n -= 1
    }
    reorder(n)
    while (n > 0) {
      val bar = sink.bar
      val need = bar - bounds.baseline
      // pivot: the first prefix whose summed gain can reach the bar
      var acc = 0.0
      var p = -1
      var i = 0
      while (p < 0 && i < n) {
        acc += cs(i).segGain
        if (acc >= need) p = i
        i += 1
      }
      if (p < 0) n = 0 // no remaining doc can reach the bar
      else {
        val pivotDoc = cs(p).curDoc
        // the cursors that advance, cs(0 until m): those before the pivot
        // to align them, else every one AT pivotDoc — ties beyond the
        // pivot index too — for the refinement bound, visit and advance
        var m = 0
        var gain = 0.0
        while (m < n && cs(m).curDoc == pivotDoc) {
          gain += cs(m).blockGain; m += 1
        }
        i = 0
        if (m == 0) {
          m = p
          while (i < m) {
            if (cs(i).curDoc < pivotDoc) cs(i).advanceTo(pivotDoc)
            i += 1
          }
        } else if (bounds.baseline + gain >= bar) {
          java.util.Arrays.fill(tfs, 0)
          java.util.Arrays.fill(lens, -1L)
          while (i < m) {
            val c = cs(i)
            tfs(c.id) = c.tf; lens(field(c.id)) = c.len
            c.advanceTo(pivotDoc + 1); i += 1
          }
          sink.visit(pivotDoc, tfs, lens)
        } else {
          // skip past the bounded blocks: the next doc that can score
          var skipTo = if (m < n) cs(m).curDoc else Long.MaxValue
          while (i < m) {
            skipTo = math.min(skipTo, cs(i).blockLastDoc + 1); i += 1
          }
          i = 0
          while (i < m) { cs(i).advanceTo(skipTo); i += 1 }
        }
        reorder(m)
      }
    }
    sink.result
  }

  // -------------------------------------------------- positional leaves

  /** A leaf's matches within one segment: docid-ascending docs with
    * their positions (tf = positions count) and field length. */
  private final class PList(val docids: Array[Long],
                            val pos: Array[Array[Int]],
                            val lens: Array[Long]) {
    val tfs: Array[Int] = pos.map(_.length)
  }

  private def decodeAll(blocks: Array[PostingBlock]): PList = {
    val ps = blocks.flatMap(b => PostingCodec.decode(b.block, b.firstDocid))
    new PList(ps.map(_.docid), ps.map(_.positions),
      blocks.flatMap(b => PostingCodec.decodeLens(b.lens, b.df)))
  }

  /** Evaluate a leaf over one segment's decoded term lists, with the
    * reference's semantics: #SYN unions the members' positions (sorted,
    * duplicates kept, `QryopIlSyn.java:69-81`); #NEAR/#WINDOW match
    * documents holding every argument with the kernels. #WINDOW's
    * arguments are not sorted by df (`QryopIlWindow.java:52`): the kernel
    * is permutation-invariant over them (property-tested in
    * PositionOpsSpec). */
  private def evalIl(il: Il, term: ((String, String)) => PList): PList = il match {
    case Term(t, f) => term((t, f))
    case Syn(as)    => union(as.map(evalIl(_, term)))
    case Near(d, as) =>
      matched(as.map(evalIl(_, term)))(PositionKernels.near(_, d))
    case Window(_, Seq(a)) => evalIl(a, term) // `QryopIlWindow.java:62-66`
    case Window(d, as) =>
      matched(as.map(evalIl(_, term)))(PositionKernels.window(_, d))
  }

  private def union(ls: Seq[PList]): PList = {
    val ds = ls.flatMap(_.docids).distinct.sorted.toArray
    val ptr = new Array[Int](ls.length)
    val (ps, lens) = ds.map { d =>
      var len = -1L // any member's: same doc, same field
      val m = Array.concat(ls.indices.map { j =>
        val l = ls(j)
        if (ptr(j) < l.docids.length && l.docids(ptr(j)) == d) {
          len = l.lens(ptr(j)); ptr(j) += 1; l.pos(ptr(j) - 1)
        } else Array.emptyIntArray
      }: _*)
      java.util.Arrays.sort(m)
      (m, len)
    }.unzip
    new PList(ds, ps, lens)
  }

  /** Documents holding every argument, with the kernel's match positions
    * (empty ⇒ no match). */
  private def matched(ls: Seq[PList])(kernel: Array[Array[Int]] => Array[Int]): PList = {
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
        val m = kernel(Array.tabulate(ls.length)(j => ls(j).pos(ptr(j))))
        if (m.nonEmpty) { ds += d; ps += m; lens += first.lens(i) }
      }
    }
    new PList(ds.result(), ps.result(), lens.result())
  }

  // ------------------------------------------------------- segment tasks

  private type ByKey = Map[(String, String), Array[PostingBlock]]

  /** A partition's blocks, one segment at a time, per (term, field) in
    * blockId order. The partition holds whole segments, each as one
    * contiguous run (a stored segment file; a derived partition sorted by
    * segment), so a task holds one segment's blocks at a time; a segment
    * that comes back after another began is refused, never scored in
    * parts. */
  private def segments(it: Iterator[PostingBlock]): Iterator[ByKey] = {
    val in = it.buffered
    val seen = mutable.HashSet.empty[Long]
    Iterator.continually(in).takeWhile(_.hasNext).map { _ =>
      val seg = in.head.segment
      require(seen.add(seg), s"segment $seg's posting blocks are not one " +
        "contiguous run in their partition; the block-max engine scores a " +
        "segment from all of its blocks at once")
      val run = mutable.ArrayBuffer.empty[PostingBlock]
      while (in.hasNext && in.head.segment == seg) run += in.next()
      run.toArray.groupBy(b => (b.term, b.field))
        .map { case (key, bs) => key -> bs.sortBy(_.blockId) }
    }
  }

  /** One segment's lists of the positional leaves, evaluated from its
    * decoded terms (each decoded once). */
  private def leafLists(byKey: ByKey, leaves: IndexedSeq[Il]): Map[Int, PList] = {
    val decoded = mutable.HashMap.empty[(String, String), PList]
    val term: ((String, String)) => PList = key => decoded.getOrElseUpdate(key,
      decodeAll(byKey.getOrElse(key, Array.empty[PostingBlock])))
    positional(leaves).map(id => id -> evalIl(leaves(id), term)).toMap
  }

  private def positional(leaves: IndexedSeq[Il]): Seq[Int] =
    leaves.indices.filterNot(id => leaves(id).isInstanceOf[Term])

  /** The query's segment tasks: a `mapPartitions` over its blocks that
    * walks each segment ([[walk]]) into a fresh sink, with a cursor per
    * leaf the segment holds — a term leaf's blocks, a positional leaf's
    * list matched from its terms' decoded blocks. */
  private def segmentTasks[T: Encoder](q: Compiled, bounds: Bounds)
                                      (sink: () => Sink[T]): Dataset[T] = {
    val (leaves, field, nf) = (q.leaves, q.scorer.field, q.fields.length)
    blocksOf(q.blocks, leaves).mapPartitions(segments(_).flatMap { byKey =>
      val lists = leafLists(byKey, leaves)
      val cursors: Array[Cursor] = leaves.indices.flatMap { id =>
        leaves(id) match {
          case Term(t, f) => byKey.get((t, f)).map(new BlockCursor(id, _, bounds))
          case _ => Some(lists(id)).filter(_.docids.nonEmpty)
            .map(new ListCursor(id, _, bounds))
        }
      }.toArray
      walk(cursors, bounds, field, leaves.length, nf, sink())
    })
  }

  // ------------------------------------------------------ query shapes

  /** The score tree of `ast` and its distinct leaves (a repeated leaf
    * keeps one id), with the reference's operator × model checks
    * (SURVEY §2.2) and messages. */
  private def compile(ast: Sl, model: RetrievalModel)
      : (PTree, IndexedSeq[Il]) = {
    val ids = mutable.LinkedHashMap.empty[Il, Int]
    val boolean = model == RankedBoolean || model == UnrankedBoolean
    val indri = model.isInstanceOf[Indri]
    def tree(q: Sl): PTree = q match {
      case Score(il) =>
        fieldOf(il)
        PLeaf(ids.getOrElseUpdate(il, ids.size))
      case And(as) if boolean || indri => PAnd(as.map(tree))
      case And(_) => throw new IllegalStateException("#AND unsupported for BM25")
      case Or(as) if boolean => POr(as.map(tree))
      case Or(_) => throw new IllegalStateException("#OR unsupported for " + model)
      case Sum(as) if model.isInstanceOf[BM25] => PSum(as.map(tree))
      case Sum(_) => throw new IllegalStateException("#SUM unsupported for " + model)
      case WAnd(ws, as) if indri => PWAnd(normalizeWeights(ws), as.map(tree))
      case WAnd(_, _) => throw new IllegalStateException("#WAND requires Indri")
      case WSum(ws, as) if indri => PWSum(normalizeWeights(ws), as.map(tree))
      case WSum(_, _) => throw new IllegalStateException("#WSUM requires Indri")
    }
    val t = tree(ast)
    (t, ids.keys.toIndexedSeq)
  }

  /** Normalize to Σ=1 in float, like `QryopSlWAnd.normalizeWeight`
    * (:36-45) — over the FULL weight list (orphaned weights from vanished
    * terms still count, replicating the parser quirk). */
  private def normalizeWeights(ws: Seq[Float]): Seq[Float] = {
    var total = 0.0f
    ws.foreach(total += _)
    ws.map(_ / total)
  }

  /** Every (term, field) leaf of a query, in tree order. */
  private def termLeaves(q: Qry): Seq[(String, String)] = q match {
    case Term(t, f) => Seq((t, f))
    case _          => q.children.flatMap(termLeaves)
  }

  /** The field a leaf is scored in: its first term's. `#NEAR`/`#WINDOW`
    * arguments must share one (`QryopIlNear.java:142-143`). */
  private def fieldOf(il: Il): String = il match {
    case Term(_, f)    => f
    case Syn(as)       => as.map(fieldOf).head
    case Near(d, as)   => sameField(as, s"#NEAR/$d")
    case Window(d, as) => sameField(as, s"#WINDOW/$d")
  }

  private def sameField(as: Seq[Il], op: String): String = {
    val fs = as.map(fieldOf)
    require(fs.distinct.size == 1, s"Error: Arguments must be in the same field: $op")
    fs.head
  }

  /** Indri product form: any nesting of `#AND` and positively weighted
    * `#WAND` over scored leaves. */
  private def product(t: PTree): Boolean = t match {
    case PLeaf(_) | PAnd(_) => t.children.forall(product)
    case PWAnd(wn, cs)      =>
      wn.length == cs.length && wn.forall(_ > 0f) && cs.forall(product)
    case _                  => false
  }

  private def exponents(t: PTree, u: Double, out: Array[Double]): Unit =
    t match {
      case PLeaf(id)     => out(id) += u
      case PAnd(cs)      => cs.foreach(exponents(_, u / cs.length, out))
      case PWAnd(wn, cs) =>
        cs.zip(wn).foreach { case (c, w) => exponents(c, u * w, out) }
      case _             =>
    }

  // ------------------------------------------------------------ driver

  /** (df, ctf) of every distinct (term, field) leaf, (0, 0) for a term
    * its field never holds, read from the driver's [[Index.lexicon]] (the
    * reference's `InvList` df/ctf fetch, `InvList.java:68-106`) — no
    * Spark job. Every query runs it first, so each validates its fields
    * alike. */
  private def leafStats(index: Index, leaves0: Seq[(String, String)])
      : Map[(String, String), (Long, Long)] = {
    val ls = leaves0.distinct
    // Unknown field = syntax error (reference indexes a fixed field set,
    // `QryEval/src/QryEval.java:467`; silently matching nothing hid typos)
    ls.map(_._2).distinct.foreach { f =>
      require(index.indexedFields.contains(f),
        s"Query syntax is incorrect. Unknown field: $f")
    }
    ls.map { case (t, f) =>
      (t, f) -> index.lexicon.get(t, f).getOrElse((0L, 0L))
    }.toMap
  }

  /** The blocks of the given leaves' terms in their fields. */
  private def blocksOf(blocks: Dataset[PostingBlock],
                       leaves: Seq[Il]): Dataset[PostingBlock] = {
    val pairs = leaves.flatMap(termLeaves)
    blocks.filter(col("field").isin(pairs.map(_._2).distinct: _*) &&
      col("term").isin(pairs.map(_._1).distinct: _*))
  }

  /** A compiled query — built once per query, whichever mode runs it: its
    * tree, leaves and their fields, and the statistics its model needs —
    * the term leaves' (df, ctf) from [[leafStats]] (which validates the
    * fields, before the operator × model checks) and, under BM25 and
    * Indri, the positional leaves' from one job over `blocks`. */
  private final class Compiled(val index: Index,
                               val blocks: Dataset[PostingBlock],
                               ast: Sl, val model: RetrievalModel) {
    val termStats = leafStats(index, termLeaves(ast))
    val (tree, leaves) = compile(ast, model)
    val fields: IndexedSeq[String] = leaves.map(fieldOf).distinct
    val field: Array[Int] = leaves.map(l => fields.indexOf(fieldOf(l))).toArray

    val scorer: DocScorer = {
      val fs = fields.map(index.fieldStats)
      lazy val posStats = positionalStats()
      def st(id: Int): (Long, Long) = leaves(id) match {
        case Term(t, f) => termStats((t, f))
        case _          => posStats.getOrElse(id, (0L, 0L))
      }
      val stat = Array.tabulate(leaves.length)(id => model match {
        case _: BM25 => // QryopSlScore.java:146, no max(0,·) floor
          val df = st(id)._1
          StrictMath.log((index.stats.numDocs - df + 0.5) / (df + 0.5)).toFloat
        case _: Indri => // (float) ctf / cl (:200)
          st(id)._2.toFloat / fs(field(id)).collectionLength
        case _ => 0f
      })
      DocScorer(tree, model, field, stat, field.map(fs(_).avgDocLen))
    }

    /** The positional leaves' global (df, ctf), matched per segment. */
    private def positionalStats(): Map[Int, (Long, Long)] = {
      val ids = positional(leaves)
      if (ids.isEmpty) return Map.empty
      import index.spark.implicits._
      val lv = leaves
      blocksOf(blocks, ids.map(leaves))
        .mapPartitions(segments(_).flatMap(byKey =>
          leafLists(byKey, lv).iterator.map { case (id, l) =>
            (id, l.docids.length.toLong, l.tfs.map(_.toLong).sum)
          }))
        .collect()
        .groupBy(_._1).map { case (id, xs) =>
          id -> (xs.map(_._2).sum, xs.map(_._3).sum)
        }
    }
  }

  /** The pruned mode's bounds for a compiled query, or why it runs
    * unpruned: a boolean model; under BM25 a tree other than a `#SUM` of
    * scored leaves; under Indri a tree that is not product-form, terms in
    * more than one field (an absent leaf's default score needs the
    * document's length in that leaf's field), a field with no documents,
    * or a zero-ctf leaf (its default score is 0, which zeroes every
    * document alike). BM25 scores only the leaves a document holds, each
    * with its own posting's length, so its leaves may span fields. */
  private def pruning(q: Compiled): Either[String, Bounds] =
    (q.model, q.tree) match {
      case (_: BM25, PSum(cs)) if cs.forall(_.isInstanceOf[PLeaf]) =>
        Right(Bm25Bounds(q.scorer,
          q.leaves.indices.map(id => cs.count(_ == PLeaf(id))).toArray))
      case (_: BM25, _) => Left("not a #SUM of scored leaves")
      case (_: Indri, t) if !product(t) =>
        Left("not a product-form #WAND/#AND tree")
      case (_: Indri, t) =>
        q.leaves.flatMap(termLeaves).map(_._2).distinct match {
          case Seq(f) if q.index.fieldStats(f).collectionLength <= 0 =>
            Left(s"field $f holds no documents")
          case Seq(_) if q.scorer.stat.exists(_ <= 0f) => Left("zero-ctf leaf")
          case Seq(_) =>
            val u = new Array[Double](q.leaves.length)
            exponents(t, 1.0, u)
            Right(IndriBounds(q.scorer, u))
          case _ => Left("leaves span more than one field")
        }
      case _ => Left("boolean model")
    }

  /** A query's (docid, score) candidates for the global top `k` — feed
    * them to `SearchEngine.rank` for the extid-tiebroken ranking — and the
    * route that produced them. The query is compiled once, then run
    * pruned (each segment's top `k`) when [[pruning]] gives bounds, else
    * unpruned (every match) with the reason. The operator × model checks
    * throw here, before any scoring job. `blocks` must hold whole
    * segments per partition ([[graft.index.Index.blocks]] does). */
  def candidates(index: Index, blocks: Dataset[PostingBlock], ast: Sl,
                 model: RetrievalModel, k: Int): (Route, DataFrame) = {
    val q = new Compiled(index, blocks, ast, model)
    import index.spark.implicits._
    val scorer = q.scorer
    pruning(q).fold(
      why => (Route.Exhaustive(why), unpruned(q)),
      bounds => (Route.BlockMax(s"$model, each segment's top $k"),
        segmentTasks(q, bounds)(() => new TopK(scorer, bounds, k))
          .toDF("docid", "score")))
  }

  /** Every document the query matches, with its exact score. */
  private[exec] def all(index: Index, blocks: Dataset[PostingBlock], ast: Sl,
                        model: RetrievalModel): DataFrame =
    unpruned(new Compiled(index, blocks, ast, model))

  /** The unpruned mode: the segment loop under [[Unbounded]]. An Indri
    * tree over more than one field then fills each matched document's
    * missing field lengths from `doclen` (0 where a document has none —
    * Lucene's missing norm): its rows, referenced once, are joined to the
    * query fields' `doclen` rows and grouped back by docid. The join is
    * inner: `doclen` is grouped from the postings, so a document that
    * holds a leaf's posting has a row in that leaf's field. */
  private def unpruned(q: Compiled): DataFrame = {
    import q.index.spark.implicits._
    val scorer = q.scorer
    def rows[T: Encoder](emit: (Long, Array[Int], Array[Long]) => T) =
      segmentTasks(q, Unbounded)(() => new Matches(scorer, emit))
    if (!q.model.isInstanceOf[Indri] || q.fields.length == 1)
      return rows((d, tf, lens) => (d, scorer.score(tf, lens)))
        .toDF("docid", "score")
    val fs = q.fields
    rows((d, tf, lens) => (d, tf.clone(), lens.clone()))
      .toDF("docid", "tf", "lens")
      .join(q.index.doclen.filter(col("field").isin(fs: _*)), "docid")
      .groupBy(col("docid"))
      .agg(first(col("tf")), first(col("lens")),
        map_from_entries(collect_list(struct(col("field"), col("len")))))
      .as[(Long, Array[Int], Array[Long], Map[String, Long])]
      .map { case (d, tf, lens, lm) =>
        fs.indices.foreach { f =>
          if (lens(f) < 0) lens(f) = lm.getOrElse(fs(f), 0L)
        }
        (d, scorer.score(tf, lens))
      }
      .toDF("docid", "score")
  }
}
