package graft.exec

import graft.index.{Index, PostingBlock, PostingCodec}
import graft.model.BM25
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Block-max WAND pruned BM25 top-k (north-rule extension; SURVEY §4
  * item 5 — absent in the reference, which evaluates exhaustive DAAT).
  *
  * Design (Broder et al. "Efficient query evaluation using a two-level
  * retrieval process"; Ding & Suel "Faster top-k document retrieval using
  * block-max indexes" — public literature):
  *
  *  - the compressed block table is grouped by `segment` (docid bucket);
  *    each Spark task runs the classic single-node BMW loop over ITS
  *    segment's blocks and emits that segment's local top-k;
  *  - the global `orderBy(score desc, extid asc).limit(k)` over ≤
  *    k·#segments candidates (TakeOrderedAndProject) finishes the merge.
  *    Per-segment docid order IS per-segment extid order (docids are
  *    assigned by extid rank within bucket — [[graft.index.IndexBuilder]]),
  *    so a size-k local heap ordered by (score desc, docid asc) can never
  *    evict a doc that the global extid tiebreak would have kept;
  *  - blocks are skipped *undecoded* whenever pivot navigation only needs
  *    their `firstDocid`/`lastDocid` metadata, and whole docid ranges are
  *    skipped when the block-max score bound of the pivot's blocks cannot
  *    reach the heap threshold θ.
  *
  * Score bound: BM25 tf-weight is increasing in tf and decreasing in
  * docLen, so `rsj·tfW(maxTf, minLen)` (rsj ≥ 0) / `rsj·tfW(1, maxLen)`
  * (rsj < 0) bounds any posting in a block for ANY (k1, b) — the bound is
  * computed at query time from block metadata, then widened by 1 ulp-scale
  * epsilon so float rounding can never flip a prune decision. Terms with a
  * negative bound contribute `max(ub, 0)` to pivot sums (a doc missing the
  * term scores 0 from it, which is larger).
  *
  * The emitted scores are BIT-IDENTICAL to the exhaustive
  * [[Planner]] path: the same float-faithful per-posting formula
  * ([[Bm25TermScore]]'s eval, inlined) accumulated in the same child
  * order (property-tested in BlockMaxWandSpec).
  */
object BlockMaxWand {

  /** Per-term query-time constants. */
  private final case class TermParams(rsj: Float, mult: Int, segUb: Double)

  private val UbEps = 1e-6

  /** tf-weight exactly as `Bm25TermScore.nullSafeEval` computes it. */
  @inline private def tfWeight(tf: Int, docLen: Long, k1: Float,
                               b: Float, avgDocLen: Float): Float =
    tf / (tf + k1 * (1 - b + b * docLen / avgDocLen))

  @inline private def contribution(tf: Int, docLen: Long, rsj: Float,
                                   k1: Float, b: Float,
                                   avgDocLen: Float): Double =
    (rsj * tfWeight(tf, docLen, k1, b, avgDocLen)).toDouble

  /** Safe upper bound of any posting's contribution in a block. */
  private def blockUb(bk: PostingBlock, rsj: Float, k1: Float, b: Float,
                      avgDocLen: Float): Double = {
    val raw =
      if (rsj >= 0) contribution(bk.maxTf, bk.minLen, rsj, k1, b, avgDocLen)
      else contribution(1, bk.maxLen, rsj, k1, b, avgDocLen)
    // widen away from -∞..raw toward +∞ so float rounding can't flip a prune
    raw + UbEps * (1.0 + math.abs(raw))
  }

  /** Cursor over one term's blocks within one segment. Decodes a block
    * only when navigation lands INSIDE it; block-boundary skips are
    * metadata-only. */
  private final class TermCursor(val blocks: Array[PostingBlock],
                                 rsj: Float, k1: Float, b: Float,
                                 avgDocLen: Float) {
    val segUb: Double = blocks.map(blockUb(_, rsj, k1, b, avgDocLen)).max
    private var bi = 0                       // current block index
    private var decoded: Array[graft.index.Posting] = _
    private var decodedLens: Array[Long] = _
    private var pi = 0                       // posting index within block
    var curDoc: Long = blocks(0).firstDocid  // exact: first posting == firstDocid
    var decodedBlocks: Int = 0               // instrumentation

    def exhausted: Boolean = bi >= blocks.length
    def currentBlockLastDoc: Long = blocks(bi).lastDocid
    def currentBlockUb: Double = blockUb(blocks(bi), rsj, k1, b, avgDocLen)

    private def decodeCurrent(): Unit = {
      val bk = blocks(bi)
      decoded = PostingCodec.decode(bk.block, bk.firstDocid)
      decodedLens = PostingCodec.decodeLens(bk.lens, bk.df)
      decodedBlocks += 1
      pi = 0
    }

    /** Advance to the first docid ≥ target. */
    def advanceTo(target: Long): Unit = {
      if (exhausted) return
      // metadata-only whole-block skips
      while (bi < blocks.length && blocks(bi).lastDocid < target) {
        bi += 1; decoded = null
      }
      if (exhausted) { curDoc = Long.MaxValue; return }
      val bk = blocks(bi)
      if (target <= bk.firstDocid && decoded == null) {
        curDoc = bk.firstDocid // undecoded: metadata answer is exact
        return
      }
      if (decoded == null) decodeCurrent()
      while (pi < decoded.length && decoded(pi).docid < target) pi += 1
      if (pi >= decoded.length) { // target past this block's tail
        bi += 1; decoded = null
        advanceTo(target)
      } else curDoc = decoded(pi).docid
    }

    /** (tf, docLen) at curDoc — forces decode of the current block. */
    def tfLen: (Int, Long) = {
      if (decoded == null) { decodeCurrent(); pi = 0 }
      while (decoded(pi).docid < curDoc) pi += 1
      (decoded(pi).tf, decodedLens(pi))
    }

    def next(): Unit = advanceTo(curDoc + 1)
  }

  /** One segment's BMW loop → local top-k (docid, score). */
  private def segmentTopK(blocksByTerm: Map[String, Array[PostingBlock]],
                          children: Seq[String], params: Map[String, TermParams],
                          k1: Float, b: Float, avgDocLen: Float,
                          usrWeight: Double, k: Int): Iterator[(Long, Double)] = {
    val cursors: Map[String, TermCursor] = blocksByTerm.map {
      case (t, bks) =>
        t -> new TermCursor(bks.sortBy(_.blockId), params(t).rsj, k1, b, avgDocLen)
    }
    if (cursors.isEmpty) return Iterator.empty
    // effective UB for pivot sums: a doc missing the term contributes 0
    val segUbEff: Map[String, Double] =
      cursors.map { case (t, c) => t -> math.max(c.segUb * params(t).mult, 0.0) }

    // worst-first heap: lowest score first, then HIGHEST docid first
    implicit val ord: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = mutable.PriorityQueue.empty[(Long, Double)]
    def theta: Double =
      if (heap.size < k) Double.NegativeInfinity else heap.head._2
    def betterThanWorst(docid: Long, score: Double): Boolean = {
      val (wd, ws) = heap.head
      score > ws || (score == ws && docid < wd)
    }

    val active = mutable.ArrayBuffer(cursors.keys.toSeq.sorted: _*)

    var done = false
    while (!done && active.nonEmpty) {
      active.filterInPlace(t => cursors(t).curDoc != Long.MaxValue)
      if (active.isEmpty) { done = true }
      else {
        val sorted = active.sortBy(t => cursors(t).curDoc)
        // pivot: first prefix whose summed effective UB can reach θ
        var acc = 0.0
        var pivotIdx = -1
        var i = 0
        val th = theta
        while (pivotIdx < 0 && i < sorted.length) {
          acc += segUbEff(sorted(i))
          if (acc >= th) pivotIdx = i
          i += 1
        }
        if (pivotIdx < 0) done = true // no remaining doc can enter the heap
        else {
          val pivotDoc = cursors(sorted(pivotIdx)).curDoc
          if (cursors(sorted.head).curDoc == pivotDoc) {
            // Every cursor positioned exactly at pivotDoc contributes to
            // its score — including ties BEYOND the pivot index — so the
            // refinement bound, the scoring loop, and the advance step all
            // range over that full tied set.
            val atPivot = sorted.filter(t => cursors(t).curDoc == pivotDoc)
            val bmUb = atPivot.map { t =>
              math.max(cursors(t).currentBlockUb * params(t).mult, 0.0)
            }.sum
            if (bmUb >= th) {
              // score pivotDoc fully, in CHILD order (FP-exact reference
              // accumulation — `QryopSlSum.java:55-101` / Planner.orderedSum)
              var score = 0.0
              children.foreach { t =>
                cursors.get(t).foreach { c =>
                  if (c.curDoc == pivotDoc) {
                    val (tf, len) = c.tfLen
                    score += contribution(tf, len, params(t).rsj, k1, b,
                      avgDocLen) * usrWeight
                  }
                }
              }
              if (heap.size < k) heap.enqueue((pivotDoc, score))
              else if (betterThanWorst(pivotDoc, score)) {
                heap.dequeue(); heap.enqueue((pivotDoc, score))
              }
              atPivot.foreach(t => cursors(t).next())
            } else {
              // skip past the bounded blocks: next possible scoring doc
              var skipTo = Long.MaxValue
              atPivot.foreach { t =>
                val c = cursors(t)
                if (!c.exhausted)
                  skipTo = math.min(skipTo, c.currentBlockLastDoc + 1)
              }
              sorted.find(t => cursors(t).curDoc > pivotDoc).foreach { t =>
                skipTo = math.min(skipTo, cursors(t).curDoc)
              }
              atPivot.foreach { t =>
                val c = cursors(t)
                if (c.curDoc < skipTo) c.advanceTo(skipTo)
              }
            }
          } else {
            // align: advance cursors before the pivot up to pivotDoc
            sorted.take(pivotIdx).foreach { t =>
              val c = cursors(t)
              if (c.curDoc < pivotDoc) c.advanceTo(pivotDoc)
            }
          }
        }
      }
    }
    heap.dequeueAll.reverseIterator
  }

  /** Pruned top-k candidates (docid, score) for a bag-of-words BM25 #SUM
    * query. `children` is the term sequence IN CHILD ORDER (duplicates
    * kept — each occurrence is a separate #SUM child). The result is a
    * superset-free local-top-k union: feed it to `SearchEngine.rank` for
    * the global extid-tiebroken top-k. */
  def topK(index: Index, blocks: Dataset[PostingBlock], model: BM25,
           children: Seq[String], field: String, k: Int): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val terms = children.distinct
    val mult = children.groupBy(identity).map { case (t, g) => t -> g.size }
    val n = index.stats.numDocs
    val fs = index.fieldStats(field)
    val avgDocLen = fs.avgDocLen
    // the exhaustive planner's leaf-stat job: same field validation
    val dfMap = Planner.leafStats(index, terms.map((_, field)))
    val params: Map[String, TermParams] = terms.flatMap { t =>
      dfMap.get((t, field)).map { case (df, _) =>
        val rsj = StrictMath.log((n - df + 0.5) / (df + 0.5)).toFloat
        t -> TermParams(rsj, mult(t), 0.0)
      }
    }.toMap
    val usrWeight: Double = { // QryopSlSum.java:69-75, qtf = 1
      val qtf = 1
      ((model.k3 + 1) * qtf / (model.k3 + qtf)).toDouble
    }
    val (k1, b) = (model.k1, model.b)
    val childrenB = children.filter(params.contains)

    blocks
      .filter($"field" === field && $"term".isin(terms: _*))
      .groupByKey(_.segment)
      .flatMapGroups { (_: Long, it: Iterator[PostingBlock]) =>
        val byTerm = it.toArray.groupBy(_.term)
        segmentTopK(byTerm, childrenB, params, k1, b, avgDocLen,
          usrWeight, k)
      }
      .toDF("docid", "score")
  }
}
