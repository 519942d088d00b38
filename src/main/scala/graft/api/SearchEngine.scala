package graft.api

import graft.analysis.{AnalyzerConfig, Stemming}
import graft.exec.{BlockMax, Planner}
import graft.index.Index
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Facade: parse → evaluate → rank — the reference's per-query
  * lifecycle E1 (SURVEY §3): one parse, the block-max engine's segment
  * tasks ([[graft.exec.BlockMax]]), then the extid-tiebroken ranking.
  */
final class SearchEngine(val index: Index,
                         val analyzer: AnalyzerConfig = AnalyzerConfig.code) {

  // The query-time analyzer MUST be the build-time analyzer — a mismatch
  // stems/stops query terms differently from the index's vocabulary and
  // every query silently matches wrong (usually zero) postings. Snapshots
  // record their analyzer in stats.json (round-4 ADVICE); fail loudly
  // here instead.
  index.analyzerOpt match {
    case Some(built) =>
      require(built == analyzer,
        s"analyzer mismatch: the index was built with $built but is " +
        s"being queried with $analyzer — query stems/stopwords would " +
        "silently diverge from the indexed vocabulary. Query with the " +
        "build-time config, or rebuild the index.")
    case None =>
      // legacy snapshot with no recorded analyzer: the pre-KStem english
      // profiles used a different stemmer, so a KStem query config cannot
      // be trusted against it
      require(analyzer.stemming != Stemming.KStem,
        "this index snapshot predates analyzer recording in stats.json " +
        "and cannot be safely queried with the KStem english profile " +
        "(legacy english snapshots were stemmed differently). Rebuild " +
        "the index, or query with AnalyzerConfig.englishLight / code.")
  }

  private def parse(queryText: String, model: RetrievalModel): Qry =
    QueryParser.parseQuery(queryText, model, analyzer)
      .getOrElse(throw new IllegalArgumentException(
        s"Query syntax is incorrect. $queryText"))

  /** (docid, score) of EVERY matching document for a raw query string
    * (post default-op wrap): the block-max engine with pruning off
    * ([[Planner]]). The pruned route of [[search]] scores with the same
    * scorer, so `rank(scores(...))` checks pruning, not arithmetic; the
    * test-only reference engine checks that. */
  def scores(queryText: String, model: RetrievalModel): DataFrame =
    new Planner(index, model).plan(parse(queryText, model))

  /** O18 internal↔external id lookup (`QryEval/src/QryEval.java:295-323`):
    * internal → external reads the driver's extid map (the reference's
    * stored-field read); external → internal, off the query path, is a
    * pushed-down point filter against the docs table (its externalId
    * TermQuery). */
  def externalId(docid: Long): Option[String] = index.extids.get(docid)

  def internalId(extid: String): Option[Long] =
    index.docs.filter(col("extid") === extid).select("docid")
      .collect().headOption.map(_.getLong(0))

  /** Positional snippet from the forward index — the `TermVector`
    * positions consumer (`QryEval/src/TermVector.java:25,62-89` carries a
    * per-word-position stem index exactly for uses like this): the
    * `window` stems around the FIRST occurrence of any query term, with
    * "…" at stopword/gap positions. One pushed-down (docid, field) point
    * read; None when the doc has no field vector or no query term hits. */
  def snippet(docid: Long, field: String, queryText: String,
              window: Int = 8): Option[String] = {
    val terms = graft.analysis.Analyzer.tokenize(queryText, analyzer)
      .map(_.term).toSet
    index.fwdVectors(Seq(docid))
      .filter(col("field") === field)
      .select("stems", "positions").collect().headOption
      .flatMap { r =>
        val stems = r.getSeq[String](0)
        val pos = r.getSeq[Int](1)
        val hit = pos.indexWhere(i => i > 0 && terms.contains(stems(i - 1)))
        if (hit < 0) None
        else {
          val lo = math.max(0, hit - window / 2)
          val hi = math.min(pos.length, lo + window)
          Some(pos.slice(lo, hi)
            .map(i => if (i == 0) "…" else stems(i - 1)).mkString(" "))
        }
      }
  }

  /** Distributed [[snippet]]: one snippet per document whose `field`
    * vector contains a query term — the same positions logic as the
    * point lookup, expressed as pure columnar expressions over the
    * forward index (no UDF, no driver loop), so a 100 TB corpus computes
    * snippets as a single scan-shaped pass. Returns (docid, snippet). */
  def snippets(queryText: String, field: String = "body",
               window: Int = 8): DataFrame = {
    val terms = graft.analysis.Analyzer.tokenize(queryText, analyzer)
      .map(_.term).distinct
    val termsLit = array(terms.map(lit(_)): _*)
    val fi = index.fwdIndex.filter(col("field") === field)
    // First word position whose stem is a query term (positions are
    // 1-based indexes into stems; 0 = stopword/gap) — via posexplode +
    // min, NOT a nested array-filter expression: an aggregate is an
    // optimization barrier, so `hit` reaches the snippet projection as a
    // plain column. (The expression form read beautifully and ran in
    // O(len³) per row: CollapseProject + filter pushdown inline the whole
    // positions derivation into every lambda element.)
    val hits = fi
      .select(col("docid"), col("stems"),
        posexplode(col("positions")).as(Seq("pos", "stem")))
      .filter(col("stem") > 0 &&
        array_contains(termsLit, element_at(col("stems"), col("stem"))))
      .groupBy("docid").agg(min(col("pos")).as("hit"))
    val lo = greatest(lit(0), col("hit") - lit(window / 2))
    val hi = least(size(col("positions")), lo + lit(window))
    fi.join(hits, "docid")
      .select(col("docid"),
        array_join(
          transform(
            slice(col("positions"), lo + 1, hi - lo),
            i => when(i === 0, lit("…"))
              .otherwise(element_at(col("stems"), i))),
          " ").as("snippet"))
  }

  /** Pseudo-relevance-feedback expansion (SURVEY §2.6; orchestration
    * `QryEval/src/QryEval.java:154-185`): evaluate the original query,
    * learn a `#WAND` term query from the top `fbDocs` docs' forward-index
    * vectors, and combine
    * `#WAND(fbOrigWeight original (1-fbOrigWeight) learned)`.
    * Returns (learnedQuery, combinedQuery); evaluate the combined query
    * with [[search]]. `initial` overrides the fresh evaluation when a
    * prior ranking is supplied (fbInitialRankingFile). */
  def expand(queryText: String, model: RetrievalModel,
             fb: graft.exec.Expansion.FbParams,
             initial: Option[Seq[(Long, Double)]] = None): (String, String) = {
    // rank order straight from the ranked rows, on the driver
    val topDocs = initial.getOrElse(
      rankedRows(routed(queryText, model, fb.fbDocs)._2, fb.fbDocs,
        tieProne(model)).map { case (d, _, _, s) => (d, s) })
    val learned = graft.exec.Expansion
      .learnedQuery(index, topDocs, fb.fbMu, fb.fbTerms)
    // Java string concatenation of doubles (`QryEval.java:182-183`)
    val combined = "#WAND(" + fb.fbOrigWeight + " " +
      QueryParser.addDefaultOp(queryText, model) + " " +
      (1 - fb.fbOrigWeight) + " " + learned + ")"
    (learned, combined)
  }

  /** Ranked top-k: descending score, ascending extid tiebreak
    * (`ScoreList.java:54-80`), by [[rank]]'s two phases. The candidates
    * come from the route [[routed]] picks from the query's shape. */
  def search(queryText: String, model: RetrievalModel,
             k: Int = 100): DataFrame =
    rank(routed(queryText, model, k)._2, k, tieProne(model))

  /** The parsed query's (docid, score) candidates and the execution
    * route the block-max engine chose for them from the compiled query
    * ([[graft.exec.BlockMax.candidates]]):
    *  - a BM25 `#SUM` of scored leaves (terms, `#NEAR`, `#WINDOW`, `#SYN`,
    *    in any fields; free text under BM25 always is — the default-op
    *    wrap), or an Indri product-form `#WAND`/`#AND` tree in one field —
    *    the reference's flagship SDM shape, PRF's combined query, a bare
    *    `#WINDOW` — with no zero-ctf leaf → pruned;
    *  - anything else (boolean models, `#WSUM`, `#OR`, a `#SUM` over
    *    operators, multi-field or zero-ctf Indri trees) → unpruned, with
    *    the reason.
    * Every route is rank-identical to `rank(scores(...))` (property-tested
    * in BlockMaxWandSpec / IndriBlockMaxSpec / RoutingSpec). */
  private[graft] def routed(queryText: String, model: RetrievalModel,
                            k: Int): (Route, DataFrame) =
    BlockMax.candidates(index, index.blocks,
      Qry.asSl(parse(queryText, model)), model, k)

  /** Coarse-score models (constant 1.0 / small-integer tf scores) tie
    * MANY docs at the k boundary, so their rank() calls routinely take
    * the overflow branch — cache the narrow score frame for them so that
    * branch reuses phase 1's computation instead of re-executing the
    * query. Float-scored models (BM25/Indri) tie only on duplicate docs
    * and skip the cache. */
  private[graft] def tieProne(model: RetrievalModel): Boolean = model match {
    case UnrankedBoolean | RankedBoolean => true
    case _                               => false
  }

  /** Two-phase top-k (round-3 VERDICT item 3 — the single-plan form
    * joined the CORPUS-SCALE docs table on every query BEFORE the limit,
    * a per-query full docs scan/shuffle at 100 TB):
    *
    *  1. `TakeOrderedAndProject` over the narrow (docid, score) frame by
    *     (score desc, docid asc), fetching `2k` rows — NO docs join. If
    *     the 2k-th row scores below the k-th, every doc tied at the k-th
    *     score is inside the fetch, so the candidate set is closed with
    *     one distributed pass (extid only breaks EQUAL-score ties, and
    *     all equal-score candidates are in hand).
    *  2. extids for the ≤2k survivors from the driver's extid map
    *     ([[graft.index.Index.extids]]) — no Spark job.
    *  3. Only when the boundary tie group overflows the fetch (a
    *     constant-score query — the reference would compare extids of
    *     every tied doc too, `ScoreList.java:46-78`): one pass over JUST
    *     the tied docs, keeping in each partition each segment's `need`
    *     smallest docids — docid order within a segment is extid order,
    *     so the answer is among them — and the driver takes the `need`
    *     smallest extids of what it collects.
    *
    * The final (score desc, extid asc) order + rank numbering happen on
    * ≤2k driver rows; result is a LocalRelation.
    *
    * `cacheScores = true` persists the narrow (docid, score) frame across
    * the phases, so the boundary-tie overflow pass (step 3) reuses
    * phase 1's computation instead of re-executing the full query lineage
    * — worth it exactly for the coarse-score models where ties at the k
    * boundary are the COMMON case ([[tieProne]]); float-scored models
    * skip the cache write.
    *
    * EAGER: calling rank() runs the phase-1 job (and the overflow pass,
    * when one is needed) immediately and returns a local frame — it is
    * the terminal action of a query, not a lazy transformation. */
  def rank(scoreDf: DataFrame, k: Int, cacheScores: Boolean = false): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    rankedRows(scoreDf, k, cacheScores).toDF("docid", "extid", "rank", "score")
  }

  /** [[rank]]'s rows, (docid, extid, rank, score) in rank order. */
  private def rankedRows(scoreDf: DataFrame, k: Int, cacheScores: Boolean)
      : Seq[(Long, String, Int, Double)] = {
    val narrow = narrowScores(scoreDf, cacheScores)
    try ranked(Seq(narrow -> classified(narrow, k, cacheScores)), k,
      cacheScores).head
    finally if (cacheScores) narrow.unpersist(false)
  }

  // ------------------------------------------------- rank internals
  // (shared by rank() and the batched E1 path searchBatch())

  private def narrowScores(scoreDf: DataFrame,
                           cacheScores: Boolean): DataFrame = {
    val narrow = scoreDf
      .select(col("docid").cast("long"), col("score").cast("double"))
    if (cacheScores)
      narrow.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else narrow
  }

  private def takeHead(narrow: DataFrame, m: Int): Array[(Long, Double)] =
    narrow.orderBy(desc("score"), asc("docid")).limit(m)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** survivors = head rows that are definitely in the candidate set;
    * overflow = Some((sk, need)) when the boundary tie group at the k-th
    * score overflowed the 2k fetch and a distributed extid pass over the
    * tied docs must fill the remaining seats. */
  private final case class HeadClass(survivors: Array[(Long, Double)],
                                     overflow: Option[(Double, Int)])

  private def classifyHead(head: Array[(Long, Double)],
                           k: Int): HeadClass =
    if (head.length <= k) HeadClass(head, None) // frame exhausted
    else {
      val sk = head(k - 1)._2
      if (head.length < 2 * k || head.last._2 < sk)
        // closed: all docs scoring ≥ sk are within the fetched 2k
        HeadClass(head.filter(_._2 >= sk), None)
      else {
        // docs with score > sk are definite (fewer than k of them); the
        // remaining seats are filled by the globally smallest extids at
        // exactly sk
        val above = head.takeWhile(_._2 > sk)
        HeadClass(above, Some((sk, k - above.length)))
      }
    }

  /** Phase 1 of one frame; a cached frame whose candidate set is closed
    * (the common case) is dropped at once. */
  private def classified(narrow: DataFrame, k: Int,
                         cached: Boolean): HeadClass = {
    val cls = classifyHead(takeHead(narrow, 2 * k), k)
    if (cached && cls.overflow.isEmpty) narrow.unpersist(false)
    cls
  }

  /** Phases 2–3 of classified frames: each frame's survivors' extids,
    * then its overflow's boundary pass (dropping its cached frame) and the
    * final order. */
  private def ranked(frames: Seq[(DataFrame, HeadClass)], k: Int,
                     cached: Boolean): Seq[Seq[(Long, String, Int, Double)]] = {
    val ext = index.extids
    frames.map { case (narrow, cls) =>
      val withExt =
        cls.survivors.map { case (d, s) => (d, s, ext(d)) }.toSeq ++
          cls.overflow.toSeq.flatMap { case (sk, need) =>
            try boundaryPass(narrow, sk, need)
            finally if (cached) narrow.unpersist(false)
          }
      finalizeRank(withExt, k)
    }
  }

  /** The `need` docs scoring exactly `sk` with the smallest extids. A
    * frame's partitions may split segments, so each keeps its own `need`
    * smallest docids per segment: a superset of each segment's. */
  private def boundaryPass(narrow: DataFrame, sk: Double,
                           need: Int): Seq[(Long, Double, String)] = {
    import index.spark.implicits._
    val ext = index.extids
    narrow.filter(col("score") === sk).select(col("docid")).as[Long]
      .mapPartitions(SearchEngine.smallestPerSegment(_, need))
      .collect()
      .map(d => (d, sk, ext(d)))
      .sortBy(_._3).take(need).toSeq
  }

  private def finalizeRank(withExt: Seq[(Long, Double, String)],
                           k: Int): Seq[(Long, String, Int, Double)] =
    withExt
      .sortBy { case (_, s, e) => (-s, e) }
      .take(k).zipWithIndex
      .map { case ((d, s, e), i) => (d, e, i + 1, s) }

  /** Batched E1 evaluation (round-4 VERDICT item 6): every query's
    * phase-1 top-k job is submitted concurrently (the scheduler
    * interleaves their tasks instead of idling between small jobs). The
    * rare boundary-overflow passes stay per-query.
    * Per-query results are identical to [[search]] by construction (same
    * route and classify/boundary/finalize helpers). */
  def searchBatch(queries: Seq[(Int, String)], model: RetrievalModel,
                  k: Int = 100): Seq[(Int, Seq[(Long, String, Int, Double)])] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val cache = tieProne(model)
    // route and plan serially (a plan with positional leaves collects
    // their statistics); only the phase-1 scoring jobs run concurrently
    val planned: Seq[(Int, DataFrame)] = queries.map { case (qid, q) =>
      qid -> narrowScores(routed(q, model, k)._2, cache)
    }
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, math.max(1, queries.length)))
      implicit val ec: scala.concurrent.ExecutionContextExecutorService =
        ExecutionContext.fromExecutorService(pool)
      // classify INSIDE each future, which drops the cached frame as soon
      // as a query's candidate set is closed (the common case): peak
      // cached frames = the thread-pool width + the rare overflow
      // queries, not the whole batch — the serial rank() path held at
      // most one frame and a large batch of tie-prone queries must not
      // hold N corpus-scale frames through the whole run
      val frames =
        try Await.result(
          Future.sequence(planned.map { case (_, narrow) =>
            Future(narrow -> classified(narrow, k, cache))
          }), Duration.Inf)
        finally pool.shutdown()
      planned.map(_._1).zip(ranked(frames, k, cache))
    } finally if (cache) planned.foreach(_._2.unpersist(false)) // safety net
  }
}

private object SearchEngine {
  /** Each segment's (`docid >> BucketShift`) `need` smallest docids. */
  def smallestPerSegment(docids: Iterator[Long], need: Int): Iterator[Long] = {
    val heaps = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.PriorityQueue[Long]]
    docids.foreach { d =>
      val h = heaps.getOrElseUpdate(d >> graft.index.IndexBuilder.BucketShift,
        scala.collection.mutable.PriorityQueue.empty[Long]) // largest first
      if (h.size < need) h += d
      else if (d < h.head) { h.dequeue(); h += d }
    }
    heaps.valuesIterator.flatMap(_.iterator)
  }
}

/** The execution route [[SearchEngine.routed]] picked, and why. */
private[graft] sealed trait Route { def reason: String }
private[graft] object Route {
  final case class BlockMax(reason: String) extends Route
  final case class Exhaustive(reason: String) extends Route
}

object TrecWriter {
  /** Reference TREC-eval line format (`QryEval/src/QryEval.java:563-589`):
    * `qid\tQ0\textid\trank\tscore\trun-1`, `dummy` row when empty; scores
    * printed with Java's Double.toString. Appends, like the reference. */
  def append(path: String, queryId: Int,
             rows: Seq[(String, Int, Double)]): Unit = {
    val w = new java.io.BufferedWriter(new java.io.FileWriter(path, true))
    try {
      if (rows.isEmpty)
        w.write(s"$queryId\tQ0\tdummy\t1\t0\trun-1\n")
      else rows.foreach { case (extid, rank, score) =>
        w.write(s"$queryId\tQ0\t$extid\t$rank\t$score\trun-1\n")
      }
    } finally w.close()
  }

  def writeResults(path: String, queryId: Int, ranked: DataFrame): Unit = {
    val rows = ranked.select("extid", "rank", "score").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    append(path, queryId, rows)
  }

  /** Read a prior run's top-N (docid, score) for one query — the
    * reference's `getTopDocId` over fbInitialRankingFile
    * (`QryEval/src/QryEval.java:242-271`): TREC columns
    * `qid Q0 extid rank score run`, extids resolved via the docs table. */
  def readTopDocs(path: String, queryId: Int, n: Int,
                  index: graft.index.Index): Seq[(Long, Double)] = {
    val src = scala.io.Source.fromFile(path)
    val rows =
      try src.getLines().map(_.trim.split("\\s+"))
        .filter(p => p.length >= 5 && p(0) == queryId.toString)
        .take(n).map(p => (p(2), p(4).toDouble)).toSeq
      finally src.close()
    val byExt = rows.map(_._1)
    import org.apache.spark.sql.functions.col
    val idMap = index.docs.filter(col("extid").isin(byExt: _*))
      .select(col("extid"), col("docid")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.flatMap { case (e, s) => idMap.get(e).map(d => (d, s)) }
  }
}

/** `key=value` parameter file (`QryEval/src/QryEval.java:68-78`) and
  * `id:querytext` query file (`QryEval.java:325-336`). */
object ParamFile {
  def parse(lines: Iterator[String]): Map[String, String] =
    lines.filter(_.contains("=")).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i).trim -> l.substring(i + 1).trim
    }.toMap

  def load(path: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(path)
    try parse(src.getLines()) finally src.close()
  }

  def loadQueries(path: String): Seq[(Int, String)] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filter(_.contains(":")).map { l =>
      val i = l.indexOf(':')
      l.substring(0, i).trim.toInt -> l.substring(i + 1).trim
    }.toSeq
    finally src.close()
  }
}
