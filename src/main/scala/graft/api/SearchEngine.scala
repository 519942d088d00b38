package graft.api

import graft.analysis.AnalyzerConfig
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
  // every query silently matches wrong (usually zero) postings. Every
  // index records its analyzer (stats.json for a snapshot); fail loudly
  // here instead.
  require(index.analyzer == analyzer,
    s"analyzer mismatch: the index was built with ${index.analyzer} but " +
    s"is being queried with $analyzer — query stems/stopwords would " +
    "silently diverge from the indexed vocabulary. Query with the " +
    "build-time config, or rebuild the index.")

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
      rankedRows(routed(queryText, model, fb.fbDocs)._2, fb.fbDocs)
        .map { case (d, _, _, s) => (d, s) })
    val learned = graft.exec.Expansion
      .learnedQuery(index, topDocs, fb.fbMu, fb.fbTerms)
    // Java string concatenation of doubles (`QryEval.java:182-183`)
    val combined = "#WAND(" + fb.fbOrigWeight + " " +
      QueryParser.addDefaultOp(queryText, model) + " " +
      (1 - fb.fbOrigWeight) + " " + learned + ")"
    (learned, combined)
  }

  /** Ranked top-k: descending score, ascending extid tiebreak
    * (`ScoreList.java:54-80`), by [[rank]]'s one pass over the candidates
    * of the route [[routed]] picks from the query's shape. */
  def search(queryText: String, model: RetrievalModel,
             k: Int = 100): DataFrame =
    rank(routed(queryText, model, k)._2, k)

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

  /** Top-k of any (docid, score) frame in the reference's total order,
    * score desc then extid asc, in one Spark job and with no docs join:
    *  1. each partition keeps each segment's (`docid >> BucketShift`) k
    *     best rows by (score desc, docid asc) — docid order within a
    *     segment is extid order — less those scoring below the
    *     partition's own k-th score ([[SearchEngine.partitionTopK]]);
    *  2. the driver gives the collected rows their extids from
    *     [[graft.index.Index.extids]] and takes the first k by (score
    *     desc, extid asc) ([[SearchEngine.merge]]).
    * Exact for any partitioning, segments split or not: a doc in the
    * global top k is in its segment's top k under both orders, and fewer
    * than k docs score above it, so it survives its partition's cut.
    *
    * EAGER: calling rank() runs the job and returns a local frame
    * (docid, extid, rank, score) — it is the terminal action of a query,
    * not a lazy transformation. */
  def rank(scoreDf: DataFrame, k: Int): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    rankedRows(scoreDf, k).toDF("docid", "extid", "rank", "score")
  }

  /** The three-argument form from when [[rank]] could cache its score
    * frame for a second pass. There is no second pass now, so
    * `cacheScores` is ignored. Kept so that callers that still pass the
    * flag, graftbench's traced serve path (`graftbench.Serve`) among
    * them, compile unchanged. */
  @deprecated("the flag is ignored; call rank(scoreDf, k)", "0.1.0")
  def rank(scoreDf: DataFrame, k: Int, cacheScores: Boolean): DataFrame =
    rank(scoreDf, k)

  /** [[rank]]'s rows, (docid, extid, rank, score) in rank order. */
  private def rankedRows(scoreDf: DataFrame,
                         k: Int): Seq[(Long, String, Int, Double)] = {
    import index.spark.implicits._
    val kept = scoreDf
      .select(col("docid").cast("long"), col("score").cast("double"))
      .as[(Long, Double)]
      .mapPartitions(SearchEngine.partitionTopK(_, k))
      .collect()
    SearchEngine.merge(kept.toSeq, index.extids(_), k)
  }

  /** Batched E1 evaluation: each query is routed serially (a plan with
    * positional leaves collects their statistics), then every query's
    * ranking job is submitted concurrently, so the scheduler interleaves
    * their tasks instead of idling between small jobs. Per-query results
    * are [[search]]'s: the same route and the same ranking. */
  def searchBatch(queries: Seq[(Int, String)], model: RetrievalModel,
                  k: Int = 100): Seq[(Int, Seq[(Long, String, Int, Double)])] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val planned = queries.map { case (qid, q) => qid -> routed(q, model, k)._2 }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, queries.length)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(planned.map { case (qid, df) =>
      Future(qid -> rankedRows(df, k))
    }), Duration.Inf)
    finally pool.shutdown()
  }
}

private[graft] object SearchEngine {
  /** One partition's share of a top k: each segment's (`docid >>
    * BucketShift`) k best rows by (score desc, docid asc), less those
    * scoring below the k-th best score among them, which is the
    * partition's k-th score. */
  def partitionTopK(rows: Iterator[(Long, Double)],
                    k: Int): Iterator[(Long, Double)] = {
    // worst first: the lower score, then the larger docid. Scores compare
    // by Double.compare, so NaN scores tie with each other, as in Spark.
    val worstFirst: Ordering[(Long, Double)] = (a, b) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
    val heaps = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Double)]]
    if (k > 0) rows.foreach { r =>
      val h = heaps.getOrElseUpdate(r._1 >> graft.index.IndexBuilder.BucketShift,
        scala.collection.mutable.PriorityQueue.empty(worstFirst))
      if (h.size < k) h += r
      else if (worstFirst.lt(r, h.head)) { h.dequeue(); h += r }
    }
    val kept = heaps.valuesIterator.flatMap(_.iterator).toArray
    if (kept.length <= k) kept.iterator
    else {
      val scores = kept.map(_._2)
      java.util.Arrays.sort(scores)
      val kth = scores(scores.length - k)
      kept.iterator.filter(r => java.lang.Double.compare(r._2, kth) >= 0)
    }
  }

  /** The first k of `rows` by (score desc, extid asc), numbered from 1:
    * (docid, extid, rank, score). */
  def merge(rows: Seq[(Long, Double)], extid: Long => String,
            k: Int): Seq[(Long, String, Int, Double)] = {
    val byRank: Ordering[(Long, Double, String)] = (a, b) => {
      val c = java.lang.Double.compare(b._2, a._2)
      if (c != 0) c else a._3.compareTo(b._3)
    }
    rows.map { case (d, s) => (d, s, extid(d)) }.sorted(byRank)
      .take(k).zipWithIndex
      .map { case ((d, s, e), i) => (d, e, i + 1, s) }
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
