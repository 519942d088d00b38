package graft

import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.{BM25, Indri, RankedBoolean, UnrankedBoolean}
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** O12 top-k: `SearchEngine.rank` must never join the corpus-scale docs
  * table before the top-k cut, yet stay
  * rank-identical to the reference's (score desc, extid asc) total order
  * — including when equal-score tie groups cross the k boundary and when
  * extid order disagrees with docid order (hash-bucketed docids do not
  * follow extid order across buckets). */
class TopKSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark

  // many buckets → docid order ≠ extid order across buckets
  private lazy val index = {
    import spark.implicits._
    IndexBuilder.build(spark, CorpusGen.docs(200).toDF(),
      IndexConfig(buckets = 16)).cacheAll()
  }
  private lazy val engine = new SearchEngine(index)

  /** Brute-force reference order: full docs join + global sort. */
  private def expected(scores: org.apache.spark.sql.DataFrame,
                       k: Int): Seq[(Long, String, Double)] =
    scores.join(index.docs.select(col("docid"), col("extid")), "docid")
      .orderBy(desc("score"), asc("extid"))
      .limit(k)
      .select("docid", "extid", "score")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq

  private def got(scores: org.apache.spark.sql.DataFrame,
                  k: Int): Seq[(Long, String, Double)] = {
    val r = engine.rank(scores, k)
    // ranks must be 1..n in row order
    val ranks = r.select("rank").collect().map(_.getInt(0)).toSeq
    assert(ranks == (1 to ranks.length))
    r.select("docid", "extid", "score")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
      .toSeq
  }

  it("matches the brute-force (score desc, extid asc) order on real scores") {
    val s = engine.scores("open inverted index", BM25(1.2f, 0.75f, 0f))
    assert(got(s, 20) == expected(s, 20))
  }

  it("resolves boundary tie groups larger than the 2k fetch " +
     "(constant-score query → every doc tied)") {
    // UnrankedBoolean: all scores 1.0 — the tie group IS the result set,
    // tied across segments, so extid decides every seat
    val s = engine.scores("#OR(the a index)", UnrankedBoolean)
    assert(s.count() > 10, "fixture must tie more than 2k docs")
    assert(got(s, 5) == expected(s, 5))
  }

  it("resolves ties exactly at the k cut") {
    val s = engine.scores("#OR(index open)", RankedBoolean)
    (1 to 12).foreach(k => assert(got(s, k) == expected(s, k), s"k=$k"))
  }

  it("handles result sets smaller than k and empty results") {
    val s = engine.scores("#AND(open inverted)", RankedBoolean)
    val n = s.count().toInt
    assert(n > 0)
    assert(got(s, n + 50) == expected(s, n + 50))
    val empty = s.filter(col("score") < -1e18)
    assert(got(empty, 10).isEmpty)
  }

  it("the scoring lineage of a constant-score frame runs exactly once") {
    val acc = spark.sparkContext.longAccumulator("scoreEvals")
    val base = engine.scores("#OR(the a index)", UnrankedBoolean)
    val n = base.count()
    assert(n > 10, "fixture must tie more than 2k docs at the k-th score")
    // nondeterministic pins the counting filter in place (a deterministic
    // udf gets pushed below the #OR aggregate and counts pre-agg rows)
    val counted = udf((_: Long) => { acc.add(1); true }).asNondeterministic()
    val instrumented = base.filter(counted(col("docid")))
    val r = engine.rank(instrumented, 5)
    assert(r.count() == 5)
    assert(acc.value == n,
      s"expected one pass over $n score rows, saw ${acc.value}")
  }

  it("searchBatch equals per-query search, including overflow queries " +
     "(round-4 VERDICT item 6)") {
    for (model <- Seq(BM25(1.2f, 0.75f, 0f): graft.model.RetrievalModel,
                      Indri(), UnrankedBoolean, RankedBoolean)) {
      val boolean = model == UnrankedBoolean || model == RankedBoolean
      val qs = Seq(
        1 -> "open inverted index",
        // #OR/#AND throw under BM25 (the reference NPEs there too) — the
        // boolean models get the constant-score case instead;
        // Indri free text takes the block-max route, 4 the zero-ctf
        // fallback
        2 -> (if (boolean) "#OR(the a index)" else "the a index"),
        3 -> (if (boolean) "#AND(open inverted)" else "open inverted"),
        4 -> "zzznotaterm")
      val batch = engine.searchBatch(qs, model, 10).toMap
      for ((qid, q) <- qs) {
        val single = engine.search(q, model, 10)
          .select("docid", "extid", "rank", "score").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
            r.getDouble(3))).toSeq
        assert(batch(qid) == single, s"model=$model qid=$qid")
      }
    }
  }

  it("the ranked result is a LocalRelation — no docs scan or shuffle " +
     "below the top-k cut") {
    val s = engine.scores("open inverted index", BM25(1.2f, 0.75f, 0f))
    val plan = engine.rank(s, 10).queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"), plan.take(500))
    assert(!plan.contains("Join"), plan.take(500))
  }
}
