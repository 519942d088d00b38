package graft

import graft.analysis.AnalyzerConfig
import graft.api.{Route, SearchEngine}
import graft.corpus.CorpusGen
import graft.exec.Expansion
import graft.index.{IndexBuilder, IndexConfig}
import graft.model._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerTaskEnd}
import org.scalatest.funspec.AnyFunSpec

/** `SearchEngine.search` picks its execution route from the query's
  * shape. Each shape must take the expected route, and every route must
  * return exactly the exhaustive reference `rank(scores(q, m), k, …)`:
  * same docids, extids and ranks, bit-identical scores. */
class RoutingSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val cfg = AnalyzerConfig.code
  private val bm25 = BM25(1.2f, 0.75f, 0f)
  private val indri = Indri(2500f, 0.4f)

  private lazy val engine = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 200),
      IndexConfig(buckets = 4, fields = Seq("body", "title"))).cacheAll()
    new SearchEngine(idx, cfg)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("docid", "extid", "rank", "score").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .sortBy(_._3)

  /** Asserts the route kind, then search ≡ the exhaustive reference. */
  private def check(q: String, m: RetrievalModel, k: Int = 20)
                   (expected: PartialFunction[Route, Unit]): Unit = {
    val (route, _) = engine.routed(q, m, k)
    assert(expected.isDefinedAt(route), s"[$q] under $m took $route")
    val got = rows(engine.search(q, m, k))
    assert(got.nonEmpty || q.contains("zzz"), s"[$q] fixture matches nothing")
    assert(got ==
      rows(engine.rank(engine.scores(q, m), k, engine.tieProne(m))),
      s"[$q] under $m via $route")
  }

  private val bmw: PartialFunction[Route, Unit] = { case _: Route.Bmw => }
  private val indriBlockMax: PartialFunction[Route, Unit] =
    { case _: Route.IndriBlockMax => }
  private def exhaustive(why: String): PartialFunction[Route, Unit] = {
    case Route.Exhaustive(reason) if reason.contains(why) =>
  }

  describe("BM25 bag-of-words → block-max WAND") {
    it("free text") { check("open inverted index query", bm25)(bmw) }
    it("a #SUM with a duplicated term") {
      check("#SUM(open open inverted)", bm25)(bmw)
    }
    it("a multi-field #SUM stays exhaustive") {
      check("#SUM(open f12.title)", bm25)(exhaustive("one field"))
    }
  }

  describe("Indri product-form trees → Indri block-max") {
    it("free text") { check("open inverted index", indri)(indriBlockMax) }
    it("the SDM shape") {
      check("#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(open inverted) " +
        "0.1 #WINDOW/8(open inverted))", indri)(indriBlockMax)
    }
    it("a PRF combined #WAND") {
      val fb = Expansion.FbParams(fbDocs = 10, fbTerms = 10, fbMu = 2500.0,
        fbOrigWeight = 0.5)
      val (_, combined) = engine.expand("open inverted index", indri, fb)
      check(combined, indri, 50)(indriBlockMax)
    }
  }

  describe("everything else → the exhaustive planner") {
    it("a bare #WINDOW: no term leaf for the block loop to skip") {
      check("#WINDOW/8(open inverted)", indri)(exhaustive("no term leaf"))
    }
    it("#WSUM is not product-form") {
      check("#WSUM(0.5 open 0.5 inverted)", indri)(
        exhaustive("not a product-form"))
    }
    it("a multi-field tree") {
      check("#AND(open f12.title)", indri)(exhaustive("more than one field"))
    }
    it("a zero-ctf term") {
      check("#AND(zzznotaterm open)", indri)(exhaustive("zero-ctf"))
    }
    it("#OR is rejected under Indri on every route alike") {
      val q = "#OR(open inverted)"
      val viaSearch = intercept[IllegalStateException](
        engine.search(q, indri, 10))
      val viaScores = intercept[IllegalStateException](
        engine.scores(q, indri))
      assert(viaSearch.getMessage == viaScores.getMessage)
    }
    it("boolean models, #AND and #OR") {
      for (m <- Seq(RankedBoolean, UnrankedBoolean);
           q <- Seq("#AND(open inverted)", "#OR(open inverted)"))
        check(q, m)(exhaustive("boolean model"))
    }
  }

  it("an in-memory index derives its block table once: a second routed " +
     "query shuffles no postings") {
    // a fresh build (not loaded, no stored postings_blocks): the block
    // table is derived from the postings by a shuffle of every posting
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 120),
      IndexConfig(buckets = 4)).cacheAll()
    val eng = new SearchEngine(idx, cfg)
    val postingRows = idx.postings.count()

    /** Shuffle records the jobs of `run` write. Listener events arrive
      * asynchronously but in order, so the end of a later marker job
      * means every task of `run` has been counted. */
    def shuffled(run: => Unit): Long = {
      val written = new java.util.concurrent.atomic.AtomicLong()
      val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
        override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        run
        val group = s"marker-${System.nanoTime()}"
        sc.setJobGroup(group, "listener marker")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.clearJobGroup()
        val marker = sc.statusTracker.getJobIdsForGroup(group).head
        val deadline = System.nanoTime() + 30e9.toLong
        while (!ended.contains(marker) && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(ended.contains(marker), "listener never saw the marker job")
      } finally sc.removeSparkListener(listener)
      written.get
    }

    val first = shuffled(eng.search("open inverted index", bm25, 10).collect())
    assert(first >= postingRows,
      s"the first routed query derives the table: $first < $postingRows")
    val second = shuffled(eng.search("open inverted index", indri, 10).collect())
    assert(second < postingRows,
      s"the second routed query re-derived the block table: $second records")
  }
}
