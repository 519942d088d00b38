package graft

import graft.analysis.AnalyzerConfig
import graft.api.{Route, SearchEngine}
import graft.corpus.CorpusGen
import graft.exec.{BlockMax, Expansion}
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.model._
import graft.oracle.RefEngine
import org.apache.spark.sql.functions.shiftright
import org.scalatest.funspec.AnyFunSpec

/** `SearchEngine.search` picks its execution route from the query's
  * shape. Each shape must take the expected route, and every route must
  * return exactly the exhaustive `rank(scores(q, m), k)` — same
  * docids, extids and ranks, bit-identical scores — and the test-only
  * reference engine's top-k, which shares no scoring code with either. */
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

  private lazy val oracle =
    RefEngine.of(CorpusGen.docs(200), Seq("body", "title"), cfg)

  /** (extid, score bits) in rank order. */
  private def bits(rows: Seq[(Long, String, Int, Long)]) =
    rows.map { case (_, e, _, s) => (e, s) }
  private def bits(oracle: RefEngine, q: String, m: RetrievalModel, k: Int) =
    oracle.topkQuery(q, m, k)
      .map { case (e, s) => (e, java.lang.Double.doubleToLongBits(s)) }

  /** The same index saved and loaded back. */
  private lazy val stored = {
    val dir = java.nio.file.Files.createTempDirectory("routing-stored").toString
    IndexStore.save(engine.index, dir)
    new SearchEngine(IndexStore.load(spark, dir), cfg)
  }

  /** Asserts the route kind, then search ≡ the exhaustive reference ≡
    * the reference engine. */
  private def check(q: String, m: RetrievalModel, k: Int = 20,
                    eng: SearchEngine = engine)
                   (expected: PartialFunction[Route, Unit]): Unit = {
    val (route, _) = eng.routed(q, m, k)
    assert(expected.isDefinedAt(route), s"[$q] under $m took $route")
    val got = rows(eng.search(q, m, k))
    assert(got.nonEmpty || q.contains("zzz"), s"[$q] fixture matches nothing")
    assert(got == rows(eng.rank(eng.scores(q, m), k)),
      s"[$q] under $m via $route")
    assert(bits(got) == bits(oracle, q, m, k),
      s"[$q] under $m via $route vs the reference engine")
  }

  private val blockMax: PartialFunction[Route, Unit] =
    { case _: Route.BlockMax => }
  private def exhaustive(why: String): PartialFunction[Route, Unit] = {
    case Route.Exhaustive(reason) if reason.contains(why) =>
  }

  describe("BM25 bag-of-words → block-max WAND") {
    it("free text") { check("open inverted index query", bm25)(blockMax) }
    it("a #SUM with a duplicated term") {
      check("#SUM(open open inverted)", bm25)(blockMax)
    }
    it("a multi-field #SUM is routed") {
      check("#SUM(open f12.title)", bm25)(blockMax)
    }
  }

  describe("Indri product-form trees → Indri block-max") {
    it("free text") { check("open inverted index", indri)(blockMax) }
    it("the SDM shape") {
      check("#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(open inverted) " +
        "0.1 #WINDOW/8(open inverted))", indri)(blockMax)
    }
    it("a PRF combined #WAND") {
      val fb = Expansion.FbParams(fbDocs = 10, fbTerms = 10, fbMu = 2500.0,
        fbOrigWeight = 0.5)
      val (_, combined) = engine.expand("open inverted index", indri, fb)
      check(combined, indri, 50)(blockMax)
    }
  }

  describe("positional leaves → the block-max engine") {
    it("a BM25 #SUM with a #NEAR/1 leaf") {
      check("#SUM(open #NEAR/1(inverted index))", bm25)(blockMax)
    }
    it("a BM25 #SUM with a #SYN leaf") {
      check("#SUM(#SYN(open query) inverted)", bm25)(blockMax)
    }
    it("a BM25 #SUM with a #WINDOW leaf") {
      check("#SUM(query #WINDOW/8(inverted index))", bm25)(blockMax)
    }
    it("a bare Indri #WINDOW") {
      check("#WINDOW/8(open inverted)", indri)(blockMax)
    }
    it("SDM with a #SYN inside a #NEAR") {
      check("#WAND(0.7 #AND(open inverted) " +
        "0.2 #NEAR/1(#SYN(open query) inverted) " +
        "0.1 #WINDOW/8(open inverted))", indri)(blockMax)
    }
  }

  describe("everything else → the exhaustive planner") {
    it("#WSUM is not product-form") {
      check("#WSUM(0.5 open 0.5 inverted)", indri)(
        exhaustive("not a product-form"))
    }
    it("a multi-field tree") {
      check("#AND(open f12.title)", indri)(exhaustive("more than one field"))
    }
    it("a zero-ctf term") {
      val q = "#AND(zzznotaterm open)"
      check(q, indri)(exhaustive("zero-ctf"))
      compiledOnce(engine, q, indri, statsJobs = 0)
    }
    it("an SDM whose #NEAR/1 leaf matches nowhere, over a stored snapshot") {
      // "inverted" occurs only in the phrase "open inverted index"
      val q = "#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(inverted open) " +
        "0.1 #WINDOW/8(open inverted))"
      check(q, indri, eng = stored)(exhaustive("zero-ctf"))
      compiledOnce(stored, q, indri, statsJobs = 1)
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

  describe("the exhaustive plan (`scores`) shuffles nothing") {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def exchanges(q: String, m: RetrievalModel): Int =
      Plans.collect(engine.scores(q, m).queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.length
    for ((q, m) <- Seq("#AND(open inverted index)" -> RankedBoolean,
                       "#NEAR/1(open inverted)" -> RankedBoolean,
                       "#SUM(open scala.title inverted)" -> bm25,
                       "#AND(open zzznotaterm)" -> indri))
      it(s"$q [$m]") { assert(exchanges(q, m) == 0) }
    it("but a multi-field Indri tree joins the doc lengths it lacks") {
      val plan = engine.scores("#AND(open scala.title)", indri)
        .queryExecution.executedPlan
      assert(exchanges("#AND(open scala.title)", indri) > 0)
      // the segment tasks run once: one scan of the block table
      val blockScans = Plans.collect(plan) {
        case s if s.children.isEmpty && s.output.exists(_.name == "blockId") => s
      }
      assert(blockScans.length == 1, plan.toString)
    }
  }

  private def measured(run: => Unit): (Int, Long, Long) =
    SparkJobs.measured(spark)(run)

  /** Warm a query shape once (first-use derivations, lazy stats), then
    * measure it. */
  private def jobsOf(eng: SearchEngine, q: String, m: RetrievalModel,
                     k: Int = 100) = {
    eng.search(q, m, k)
    measured(eng.search(q, m, k))
  }

  /** A declined query compiles once: its `statsJobs` statistics jobs
    * (positional stats, with positional leaves) run once each, then the
    * ranking job. */
  private def compiledOnce(eng: SearchEngine, q: String, m: RetrievalModel,
                           statsJobs: Int): Unit = {
    val (jobs, _, _) = jobsOf(eng, q, m)
    assert(jobs <= statsJobs + 1, s"[$q] $jobs jobs")
  }

  it("an in-memory index derives its block table once: a second routed " +
     "query shuffles no postings") {
    // a fresh build (not loaded, no stored postings_blocks): the block
    // table is derived from the postings by a shuffle of every posting
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 120),
      IndexConfig(buckets = 4)).cacheAll()
    val eng = new SearchEngine(idx, cfg)
    val postingRows = idx.postings.count()
    val first = measured(eng.search("open inverted index", bm25, 10).collect())._2
    assert(first >= postingRows,
      s"the first routed query derives the table: $first < $postingRows")
    val second = measured(eng.search("open inverted index", indri, 10).collect())._2
    assert(second < postingRows,
      s"the second routed query re-derived the block table: $second records")
  }

  describe("Spark jobs of a routed query (no shuffle)") {
    val fb = Expansion.FbParams(fbDocs = 10, fbTerms = 10, fbMu = 2500.0,
      fbOrigWeight = 0.5)
    val terms = Seq("open inverted index" -> bm25, "open inverted index" -> indri)
    val positional = Seq("#SUM(open #NEAR/1(inverted index))" -> bm25,
      "#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(open inverted) " +
        "0.1 #WINDOW/8(open inverted))" -> indri)
    // tie-prone: at k = 5, constant or small-integer scores tie far more
    // than 2k docs at the k-th score, across segments
    lazy val tied = {
      import spark.implicits._
      val body = engine.index.termStats.filter($"field" === "body")
        .orderBy($"df".desc, $"term").select($"term", $"df", $"ctf")
        .as[(String, Long, Long)].collect()
      val (hot, flat) = (body.head._1, body.find(t => t._2 == t._3).get._1)
      Seq(s"#OR($hot)" -> UnrankedBoolean, s"#AND($hot $flat)" -> RankedBoolean)
    }
    def prf(eng: SearchEngine): Unit = {
      val (_, combined) = eng.expand("open inverted", indri, fb)
      eng.search(combined, indri, 100)
    }
    def checkEngine(eng: SearchEngine, where: String): Unit = {
      terms.foreach { case (q, m) =>
        val (jobs, _, bytes) = jobsOf(eng, q, m)
        assert(jobs <= 1 && bytes == 0, s"[$where $q $m] $jobs jobs, $bytes B")
      }
      tied.foreach { case (q, m) =>
        val (jobs, _, bytes) = jobsOf(eng, q, m, k = 5)
        assert(jobs <= 1 && bytes == 0, s"[$where $q $m] $jobs jobs, $bytes B")
      }
      positional.foreach { case (q, m) =>
        val (jobs, _, bytes) = jobsOf(eng, q, m)
        assert(jobs <= 2 && bytes == 0, s"[$where $q $m] $jobs jobs, $bytes B")
      }
    }
    it("over a stored snapshot: ≤ 1 job, ≤ 2 with positional leaves, " +
       "and a PRF flow in ≤ 3") {
      checkEngine(stored, "stored")
      prf(stored)
      val (jobs, _, bytes) = measured(prf(stored))
      assert(jobs <= 3 && bytes == 0, s"[stored PRF] $jobs jobs, $bytes B")
    }
    it("over an in-memory index: ≤ 1 job, ≤ 2 with positional leaves") {
      checkEngine(engine, "in-memory")
    }
  }

  it("a positional leaf over more than 512 segments is routed and " +
     "bit-identical") {
    import spark.implicits._
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 1500),
      IndexConfig(buckets = 1024)).cacheAll()
    val eng = new SearchEngine(idx, cfg)
    // the two hottest body terms: they co-occur in most documents
    val Seq(a, b) = idx.termStats.filter($"field" === "body")
      .orderBy($"df".desc, $"term").select($"term").as[String].take(2).toSeq
    val q = s"#SUM($a #WINDOW/4($a $b))"
    val segs = idx.postings
      .filter($"field" === "body" && $"term".isin(a, b))
      .groupBy($"docid").count().filter($"count" === 2)
      .select(shiftright($"docid", IndexBuilder.BucketShift)).distinct()
      .as[Long].collect().sorted
    val runs = 1 + segs.sliding(2).count { case Array(x, y) => y != x + 1 }
    assert(segs.length > 512 && runs > 1,
      s"fixture: members co-occur in ${segs.length} segments, $runs runs")
    val (route, _) = eng.routed(q, bm25, 20)
    assert(route.isInstanceOf[Route.BlockMax], route)
    val got = rows(eng.search(q, bm25, 20))
    assert(got == rows(eng.rank(eng.scores(q, bm25), 20)))
    assert(bits(got) ==
      bits(RefEngine.of(CorpusGen.docs(1500), Seq("body"), cfg), q, bm25, 20))
  }

  it("a stored segment dir holding a second block file is refused at load") {
    val dir = java.nio.file.Files.createTempDirectory("routing-fault")
    IndexStore.save(engine.index, dir.toString)
    import scala.jdk.CollectionConverters._
    val seg = java.nio.file.Files.list(dir.resolve("postings_blocks"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("segment="))
      .toSeq.sortBy(_.toString).head
    val file = java.nio.file.Files.list(seg).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(file, seg.resolve("part-copy.parquet"))
    val e = intercept[IllegalArgumentException](IndexStore.load(spark, dir.toString))
    assert(e.getMessage.contains("2 data files") &&
      e.getMessage.contains(seg.getFileName.toString), e.getMessage)
  }

  it("a block table whose segments are not contiguous runs is refused " +
     "at query time") {
    // one partition in term order: every segment's blocks come back
    // after another segment's began
    val mixed = engine.index.blocks.orderBy("term", "segment", "blockId")
      .coalesce(1)
    val ast = Sum(Seq("open", "inverted", "index").map(t => Score(Term(t, "body"))))
    val (_, cands) = BlockMax.candidates(engine.index, mixed, ast, bm25, 20)
    val e = intercept[org.apache.spark.SparkException](cands.collect())
    assert(e.getMessage.contains("not one contiguous run"), e.getMessage)
  }

  it("the exhaustive route compiles no new class for a second query of " +
     "the same shape") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(q: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      engine.search(q, RankedBoolean, 50).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // boolean models run unpruned; the second query's terms differ, its
    // plan shape does not
    compiles("#AND(open scala.title inverted)")
    assert(compiles("#AND(query java.title index)") == 0)
  }
}
