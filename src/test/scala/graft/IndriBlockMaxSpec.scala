package graft

import graft.analysis.AnalyzerConfig
import graft.api.{Route, SearchEngine}
import graft.corpus.CorpusGen
import graft.exec.BlockMax
import graft.index.{IndexBuilder, IndexConfig, PostingBlocks}
import graft.model._
import graft.oracle.RefEngine
import org.scalatest.funspec.AnyFunSpec

/** Round-3 VERDICT item 5: Dirichlet block-max pruning for product-form
  * Indri queries (#WAND/#AND over term + positional leaves — the
  * reference's flagship SDM shape) must be rank-identical — same extids,
  * BIT-identical scores — to the exhaustive planner and to the test-only
  * reference engine, with a block size small enough (4) that multi-block
  * skipping is genuinely exercised. */
class IndriBlockMaxSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val model = Indri(2500f, 0.4f)
  private val cfg = AnalyzerConfig.code

  private lazy val (engine, blocks4) = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 200),
      IndexConfig(buckets = 4, fields = Seq("body", "title"))).cacheAll()
    val b4 = PostingBlocks
      .fromPostings(spark, idx.postings, idx.doclen, blockSize = 4).cache()
    (new SearchEngine(idx, cfg), b4)
  }

  private def vocab: Seq[String] = {
    import spark.implicits._
    engine.index.termStats.filter($"field" === "body")
      .orderBy($"df".desc, $"term").select($"term").as[String].take(60).toSeq
  }

  private lazy val oracle =
    RefEngine.of(CorpusGen.docs(200), Seq("body", "title"), cfg)

  private def ranked(df: org.apache.spark.sql.DataFrame) =
    df.select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toVector

  private def assertSame(q: String, got: Seq[(String, Double)],
                         want: Seq[(String, Double)], what: String): Unit = {
    assert(got.length == want.length, s"[$q] row count vs $what")
    got.zip(want).zipWithIndex.foreach { case (((ge, gs), (we, ws)), i) =>
      assert(ge == we, s"[$q] rank ${i + 1}: extid $ge vs $what $we")
      assert(java.lang.Double.doubleToLongBits(gs) ==
             java.lang.Double.doubleToLongBits(ws),
        s"[$q] rank ${i + 1} ($ge): score $gs vs $what $ws")
    }
  }

  /** Pruned vs exhaustive vs the reference engine on one query; also
    * asserts the pruned path was taken (unless `mustRoute` is off) and
    * returns whether it was. The exhaustive mode shares its scorer with
    * the pruned one, so only the reference engine checks the arithmetic. */
  private def runBoth(q: String, k: Int, model: RetrievalModel = model,
                      mustRoute: Boolean = true): Boolean = {
    val ast = QueryParser.parseQuery(q, model, cfg).get
    val (route, cands) = BlockMax.candidates(engine.index, blocks4,
      Qry.asSl(ast), model, k)
    val pruned = route.isInstanceOf[Route.BlockMax]
    assert(pruned || !mustRoute, s"[$q] expected the pruned path: $route")
    val exhaustive = ranked(engine.rank(engine.scores(q, model), k))
    assertSame(q, exhaustive, oracle.topkQuery(q, model, k), "reference engine")
    if (pruned)
      assertSame(q, ranked(engine.rank(cands, k)), exhaustive, "exhaustive")
    pruned
  }

  describe("positional leaves") {
    it("a rare+hot #WINDOW is bit-identical") {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // the term spanning the fewest segments + the hottest term sharing
      // one of its documents: the window matches only in the segments
      // where both occur, which the segment task finds from the blocks
      val rare = blocks4.toDF().filter($"field" === "body")
        .groupBy($"term").agg(countDistinct($"segment").as("nseg"))
        .orderBy($"nseg".asc, $"term".asc)
        .select($"term").as[String].head()
      val rareDoc = engine.index.postings
        .filter($"term" === rare && $"field" === "body")
        .select($"docid").as[Long].head()
      val docTerms = engine.index.postings
        .filter($"docid" === rareDoc && $"field" === "body")
        .select($"term").as[String].collect().toSet
      val hot = engine.index.termStats.filter($"field" === "body")
        .filter($"term".isin(docTerms.toSeq: _*))
        .orderBy($"df".desc).select($"term").as[String].head()
      def segsOf(t: String): Set[Long] = blocks4.toDF()
        .filter($"term" === t && $"field" === "body")
        .select($"segment").distinct().as[Long].collect().toSet
      val (rareSegs, hotSegs) = (segsOf(rare), segsOf(hot))
      assert((rareSegs intersect hotSegs).size < (rareSegs union hotSegs).size,
        s"fixture: some segments hold one term only: rare=$rare$rareSegs " +
        s"hot=$hot$hotSegs")
      runBoth(s"#WAND(0.6 $hot 0.4 #WINDOW/999($rare $hot))", 10)
    }
  }

  describe("Indri block-max pruning vs exhaustive (bit-identical top-k)") {
    it("the reference's flagship SDM shape") {
      runBoth("#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(open inverted) " +
        "0.1 #WINDOW/8(query evaluation))", 10)
    }
    it("plain #AND over two hot terms") {
      val v = vocab
      runBoth(s"#AND(${v(0)} ${v(1)})", 10)
    }
    it("bag-of-words #WAND with skewed weights") {
      val v = vocab
      runBoth(s"#WAND(0.9 ${v(2)} 0.05 ${v(10)} 0.05 ${v.last})", 20)
    }
    it("nested #WAND(#AND(#AND)) exponents compose") {
      val v = vocab
      runBoth(s"#WAND(0.6 #AND(${v(0)} #AND(${v(3)} ${v(7)})) 0.4 ${v(5)})", 15)
    }
    it("free-text Indri (default #AND wrap)") {
      runBoth("open inverted index", 10)
    }
    it("k larger than the docid union") {
      runBoth(s"#AND(#NEAR/1(open inverted))", 5000)
    }
    it("80 random seeded product-form queries, k ∈ {1, 5, 20}") {
      val v = vocab
      val rnd = new scala.util.Random(7)
      (0 until 80).foreach { _ =>
        val n = 1 + rnd.nextInt(4)
        val terms = Seq.fill(n)(v(rnd.nextInt(v.length)))
        val q = rnd.nextInt(3) match {
          case 0 => s"#AND(${terms.mkString(" ")})"
          case 1 =>
            val ws = terms.map(_ => (1 + rnd.nextInt(9)) / 10.0)
            "#WAND(" + ws.zip(terms).map { case (w, t) => s"$w $t" }
              .mkString(" ") + ")"
          case 2 =>
            s"#WAND(0.7 #AND(${terms.mkString(" ")}) 0.3 ${v(rnd.nextInt(20))})"
        }
        runBoth(q, Seq(1, 5, 20)(rnd.nextInt(3)))
      }
    }
  }

  describe("trees with positional leaves vs exhaustive (bit-identical)") {
    it("80 random seeded BM25 and Indri trees over #NEAR/#WINDOW/#SYN leaves") {
      val v = vocab.take(12) // hot terms: positional leaves match often
      val titles = {
        import spark.implicits._
        engine.index.termStats.filter($"field" === "title")
          .orderBy($"df".desc, $"term").select($"term").as[String].take(8)
      }
      val bools = Seq(RankedBoolean -> "#AND", RankedBoolean -> "#OR",
        UnrankedBoolean -> "#AND", UnrankedBoolean -> "#OR")
      val rnd = new scala.util.Random(11)
      def term: String = v(rnd.nextInt(v.length))
      def leaf(depth: Int): String = rnd.nextInt(if (depth > 1) 1 else 5) match {
        case 0 => term
        case 1 => s"#NEAR/${1 + rnd.nextInt(4)}(${leaf(depth + 1)} $term)"
        case 2 => s"#WINDOW/${2 + rnd.nextInt(8)}(${leaf(depth + 1)} $term)"
        case 3 => s"#SYN($term ${leaf(depth + 1)})"
        case _ => s"#NEAR/3($term $term)"
      }
      val routed = (0 until 80).count { i =>
        val leaves = Seq.fill(1 + rnd.nextInt(3))(leaf(0))
        val k = Seq(1, 5, 20)(rnd.nextInt(3))
        val routedRow =
          if (i % 2 == 0)
            runBoth(s"#SUM(${leaves.mkString(" ")})", k, BM25(1.2f, 0.75f, 0f))
          else {
            // an Indri leaf that matches nowhere (zero ctf) is declined
            val ws = leaves.map(_ => (1 + rnd.nextInt(9)) / 10.0)
            runBoth("#WAND(" + ws.zip(leaves).map { case (w, l) => s"$w $l" }
              .mkString(" ") + s" 0.2 #AND($term $term))", k, mustRoute = false)
          }
        // the same leaves under the unpruned mode's other shapes: a
        // boolean #AND/#OR, and an Indri #AND over two fields
        val (bm, op) = bools(i % bools.length)
        runBoth(s"$op(${leaves.mkString(" ")})", k, bm, mustRoute = false)
        runBoth(s"#AND(${leaves.mkString(" ")} ${titles(i % titles.length)}.title)",
          k, mustRoute = false)
        routedRow
      }
      assert(routed >= 60, s"only $routed of 80 trees took the pruned path")
    }
  }

  describe("fallback to the exhaustive planner") {
    it("falls back on zero-ctf leaves, #WSUM, #OR, and multi-field trees") {
      def declined(q: String) = {
        val ast = QueryParser.parseQuery(q, model, cfg).get
        BlockMax.candidates(engine.index, blocks4, Qry.asSl(ast), model, 10)
          ._1.isInstanceOf[Route.Exhaustive]
      }
      assert(declined("#AND(zzznotaterm open)"))       // mle = 0
      assert(declined("#WSUM(0.5 open 0.5 inverted)")) // not product-form
      assert(declined("#AND(open f12.title)"))         // multi-field
      // and the routed search still answers them (exhaustive fallback)
      val q = "#WSUM(0.5 open 0.5 inverted)"
      val r = engine.search(q, model, 5)
      assert(r.count() == 5)
      assert(r.collect().toSeq ==
        engine.rank(engine.scores(q, model), 5).collect().toSeq)
    }
  }
}
