package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.exec.IndriBlockMax
import graft.index.{IndexBuilder, IndexConfig, PostingBlocks}
import graft.model._
import org.scalatest.funspec.AnyFunSpec

/** Round-3 VERDICT item 5: Dirichlet block-max pruning for product-form
  * Indri queries (#WAND/#AND over term + positional leaves — the
  * reference's flagship SDM shape) must be rank-identical — same extids,
  * BIT-identical scores — to the exhaustive planner, with a block size
  * small enough (4) that multi-block skipping is genuinely exercised. */
class IndriBlockMaxSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val model = Indri(2500f, 0.4f)
  private val cfg = AnalyzerConfig.code

  private lazy val (engine, blocks4) = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 200),
      IndexConfig(buckets = 4)).cacheAll()
    val b4 = PostingBlocks
      .fromPostings(spark, idx.postings, idx.doclen, blockSize = 4).cache()
    (new SearchEngine(idx, cfg), b4)
  }

  private def vocab: Seq[String] = {
    import spark.implicits._
    engine.index.termStats.orderBy($"df".desc)
      .select($"term").as[String].take(60).toSeq
  }

  /** Pruned-vs-exhaustive on one query; also asserts the pruned path was
    * actually taken (extract succeeds). */
  private def runBoth(q: String, k: Int): Unit = {
    val ast = QueryParser.parseQuery(q, model, cfg).get
    val cands = IndriBlockMax.topK(engine.index, blocks4, Qry.asSl(ast),
      model, k)
    assert(cands.isRight, s"[$q] expected the pruned path: $cands")
    val pruned = engine.rank(cands.toOption.get, k)
      .select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toVector
    val exhaustive = engine.rank(engine.scores(q, model), k)
      .select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toVector
    assert(pruned.length == exhaustive.length, s"[$q] row count")
    pruned.zip(exhaustive).zipWithIndex.foreach {
      case (((pe, ps), (ee, es)), i) =>
        assert(pe == ee, s"[$q] rank ${i + 1}: extid $pe vs $ee")
        assert(java.lang.Double.doubleToLongBits(ps) ==
               java.lang.Double.doubleToLongBits(es),
          s"[$q] rank ${i + 1} ($pe): score $ps vs $es")
    }
  }

  describe("positional-leaf segment pruning (round-4 VERDICT item 3)") {
    it("a rare+hot positional join is restricted to co-occurrence-" +
       "eligible segments, bit-identically") {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // the term spanning the fewest segments + the hottest term sharing
      // one of its documents: the hot term's positional scan can skip
      // every segment the rare term does not reach
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
        s"fixture must make pruning fire: rare=$rare$rareSegs hot=$hot$hotSegs")
      val q = s"#WAND(0.6 $hot 0.4 #WINDOW/999($rare $hot))"
      runBoth(q, 10) // bit-identity through the pruned path
      // ...and the positional evaluation carries the docid-range
      // restriction (visible in the candidate plan's list sub-plan)
      val ast = QueryParser.parseQuery(q, model, cfg).get
      val cands = IndriBlockMax.topK(engine.index, blocks4,
        Qry.asSl(ast), model, 10).toOption.get
      val plan = cands.queryExecution.optimizedPlan.toString
      assert(plan.contains("docid") &&
             (plan.contains(">=") && plan.contains("<=")), plan.take(1200))
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

  describe("fallback to the exhaustive planner") {
    it("falls back on zero-ctf leaves, #WSUM, #OR, and multi-field trees") {
      def ext(q: String) = {
        val ast = QueryParser.parseQuery(q, model, cfg).get
        IndriBlockMax.topK(engine.index, blocks4, Qry.asSl(ast), model, 10)
      }
      assert(ext("#AND(zzznotaterm open)").isLeft)       // mle = 0
      assert(ext("#WSUM(0.5 open 0.5 inverted)").isLeft) // not product-form
      assert(ext("#AND(open f12.title)").isLeft)         // multi-field
      // and the routed search still answers them (exhaustive fallback)
      val q = "#WSUM(0.5 open 0.5 inverted)"
      val r = engine.search(q, model, 5)
      assert(r.count() == 5)
      assert(r.collect().toSeq ==
        engine.rank(engine.scores(q, model), 5).collect().toSeq)
    }
  }
}
