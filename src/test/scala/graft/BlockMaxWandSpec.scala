package graft

import graft.analysis.AnalyzerConfig
import graft.api.{Route, SearchEngine}
import graft.corpus.CorpusGen
import graft.exec.BlockMax
import graft.index.{IndexBuilder, IndexConfig, PostingBlocks}
import graft.model._
import graft.oracle.RefEngine
import org.scalatest.funspec.AnyFunSpec

/** SURVEY §4 item 5 / §5.3: block-max WAND must be provably
  * rank-identical — same extids, bit-identical scores — to the exhaustive
  * DAAT path and to the test-only reference engine, across many random
  * bag-of-words queries (some over two fields) and a block size small
  * enough (4) that multi-block skipping is genuinely exercised. */
class BlockMaxWandSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val model = BM25(1.2f, 0.75f, 0f)

  private lazy val (engine, blocks4) = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 200),
      IndexConfig(buckets = 4, fields = Seq("body", "title"))).cacheAll()
    val b4 = PostingBlocks
      .fromPostings(spark, idx.postings, idx.doclen, blockSize = 4).cache()
    (new SearchEngine(idx, AnalyzerConfig.code), b4)
  }

  /** A field's terms, hottest first. */
  private def vocab(field: String, n: Int): Seq[String] = {
    import spark.implicits._
    engine.index.termStats.filter($"field" === field)
      .orderBy($"df".desc, $"term").select($"term").as[String].take(n).toSeq
  }
  private def vocab: Seq[String] = vocab("body", 60)

  private lazy val oracle = RefEngine.of(CorpusGen.docs(200),
    Seq("body", "title"), AnalyzerConfig.code)

  /** `terms` are body terms, or `term.title`. */
  private def runBoth(terms: Seq[String], k: Int): Unit = {
    val q = s"#SUM(${terms.mkString(" ")})"
    val exhaustive = engine.rank(engine.scores(q, model), k)
      .select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toVector
    val sum = Sum(terms.map(_.split('.') match {
      case Array(t, f) => Score(Term(t, f))
      case Array(t)    => Score(Term(t, "body"))
    }))
    val (route, cands) = BlockMax.candidates(engine.index, blocks4, sum, model, k)
    assert(route.isInstanceOf[Route.BlockMax], s"[$q] took $route")
    val pruned = engine.rank(cands, k)
      .select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toVector
    def bits(rows: Seq[(String, Double)]) =
      rows.map { case (e, s) => (e, java.lang.Double.doubleToLongBits(s)) }
    assert(bits(exhaustive) == bits(oracle.topkQuery(q, model, k)),
      s"[$q] exhaustive vs the reference engine")
    assert(pruned.length == exhaustive.length, s"[$q] row count")
    pruned.zip(exhaustive).zipWithIndex.foreach {
      case (((pe, ps), (ee, es)), i) =>
        assert(pe == ee, s"[$q] rank ${i + 1}: extid $pe vs $ee")
        assert(java.lang.Double.doubleToLongBits(ps) ==
               java.lang.Double.doubleToLongBits(es),
          s"[$q] rank ${i + 1} ($pe): score $ps vs $es")
    }
  }

  describe("block-max WAND vs exhaustive DAAT (bit-identical top-k)") {
    it("hot terms (negative RSJ possible), k = 10") {
      runBoth(vocab.take(3), 10)
    }
    it("mixed hot + rare terms, k = 25") {
      val v = vocab
      runBoth(Seq(v.head, v(v.length / 2), v.last), 25)
    }
    it("duplicate query terms (#SUM child multiplicity)") {
      val v = vocab
      runBoth(Seq(v(5), v(5), v(20)), 15)
    }
    it("single term") { runBoth(Seq(vocab(10)), 10) }
    it("term with no postings mixed in") {
      runBoth(Seq(vocab(8), "zzznotaterm"), 10)
    }
    it("k larger than the candidate set") {
      runBoth(Seq(vocab.last), 1000)
    }
    it("100 random seeded queries, k ∈ {1, 5, 20}") {
      val v = vocab
      // every other query also holds title terms: BM25 scores each
      // present leaf with its own field's length, so a #SUM over two
      // fields is pruned too
      val title = vocab("title", 20).map(_ + ".title")
      val rnd = new scala.util.Random(42)
      val rndTitle = new scala.util.Random(43)
      (0 until 100).foreach { i =>
        val n = 1 + rnd.nextInt(5)
        val body = Seq.fill(n)(v(rnd.nextInt(v.length)))
        val terms = if (i % 2 == 0) body else rndTitle.shuffle(body ++
          Seq.fill(1 + rndTitle.nextInt(2))(title(rndTitle.nextInt(title.length))))
        runBoth(terms, Seq(1, 5, 20)(rnd.nextInt(3)))
      }
    }
  }

  describe("routed search") {
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
    it("free text under BM25 takes the pruned path and matches the " +
       "exhaustive reference") {
      val q = "open inverted index query"
      assert(engine.routed(q, model, 50)._1.isInstanceOf[Route.BlockMax])
      assert(ranked(engine.search(q, model, 50)) ==
        ranked(engine.rank(engine.scores(q, model), 50)))
    }
    it("structured queries fall back to the exhaustive planner") {
      val q = "#SUM(#SUM(inverted index) open)" // a #SUM over operators
      assert(engine.routed(q, model, 20)._1.isInstanceOf[Route.Exhaustive])
      assert(ranked(engine.search(q, model, 20)) ==
        ranked(engine.rank(engine.scores(q, model), 20)))
    }
  }
}
