package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model._
import graft.oracle.RefEngine
import org.scalatest.funspec.AnyFunSpec

/** The reference-oracle golden gate (SURVEY §5.1): the Spark engine must
  * produce rank-identical top-k — same extids, BIT-IDENTICAL scores
  * (`java.lang.Double.doubleToLongBits` equality, no tolerance) — as the
  * straight-line transliteration of the reference algorithms, across every
  * operator × retrieval-model cell of the support matrix (SURVEY §2.2).
  */
class EngineVsOracleSpec extends AnyFunSpec {

  private val cfg = AnalyzerConfig.code
  private val nDocs = 150

  private lazy val spark = TestSpark.spark
  private lazy val corpus = CorpusGen.docs(nDocs)

  private lazy val engine: SearchEngine = {
    val df = {
      import spark.implicits._
      corpus.toDF()
    }
    val idx = IndexBuilder.build(spark, df,
      IndexConfig(analyzer = cfg, buckets = 8,
        fields = Seq("body", "title", "url"))).cacheAll()
    new SearchEngine(idx, cfg)
  }

  private lazy val oracle: RefEngine =
    RefEngine.of(corpus, Seq("body", "title", "url"), cfg)

  private def check(name: String, query: String,
                    model: RetrievalModel, k: Int = 100): Unit = {
    it(s"$name: `$query` [$model]") {
      val expected = oracle.topkQuery(query, model, k)
      val got = engine.search(query, model, k)
        .select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
      assert(got.length == expected.length,
        s"row count: got ${got.length}, expected ${expected.length}")
      got.zip(expected).zipWithIndex.foreach { case (((ge, gs), (oe, os)), i) =>
        assert(ge == oe, s"rank ${i + 1}: extid got=$ge expected=$oe " +
          s"(score got=$gs expected=$os)")
        assert(java.lang.Double.doubleToLongBits(gs) ==
               java.lang.Double.doubleToLongBits(os),
          s"rank ${i + 1} ($ge): score got=$gs expected=$os (bit mismatch)")
      }
    }
  }

  describe("operator × model matrix, rank- and bit-identical") {
    // free text → default-op wrap per model
    check("S3 free-text BM25 (#SUM wrap)", "open inverted index", BM25())
    check("S4 free-text Indri (#AND wrap)", "open inverted index", Indri())
    check("S2 free-text Ranked (#OR wrap)", "open inverted index", RankedBoolean)
    check("S1 free-text Unranked", "query engine", UnrankedBoolean)

    // boolean operators
    check("O6 #AND ranked", "#AND(def class val)", RankedBoolean)
    check("O6 #AND unranked", "#AND(def class)", UnrankedBoolean)
    check("O8 #OR ranked", "#OR(ident1 ident2 x3)", RankedBoolean)

    // Indri operators incl. default-score propagation
    check("O7 #AND Indri", "#AND(open inverted index)", Indri())
    check("O10 #WAND nested",
      "#WAND(0.7 #AND(open inverted) 0.2 #NEAR/1(inverted index) " +
        "0.1 #WINDOW/8(query evaluation))", Indri())
    check("O11 #WSUM", "#WSUM(0.5 def 0.5 #NEAR/2(gap encoding))", Indri())

    // BM25 #SUM with mixed children
    check("O9 #SUM mixed", "#SUM(def #NEAR/1(inverted index))", BM25())

    // positional operators under each scorer
    check("O3 #NEAR ranked", "#NEAR/1(open inverted)", RankedBoolean)
    check("O3 #NEAR bm25", "#NEAR/1(open inverted)", BM25())
    check("O3 #NEAR indri", "#NEAR/2(inverted index)", Indri())
    check("O4 #WINDOW indri", "#WINDOW/8(query engine)", Indri())
    check("O4 #WINDOW 3-arg", "#WINDOW/6(block max wand)", RankedBoolean)
    check("O2 #SYN", "#SYN(def val)", RankedBoolean)
    check("O2 #SYN scored", "#SYN(open query)", BM25())
    check("O3 #NEAR over #SYN", "#NEAR/3(#SYN(open block) max)", RankedBoolean)

    // multi-field
    check("fields title", "#AND(f12.title src.title)", RankedBoolean)
    check("fields url", "#OR(repo.url)", RankedBoolean)
    check("fields mixed models", "#SUM(def scala.title)", BM25())
    check("fields Indri doc lengths", "#AND(def scala.title)", Indri())
    check("fields Indri #WSUM", "#WSUM(0.5 def 0.5 scala.title)", Indri())

    // nesting and degenerate statistics
    check("zero-ctf Indri leaf (every score ties)", "#AND(open zzznotaterm)",
      Indri())
    check("BM25 #SUM over a #SUM", "#SUM(#SUM(open inverted) index)", BM25())
    check("O6 #AND over #OR ranked", "#AND(#OR(def val) class)", RankedBoolean)
  }

  describe("negative-RSJ BM25 (no max(0,·) floor — SURVEY §2.4)") {
    // "def" appears in most docs → df > N/2 → RSJ < 0; ranking must
    // still match the reference exactly.
    check("hot term negative RSJ", "def", BM25())
  }

  describe("english profile (Stop + KStem — the reference's analyzer " +
           "chain) stays rank- and bit-identical") {
    val ecfg = AnalyzerConfig.english
    lazy val eEngine: SearchEngine = {
      val df = { import spark.implicits._; corpus.toDF() }
      val idx = IndexBuilder.build(spark, df,
        IndexConfig(analyzer = ecfg, buckets = 8,
          fields = Seq("body"))).cacheAll()
      new SearchEngine(idx, ecfg)
    }
    lazy val eOracle: RefEngine = RefEngine.of(corpus, Seq("body"), ecfg)
    it("BM25 free text through stopword removal + Krovetz stemming") {
      // "the"/"all" are stopwords (vanish); "licensed"→"license"? —
      // whatever KStem yields, BOTH sides run the same chain and the
      // ranking must be bit-identical
      val q = "the licensed queries under apache"
      val expected = eOracle.topkQuery(q, BM25(), 50)
      val got = eEngine.search(q, BM25(), 50)
        .select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
      assert(got.length == expected.length && expected.nonEmpty)
      got.zip(expected).foreach { case ((ge, gs), (oe, os)) =>
        assert(ge == oe)
        assert(java.lang.Double.doubleToLongBits(gs) ==
               java.lang.Double.doubleToLongBits(os))
      }
    }
  }
}
