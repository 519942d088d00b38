package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.exec.Expansion
import graft.index.{Index, IndexBuilder, IndexConfig, IndexStore}
import graft.model._
import graft.oracle.RefEngine
import graft.streaming.StreamingIndexer
import org.scalatest.funspec.AnyFunSpec

/** O16 PRF expansion (SURVEY §2.6): the learned `#WAND` query — weights
  * AND term order — and the final reranking of the combined query must be
  * identical to the reference-transliteration oracle. */
class ExpansionSpec extends AnyFunSpec {

  private val cfg = AnalyzerConfig.code
  private lazy val spark = TestSpark.spark
  private lazy val corpus = CorpusGen.docs(150)

  private lazy val engine: SearchEngine = {
    import spark.implicits._
    val idx = IndexBuilder.build(spark, corpus.toDF(),
      IndexConfig(analyzer = cfg, buckets = 8)).cacheAll()
    new SearchEngine(idx, cfg)
  }

  private lazy val oracle: RefEngine = RefEngine.of(corpus, Seq("body"), cfg)

  /** `engine`'s index, saved and loaded back. */
  private lazy val stored: Index = {
    val dir = graft.util.Scratch.dir("exp-stored")
    IndexStore.save(engine.index, dir)
    IndexStore.load(spark, dir)
  }

  private val model = Indri(2500f, 0.4f)

  private def check(name: String, query: String, fbDocs: Int, fbTerms: Int,
                    fbMu: Double, fbOrigWeight: Double): Unit = {
    it(s"$name: `$query` fbDocs=$fbDocs fbTerms=$fbTerms fbMu=$fbMu") {
      val fb = Expansion.FbParams(fbDocs, fbTerms, fbMu, fbOrigWeight)
      val (learned, combined) = engine.expand(query, model, fb)
      val (oLearned, oCombined) =
        oracle.expandQuery(query, model, fbDocs, fbTerms, fbMu, fbOrigWeight)
      assert(learned == oLearned, "learned query string")
      assert(combined == oCombined, "combined query string")

      val expected = oracle.topkQuery(oCombined, model, 50)
      val got = engine.search(combined, model, 50)
        .select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
      assert(got.length == expected.length)
      got.zip(expected).zipWithIndex.foreach { case (((ge, gs), (oe, os)), i) =>
        assert(ge == oe, s"rank ${i + 1}: extid got=$ge expected=$oe")
        assert(java.lang.Double.doubleToLongBits(gs) ==
               java.lang.Double.doubleToLongBits(os),
          s"rank ${i + 1} ($ge): score got=$gs expected=$os")
      }
    }
  }

  describe("PRF query expansion vs reference-transliteration oracle") {
    check("free text", "open inverted index", 10, 10, 2500.0, 0.5)
    check("structured", "#AND(query evaluation)", 5, 8, 1500.0, 0.3)
    check("single feedback doc", "parser", 1, 5, 2500.0, 0.7)
    check("fbTerms > vocab", "zzznotaterm open", 3, 10000, 2500.0, 0.5)
  }

  describe("PRF over a stored snapshot") {
    it("learns the reference's query in 1 Spark job: the feedback " +
       "vectors give their body lengths, the lexicon their ctfs") {
      val (query, fbDocs, fbTerms, fbMu) = ("open inverted index", 10, 10, 2500.0)
      val topDocs = engine.search(query, model, fbDocs)
        .select("docid", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Expansion.learnedQuery(stored, topDocs, fbMu, fbTerms) // warm lexicon
      var learned = ""
      val (jobs, _, _) = SparkJobs.measured(spark) {
        learned = Expansion.learnedQuery(stored, topDocs, fbMu, fbTerms)
      }
      assert(jobs == 1, s"$jobs Spark jobs")
      assert(learned ==
        oracle.expandQuery(query, model, fbDocs, fbTerms, fbMu, 0.5)._1)
    }
  }

  describe("the driver's lexicon (the expansion's and every query's " +
           "df/ctf source)") {
    it("holds every termStats row, and nothing for an unknown term or " +
       "field, on an in-memory, a stored and a streaming-merged index") {
      import spark.implicits._
      val dir = graft.util.Scratch.dir("exp-stream")
      val (b1, b2) = corpus.splitAt(corpus.length / 2)
      val streamCfg = IndexConfig(analyzer = cfg, buckets = 8)
      StreamingIndexer.processBatch(dir, streamCfg)(b1.toDF(), 0L)
      StreamingIndexer.processBatch(dir, streamCfg)(b2.toDF(), 1L)
      val merged = StreamingIndexer.loadMerged(spark, dir)
      for ((name, idx) <- Seq("in-memory" -> engine.index,
                              "stored" -> stored, "streaming" -> merged)) {
        val rows = idx.termStats.select("term", "field", "df", "ctf")
          .as[(String, String, Long, Long)].collect()
        assert(rows.length > 100, s"[$name] fixture vocabulary")
        rows.foreach { case (t, f, df, ctf) =>
          assert(idx.lexicon.get(t, f).contains((df, ctf)), s"[$name] $t.$f")
        }
        val (t, _, _, _) = rows.head
        assert(idx.lexicon.get("zzznotaterm", "body").isEmpty, name)
        assert(idx.lexicon.get(t, "nosuchfield").isEmpty, name)
      }
    }
  }
}
