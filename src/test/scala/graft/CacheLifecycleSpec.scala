package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.{BM25, Indri, RankedBoolean, UnrankedBoolean}
import org.scalatest.funspec.AnyFunSpec

/** A long-lived serving process must not accrete executor storage: a
  * query persists nothing that outlives it. The index's own tables
  * (postings, doclen, docs and the derived block table) are
  * persisted once per index; every query reads them and leaves the
  * persisted-RDD count where it found it — boolean queries too, whose
  * constant scores tie many docs at the k-th score. LeToR candidate
  * frames are collected LocalRelations — nothing to leak. */
class CacheLifecycleSpec extends AnyFunSpec {

  private val cfg = AnalyzerConfig.code
  private lazy val spark = TestSpark.spark

  private lazy val engine: SearchEngine = {
    import spark.implicits._
    val idx = IndexBuilder.build(spark, CorpusGen.docs(200).toDF(),
      IndexConfig(analyzer = cfg, buckets = 8,
        fields = Seq("body", "title", "url"))).cacheAll()
    // materialize the deliberate index-scoped caches before baselining
    idx.postings.count(); idx.doclen.count()
    idx.termStats.count(); idx.docs.count(); idx.blocks.count()
    new SearchEngine(idx, cfg)
  }

  private def cachedRddCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  it("100 NEAR/WINDOW/SYN queries do not grow the persistent-RDD count") {
    val eng = engine // index tables materialized, no query run yet
    val before = cachedRddCount
    val queries = Seq(
      ("#AND(def class val)", RankedBoolean),
      ("#OR(ident1 ident2 x3)", UnrankedBoolean),
      ("#NEAR/2(inverted index)", RankedBoolean),
      ("#WINDOW/8(open query)", RankedBoolean),
      ("#SYN(open inverted)", RankedBoolean),
      ("#AND(#NEAR/1(inverted index) open)", Indri(2500f, 0.4f)),
      ("#WINDOW/4(index query)", Indri(2500f, 0.4f)),
      ("#AND(def scala.title)", Indri(2500f, 0.4f)),
      ("#WSUM(0.5 open 0.5 #NEAR/1(inverted index) 0.2 f12.title)",
        Indri(2500f, 0.4f)),
      ("#SUM(open f12.title #SYN(query index))", BM25(1.2f, 0.75f, 0f)))
    (0 until 10).foreach { _ =>
      queries.foreach { case (q, m) => eng.search(q, m, 10).collect() }
    }
    assert(cachedRddCount == before,
      s"persistent RDD count went $before -> $cachedRddCount over 100 queries")
  }

  it("letor feature assembly leaves no cache behind") {
    val before = cachedRddCount
    (0 until 3).foreach { _ =>
      val cands = engine.search("open inverted index", BM25(1.2f, 0.75f, 0f), 20)
        .select("docid")
      graft.exec.LeToR.rawFeatures(engine.index, "open inverted index",
        cfg, cands, BM25(1.2f, 0.75f, 0f), Indri(2500f, 0.4f)).collect()
    }
    assert(cachedRddCount <= before,
      s"persistent RDD count grew $before -> $cachedRddCount")
  }
}
