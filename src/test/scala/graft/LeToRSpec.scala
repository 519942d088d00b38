package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.exec.LeToR
import graft.index.{Index, IndexBuilder, IndexConfig, IndexStore}
import graft.model.{BM25, Indri}
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

/** O17 LeToR: 18-feature assembly (reference parity with corpus analogs),
  * the reference's EXACT per-query min-max normalization (including its
  * insertion-order scan bug), svm-light output with featureDisable, and
  * the documented linear-ranker substitution (pairwise logistic for
  * svm_rank). */
class LeToRSpec extends AnyFunSpec {

  private val cfg = AnalyzerConfig.code
  private lazy val spark = TestSpark.spark
  private val bm25 = BM25(1.2f, 0.75f, 0f)
  private val indri = Indri(2500f, 0.4f)

  private lazy val engine: SearchEngine = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 150),
      IndexConfig(analyzer = cfg, buckets = 8,
        fields = Seq("body", "title", "url"))).cacheAll()
    new SearchEngine(idx, cfg)
  }

  private def featuresFor(q: String, qid: Int, k: Int = 30) = {
    val cands = engine.search(q, bm25, k)
      .select(col("docid"), col("rank").as("ord"))
    LeToR.rawFeatures(engine.index, q, cfg, cands, bm25, indri)
      .join(cands, "docid")
      .withColumn("qid", lit(qid))
  }

  describe("feature assembly (18 features)") {
    it("BM25-body feature f5 orders candidates like the engine's BM25 ranking") {
      import spark.implicits._
      val q = "open inverted index"
      val feats = featuresFor(q, 1)
      val byF5 = feats.join(engine.index.docs.select($"docid", $"extid"), "docid")
        .orderBy(desc("f5"), asc("extid"))
        .select("extid").as[String].collect().toVector
      val byEngine = engine.search(q, bm25, 30)
        .select("extid").as[String].collect().toVector
      assert(byF5 == byEngine)
    }

    it("overlap/contains features are in range; Indri-body > 0 on candidates") {
      import spark.implicits._
      val feats = featuresFor("open inverted index", 1).cache()
      feats.select("f7", "f10", "f13").as[(Double, Double, Double)]
        .collect().foreach { case (a, b, c) =>
          assert(a >= 0 && a <= 1 && b >= 0 && b <= 1 && c >= 0 && c <= 1)
        }
      // f18 sums containsQueryTerm over present fields; body overlap > 0
      // for every BM25 candidate ⇒ 1..4
      feats.select("f18").as[Double].collect().foreach(v =>
        assert(v >= 1.0 && v <= 4.0))
      feats.select("f6").as[Double].collect().foreach(v => assert(v > 0.0))
      // spam-analog percentile f1 in [0, 100]
      feats.select("f1").as[Double].collect().foreach(v =>
        assert(v >= 0.0 && v <= 100.0))
    }

    it("missing field vector (inlink not indexed here) gives NaN raw → 0 normalized") {
      import spark.implicits._
      val feats = featuresFor("open inverted index", 1).cache()
      feats.select("f14", "f15", "f16").as[(Double, Double, Double)]
        .collect().foreach { case (a, b, c) =>
          assert(a.isNaN && b.isNaN && c.isNaN)
        }
      val norm = LeToR.normalize(feats)
      norm.select("f14").as[Double].collect().foreach(v => assert(v == 0.0))
    }
  }

  describe("over a stored snapshot") {
    it("raw features equal the in-memory index's: the grid reads the " +
       "postings decoded from the blocks") {
      val dir = graft.util.Scratch.dir("letor-stored")
      IndexStore.save(engine.index, dir)
      val stored = IndexStore.load(spark, dir)
      val q = "open inverted index"
      val cands = engine.search(q, bm25, 30).select(col("docid"))
      def raw(i: Index) = LeToR.rawFeatures(i, q, cfg, cands, bm25, indri)
        .collect().map(_.toString).toSet
      assert(raw(stored) == raw(engine.index))
    }
  }

  describe("per-query min-max normalization (FeatureVector.java:589-622)") {
    it("normalized features land in [0,1] (modulo the replicated scan bug)") {
      import spark.implicits._
      val f1 = featuresFor("open inverted index", 1)
      val f2 = featuresFor("query evaluation", 2)
      val norm = LeToR.normalize(f1.unionByName(f2)).cache()
      // the replicated scan bug can push a monotone feature's min to
      // MAX_VALUE (ratio ≈ 1); everything must still be finite
      LeToR.FeatureNames.foreach { f =>
        norm.select(col(f)).as[Double].collect().foreach { v =>
          assert(!v.isNaN && !v.isInfinite, s"$f: $v")
        }
      }
      // the {0,1}-range rule keeps indicator features as-is (f3 is 0/1)
      val kept = norm.select("f3").as[Double].collect().toSet
      assert(kept.subsetOf(Set(0.0, 1.0)))
    }

    it("replicates the reference's insertion-order scan bug exactly") {
      import spark.implicits._
      // monotonically increasing values: max updates every step, min is
      // never touched (stays Double.MAX_VALUE) — the reference's else-if
      val rows = Seq((1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0))
        .toDF("qid", "ord", "f1")
      val full = LeToR.FeatureNames.drop(1)
        .foldLeft(rows)((d, f) => d.withColumn(f, lit(0.0)))
      val got = LeToR.normalize(full)
        .orderBy("ord").select("f1").as[Double].collect().toSeq
      val mn = Double.MaxValue
      val exp = Seq(1.0, 2.0, 3.0).map(v => (v - mn) / (3.0 - mn))
      assert(got == exp)
    }
  }

  describe("svm-light output (FeatureVector.java:624-637)") {
    it("lines match `rel qid:N 1:v ... 18:v # extid`; featureDisable omits indices") {
      import spark.implicits._
      val norm = LeToR.normalize(featuresFor("open inverted", 7))
        .withColumn("rel", lit(1))
        .join(engine.index.docs.select(col("docid"), col("extid")), "docid")
      val lines = LeToR.svmLight(norm).select("line").as[String].collect()
      assert(lines.nonEmpty)
      val re = ("""1 qid:7 """ +
        (1 to 18).map(i => s"$i:[-0-9.E]+ ").mkString +
        """# .+""").r
      lines.foreach(l => assert(re.matches(l), l))
      val disabled = LeToR.svmLight(norm, Set(4, 17))
        .select("line").as[String].collect()
      disabled.foreach { l =>
        assert(!l.contains(" 4:") && !l.contains(" 17:"), l)
      }
    }
  }

  describe("pairwise-logistic linear ranker (svm_rank substitution)") {
    it("learns to rank relevant docs above irrelevant ones, deterministically") {
      import spark.implicits._
      val q = "open inverted index"
      val feats = LeToR.normalize(featuresFor(q, 1)).cache()
      val relDocs = engine.search(q, BM25(1.2f, 0.75f, 0f), 10)
        .select("docid").as[Long].collect().toSet
      val train = feats.withColumn("rel",
        when(col("docid").isin(relDocs.toSeq: _*), 1).otherwise(0))
      val w = LeToR.trainPairwise(train, epochs = 30)
      assert(w.length == 18 && w.exists(_ != 0.0))
      // determinism holds across repartitionings (rows iterate in
      // (qid, ord) order, not collect order)
      val w2 = LeToR.trainPairwise(train.repartition(7), epochs = 30)
      assert(w.toSeq == w2.toSeq)
      val scored = LeToR.score(feats, w)
        .join(train.select("docid", "rel"), "docid")
        .select("score", "rel").as[(Double, Int)].collect()
      val rels = scored.filter(_._2 == 1).map(_._1)
      val irr = scored.filter(_._2 == 0).map(_._1)
      if (rels.nonEmpty && irr.nonEmpty) {
        val pairs = for { a <- rels; b <- irr } yield if (a > b) 1.0 else 0.0
        assert(pairs.sum / pairs.length > 0.5, "pairwise accuracy")
      }
    }

    it("a unit weight on f5 reproduces the normalized BM25-body ordering") {
      import spark.implicits._
      val feats = LeToR.normalize(featuresFor("query evaluation", 3)).cache()
      val w = Array.tabulate(18)(i => if (i == 4) 1.0 else 0.0)
      val got = LeToR.score(feats, w)
        .select("docid", "score").as[(Long, Double)].collect().toMap
      val exp = feats.select("docid", "f5").as[(Long, Double)].collect().toMap
      assert(got == exp)
    }
  }
}
