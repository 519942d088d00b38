package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model._
import graft.oracle.RefEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, shiftright, spark_partition_id}
import org.scalatest.funspec.AnyFunSpec

/** `SearchEngine.rank` over ties across segments: when many more than k
  * docs tie at the k-th score, in several segments, the seats go to the
  * tied docs with the smallest extids, found by keeping each segment's
  * best docids (docid order within a segment is extid order) and
  * merging by extid on the driver. Over many segments, and over a frame
  * whose partitions split segments, the result must be bit-identical to
  * the test-only reference engine. */
class BoundaryPassSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val cfg = AnalyzerConfig.code

  private lazy val engine = {
    val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 200),
      IndexConfig(buckets = 8)).cacheAll()
    new SearchEngine(idx, cfg)
  }

  private lazy val oracle = RefEngine.of(CorpusGen.docs(200), Seq("body"), cfg)

  /** The hottest body term, and the most frequent body term that occurs
    * at most once per document: under RankedBoolean (score = the least
    * tf) an `#AND` with it scores 1 wherever it matches. */
  private lazy val (hot, flat) = {
    import spark.implicits._
    val body = engine.index.termStats.filter($"field" === "body")
      .orderBy($"df".desc, $"term").select($"term", $"df", $"ctf")
      .as[(String, Long, Long)].collect()
    (body.head._1, body.find(t => t._2 == t._3).get._1)
  }

  private def bits(rows: Seq[(String, Double)]) =
    rows.map { case (e, s) => (e, java.lang.Double.doubleToLongBits(s)) }

  private def ranked(df: DataFrame) =
    bits(df.select("extid", "score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq)

  /** The hard case: more than 2k docs score at least the k-th score, and
    * the docs tied at it lie in several segments. */
  private def assertOverflows(scores: DataFrame, k: Int): Unit = {
    val s = scores.select(col("docid"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(-_._2)
    val sk = s(k - 1)._2
    val segments = s.filter(_._2 == sk)
      .map(_._1 >> IndexBuilder.BucketShift).distinct
    assert(s.count(_._2 >= sk) > 2 * k && segments.length >= 3,
      s"fixture: ${s.count(_._2 >= sk)} docs ≥ the k-th score, tied in " +
      s"${segments.length} segments")
  }

  private def queries = Seq(s"#OR($hot)" -> UnrankedBoolean,
    s"#AND($hot $flat)" -> RankedBoolean)

  for (k <- Seq(1, 3, 5))
    it(s"a tie group overflowing the 2k head, k = $k") {
      queries.foreach { case (q, m) =>
        assertOverflows(engine.scores(q, m), k)
        assert(ranked(engine.search(q, m, k)) ==
          bits(oracle.topkQuery(q, m, k)), s"[$q] under $m")
      }
    }

  it("a frame whose partitions split segments") {
    val k = 3
    queries.foreach { case (q, m) =>
      val frame = engine.scores(q, m).repartition(3)
      val parts = frame
        .select(spark_partition_id().as("p"),
          shiftright(col("docid"), IndexBuilder.BucketShift).as("seg"))
        .distinct().groupBy("seg").count().filter(col("count") > 1).count()
      assert(parts > 0, s"[$q] no segment is split across partitions")
      assert(ranked(engine.rank(frame, k)) ==
        bits(oracle.topkQuery(q, m, k)), s"[$q] under $m")
    }
  }
}
