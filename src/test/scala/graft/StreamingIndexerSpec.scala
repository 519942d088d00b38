package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig}
import graft.model.{BM25, Indri}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funspec.AnyFunSpec
import java.nio.file.Files

/** Streaming ingestion: per-micro-batch segments must merge into an
  * index logically identical to a one-shot batch build over the same
  * docs, and batch retries must be idempotent. */
class StreamingIndexerSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private val cfg = IndexConfig(AnalyzerConfig.code, buckets = 8)

  private def logicalPostings(idx: graft.index.Index) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    idx.postings
      .join(idx.docs.select(col("docid"), col("extid")), "docid")
      .select(col("term"), col("field"), col("extid"), col("tf"),
        col("positions"))
      .as[(String, String, String, Int, Seq[Int])].collect().toSet
  }

  describe("Structured Streaming incremental indexing") {
    it("two micro-batches merge to the one-shot batch-build index") {
      import spark.implicits._
      implicit val sq = spark.sqlContext
      val dir = Files.createTempDirectory("graft-stream-").toString
      val all = CorpusGen.docs(80)
      val (b1, b2) = all.splitAt(40)

      val mem = MemoryStream[graft.corpus.CorpusDoc]
      val query = StreamingIndexer.start(mem.toDF(), dir, cfg)
      mem.addData(b1: _*)
      query.processAllAvailable()
      mem.addData(b2: _*)
      query.processAllAvailable()
      query.stop()

      assert(StreamingIndexer.committedSegments(dir).size == 2)
      val merged = StreamingIndexer.loadMerged(spark, dir)
      val oneShot = IndexBuilder.build(spark, all.toDF(), cfg)
      assert(logicalPostings(merged) == logicalPostings(oneShot))
      assert(merged.stats == oneShot.stats)

      // the merged streaming index ranks identically to the batch index
      val a = new SearchEngine(merged, AnalyzerConfig.code)
        .search("open inverted index", BM25(), 20)
        .select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
      val b = new SearchEngine(oneShot, AnalyzerConfig.code)
        .search("open inverted index", BM25(), 20)
        .select("extid", "score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toVector
      assert(a == b)
    }

    it("re-processing a committed batch is a no-op (idempotent retry)") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream2-").toString
      val docs = CorpusGen.docs(30)
      StreamingIndexer.processBatch(dir, cfg)(docs.toDF(), 0L)
      val before = StreamingIndexer.loadMerged(spark, dir)
      val sig = logicalPostings(before)
      // simulate foreachBatch retry of the same batch id
      StreamingIndexer.processBatch(dir, cfg)(docs.take(5).toDF(), 0L)
      val after = StreamingIndexer.loadMerged(spark, dir)
      assert(logicalPostings(after) == sig)
    }

    it("a batch id that would overflow the docid layout is rejected") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream3-").toString
      val e = intercept[IllegalArgumentException] {
        StreamingIndexer.processBatch(dir, cfg)(
          CorpusGen.docs(3).toDF(), 2048L)
      }
      assert(e.getMessage.contains("overflows"))
      // 2047 is the last valid id
      StreamingIndexer.processBatch(dir, cfg)(CorpusGen.docs(3).toDF(), 2047L)
      assert(StreamingIndexer.committedSegments(dir) == Seq(2047L))
    }

    it("records the analyzer identity per segment and carries it through " +
       "loadMerged, so the query-time mismatch guard works on streaming " +
       "indexes too") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream5-").toString
      val english = IndexConfig(AnalyzerConfig.english, buckets = 8)
      StreamingIndexer.processBatch(dir, english)(
        CorpusGen.docs(20).toDF(), 0L)
      StreamingIndexer.processBatch(dir, english)(
        CorpusGen.docs(30).drop(20).toDF(), 1L)
      val merged = StreamingIndexer.loadMerged(spark, dir)
      assert(merged.analyzer == AnalyzerConfig.english)
      // the profile the index was built with is queryable...
      new SearchEngine(merged, AnalyzerConfig.english)
      // ...and a mismatched profile fails loudly instead of silently
      // matching a differently-stemmed vocabulary
      val e = intercept[IllegalArgumentException](
        new SearchEngine(merged, AnalyzerConfig.code))
      assert(e.getMessage.contains("analyzer mismatch"))
    }

    it("refuses to merge segments built with different analyzers") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream6-").toString
      StreamingIndexer.processBatch(dir,
        IndexConfig(AnalyzerConfig.code, buckets = 8))(
        CorpusGen.docs(10).toDF(), 0L)
      StreamingIndexer.processBatch(dir,
        IndexConfig(AnalyzerConfig.english, buckets = 8))(
        CorpusGen.docs(20).drop(10).toDF(), 1L)
      val e = intercept[IllegalArgumentException](
        StreamingIndexer.loadMerged(spark, dir))
      assert(e.getMessage.contains("different analyzer"))
    }

    it("refuses a segment that records no analyzer") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream7-").toString
      val english = IndexConfig(AnalyzerConfig.english, buckets = 8)
      StreamingIndexer.processBatch(dir, english)(
        CorpusGen.docs(10).toDF(), 0L)
      StreamingIndexer.processBatch(dir, english)(
        CorpusGen.docs(20).drop(10).toDF(), 1L)
      // segment 1's stats.json without its analyzer record: merging it
      // would leave the query-time analyzer guard nothing to check
      val statsPath = java.nio.file.Paths.get(dir, "seg=1", "stats.json")
      Files.writeString(statsPath, Files.readString(statsPath)
        .replaceFirst(""","analyzer":\{[^}]*\}""", ""))
      val e = intercept[IllegalArgumentException](
        StreamingIndexer.loadMerged(spark, dir))
      assert(e.getMessage.contains("seg=1/stats.json records no analyzer"),
        e.getMessage)
    }

    it("a merged index keeps its segments' indexed fields and bucket " +
       "count: an unindexed field is refused as by its batch build") {
      import spark.implicits._
      val dir = Files.createTempDirectory("graft-stream8-").toString
      val bodyOnly = IndexConfig(AnalyzerConfig.code, buckets = 4,
        fields = Seq("body"))
      val docs = CorpusGen.docs(30)
      StreamingIndexer.processBatch(dir, bodyOnly)(docs.take(15).toDF(), 0L)
      StreamingIndexer.processBatch(dir, bodyOnly)(docs.drop(15).toDF(), 1L)
      val merged = StreamingIndexer.loadMerged(spark, dir)
      assert(merged.buckets == 4)
      def refusal(idx: graft.index.Index): String =
        intercept[IllegalArgumentException](
          new SearchEngine(idx, AnalyzerConfig.code)
            .search("#AND(open scala.title)", Indri(), 10)).getMessage
      val batch = refusal(IndexBuilder.build(spark, docs.toDF(), bodyOnly))
      assert(batch.contains("Unknown field: title"), batch)
      assert(refusal(merged) == batch)
    }

    it("refuses to merge segments with different bucket counts or " +
       "indexed fields") {
      import spark.implicits._
      def refusal(second: IndexConfig): String = {
        val dir = Files.createTempDirectory("graft-stream9-").toString
        StreamingIndexer.processBatch(dir, cfg)(CorpusGen.docs(10).toDF(), 0L)
        StreamingIndexer.processBatch(dir, second)(
          CorpusGen.docs(20).drop(10).toDF(), 1L)
        intercept[IllegalArgumentException](
          StreamingIndexer.loadMerged(spark, dir)).getMessage
      }
      val buckets = refusal(cfg.copy(buckets = 4))
      assert(buckets.contains("bucket counts 8, 4"), buckets)
      val fields = refusal(cfg.copy(fields = Seq("body", "title")))
      assert(fields.contains("indexed fields [body], [body,title]"), fields)
    }

    it("compaction: merged segments persist via IndexStore and reload identically") {
      import spark.implicits._
      val segDir = Files.createTempDirectory("graft-stream4-").toString
      val storeDir = Files.createTempDirectory("graft-compact-").toString + "/idx"
      val all = CorpusGen.docs(40)
      val (b1, b2) = all.splitAt(20)
      StreamingIndexer.processBatch(segDir, cfg)(b1.toDF(), 0L)
      StreamingIndexer.processBatch(segDir, cfg)(b2.toDF(), 1L)
      val merged = StreamingIndexer.loadMerged(spark, segDir)
      graft.index.IndexStore.save(merged, storeDir)
      val reloaded = graft.index.IndexStore.load(spark, storeDir)
      assert(logicalPostings(reloaded) == logicalPostings(merged))
      assert(reloaded.stats == merged.stats)
    }
  }
}
