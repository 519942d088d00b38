package graft.streaming

import graft.analysis.AnalyzerConfig
import graft.index._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Incremental (streaming) index ingestion: a corpus stream
  * `(repo, path, commit, lang, content)` lands as per-micro-batch index
  * SEGMENTS, each a self-contained mini-index (postings + doclen + docs)
  * with its own manifest row and commit marker —
  * Lucene's segment model re-expressed as Structured Streaming
  * `foreachBatch` over the same build pipeline the batch path uses
  * (reference analog: the Lucene index the reference opens is itself
  * segment-built; `QryEval/src/QryEval.java:87`).
  *
  * Exactly-once: `foreachBatch` may retry a batch after failure; the
  * per-batch `_committed_<id>` marker makes re-processing idempotent
  * (skip if present — the standard idempotent-sink pattern). Global
  * docid uniqueness: the batch id occupies bits above the bucket field
  * (`docid = batchId << 52 | bucket << 43 | rank`), so segment builds
  * never coordinate and never collide; ≤ 512 buckets, ≤ 2048 batches
  * per stream epoch (11 bits before the shift reaches the sign bit —
  * enforced in [[processBatch]]).
  *
  * Query-time: [[loadMerged]] unions the segment tables and recomputes
  * exact global statistics (df/ctf/collection lengths) with associative
  * aggregates — the "merge per-partition segment indexes into a global
  * inverted index" half of the north rule, done logically at read time;
  * a compaction pass can materialize it with [[IndexStore.save]].
  */
object StreamingIndexer {

  val BatchShift = 52

  /** Build + commit one micro-batch as segment `dir/seg=<batchId>`. */
  def processBatch(dir: String, cfg: IndexConfig)(
      batch: DataFrame, batchId: Long): Unit = {
    val segDir = s"$dir/seg=$batchId"
    val marker = Paths.get(dir, s"_committed_$batchId")
    if (Files.exists(marker)) return // idempotent retry
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    require(cfg.buckets <= 512, "streaming segments need buckets <= 512")
    require(batchId < (1L << (63 - BatchShift)),
      s"batchId $batchId overflows the docid layout (max ${(1L << (63 - BatchShift)) - 1}); compact segments first")

    val idx = IndexBuilder.build(spark, batch, cfg)
    val shift = lit(batchId << BatchShift)
    def rebase(df: DataFrame): DataFrame =
      df.withColumn("docid", col("docid") + shift)

    // Staged like IndexStore.save: the batch text is tokenized EXACTLY
    // ONCE (the postings write); doclen/stats derive from the persisted
    // columnar postings. Writing each table from the in-memory lineage
    // instead would re-run the tokenize UDF per table.
    Files.createDirectories(Paths.get(segDir))
    rebase(idx.postings).write.mode("overwrite").parquet(s"$segDir/postings")
    IndexBuilder.doclenOf(spark.read.parquet(s"$segDir/postings"))
      .write.mode("overwrite").parquet(s"$segDir/doclen")
    rebase(idx.docs).write.mode("overwrite").parquet(s"$segDir/docs")
    // stats from the PERSISTED tables, bound once — reading them through
    // idx.stats here would force the lazy statsOf over the in-memory
    // lineage and re-run the tokenize pass this staging exists to avoid
    val segStats = IndexBuilder.statsOf(
      spark.read.parquet(s"$segDir/docs"),
      spark.read.parquet(s"$segDir/doclen"))
    IndexStore.writeStats(segStats, s"$segDir/stats.json",
      cfg.buckets, cfg.fields, cfg.analyzer)
    // manifest row: per-segment lineage + build metrics (north rule)
    val m = s"""{"segment":$batchId,"numDocs":${segStats.numDocs},""" +
      s""""committedAtMs":${System.currentTimeMillis()}}"""
    val tmp = Paths.get(segDir, "manifest.json.tmp")
    Files.writeString(tmp, m)
    Files.move(tmp, Paths.get(segDir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.createFile(marker) // commit point
  }

  /** Attach the indexer to a corpus stream. Caller starts/stops the
    * returned query. */
  def writer(stream: DataFrame, dir: String,
             cfg: IndexConfig = IndexConfig(AnalyzerConfig.code, buckets = 8))
      : DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_checkpoint")
      .foreachBatch(processBatch(dir, cfg) _)

  def start(stream: DataFrame, dir: String,
            cfg: IndexConfig = IndexConfig(AnalyzerConfig.code, buckets = 8))
      : StreamingQuery = writer(stream, dir, cfg).start()

  /** Committed segment ids (marker files are the source of truth). */
  def committedSegments(dir: String): Seq[Long] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) return Seq.empty
    val it = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("_committed_"))
        .map(_.stripPrefix("_committed_").toLong).toSeq.sorted
    } finally it.close()
  }

  /** Merge all committed segments into one queryable [[Index]] — exact
    * global statistics via associative aggregates; the term statistics
    * sum the merged block table ([[Index.termStats]]). */
  def loadMerged(spark: SparkSession, dir: String): Index = {
    val segs = committedSegments(dir)
    require(segs.nonEmpty, s"no committed streaming segments under $dir")
    def table(name: String): DataFrame =
      segs.map(b => spark.read.parquet(s"$dir/seg=$b/$name"))
        .reduce(_ unionByName _)
    val postings = table("postings")
    val doclen = table("doclen")
    val docs = table("docs")
    val recorded = segs.map(b => IndexStore.readStats(s"$dir/seg=$b/stats.json"))
    // The bucket count, the indexed fields and the analyzer ride with
    // every segment's stats.json (readStats refuses a segment missing
    // one): without them a merged index would compact to another bucket
    // count, accept fields it never indexed, or stem queries unlike its
    // vocabulary — the query-time guards need exactly one of each.
    val buckets = recorded.map(_._2).distinct
    require(buckets.size == 1,
      s"streaming segments under $dir record bucket counts " +
      s"${buckets.mkString(", ")} — they cannot be merged")
    val fields = recorded.map(_._3).distinct
    require(fields.size == 1,
      s"streaming segments under $dir record indexed fields " +
      s"${fields.map(_.mkString("[", ",", "]")).mkString(", ")} — they " +
      "cannot be merged")
    val analyzers = recorded.map(_._4).distinct
    require(analyzers.size == 1,
      s"streaming segments under $dir record ${analyzers.size} " +
      "different analyzer configs — they were built by different streams " +
      "and cannot be merged")
    new Index(spark, docs, postings, doclen,
      statsThunk = () => IndexBuilder.statsOf(docs, doclen),
      buckets = buckets.head, indexedFields = fields.head.toSet,
      analyzer = analyzers.head)
  }
}
