package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One compressed posting block — the grouped/compressed segment form of
  * SURVEY §1.1 / FIXTURES §2 `postings_blocks`, extended with per-block
  * skip + score-bound metadata for block-max WAND (SURVEY §4 item 5):
  *
  *  - key: (term, field, segment) — `segment = docid >> BucketShift` is
  *    the docid bucket of the build, so a hot term's list is spread over
  *    every segment (the salt) and no single block-encoder task ever sees
  *    more than one segment's slice of it;
  *  - blockId orders the ≤ blockSize-posting blocks within a segment;
  *  - firstDocid/lastDocid bound the block (skip without decode);
  *  - df/ctf are per-block counts (sum over blocks = per-(term,field,
  *    segment) totals, and over every segment the global df/ctf,
  *    [[Index.termStats]]);
  *  - maxTf/minLen/maxLen bound any posting's BM25 contribution: tf-weight
  *    is increasing in tf and decreasing in docLen, so
  *    `tfW(maxTf, minLen)` (rsj ≥ 0) / `tfW(1, maxLen)` (rsj < 0) bounds
  *    the block — computable for ANY (k1, b) at query time, unlike
  *    classic impact-ordered indexes that bake one model in.
  */
final case class PostingBlock(
    term: String, field: String, segment: Long, blockId: Int,
    firstDocid: Long, lastDocid: Long,
    df: Int, ctf: Long, maxTf: Int, minLen: Long, maxLen: Long,
    block: Array[Byte], lens: Array[Byte])

/** Builds/decodes the compressed block table. */
object PostingBlocks {

  val DefaultBlockSize = 1024

  /** postings (term, field, docid, tf, positions) ⋈ doclen → blocks.
    *
    * The shuffle key is `segment` (the docid bucket of the build): the
    * output is range-partitioned by segment, so every partition holds
    * whole segments — the layout the block-max engine's segment tasks
    * need ([[graft.exec.BlockMax]]), and the one the persisted snapshot
    * has. Range, not hash: a hash of a few small segment ids often puts
    * two segments in one partition (then one task derives, and later
    * scores, both), while range bounds give each segment its own
    * partition when there are enough; the bounds cost one sampling job,
    * once. The postings of a hot term ("the", "if", license headers)
    * still land on `#segments` different reducers, one per segment.
    *
    * Shape: range repartition + SPILLABLE sort within partitions + a
    * streaming per-partition encoder whose working set is ONE block
    * (≤ blockSize postings), emitted when the block fills or the (term,
    * field, segment) key changes. Round 2 used `groupBy.agg(collect_list)`,
    * which holds every group's full posting list in the aggregation hash
    * map — at high task concurrency in a bounded heap (the 1.2M-doc
    * 8-core probe) those collect_list buffers collapsed scaling to 0.54;
    * the sort spills to disk instead of ballooning, so per-task memory is
    * O(blockSize) regardless of corpus size or task count.
    */
  def fromPostings(spark: SparkSession, postings: DataFrame,
                   doclen: DataFrame,
                   blockSize: Int = DefaultBlockSize): Dataset[PostingBlock] = {
    import spark.implicits._

    // doc length comes inline with the posting rows when the builder
    // provided it (the scale path — no join); otherwise join doclen
    val withLen =
      if (postings.columns.contains("len")) postings
      else {
        require(doclen.columns.contains("len"),
          "postings carry no inline len and no doclen table was supplied")
        postings.join(
          doclen.select($"docid", $"field", $"len"), Seq("docid", "field"))
      }
    withLen
      .select($"term", $"field",
        shiftright($"docid", IndexBuilder.BucketShift).as("segment"),
        $"docid", $"tf", $"positions", $"len")
      .repartitionByRange($"segment")
      .sortWithinPartitions($"segment", $"term", $"field", $"docid")
      .as[(String, String, Long, Long, Int, Array[Int], Long)]
      .mapPartitions(rows =>
        streamEncode(rows, blockSize))
  }

  /** Block build over the PERSISTED postings layout — zero shuffle, zero
    * sort: [[IndexStore.save]] writes postings one-file-per-segment,
    * sorted by (term, field, docid) inside each file, so every scan
    * partition is a concatenation of whole, already-sorted segment runs
    * and the streaming encoder can consume it directly. The read uses a
    * cloned session with file-splitting disabled (maxPartitionBytes
    * ceiling) so a segment file is never split mid-run — segments are
    * the parallel unit, exactly as the snapshot layout intends; size
    * `buckets` so one segment's postings stay in the low GBs at target
    * scale. This is the snapshot path; [[fromPostings]] (range shuffle +
    * spillable sort) serves unsorted in-memory postings. */
  def fromSortedPostings(spark: SparkSession, postingsDir: String,
                         blockSize: Int = DefaultBlockSize)
      : Dataset[PostingBlock] = {
    val s2 = wholeFileSession(spark, 1L << 30)
    import s2.implicits._
    s2.read.parquet(postingsDir)
      .select($"term", $"field", $"segment".cast("long").as("segment"),
        $"docid", $"tf", $"positions", $"len")
      .as[(String, String, Long, Long, Int, Array[Int], Long)]
      .mapPartitions(rows =>
        streamEncode(rows, blockSize))
  }

  /** A cloned session whose file scans never split a file: the split
    * size ceiling (64 GiB) is above any segment file, and every file
    * counts at least `openCost` bytes, so a scan partition is a run of
    * whole files — whole segments, in a one-file-per-segment layout. */
  private[index] def wholeFileSession(spark: SparkSession,
                                      openCost: Long): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", s"${64L << 30}")
    s2.conf.set("spark.sql.files.openCostInBytes", s"$openCost")
    s2
  }

  /** Streaming encoder over a segment-major row iterator — whole
    * segments, each sorted by (term, field, docid): buffers at most
    * `blockSize` postings, emits a block on fill or key change. Pure
    * iterator-to-iterator — Spark pulls blocks as the output parquet
    * writer wants them.
    *
    * The encoder DEPENDS on layout invariants (docids ascending within a
    * key, each (term, field, segment) run contiguous) that, if violated,
    * would silently emit corrupt blocks (blockId restarting mid-group,
    * unsorted docids breaking the delta-gap varbyte) — so it ASSERTS them
    * and fails loudly instead (round-3 ADVICE): within a segment, key runs
    * ascend; a segment, once left, never returns. O(1) memory apart from
    * a per-segment set. */
  private def streamEncode(
      rows: Iterator[(String, String, Long, Long, Int, Array[Int], Long)],
      blockSize: Int): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val in = rows.buffered
      private var blockId = 0
      private var lastKey: (String, String, Long) = _
      private var lastDocid = Long.MinValue
      private val seenSegments = scala.collection.mutable.HashSet.empty[Long]

      def hasNext: Boolean = in.hasNext

      /** New key run — assert the input ordering that makes runs
        * contiguous. */
      private def checkRunStart(key: (String, String, Long)): Unit = {
        val ok =
          if (lastKey != null && key._3 == lastKey._3)
            Ordering.Tuple2[String, String]
              .gt((key._1, key._2), (lastKey._1, lastKey._2))
          else seenSegments.add(key._3)
        require(ok, s"posting layout violation: key run for $key is " +
          s"out of order after $lastKey — blockId numbering would restart " +
          "mid-group and emit corrupt blocks")
        lastKey = key
        lastDocid = Long.MinValue
      }

      def next(): PostingBlock = {
        val (term, field, segment, _, _, _, _) = in.head
        if (blockId == 0) checkRunStart((term, field, segment))
        val ps = new scala.collection.mutable.ArrayBuffer[Posting](16)
        val lens = new scala.collection.mutable.ArrayBuffer[Long](16)
        var maxTf = 0
        var minLen = Long.MaxValue
        var maxLen = Long.MinValue
        var ctf = 0L
        while (ps.length < blockSize && in.hasNext && {
          val h = in.head; h._1 == term && h._2 == field && h._3 == segment
        }) {
          val (_, _, _, docid, tf, positions, len) = in.next()
          require(docid > lastDocid, "posting layout violation: docids " +
            s"not strictly ascending for ($term,$field,$segment): $docid " +
            s"after $lastDocid — delta-gap varbyte would corrupt")
          lastDocid = docid
          ps += Posting(docid, tf, positions)
          lens += len
          ctf += tf
          if (tf > maxTf) maxTf = tf
          if (len < minLen) minLen = len
          if (len > maxLen) maxLen = len
        }
        val id = blockId
        val moreOfKey = in.hasNext && {
          val h = in.head; h._1 == term && h._2 == field && h._3 == segment
        }
        blockId = if (moreOfKey) blockId + 1 else 0
        PostingBlock(term, field, segment, id,
          ps.head.docid, ps.last.docid, ps.length, ctf, maxTf, minLen,
          maxLen, PostingCodec.encode(ps.toSeq, ps.head.docid),
          PostingCodec.encodeLens(lens.toSeq))
      }
    }

  /** Decode back to the row form (term, field, docid, tf, positions,
    * len) — inverse of [[fromPostings]] up to row order (property-tested).
    * The decode is a generator over the block rows, so a filter on `term`
    * or `field` above it is pushed below it, into the block scan: a
    * term-filtered read of a snapshot decodes only its terms' blocks. */
  def toPostings(blocks: Dataset[PostingBlock]): DataFrame = {
    val decode = udf((block: Array[Byte], firstDocid: Long,
                      lens: Array[Byte]) => {
      val ps = PostingCodec.decode(block, firstDocid)
      val ls = PostingCodec.decodeLens(lens, ps.length)
      ps.indices.map(i => (ps(i).docid, ps(i).tf, ps(i).positions, ls(i)))
    })
    blocks
      .select(col("term"), col("field"), explode(
        decode(col("block"), col("firstDocid"), col("lens"))).as("p"))
      .select(col("term"), col("field"), col("p._1").as("docid"),
        col("p._2").as("tf"), col("p._3").as("positions"),
        col("p._4").as("len"))
  }
}
