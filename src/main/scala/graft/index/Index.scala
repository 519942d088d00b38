package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Per-field collection statistics — the reference's
  * `sumTotalTermFreq(field)` / `getDocCount(field)` pair
  * (`QryEval/src/QryopSlScore.java:142-143,198`). `avgDocLen` reproduces
  * the reference's float division. */
final case class FieldStats(field: String, docCount: Long,
                            collectionLength: Long) {
  def avgDocLen: Float = collectionLength.toFloat / docCount
}

/** Global statistics — exact global aggregates (north rule). `numDocs` is
  * the reference's `READER.numDocs()` (`QryopSlScore.java:141`). */
final case class IndexStats(numDocs: Long, fields: Map[String, FieldStats])

/** The term dictionary, on the driver: (term, field) → (df, ctf), the
  * statistics the reference reads per query term from its own index
  * (`InvList.java:68-106`). Per field, the terms sorted with parallel
  * df/ctf arrays, found by binary search. */
final class Lexicon private (fields: Map[String, Lexicon.Terms]) {
  /** (df, ctf) of `term` in `field`; None when the field never holds it. */
  def get(term: String, field: String): Option[(Long, Long)] =
    fields.get(field).flatMap { f =>
      val i = java.util.Arrays.binarySearch(
        f.terms.asInstanceOf[Array[AnyRef]], term)
      if (i >= 0) Some((f.df(i), f.ctf(i))) else None
    }
}

object Lexicon {
  private final case class Terms(terms: Array[String], df: Array[Long],
                                 ctf: Array[Long])

  /** Collects a `(term, field, df, ctf)` table in one job. */
  def apply(termStats: DataFrame): Lexicon = {
    import termStats.sparkSession.implicits._
    val rows = termStats.select("term", "field", "df", "ctf")
      .as[(String, String, Long, Long)].collect()
    new Lexicon(rows.groupBy(_._2).map { case (f, rs) =>
      val s = rs.sortBy(_._1)
      f -> Terms(s.map(_._1), s.map(_._3), s.map(_._4))
    })
  }
}

/** docid → extid, on the driver: the reference's external-id read
  * (`QryEval.java:295-323`). Sorted docids, found by binary search, and
  * their extids' UTF-8 bytes back to back in one array (`ends(i)` ends the
  * i-th): 37.8 MB for 400k synthetic documents, against 51.5 MB with a
  * String per document. */
final class ExtidMap private (docids: Array[Long], utf8: Array[Byte],
                              ends: Array[Int]) {
  def get(docid: Long): Option[String] = {
    val i = java.util.Arrays.binarySearch(docids, docid)
    if (i < 0) None
    else {
      val from = if (i == 0) 0 else ends(i - 1)
      Some(new String(utf8, from, ends(i) - from,
        java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  def apply(docid: Long): String =
    get(docid).getOrElse(throw new NoSuchElementException(s"docid $docid"))
}

object ExtidMap {
  /** Collects a `(docid, extid, …)` table in one job. */
  def apply(docs: DataFrame): ExtidMap = {
    import docs.sparkSession.implicits._
    val rows = docs.select("docid", "extid").as[(Long, String)].collect()
      .sortBy(_._1)
    val utf8 = new java.io.ByteArrayOutputStream()
    val ends = rows.map { case (_, e) =>
      utf8.write(e.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      utf8.size()
    }
    new ExtidMap(rows.map(_._1), utf8.toByteArray, ends)
  }
}

/** A built inverted index: the Spark-shaped equivalent of the reference's
  * Lucene index + DocLengthStore (SURVEY §1).
  *
  *  - docs      (docid, extid, repo, path, commit, lang, sha256)
  *  - postings  (term, field, docid, tf, positions: array<int>, len)
  *  - doclen    (docid, field, len)
  *  - blocks    the postings as compressed blocks with per-block
  *              df/ctf/max-tf/length bounds ([[PostingBlock]])
  *
  * `postings` carries exact positions (like Lucene's positional postings).
  * A persisted index stores them once, as the compressed `postings_blocks`,
  * and a loaded one decodes `postings` from those blocks (see
  * [[IndexStore]]). The term statistics are not stored apart: like the
  * reference's term dictionary, which points at the postings it counts
  * (`InvList.java:68-106`), [[termStats]] sums the blocks' own df/ctf.
  */
final class Index(
    val spark: SparkSession,
    val docs: DataFrame,
    val postings: DataFrame,
    val doclen: DataFrame,
    /** Global statistics, computed on first use (exact aggregates over
      * docs/doclen) — loading a snapshot supplies the persisted values,
      * a fresh build defers the two counting jobs until a scorer needs
      * them. */
    statsThunk: () => IndexStats,
    /** docid-bucket count of the build (the salt domain) — the store
      * repartitions persisted tables to ~1 file per segment. */
    val buckets: Int,
    /** Fields this index was built with (IndexConfig.fields), recorded in
      * stats.json. Queries against any other field are a syntax error
      * (silently matching nothing hid typos). */
    val indexedFields: Set[String],
    /** The analyzer the corpus was tokenized with (stopwords + stemming
      * variant), recorded in stats.json on save and validated by
      * [[graft.api.SearchEngine]] — querying with a different analyzer
      * produces silently wrong/empty matches. */
    val analyzer: graft.analysis.AnalyzerConfig,
    /** Pre-built compressed block table (set when loaded from an
      * [[IndexStore]] snapshot); otherwise derived on demand. */
    blocksOpt: Option[Dataset[PostingBlock]] = None,
    /** Persisted forward-index table (docid, field, stems, stemFreq,
      * positions, segment), set when loaded from an [[IndexStore]]
      * snapshot. With it, PRF / LeToR / snippet reads are
      * partition-pruned columnar scans; without it [[fwdIndex]] is
      * re-aggregated from postings on every action. */
    fwdIndexStoredOpt: Option[DataFrame] = None)
  extends Serializable {

  lazy val stats: IndexStats = statsThunk()

  /** (term, field, df, ctf): the per-block df/ctf of [[blocks]], summed
    * per (term, field) — exact, since a posting lies in one block. Over a
    * stored snapshot the scan reads those four columns only, never the
    * encoded postings. */
  lazy val termStats: DataFrame = {
    import org.apache.spark.sql.functions.{col, sum}
    blocks.groupBy("term", "field")
      .agg(sum(col("df")).as("df"), sum(col("ctf")).as("ctf"))
  }

  /** The term dictionary and the extid map: built once, from `termStats`
    * and `docs`, on first use, then read by every query instead of a
    * Spark job per lookup. Driver-only: no task closure ships them. */
  @transient lazy val lexicon: Lexicon = Lexicon(termStats)
  @transient lazy val extids: ExtidMap = ExtidMap(docs)

  def fieldStats(field: String): FieldStats =
    stats.fields.getOrElse(field, FieldStats(field, 0L, 0L))

  /** Delta-gap + varbyte compressed posting blocks (north rule), keyed by
    * (term, field, segment) with block-max metadata — the serving form of
    * the index and the input of the block-max engine
    * ([[graft.exec.BlockMax]]), whose tasks need every partition to hold
    * whole segments: a stored table is read without splitting a segment
    * file ([[IndexStore.load]]); an index with no stored table (a fresh
    * build, a streaming merge) derives it range-partitioned by segment
    * ONCE and keeps it persisted like the other index tables — the
    * derivation shuffles and sorts every posting, which no routed query
    * may repeat. */
  lazy val blocks: Dataset[PostingBlock] =
    blocksOpt.getOrElse(
      PostingBlocks.fromPostings(spark, postings, doclen)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Forward index (doc vector) — reference `TermVector`
    * (`QryEval/src/TermVector.java:19-89`): the persisted snapshot table
    * when one was loaded, otherwise assembled on demand from postings
    * ([[Index.fwdIndexOf]]). */
  lazy val fwdIndex: DataFrame =
    fwdIndexStoredOpt.map(_.drop("segment"))
      .getOrElse(Index.fwdIndexOf(postings))

  /** Forward vectors of SPECIFIC docids — the pruned read PRF / LeToR /
    * snippet must use (round-3 VERDICT item 2: a join never pushes below
    * the assembly, so the un-pruned read re-assembles the full postings
    * table per query). In memory, the `isin` FILTER runs on the postings
    * before their exchange; against a persisted snapshot the derived
    * `segment` predicate additionally prunes partition directories. */
  def fwdVectors(docids: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    fwdIndexStoredOpt match {
      case Some(stored) =>
        val segs = docids.map(_ >> IndexBuilder.BucketShift).distinct
        stored
          .filter(col("segment").isin(segs: _*) &&
            col("docid").isin(docids: _*))
          .drop("segment")
      case None =>
        Index.fwdIndexOf(postings.filter(col("docid").isin(docids: _*)))
    }
  }

  def cacheAll(): Index = {
    docs.cache(); postings.cache(); doclen.cache()
    this
  }
}

object Index {
  /** Forward index of in-memory postings — reference `TermVector`
    * (`QryEval/src/TermVector.java:19-89`): the postings are exchanged by
    * docid, sorted by (docid, field, term) within each partition and fed
    * to the run assembler [[assembleFwd]], which the snapshot write uses
    * too ([[fwdIndexFromSortedPostings]]). */
  def fwdIndexOf(postings: DataFrame): DataFrame = {
    import postings.sparkSession.implicits._
    postings
      .select($"docid", $"field", $"term", $"tf", $"positions",
        org.apache.spark.sql.functions.lit(0L).as("segment"))
      .repartition($"docid")
      .sortWithinPartitions($"docid", $"field", $"term")
      .as[(Long, String, String, Int, Array[Int], Long)]
      .mapPartitions(rows => assembleFwd(rows))
      .toDF("docid", "field", "stems", "stemFreq", "positions", "segment")
      .drop("segment")
  }

  /** Forward-index derivation off the PERSISTED postings layout — ZERO
    * shuffle: [[IndexStore.save]] writes postings one-file-per-segment,
    * so a non-split read (same trick as
    * [[PostingBlocks.fromSortedPostings]]) gives each task whole
    * segments; an in-partition (docid, field, term) sort then lets a
    * streaming per-(docid, field) assembler emit forward rows directly.
    * At corpus scale this removes the exchange of the positions-bearing
    * postings — the single biggest cost of the shuffle-based
    * [[fwdIndexOf]], which remains the path for unsaved in-memory
    * postings. Output carries `segment` for the partitioned write. */
  def fwdIndexFromSortedPostings(spark: SparkSession,
                                 postingsDir: String): DataFrame = {
    val s2 = PostingBlocks.wholeFileSession(spark, 1L << 30)
    import org.apache.spark.sql.functions._
    import s2.implicits._
    s2.read.parquet(postingsDir)
      .select($"docid", $"field", $"term", $"tf", $"positions",
        $"segment".cast("long").as("segment"))
      .sortWithinPartitions($"segment", $"docid", $"field", $"term")
      .as[(Long, String, String, Int, Array[Int], Long)]
      .mapPartitions(rows => assembleFwd(rows))
      .toDF("docid", "field", "stems", "stemFreq", "positions", "segment")
  }

  /** Streaming (docid, field)-run assembler over a sorted row iterator:
    * `stems` arrive term-sorted within the run (Lucene TermsEnum order),
    * `stemFreq` aligned, and `positions(p)` = the 1-BASED index into
    * `stems` of the word at position p — 0 marks a stopword/gap position,
    * and the array ends at the LAST indexed position
    * (`TermVector.java:58-88`). */
  private def assembleFwd(
      rows: Iterator[(Long, String, String, Int, Array[Int], Long)])
      : Iterator[(Long, String, Array[String], Array[Int], Array[Int], Long)] =
    new Iterator[(Long, String, Array[String], Array[Int], Array[Int], Long)] {
      private val in = rows.buffered
      def hasNext: Boolean = in.hasNext
      def next(): (Long, String, Array[String], Array[Int], Array[Int], Long) = {
        val (docid, field, _, _, _, segment) = in.head
        val stems = scala.collection.mutable.ArrayBuffer.empty[String]
        val freq = scala.collection.mutable.ArrayBuffer.empty[Int]
        val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        while (in.hasNext && { val h = in.head
          h._1 == docid && h._2 == field }) {
          val (_, _, term, tf, positions, _) = in.next()
          stems += term
          freq += tf
          val idx = stems.length // 1-based stem index
          positions.foreach(p => pairs += ((p, idx)))
        }
        val sorted = pairs.sortInPlace()(Ordering.by(_._1))
        val posArr = new Array[Int](sorted.last._1 + 1) // zeros = gaps
        sorted.foreach { case (p, idx) => posArr(p) = idx }
        (docid, field, stems.toArray, freq.toArray, posArr, segment)
      }
    }
}
