package graft.index

import graft.analysis.{AnalyzerConfig, Stemming}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Persisted index layout — Iceberg-style semantics (snapshot commit,
  * per-segment manifest with lineage + build metrics, resumable writes)
  * implemented explicitly over partitioned Parquet. (No Iceberg runtime
  * jar exists in this sandbox — SURVEY §7 documents the substitution; the
  * metadata layer below provides the snapshot/manifest/resume semantics
  * the north rule requires.)
  *
  * ```
  * dir/
  *   postings_blocks/segment=K/  the postings, stored once: delta-gap +
  *                         varbyte blocks, one file per segment
  *                         with per-block df/ctf ([[Index.termStats]])
  *   docs/  doclen/
  *   fwdindex/segment=K/   forward index (TermVector analog)
  *   manifest/             per-(table, segment) lineage + metrics rows
  *   stats.json            global statistics (exact aggregates), the
  *                         bucket count, the indexed fields and the
  *                         analyzer identity
  *   _done_<table>         per-table checkpoint markers (resume points)
  *   SNAPSHOT.json         atomic commit record — written LAST, with each
  *                         committed table's bytes; a load refuses a dir
  *                         without it, and a table whose bytes differ
  * ```
  *
  * Every table is written with one codec, [[Codec]]. The row-form
  * postings (term, field, docid, tf, positions, len) are a STAGING table
  * (`postings/`): the derived tables stream off it, and it is deleted
  * before the commit; a load decodes the logical `postings` table from
  * the blocks.
  *
  * Resume: `save` skips any table whose `_done_` marker exists, so a
  * killed build re-runs only the unfinished tables/partitions (writing
  * the staging table again if one of them derives from it); the
  * snapshot is only committed when every table landed.
  */
object IndexStore {

  /** The committed tables, each recorded with its bytes in
    * SNAPSHOT.json. */
  private val Tables =
    Seq("docs", "postings_blocks", "doclen", "fwdindex")

  /** The sorted row-form postings every derived table streams off,
    * deleted before the commit. */
  private val Staging = "postings"

  /** The tables read back from [[Staging]]. */
  private val Derived =
    Seq("doclen", "postings_blocks", "fwdindex", "manifest")

  /** The Parquet codec of every snapshot table. zstd, not Spark's
    * default snappy: at 1,000 docs it halves the committed bytes (the
    * block table by about a third), with serving and ingest CPU per
    * operation unchanged within run-to-run noise. */
  private val Codec = "zstd"

  private def writer(df: DataFrame) =
    df.write.mode(SaveMode.Overwrite).option("compression", Codec)

  def exists(dir: String): Boolean =
    Files.exists(Paths.get(dir, "SNAPSHOT.json"))

  private def marker(dir: String, t: String) = Paths.get(dir, s"_done_$t")

  /** Postings partitioned by docid segment (the build salt), one file per
    * segment, sorted by (term, field, docid) inside it: the layout
    * [[PostingBlocks.fromSortedPostings]] and
    * [[Index.fwdIndexFromSortedPostings]] stream off with no shuffle or
    * sort.
    *
    * `repartition(buckets, segment)` bounds the dynamic-partition write
    * to ~ONE file per segment — without it, every write task opens a
    * parquet writer per segment dir (tasks × segments files), and the
    * per-file open/commit overhead dominates the whole build (measured
    * 22s for an otherwise-instant write). The sortWithinPartitions key
    * leads with `segment` so the planned-write sorter sees its required
    * partition-column ordering already satisfied and the (term, field,
    * docid) file order survives. */
  private[graft] def writeSortedPostings(index: Index, path: String): Unit =
    writer(index.postings
      .withColumn("segment",
        shiftright(col("docid"), IndexBuilder.BucketShift))
      .repartition(index.buckets, col("segment"))
      .sortWithinPartitions("segment", "term", "field", "docid"))
      .partitionBy("segment").parquet(path)

  def save(index: Index, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val t0 = System.currentTimeMillis()
    val spark = index.spark

    def writeTable(name: String)(w: => Unit): Unit =
      if (!Files.exists(marker(dir, name))) {
        w
        Files.createFile(marker(dir, name))
      }

    // Staged build: the corpus is tokenized EXACTLY ONCE (the staging
    // write); every derived table reads the persisted columnar postings
    // back — at 100 TB the corpus pass is the cost that must not repeat,
    // while postings re-reads are columnar scans. A resume whose derived
    // tables all landed needs no staging table.
    val staging = s"$dir/$Staging"
    if (Derived.exists(t => !Files.exists(marker(dir, t))))
      writeTable(Staging)(writeSortedPostings(index, staging))
    def postingsOnDisk = spark.read.parquet(staging)
    def doclenOnDisk = spark.read.parquet(s"$dir/doclen")

    // Every derived table depends ONLY on the persisted postings (doc
    // length rides inline on posting rows, so even the block build needs
    // no doclen barrier) — run them as CONCURRENT Spark jobs. The
    // scheduler interleaves their tasks, filling the cores a sequential
    // job-per-table commit leaves idle between stages; this is the fixed
    // per-run overhead that capped round-1 scaling efficiency at ~0.74.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    // one job group over all derived writes → a failing sibling can
    // cancel the rest (setJobGroup is thread-local: set in each future)
    val jobGroup = s"graft-index-save-$t0"
    // cancelJobGroup only reaches RUNNING jobs: a queued future that
    // starts after the cancel would still write fully and delay error
    // propagation (round-3 ADVICE) — the flag turns it into a no-op.
    @volatile var failed = false
    def grouped(body: => Unit): Unit = if (!failed) {
      spark.sparkContext.setJobGroup(jobGroup,
        s"index snapshot save $dir", interruptOnCancel = true)
      try body
      catch { case e: Throwable => failed = true; throw e }
    }
    val doclenF = Future(grouped(writeTable("doclen") {
      writer(IndexBuilder.doclenOf(postingsOnDisk)).parquet(s"$dir/doclen")
    }))
    val docsF = Future(grouped(writeTable("docs") {
      writer(index.docs).parquet(s"$dir/docs")
    }))
    // Global stats from the PERSISTED tables, scheduled as soon as docs
    // + doclen land (they do not wait for blocks/fwdindex/manifest).
    // Never touch `index.stats` here: the in-memory thunk aggregates the
    // UNPERSISTED doclen, i.e. a full corpus re-tokenize — measured as a
    // hidden serial pass at the end of every save.
    val statsF: Future[IndexStats] = for {
      _ <- docsF
      _ <- doclenF
    } yield IndexBuilder.statsOf(
      spark.read.parquet(s"$dir/docs"), doclenOnDisk)
    val derived = Seq(
      doclenF,
      docsF,
      // the compressed serving form (north rule: delta-gap + varbyte
      // blocks with block-max metadata) — the one stored form of the
      // postings, partitioned like the staging table. Streamed straight
      // off the persisted sorted layout — no shuffle, no sort,
      // O(blockSize) memory per task; each scan partition holds whole
      // segments, so the dynamic partitionBy still writes one file per
      // segment dir.
      Future(grouped(writeTable("postings_blocks") {
        writer(PostingBlocks.fromSortedPostings(spark, staging).toDF())
          .partitionBy("segment").parquet(s"$dir/postings_blocks")
      })),
      // forward index (TermVector analog), partitioned by docid segment:
      // PRF / LeToR / snippet reads become partition-pruned point scans
      // (Index.fwdVectors) instead of a full postings re-aggregation per
      // query (round-3 VERDICT item 2). Streamed off the persisted
      // sorted segment layout with ZERO shuffle (an in-partition re-sort
      // to docid-major + a run assembler — Index.fwdIndexFromSorted
      // Postings); whole segments per scan partition keep the dynamic
      // partitionBy at one file per segment dir.
      Future(grouped(writeTable("fwdindex") {
        writer(Index.fwdIndexFromSortedPostings(spark, staging))
          .partitionBy("segment").parquet(s"$dir/fwdindex")
      })),
      // lineage + metrics manifest (north rule): per-segment row counts,
      // term counts, build wall-clock.
      Future(grouped(writeTable("manifest") {
        val buildMillis = System.currentTimeMillis() - t0
        writer(postingsOnDisk
          .groupBy("segment")
          .agg(count(lit(1)).as("postingCount"),
            approx_count_distinct(col("term")).as("termCountApprox"),
            max(col("docid")).as("maxDocid"))
          .withColumn("buildMillis", lit(buildMillis))
          .withColumn("snapshotId", lit(t0)))
          .parquet(s"$dir/manifest")
      })))
    // On any table failure: cancel the sibling jobs (they share the job
    // group) and drain the remaining futures before rethrowing, so the
    // snapshot dir is quiescent when save() propagates the error —
    // otherwise siblings keep writing into it after the caller has moved
    // on (round-2 ADVICE).
    val stats =
      try {
        Await.result(Future.sequence(derived), Duration.Inf)
        Await.result(statsF, Duration.Inf)
      } catch {
        case e: Throwable =>
          spark.sparkContext.cancelJobGroup(jobGroup)
          (derived :+ statsF).foreach(f =>
            try { Await.result(f, Duration.Inf); () }
            catch { case _: Throwable => () })
          throw e
      }
      finally pool.shutdown()

    // every derived table landed: the postings live on in the blocks only
    graft.util.Scratch.deleteRecursively(staging)
    Files.deleteIfExists(marker(dir, Staging))

    writeStats(stats, s"$dir/stats.json", index.buckets,
      index.indexedFields.toSeq.sorted, index.analyzer)

    // atomic commit: tmp + move
    val bytes = Tables.map(t => s""""$t":${tableBytes(s"$dir/$t")}""")
    val snap = s"""{"snapshotId":$t0,"formatVersion":2,""" +
      s""""tables":[${Tables.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""tableBytes":{${bytes.mkString(",")}},""" +
      s""""numDocs":${stats.numDocs}}"""
    val tmp = Paths.get(dir, "SNAPSHOT.json.tmp")
    Files.writeString(tmp, snap)
    Files.move(tmp, Paths.get(dir, "SNAPSHOT.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bytes of a table's files, Hadoop checksum files excluded. */
  private def tableBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
      .map(p => Files.size(p)).sum
    finally s.close()
  }

  def load(spark: SparkSession, dir: String): Index = {
    require(exists(dir), s"no committed index snapshot at $dir")
    val (stats, buckets, indexedFields, analyzer) =
      readStats(s"$dir/stats.json")
    val blocks = readBlocks(spark, dir)
    new Index(spark,
      spark.read.parquet(s"$dir/docs"),
      // the postings are stored once, as blocks: the row form is decoded
      // from them, after any term/field filter on it reaches the scan
      PostingBlocks.toPostings(blocks),
      spark.read.parquet(s"$dir/doclen"),
      statsThunk = () => stats,
      buckets = buckets,
      indexedFields = indexedFields.toSet,
      analyzer = analyzer,
      blocksOpt = Some(blocks),
      fwdIndexStoredOpt = Some(spark.read.parquet(s"$dir/fwdindex")
        .withColumn("segment", col("segment").cast("long"))
        .select("docid", "field", "stems", "stemFreq", "positions",
          "segment")))
  }

  /** Refuses a snapshot whose SNAPSHOT.json does not parse, or a table
    * that no longer holds the bytes it records (a truncated, torn or
    * deleted file). Metadata only: no data is read. */
  private def checkTableBytes(dir: String): Unit = {
    val path = Paths.get(dir, "SNAPSHOT.json")
    val Snap = ("""\{"snapshotId":\d+,"formatVersion":\d+,"tables":\[[^\]]*\],""" +
      """"tableBytes":\{([^}]*)\},"numDocs":\d+\}""").r
    val recorded = Files.readString(path).trim match {
      case Snap(bytes) => """"(\w+)":(\d+)""".r.findAllMatchIn(bytes)
      case _ => throw new IllegalArgumentException(
        s"corrupt index snapshot: $path does not parse; rebuild the snapshot")
    }
    recorded.foreach { m =>
      val (t, table) = (m.group(1), Paths.get(dir, m.group(1)))
      val actual = if (Files.isDirectory(table)) tableBytes(table.toString) else -1L
      require(actual == m.group(2).toLong,
        s"corrupt index snapshot: table $t under $dir " +
        (if (actual < 0) "is missing" else s"holds $actual bytes") +
        s", but $path records ${m.group(2)}; rebuild the snapshot")
    }
  }

  /** The stored block table, read so that every scan partition holds
    * whole segments — the block-max engine's segment tasks rely on it
    * ([[graft.exec.BlockMax]]). The save writes one file per
    * `segment=K` dir; a dir holding more (a stray copy, a torn rewrite)
    * would split a segment across tasks and silently corrupt rankings,
    * so it is refused here. No file is split: every file counts at least
    * the largest file's size, so the scan packs whole files into about
    * `defaultParallelism` partitions. The snapshot's table bytes are
    * checked ([[checkTableBytes]]) before Spark opens any file, so a
    * torn file is refused by name rather than failing a footer read. */
  private def readBlocks(spark: SparkSession, snapshot: String)
      : org.apache.spark.sql.Dataset[PostingBlock] = {
    val dir = s"$snapshot/postings_blocks"
    import scala.jdk.CollectionConverters._
    def visible(p: java.nio.file.Path) = {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    val segDirs = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && visible(p)).toSeq
    val largest = segDirs.map { seg =>
      val files = Files.list(seg).iterator().asScala.filter(visible).toSeq
      require(files.size == 1,
        s"corrupt index snapshot: $seg holds ${files.size} data files " +
        s"(${files.map(_.getFileName).sorted.mkString(", ")}), but a " +
        "segment's posting blocks must be exactly one file so that one " +
        "task reads the whole segment; rebuild the snapshot")
      Files.size(files.head)
    }.foldLeft(4L << 20)(math.max)
    checkTableBytes(snapshot)
    val s2 = PostingBlocks.wholeFileSession(spark, largest)
    import s2.implicits._
    s2.read.parquet(dir)
      .withColumn("segment", col("segment").cast("long"))
      .select("term", "field", "segment", "blockId", "firstDocid",
        "lastDocid", "df", "ctf", "maxTf", "minLen", "maxLen", "block",
        "lens")
      .as[PostingBlock]
  }

  def writeStats(stats: IndexStats, path: String, buckets: Int,
                 indexedFields: Seq[String], analyzer: AnalyzerConfig): Unit = {
    val fields = stats.fields.values.map(f =>
      s"""{"field":"${f.field}","docCount":${f.docCount},""" +
      s""""collectionLength":${f.collectionLength}}""").mkString(",")
    val idxf = indexedFields.map("\"" + _ + "\"").mkString(",")
    // the analyzer IDENTITY is part of the snapshot: a snapshot queried
    // with a differently-configured analyzer silently mismatches stems
    // and stopwords (round-4 ADVICE) — SearchEngine validates this field.
    val stem = analyzer.stemming match {
      case Stemming.None  => "none"
      case Stemming.SStem => "sstem"
      case Stemming.KStem => "kstem"
    }
    // stats.json is hand-rolled JSON read back by regex: a stopword
    // containing a quote, backslash, or bracket would either corrupt the
    // file or silently truncate the parse — and a silently-dropped
    // analyzer record defeats the mismatch guard this field exists for.
    // Stopwords are analyzer-produced tokens (never those chars in
    // practice), so fail LOUDLY at save rather than escape.
    analyzer.stopwords.find(w => w.exists(c => c == '"' || c == '\\' ||
        c == '[' || c == ']')).foreach { bad =>
      throw new IllegalArgumentException(
        s"stopword '$bad' contains JSON-breaking characters " +
        "(\" \\ [ ]) and cannot be recorded in the snapshot's " +
        "analyzer identity")
    }
    val stops = analyzer.stopwords.toSeq.sorted.map("\"" + _ + "\"").mkString(",")
    Files.writeString(Paths.get(path),
      s"""{"numDocs":${stats.numDocs},"buckets":$buckets,""" +
      s""""indexedFields":[$idxf],""" +
      s""""analyzer":{"stemming":"$stem","stopwords":[$stops]},""" +
      s""""fields":[$fields]}""")
  }

  /** (stats, bucket count, indexed fields, analyzer) of a stats.json.
    * Every one is required: a snapshot that records no bucket count,
    * indexed fields or analyzer predates them and must be rebuilt. */
  def readStats(path: String)
      : (IndexStats, Int, Seq[String], AnalyzerConfig) = {
    val s = Files.readString(Paths.get(path))
    def find(re: String, what: String) = re.r.findFirstMatchIn(s).getOrElse(
      throw new IllegalArgumentException(
        s"$path records no $what; the index snapshot predates it — rebuild it"))
    val numDocs = find(""""numDocs":(\d+)""", "numDocs").group(1).toLong
    val buckets = find(""""buckets":(\d+)""", "buckets").group(1).toInt
    val idxf = """"([^"]+)"""".r.findAllMatchIn(
        find(""""indexedFields":\[([^\]]+)\]""", "indexedFields").group(1))
      .map(_.group(1)).toSeq
    val an = find(
      """"analyzer":\{"stemming":"(\w+)","stopwords":\[([^\]]*)\]\}""",
      "analyzer")
    val stem = an.group(1) match {
      case "none"  => Stemming.None
      case "sstem" => Stemming.SStem
      case "kstem" => Stemming.KStem
      case other => throw new IllegalStateException(
        s"$path records unknown stemming variant '$other'")
    }
    val stops = """"([^"]+)"""".r.findAllMatchIn(an.group(2))
      .map(_.group(1)).toSet
    val fieldRe =
      """\{"field":"([^"]+)","docCount":(\d+),"collectionLength":(\d+)\}""".r
    val fields = fieldRe.findAllMatchIn(s).map { m =>
      m.group(1) -> FieldStats(m.group(1), m.group(2).toLong, m.group(3).toLong)
    }.toMap
    (IndexStats(numDocs, fields), buckets, idxf,
      AnalyzerConfig(stopwords = stops, stemming = stem))
  }
}
