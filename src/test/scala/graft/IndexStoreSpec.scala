package graft

import graft.corpus.CorpusGen
import graft.index._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import java.util.Comparator

/** SURVEY §5.5 resume tests + §5.3 salt-invariance property: a killed
  * build resumes from per-table checkpoints to the identical index, and
  * the salted (bucketed) build produces the same logical index at any
  * bucket count. */
class IndexStoreSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark

  private def freshDir(): Path = {
    val d = Files.createTempDirectory("graft-index-")
    d.toFile.deleteOnExit(); d
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  /** extid-keyed logical postings — docid-layout-independent view. */
  private def logicalPostings(idx: Index): Set[(String, String, String, Int, Seq[Int])] = {
    import spark.implicits._
    idx.postings
      .join(idx.docs.select($"docid", $"extid"), "docid")
      .select($"term", $"field", $"extid", $"tf", $"positions")
      .as[(String, String, String, Int, Seq[Int])].collect().toSet
  }

  private def collectSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def copyOf(src: Path): Path = {
    val dst = freshDir()
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    dst
  }

  /** Deletes the first match of `re` from a snapshot's stats.json. */
  private def dropFromStats(dir: Path, re: String): Unit = {
    val f = dir.resolve("stats.json")
    val s = Files.readString(f)
    val cut = re.r.replaceFirstIn(s, "")
    assert(cut != s, s"$re not in $s")
    Files.writeString(f, cut)
  }

  describe("IndexStore snapshot + resume (north rule: per-partition checkpoints)") {
    lazy val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 100),
      IndexConfig(buckets = 4))
    lazy val saved: Path = {
      val d = graft.util.Scratch.dir("graft-index-")
      IndexStore.save(idx, d)
      Paths.get(d)
    }

    it("save → load round-trips every table and the stats") {
      val dir = freshDir().toString
      IndexStore.save(idx, dir)
      assert(IndexStore.exists(dir))
      val loaded = IndexStore.load(spark, dir)
      assert(loaded.stats == idx.stats)
      assert(logicalPostings(loaded) == logicalPostings(idx))
      assert(collectSet(loaded.docs) == collectSet(idx.docs))
      assert(collectSet(loaded.doclen) == collectSet(idx.doclen))
      assert(collectSet(loaded.termStats) == collectSet(idx.termStats))
      // compressed serving form round-trips to the same logical postings
      val viaBlocks = PostingBlocks.toPostings(loaded.blocks)
      assert(collectSet(viaBlocks.select("term", "field", "docid", "tf", "positions"))
        == collectSet(idx.postings.select("term", "field", "docid", "tf", "positions")))
      // persisted forward index equals the derived one
      assert(collectSet(loaded.fwdIndex) == collectSet(idx.fwdIndex))
      rmTree(Paths.get(dir))
    }

    it("records the analyzer identity and refuses a mismatched query config") {
      import graft.analysis.AnalyzerConfig
      val dir = freshDir().toString
      val eidx = IndexBuilder.build(spark, CorpusGen.df(spark, 30),
        IndexConfig(analyzer = AnalyzerConfig.english, buckets = 2))
      IndexStore.save(eidx, dir)
      val loaded = IndexStore.load(spark, dir)
      assert(loaded.analyzer == AnalyzerConfig.english)
      // matching config constructs fine
      new graft.api.SearchEngine(loaded, AnalyzerConfig.english)
      // differently-stemmed config fails loudly instead of silently
      // matching nothing (round-4 ADVICE)
      val e1 = intercept[IllegalArgumentException] {
        new graft.api.SearchEngine(loaded, AnalyzerConfig.code)
      }
      assert(e1.getMessage.contains("analyzer mismatch"))
      rmTree(Paths.get(dir))
    }

    it("refuses a snapshot that records no analyzer, fields or bucket " +
       "count, or has no fwdindex, naming what is missing") {
      val cases = Seq[(String, Path => Unit)](
        "records no analyzer" ->
          (d => dropFromStats(d, ""","analyzer":\{[^}]*\}""")),
        "records no indexedFields" ->
          (d => dropFromStats(d, ""","indexedFields":\[[^\]]*\]""")),
        "records no buckets" -> (d => dropFromStats(d, ""","buckets":\d+""")),
        "table fwdindex" -> (d => rmTree(d.resolve("fwdindex"))))
      cases.foreach { case (expected, damage) =>
        val dir = copyOf(saved)
        damage(dir)
        val e = intercept[IllegalArgumentException](
          IndexStore.load(spark, dir.toString))
        assert(e.getMessage.contains(expected), e.getMessage)
        rmTree(dir)
      }
    }

    it("refuses a torn table or an unparseable SNAPSHOT.json at load") {
      def truncated(file: Path => Path): String = {
        val dir = copyOf(saved)
        val f = file(dir)
        Files.write(f, Files.readAllBytes(f).dropRight(7))
        try intercept[IllegalArgumentException](
          IndexStore.load(spark, dir.toString)).getMessage
        finally rmTree(dir)
      }
      val torn = truncated(d => Files.walk(d.resolve("postings_blocks"))
        .iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .get)
      assert(torn.contains("table postings_blocks"), torn)
      val unparsed = truncated(_.resolve("SNAPSHOT.json"))
      assert(unparsed.contains("SNAPSHOT.json does not parse"), unparsed)
    }

    it("fwdVectors over a snapshot is a partition-pruned point read " +
       "with the same rows as the derived forward index") {
      import spark.implicits._
      val dir = freshDir().toString
      IndexStore.save(idx, dir)
      val loaded = IndexStore.load(spark, dir)
      val ids = idx.docs.select($"docid").as[Long].collect().sorted.take(3).toSeq
      val stored = loaded.fwdVectors(ids)
      // the scan prunes on the derived segment partition dirs
      val plan = stored.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("segment"),
        plan.take(2000))
      assert(collectSet(stored) ==
        collectSet(idx.fwdIndex.filter($"docid".isin(ids: _*))))
      // the in-memory path filters the postings on docid BELOW the
      // assembler's sort (a join never would — round-3 VERDICT item 2):
      // an In/InSet beneath the Sort
      import org.apache.spark.sql.catalyst.expressions.{In, InSet}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, Sort}
      val mem = idx.fwdVectors(ids).queryExecution.optimizedPlan
      val sort = mem.collectFirst { case s: Sort => s }.get
      assert(sort.collectFirst {
        case f: Filter if f.condition.find(e =>
          e.isInstanceOf[In] || e.isInstanceOf[InSet]).isDefined => f
      }.isDefined, mem.toString.take(2000))
      rmTree(Paths.get(dir))
    }

    it("a killed build resumes: finished tables are skipped, the index is identical") {
      val dir = freshDir()
      // crash before the commit: every table lands, then stats.json
      // cannot be written (a directory stands in its place)
      Files.createDirectory(dir.resolve("stats.json"))
      assertThrows[java.io.IOException](IndexStore.save(idx, dir.toString))
      assert(!IndexStore.exists(dir.toString))
      Files.delete(dir.resolve("stats.json"))
      // ...and doclen is lost too: wipe its marker and data, so the
      // resume must stage the row-form postings again to rebuild it
      Files.delete(dir.resolve("_done_doclen"))
      rmTree(dir.resolve("doclen"))

      val committed = Seq("docs", "postings_blocks", "fwdindex")
      def mtimes = committed.map(t => t -> Files.getLastModifiedTime(dir.resolve(t)))
      val mtimeBefore = mtimes
      IndexStore.save(idx, dir.toString) // resume
      assert(IndexStore.exists(dir.toString))
      // finished tables untouched (checkpoint skip), missing one rebuilt
      assert(mtimes == mtimeBefore)
      assert(!Files.exists(dir.resolve("postings")))
      val loaded = IndexStore.load(spark, dir.toString)
      assert(collectSet(loaded.doclen) == collectSet(idx.doclen))
      assert(loaded.stats == idx.stats)
      rmTree(dir)
    }

    it("a half-finished dir without SNAPSHOT.json refuses to load") {
      val dir = freshDir()
      assertThrows[IllegalArgumentException] {
        IndexStore.load(spark, dir.toString)
      }
      rmTree(dir)
    }

    it("a committed snapshot stores its postings once, as zstd blocks, " +
       "and a term-filtered postings read filters the block scan") {
      import spark.implicits._
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val dir = saved
      assert(!Files.exists(dir.resolve("postings")) &&
        !Files.exists(dir.resolve("_done_postings")))
      val conf = spark.sparkContext.hadoopConfiguration
      val dataFiles = Files.walk(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(dataFiles.size >= 6, dataFiles)
      dataFiles.foreach { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
        val codecs = try r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
        finally r.close()
        assert(codecs == Set("ZSTD"), s"$f: $codecs")
      }
      val loaded = IndexStore.load(spark, dir.toString)
      def filtered(i: Index) = i.postings
        .filter($"term".isin("open", "index") && $"field".isin("body", "title"))
      val scan = filtered(loaded).queryExecution.executedPlan.toString
        .split("\n").filter(_.contains("FileScan")).toSeq
      assert(scan.size == 1 && scan.head.contains("postings_blocks") &&
        scan.head.contains("PushedFilters: [") &&
        scan.head.contains("In(term") && scan.head.contains("In(field"), scan)
      assert(collectSet(filtered(loaded)) == collectSet(filtered(idx)))
    }

    it("SNAPSHOT.json records each committed table's bytes") {
      val snap = Files.readString(saved.resolve("SNAPSHOT.json"))
      val recorded = """"(\w+)":(\d+)""".r
        .findAllMatchIn(""""tableBytes":\{([^}]*)\}""".r
          .findFirstMatchIn(snap).get.group(1))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      def bytes(p: Path): Long = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.endsWith(".crc"))
        .map(f => Files.size(f)).sum
      assert(recorded.keySet ==
        Set("docs", "postings_blocks", "doclen", "fwdindex"))
      assert(!Files.exists(saved.resolve("termstats")))
      recorded.foreach { case (t, b) => assert(b == bytes(saved.resolve(t)), t) }
      assert(recorded.values.sum ==
        recorded.keys.toSeq.map(t => bytes(saved.resolve(t))).sum)
    }

    it("manifest records per-segment lineage + metrics") {
      import spark.implicits._
      val dir = freshDir()
      IndexStore.save(idx, dir.toString)
      val manifest = spark.read.parquet(s"$dir/manifest")
      val segs = manifest.select($"segment".cast("long")).as[Long]
        .collect().toSet
      assert(segs == (0L until 4L).toSet)
      val cols = manifest.columns.toSet
      assert(Set("postingCount", "termCountApprox", "maxDocid",
        "buildMillis", "snapshotId").subsetOf(cols))
      rmTree(dir)
    }
  }

  describe("salted build invariance (north rule: skew handling must not change results)") {
    it("buckets=2 and buckets=16 build the same logical index") {
      val c = CorpusGen.df(spark, 100)
      val a = IndexBuilder.build(spark, c, IndexConfig(buckets = 2))
      val b = IndexBuilder.build(spark, c, IndexConfig(buckets = 16))
      assert(logicalPostings(a) == logicalPostings(b))
      assert(collectSet(a.termStats) == collectSet(b.termStats))
      assert(a.stats == b.stats)
      // sha256 per-row invariant (BASELINE.json input_hint)
      import spark.implicits._
      val shaA = a.docs.select($"extid", $"sha256").as[(String, String)]
        .collect().toSet
      val shaB = b.docs.select($"extid", $"sha256").as[(String, String)]
        .collect().toSet
      assert(shaA == shaB)
      // identical QUERY ANSWERS at both bucket counts (round-3 VERDICT
      // item 4): ranked BM25 top-k agrees on (extid, rank, score)
      def top(i: Index): Seq[(String, Int, Double)] = {
        val e = new graft.api.SearchEngine(i)
        e.search("open inverted index", graft.model.BM25(1.2f, 0.75f, 0f), 20)
          .select($"extid", $"rank", $"score")
          .as[(String, Int, Double)].collect().toSeq
      }
      assert(top(a) == top(b))
    }

    it("AutoBuckets derives a corpus-sized bucket count") {
      val c = CorpusGen.df(spark, 100)
      val auto = IndexBuilder.build(spark, c, IndexConfig())
      // tiny corpus → parallelism floor (4 test cores), never 1-per-doc
      assert(auto.buckets == spark.sparkContext.defaultParallelism)
      assert(logicalPostings(auto) ==
        logicalPostings(IndexBuilder.build(spark, c, IndexConfig(buckets = 2))))
      // the sizing formula holds the per-bucket target at scale
      val big = IndexBuilder.bucketsFor(
        docCount = 1L << 40, contentBytes = 100L << 40, parallelism = 1000)
      assert(big == math.ceil((100L << 40).toDouble /
        IndexConfig.TargetBucketBytes).toInt)
      assert(IndexBuilder.bucketsFor(1L << 50, Long.MaxValue, 1000)
        == IndexConfig.MaxBuckets)
    }
  }
}
