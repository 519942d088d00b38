package graft

import graft.index.{IndexBuilder, IndexConfig, Posting, PostingBlocks, PostingCodec}
import graft.corpus.CorpusGen
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funspec.AnyFunSpec

/** SURVEY §5.3 property tests: varbyte encode∘decode = id, delta-gap
  * monotonicity, and block-table round-trip against the raw postings.
  * (Generators sampled with fixed seeds — the offline cache carries raw
  * scalacheck but not the scalatestplus bridge.) */
class PostingCodecSpec extends AnyFunSpec {

  private def forAll[A](gen: Gen[A], cases: Int = 100)(check: A => Unit): Unit =
    (0 until cases).foreach { i =>
      check(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator gave up at case $i")))
    }

  private val genPostings: Gen[(List[Posting], Long)] = for {
    base <- Gen.chooseNum(0L, 1L << 50)
    n <- Gen.chooseNum(0, 60)
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 100000L))
    tfs <- Gen.listOfN(n, Gen.chooseNum(1, 20))
    posGaps <- Gen.listOfN(n, Gen.chooseNum(1, 500))
  } yield {
    val docids = gaps.scanLeft(base)(_ + _).tail
    val ps = docids.lazyZip(tfs).lazyZip(posGaps).map { (d, tf, pg) =>
      Posting(d, tf, Array.iterate(pg, tf)(_ + 1 + (d % 3).toInt))
    }
    (ps, base)
  }

  describe("varbyte + delta-gap codec (PostingCodec)") {
    it("decode ∘ encode = identity on arbitrary docid-ascending lists") {
      forAll(genPostings) { case (ps, base) =>
        val decoded = PostingCodec.decode(PostingCodec.encode(ps, base), base)
        assert(decoded.length == ps.length)
        decoded.zip(ps).foreach { case (a, b) =>
          assert(a.docid == b.docid)
          assert(a.tf == b.tf)
          assert(a.positions.sameElements(b.positions))
        }
      }
    }

    it("streaming reader yields postings docid-ascending") {
      forAll(genPostings) { case (ps, base) =>
        val r = new PostingCodec.Reader(PostingCodec.encode(ps, base), base)
        var prev = -1L
        while (r.hasNext) {
          val p = r.next()
          assert(p.docid > prev); prev = p.docid
        }
      }
    }

    it("lens codec round-trips") {
      forAll(Gen.listOf(Gen.chooseNum(0L, 1L << 40))) { lens =>
        val d = PostingCodec.decodeLens(PostingCodec.encodeLens(lens), lens.length)
        assert(d.toList == lens)
      }
    }
  }

  describe("block table (PostingBlocks)") {
    lazy val spark = TestSpark.spark

    it("toPostings ∘ fromPostings = identity, and block metadata is exact") {
      import spark.implicits._
      val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 120),
        IndexConfig(buckets = 4))
      val blocks = PostingBlocks
        .fromPostings(spark, idx.postings, idx.doclen, blockSize = 7).cache()

      // round-trip, doc lengths included
      val orig = idx.postings
        .select($"term", $"field", $"docid", $"tf", $"positions", $"len")
        .as[(String, String, Long, Int, Seq[Int], Long)].collect().toSet
      val rt = PostingBlocks.toPostings(blocks)
        .as[(String, String, Long, Int, Seq[Int], Long)].collect().toSet
      assert(rt == orig)

      // per-block invariants
      val lens = idx.doclen.filter($"field" === "body")
        .as[(Long, String, Long)].collect()
        .map { case (d, _, l) => d -> l }.toMap
      blocks.filter($"field" === "body").collect().foreach { b =>
        val ps = PostingCodec.decode(b.block, b.firstDocid)
        assert(ps.length == b.df && ps.length <= 7)
        assert(ps.head.docid == b.firstDocid && ps.last.docid == b.lastDocid)
        assert(ps.map(_.tf).max == b.maxTf)
        assert(ps.map(_.tf.toLong).sum == b.ctf)
        val blens = PostingCodec.decodeLens(b.lens, b.df)
        assert(blens.toSeq == ps.toSeq.map(p => lens(p.docid)))
        assert(blens.min == b.minLen && blens.max == b.maxLen)
        // every docid belongs to the block's segment
        ps.foreach(p =>
          assert(p.docid >> IndexBuilder.BucketShift == b.segment))
      }

    }

    it("termStats (summed over the blocks) = df/ctf counted over the " +
       "postings, in memory and stored; the stored scan reads only " +
       "term, field, df and ctf") {
      import spark.implicits._
      import org.apache.spark.sql.functions.{count, lit, sum}
      val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 120),
        IndexConfig(buckets = 4))
      def rows(i: graft.index.Index) = i.termStats
        .select($"term", $"field", $"df", $"ctf")
        .as[(String, String, Long, Long)].collect().toSet
      val counted = idx.postings.groupBy($"term", $"field")
        .agg(count(lit(1)).as("df"), sum($"tf").as("ctf"))
        .as[(String, String, Long, Long)].collect().toSet
      assert(rows(idx) == counted)
      val dir = graft.util.Scratch.dir("codec-termstats-")
      graft.index.IndexStore.save(idx, dir)
      val stored = graft.index.IndexStore.load(spark, dir)
      assert(rows(stored) == counted)
      val scans = stored.termStats.queryExecution.executedPlan.toString
        .split("\n").filter(_.contains("FileScan")).toSeq
      assert(scans.size == 1 && scans.head.contains(
        "ReadSchema: struct<term:string,field:string,df:int,ctf:bigint>"),
        scans)
      graft.util.Scratch.deleteRecursively(dir)
    }

    it("fromSortedPostings ≡ fromPostings over a persisted snapshot") {
      // The snapshot path (zero-shuffle stream off the sorted parquet
      // layout) must produce the same logical block table as the
      // shuffle+sort path — same keys, same blockId sequencing, same
      // encoded bytes. blockSize=7 forces multi-block groups so the
      // blockId reset-on-key-change logic is actually exercised.
      import spark.implicits._
      val idx = IndexBuilder.build(spark, CorpusGen.df(spark, 150),
        IndexConfig(buckets = 4))
      // the sorted layout of the snapshot save's staging step
      val dir = java.nio.file.Files
        .createTempDirectory("codec-sorted-").toString
      graft.index.IndexStore.writeSortedPostings(idx, s"$dir/postings")

      def key(b: graft.index.PostingBlock) =
        (b.term, b.field, b.segment, b.blockId, b.firstDocid, b.lastDocid,
          b.df, b.ctf, b.maxTf, b.minLen, b.maxLen,
          b.block.toSeq, b.lens.toSeq)
      val streamed = PostingBlocks
        .fromSortedPostings(spark, s"$dir/postings", blockSize = 7)
        .collect().map(key).toSet
      val shuffled = PostingBlocks
        .fromPostings(spark, idx.postings, idx.doclen, blockSize = 7)
        .collect().map(key).toSet
      assert(streamed == shuffled)
      // multi-block groups exist, so blockId sequencing was exercised
      assert(streamed.exists(_._4 > 0))
      graft.util.Scratch.deleteRecursively(dir)
    }
  }
}
