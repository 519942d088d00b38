package graft

import graft.api.SearchEngine
import graft.index.IndexBuilder.BucketShift
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funspec.AnyFunSpec

/** `SearchEngine.rank`'s cut and merge without Spark: each partition
  * keeps [[SearchEngine.partitionTopK]] of its rows, the driver merges
  * what they keep by (score desc, extid asc), and the result must equal a
  * brute-force sort of every row — with scores drawn from at most three
  * values (heavy ties), partitions that split segments, and extids that
  * follow docid order within a segment but not across segments.
  * (Generators sampled with fixed seeds, as in PostingCodecSpec.) */
class RankCutSpec extends AnyFunSpec {

  private def forAll[A](gen: Gen[A], cases: Int = 500)(check: A => Unit): Unit =
    (0 until cases).foreach { i =>
      check(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator gave up at case $i")))
    }

  /** (partitions of (docid, score) rows, extid of each docid, k). */
  private val genCase: Gen[(Seq[Seq[(Long, Double)]], Map[Long, String], Int)] =
    for {
      segments <- Gen.chooseNum(1, 20)
      sizes <- Gen.listOfN(segments, Gen.chooseNum(0, 15))
      values <- Gen.chooseNum(1, 3)
        .flatMap(Gen.pick(_, Seq(-2.5, 0.0, 1.0, 3.0, Double.NaN)))
      scores <- Gen.listOfN(sizes.sum, Gen.oneOf(values.toSeq))
      partitions <- Gen.chooseNum(1, 6)
      k <- Gen.chooseNum(1, 12)
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      // docids: segment s holds docids s << BucketShift | rank, with gaps
      val docids = sizes.zipWithIndex.map { case (n, s) =>
        rnd.shuffle((0L until 40L).toList).take(n).sorted
          .map(r => (s.toLong << BucketShift) | r)
      }
      // extids: a shuffled global set, dealt to each segment in order
      val pool = rnd.shuffle((0 until sizes.sum).map(i => f"doc-$i%04d"))
      val dealt = sizes.scanLeft(0)(_ + _).zip(sizes).map { case (from, n) =>
        pool.slice(from, from + n).sorted
      }
      val extid = docids.zip(dealt).flatMap { case (ds, es) => ds.zip(es) }.toMap
      val rows = rnd.shuffle(docids.flatten.zip(scores))
      val cuts = (0 +: Seq.fill(partitions - 1)(rnd.nextInt(rows.length + 1))
        .sorted :+ rows.length)
      (cuts.sliding(2).map { case Seq(a, b) => rows.slice(a, b) }.toSeq,
        extid, k)
    }

  it("the per-partition cut and the driver merge equal a brute-force " +
     "(score desc, extid asc) sort") {
    forAll(genCase) { case (partitions, extid, k) =>
      val kept = partitions.flatMap(p => SearchEngine.partitionTopK(p.iterator, k))
      val got = SearchEngine.merge(kept, extid, k)
      // NaN, an Indri score when a query term occurs nowhere, ranks
      // first and ties with NaN, as under Spark's `desc`
      val expected = partitions.flatten
        .map { case (d, s) => (d, extid(d), s) }
        .sortBy { case (_, e, s) => (s, e) }(Ordering.Tuple2(
          Ordering.Double.TotalOrdering.reverse, Ordering.String))
        .take(k).zipWithIndex
        .map { case ((d, e, s), i) => (d, e, i + 1, s) }
      def bits(rows: Seq[(Long, String, Int, Double)]) =
        rows.map { case (d, e, r, s) =>
          (d, e, r, java.lang.Double.doubleToLongBits(s)) }
      assert(bits(got) == bits(expected), s"k=$k partitions=$partitions")
    }
  }

  it("a partition keeps no more rows than its segments' top k") {
    forAll(genCase) { case (partitions, _, k) =>
      partitions.foreach { p =>
        val kept = SearchEngine.partitionTopK(p.iterator, k).toSeq
        kept.groupBy(_._1 >> BucketShift).values
          .foreach(seg => assert(seg.length <= k))
        assert(kept.length == kept.map(_._1).distinct.length)
      }
    }
  }
}
