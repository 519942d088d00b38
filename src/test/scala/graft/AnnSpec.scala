package graft

import graft.ops.{AnnProbes, Similarity}
import org.scalatest.funspec.AnyFunSpec
import java.nio.file.{Files, Paths}

/** ANN scale path: banded multi-probe SRP recall vs the single-bucket
  * probe, and the bucket-partitioned storage layout (partition-pruned
  * probe scans). */
class AnnSpec extends AnyFunSpec {

  private lazy val spark = TestSpark.spark
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  private lazy val probe =
    Similarity.probeVector(emb, "vec_id", "embedding", 0L)

  it("banded multi-probe recalls at least as much as the single 8-bit bucket") {
    import spark.implicits._
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", probe, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id").as[Long].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val single = recall(
      Similarity.lshTopK(emb, "vec_id", "embedding", probe, 0L, 10))
    val banded = recall(
      AnnProbes.lshTopKBanded(emb, "vec_id", "embedding", probe, 0L, 10))
    assert(banded >= single)
    assert(banded > 0.0)
  }

  it("per-band bucketed layout: every band's probe is partition-pruned " +
     "and the stored probe equals the scan-side banded answer") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ann-bucketed-").toString
    // explicit 16 dirs/band: exercises grouped-key pruning (auto-sizing
    // would coalesce this toy corpus to 1 dir/band — covered below)
    Similarity.writeBucketed(emb, "vec_id", "embedding", dir,
      dirsPerBand = 16)

    // one replica per band: band=0..3 dirs, each with >1 bucket=G subdir
    val bandDirs = Files.list(Paths.get(dir)).filter(p =>
      p.getFileName.toString.startsWith("band=")).count()
    assert(bandDirs == Similarity.BandCount.toLong)
    val keys = Similarity.probeBandKeys(spark, probe)

    // EVERY band's probe scan prunes on its (band, bucket) partition dirs
    (0 until Similarity.BandCount).foreach { b =>
      val scan = AnnProbes.storedBandScan(spark, dir, b, keys(b))
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("band") &&
        plan.contains("bucket"), s"band $b plan:\n${plan.take(2000)}")
      // the pruned scan returns exactly that band-key's vectors
      val viaScan = emb.filter(
        Similarity.bandKeyCol(org.apache.spark.sql.functions.col("embedding"), b)
          === keys(b)).count()
      assert(scan.count() == viaScan)
    }

    // the multi-band stored probe itself prunes (OR of partition-col
    // point predicates) and matches the unstored banded probe exactly
    val stored = Similarity.lshTopKStored(spark, dir, "vec_id", "embedding",
      probe, 0L, 10)
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("band"),
      plan.take(2000))
    val scanSide = AnnProbes
      .lshTopKBanded(emb, "vec_id", "embedding", probe, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(stored.select("vec_id").as[Long].collect().toSeq == scanSide)
  }

  it("auto-sized layout coalesces tiny corpora into few dirs, " +
     "same answers as the full-granularity layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ann-bucketed-auto-").toString
    Similarity.writeBucketed(emb, "vec_id", "embedding", dir)
    // toy corpus (< AnnTargetRowsPerDir rows) → exactly 1 dir per band,
    // not 2^BandBits tiny files
    assert(Similarity.ensureCommitted(dir) == 1)
    val bucketDirs = Files.list(Paths.get(dir, "band=0")).filter(p =>
      p.getFileName.toString.startsWith("bucket=")).count()
    assert(bucketDirs == 1L)
    val stored = Similarity.lshTopKStored(spark, dir, "vec_id", "embedding",
      probe, 0L, 10)
    val scanSide = AnnProbes
      .lshTopKBanded(emb, "vec_id", "embedding", probe, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(stored.select("vec_id").as[Long].collect().toSeq == scanSide)
  }

  it("embedding near-dup = SRP bands propose ∩ exact cosine ≥ τ, " +
     "and never builds a cartesian product") {
    import spark.implicits._
    val nd = Similarity.embeddingNearDup(emb, "vec_id", "embedding", 0.2)
    val plan = nd.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))

    val got = nd.select("a_id", "b_id", "sim")
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got.nonEmpty)
    // every reported pair shares ≥1 band bucket and its sim is the exact
    // deterministic-fold cosine, ≥ the threshold
    val bands = Similarity.srpBands(emb, "vec_id", "embedding")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    got.foreach { case ((a, b), sim) =>
      assert(a < b)
      assert(bands(a).intersect(bands(b)).nonEmpty, s"($a,$b) shares no band")
      assert(sim == cos(vecs(a), vecs(b)) && sim >= 0.2)
    }
    // and completeness: every band-sharing pair above τ is reported
    val expected = for {
      (a, ba) <- bands.toSeq; (b, bb) <- bands.toSeq
      if a < b && ba.intersect(bb).nonEmpty && cos(vecs(a), vecs(b)) >= 0.2
    } yield (a, b)
    assert(got.keySet == expected.toSet)
  }

  it("near-dup verify joins degrade to a shuffle when the candidate set " +
     "exceeds the broadcast budget — same answer, no broadcast") {
    import spark.implicits._
    val base = Similarity.embeddingNearDup(emb, "vec_id", "embedding", 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val forced = Similarity.embeddingNearDup(emb, "vec_id", "embedding",
      0.2, broadcastBudgetBytes = 0L)
    val rows = forced.as[(Long, Long, Double)].collect().toSet
    assert(rows == base)
    // the verify joins (keys a_id / b_id) must not be broadcast on the
    // over-budget path; the propose/semi-join stages may still broadcast
    // (they are corpus-bounded, not candidate-bounded)
    val plan = forced.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[(a_id|b_id)".r.findFirstIn(plan).isEmpty,
      plan.take(3000))
    assert("ShuffledHashJoin \\[(a_id|b_id)".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  it("embedding near-dup handles empty survivor and empty candidate sets") {
    // threshold above any possible cosine → candidates exist, none survive
    assert(Similarity.embeddingNearDup(emb, "vec_id", "embedding", 1.1)
      .count() == 0L)
    // a single vector shares no bucket with anyone → no candidates at all
    assert(Similarity.embeddingNearDup(emb.limit(1), "vec_id", "embedding",
      -1.0).count() == 0L)
  }

  it("stored probe refuses an uncommitted layout dir") {
    val dir = Files.createTempDirectory("ann-uncommitted-").toString
    intercept[IllegalArgumentException] {
      Similarity.lshTopKStored(spark, dir, "vec_id", "embedding", probe, 0L, 10)
    }
  }
}
