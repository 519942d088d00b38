package graft

import graft.analysis.AnalyzerConfig
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.model.{BM25, Indri, RankedBoolean}
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Scaling-efficiency evidence (north rule: ≥0.8 throughput scaling from
  * N to 4N executors). No real cluster exists in this sandbox, so the
  * same job runs at two `local[k]` parallelism levels on the SAME
  * deterministic synthetic input (BASELINE.md §targets), each level in a
  * FRESH JVM (`sbt runMain` per level) so heap/GC state cannot bias the
  * comparison, with `reps` repetitions reporting the minimum
  * (steady-state) wall-clock.
  *
  *   job    = full index build: tokenize → salted postings → doclen/
  *            compressed blocks/fwdindex derivations → snapshot commit
  *            (`IndexBuilder.build` + `IndexStore.save`)
  *   metric = files/sec; efficiency = (thru_4N / thru_N) / 4
  *
  * Usage:
  *   runMain graft.ScalingBench build <cores> <nDocs> <reps>
  *   runMain graft.ScalingBench queries <cores> <nDocs>
  * Each prints one JSON line; BENCH/BASELINE.md records both levels.
  */
object ScalingBench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // partition count sized by DATA (≥ the 64 segment buckets), not by
      // core count — tying it to cores gives the low-parallelism level
      // giant spilling sort partitions and falsifies the scaling
      // comparison; a real cluster job fixes this per dataset too
      .config("spark.sql.shuffle.partitions",
        math.max(cores, 64).toString)
      // AQE on: measured 57.5s vs 63.1s off at local[8]/400k — its
      // small-partition coalescing outweighs the extra stage barriers
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_AQE", "true"))
      // v2 committer: output files are renamed by the TASKS, not by a
      // serial driver loop at job end — at 6 tables × 64+ files the v1
      // driver renames are fixed per-run cost that caps scaling
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN") // under spark-submit (see Main)
      .getOrCreate()
    s
  }

  private def rmTree(dir: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
  }

  /** Full build pipeline wall-clock: corpus → index → persisted snapshot. */
  private def buildOnce(spark: SparkSession, nDocs: Long): Double = {
    val dir = Files.createTempDirectory("graft-scaling-").toString
    rmTree(dir)
    val corpus = CorpusGen.df(spark, nDocs,
      partitions = spark.sparkContext.defaultParallelism)
    val t0 = System.nanoTime()
    val idx = IndexBuilder.build(spark, corpus, IndexConfig(buckets = 64))
    IndexStore.save(idx, dir)
    val sec = (System.nanoTime() - t0) / 1e9
    rmTree(dir)
    sec
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "build"
    val cores = if (args.length > 1) args(1).toInt else 32
    val nDocs = if (args.length > 2) args(2).toLong else 20000L

    mode match {
      case "build" =>
        val reps = if (args.length > 3) args(3).toInt else 3
        val spark = session(cores)
        buildOnce(spark, 500L) // JIT/classload warmup, discarded
        val times = (0 until reps).map(_ => buildOnce(spark, nDocs))
        graft.util.SparkQuiesce.stop(spark)
        val best = times.min
        println(s"""{"metric":"scaling-build","cores":$cores,""" +
          s""""nDocs":$nDocs,"reps":$reps,""" +
          s""""buildSec":${times.mkString("[", ",", "]")},""" +
          s""""bestSec":$best,"filesPerSec":${nDocs / best}}""")

      case "queries" =>
        val spark = session(cores)
        val idx = IndexBuilder.build(spark, CorpusGen.df(spark, nDocs),
          IndexConfig(buckets = 64)).cacheAll()
        idx.postings.count() // materialize cache
        idx.blocks.count()
        val engine = new SearchEngine(idx, AnalyzerConfig.code)
        // rare+hot positional pair: a hapax identifier inside #NEAR with a
        // hot keyword — the leaf matches only in the segments the hapax
        // reaches. Term selected data-driven so any corpus works.
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        // headOption: a tiny corpus may contain no df=1 uid term — fall
        // back to the globally rarest body term rather than aborting the
        // whole benchmark on an empty Dataset
        val hapax = idx.termStats
          .filter(col("field") === "body" && col("term").startsWith("uid") &&
            col("df") === 1)
          .orderBy("term").select("term").as[String]
          .take(1).headOption.getOrElse {
            idx.termStats.filter(col("field") === "body")
              .orderBy(col("df").asc, col("term").asc)
              .select("term").as[String].head()
          }
        val rareSdm = s"#WAND(0.7 #AND(open inverted) " +
          s"0.3 #AND(#NEAR/900($hapax def)))"
        val queries = Seq(
          ("bm25", "open inverted index query", BM25(1.2f, 0.75f, 0f)),
          ("bm25_pruned", "open inverted index query", BM25(1.2f, 0.75f, 0f)),
          ("indri_sdm", "#WAND(0.7 #AND(open inverted) " +
            "0.2 #AND(#NEAR/1(inverted index)) " +
            "0.1 #AND(#WINDOW/8(inverted index)))", Indri(2500f, 0.4f)),
          ("indri_sdm_pruned", "#WAND(0.7 #AND(open inverted) " +
            "0.2 #AND(#NEAR/1(inverted index)) " +
            "0.1 #AND(#WINDOW/8(inverted index)))", Indri(2500f, 0.4f)),
          ("sdm_rare", rareSdm, Indri(2500f, 0.4f)),
          ("sdm_rare_pruned", rareSdm, Indri(2500f, 0.4f)),
          ("boolean_and", "#AND(def class val)", RankedBoolean),
          ("near", "#NEAR/2(inverted index)", RankedBoolean))
        def runs(warm: Boolean) = queries.map { case (name, q, m) =>
          val t0 = System.nanoTime()
          // `_pruned` rows time the routed search, their twins the
          // exhaustive `scores`: the same engine with pruning off
          val res =
            if (name.endsWith("_pruned")) engine.search(q, m, 100)
            else engine.rank(engine.scores(q, m), 100)
          res.collect()
          name -> (System.nanoTime() - t0) / 1e9
        }
        runs(false) // warmup
        // best-of-3: this VM's run-to-run noise (neighbors/thermal) can
        // triple a single sample; the minimum is the steady-state cost
        val lat = (0 until 3).map(_ => runs(true))
          .transpose.map(s => s.head._1 -> s.map(_._2).min)
        graft.util.SparkQuiesce.stop(spark)
        val latJson = lat.map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        println(s"""{"metric":"scaling-queries","cores":$cores,""" +
          s""""nDocs":$nDocs,"queryLatencySec":$latJson}""")

      case other => sys.error(s"unknown mode $other")
    }
  }
}
