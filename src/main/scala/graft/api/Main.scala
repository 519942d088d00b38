package graft.api

import graft.analysis.AnalyzerConfig
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.model.RetrievalModel
import org.apache.spark.sql.SparkSession

/** spark-submit entry point — the reference's `QryEval.main`
  * (`QryEval/src/QryEval.java:59-230`) re-expressed: parameter file in,
  * TREC run file out.
  *
  * Parameters (reference names kept, `QryEval/parameter.txt`):
  *   corpusPath=<parquet of (repo,path,commit,lang,content)>  (or
  *   corpusSynthetic=<n docs> for the seeded generator)
  *   indexPath=<dir>   — if present and built, reused; else built+saved
  *   retrievalAlgorithm=UnrankedBoolean|RankedBoolean|BM25|Indri
  *   BM25:k_1= BM25:b= BM25:k_3=  Indri:mu= Indri:lambda=
  *   queryFilePath=<id:querytext lines>
  *   trecEvalOutputPath=<output>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: Main <paramFile>")
    val params = ParamFile.load(args(0))

    val builder = SparkSession.builder()
      .appName("graft-search")
    // spark-submit injects spark.master; default for direct JVM launches.
    if (!sys.props.contains("spark.master"))
      builder.master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val spark = builder
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS",
          Runtime.getRuntime.availableProcessors().toString))
      .config("spark.sql.adaptive.enabled", "true")
      // task-side output commit (see ScalingBench.session)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // spark-submit configures logging before the app jar (and its
      // log4j2.properties) is on the classpath: set WARN at context start
      .config("spark.log.level", "WARN")
      .getOrCreate()

    val algorithm = params.getOrElse("retrievalAlgorithm", "UnrankedBoolean")
    val letor = algorithm.equalsIgnoreCase("letor")
    val model =
      if (letor) null // E3 branch below; scoring model per phase
      else RetrievalModel.fromParams(params)
    val cfg = AnalyzerConfig.code

    val index = params.get("indexPath") match {
      case Some(dir) if IndexStore.exists(dir) => IndexStore.load(spark, dir)
      case maybeDir =>
        val corpus = params.get("corpusPath") match {
          case Some(p) => spark.read.parquet(p)
          case None =>
            val n = params.getOrElse("corpusSynthetic", "2000").toLong
            CorpusGen.df(spark, n)
        }
        // all reference fields (`QryEval/src/QryEval.java:467`), override
        // with fields=a,b,c to index fewer
        val fields = params.getOrElse("fields",
          "body,title,url,inlink,keywords").split(",").map(_.trim).toSeq
        val built = IndexBuilder.build(spark, corpus,
          IndexConfig(cfg, fields = fields))
        maybeDir match {
          case Some(dir) =>
            IndexStore.save(built, dir)
            IndexStore.load(spark, dir) // serve from the committed snapshot
          case None => built.cacheAll()
        }
    }

    val engine = new SearchEngine(index, cfg)

    if (letor) {
      // E3: train on qrels → rerank the BM25 top-100 per test query
      // (`QryEval/src/QryEval.java:125-226`)
      val t0 = System.nanoTime()
      graft.exec.LeToRRun.run(engine, params, cfg)
      printMemoryUsage(gc = true)
      println(f"Total running time: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      graft.util.SparkQuiesce.stop(spark)
      return
    }

    val out = params("trecEvalOutputPath")
    new java.io.File(out).delete() // reference appends; start fresh per run

    val fb = params.get("fb").exists(_.equalsIgnoreCase("true"))
    params.get("fbExpansionQueryFile").foreach(new java.io.File(_).delete())

    val t0 = System.nanoTime()
    val queries = ParamFile.loadQueries(params("queryFilePath"))
    if (!fb) {
      // Batched E1 (round-4 VERDICT item 6): concurrent phase-1 jobs, one
      // shared extid lookup — instead of 2-3 serial driver round-trips
      // per query.
      engine.searchBatch(queries, model, 100).foreach { case (qid, rows) =>
        TrecWriter.append(out, qid,
          rows.map { case (_, extid, rank, score) => (extid, rank, score) })
      }
    } else queries.foreach { case (qid, q0) =>
      // PRF rewrite (`QryEval/src/QryEval.java:154-185`) — inherently
      // serial per query: the expansion's feedback pass precedes the
      // final ranking.
      val fbp = graft.exec.Expansion.FbParams(
        params("fbDocs").toInt, params("fbTerms").toInt,
        params("fbMu").toDouble, params("fbOrigWeight").toDouble)
      val initial = params.get("fbInitialRankingFile").map { f =>
        TrecWriter.readTopDocs(f, qid, fbp.fbDocs, engine.index)
      }
      val (learned, combined) = engine.expand(q0, model, fbp, initial)
      params.get("fbExpansionQueryFile").foreach { f =>
        val w = new java.io.BufferedWriter(new java.io.FileWriter(f, true))
        try w.write(s"$qid: $learned\n") finally w.close() // QryEval.java:617-632
      }
      val ranked = engine.search(combined, model, 100)
      TrecWriter.writeResults(out, qid, ranked)
    }
    // Reference prints post-GC memory then total running time
    // (`QryEval.java:228-230,502-512`).
    printMemoryUsage(gc = true)
    println(f"Total running time: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    graft.util.SparkQuiesce.stop(spark)
  }

  /** `QryEval.printMemoryUsage` (`QryEval.java:494-512`). */
  def printMemoryUsage(gc: Boolean): Unit = {
    val rt = Runtime.getRuntime
    if (gc) rt.gc()
    println("Memory used:  " +
      (rt.totalMemory() - rt.freeMemory()) / (1024L * 1024L) + " MB")
  }
}
