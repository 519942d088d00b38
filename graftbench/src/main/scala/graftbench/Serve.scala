package graftbench

import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.exec.{Expansion, Planner}
import graft.index.{Index, IndexBuilder, IndexConfig, IndexStore, PostingCodec}
import graft.model._
import scala.collection.mutable

/** The two serving workloads. Both serve a persisted snapshot of a
  * seeded CorpusGen corpus (fields body, title, url) from one process,
  * with a single client in a closed loop: the next request is sent when
  * the previous one has returned. */
object Serve {
  val K = 100
  /** Distinct queries per interactive template class: 11 classes x 5 =
    * 55 distinct queries, more than the engine's 32-entry composite
    * scratch LRU. */
  val PoolPerClass = 5
  /** Queries per searchBatch call (one TREC run file). */
  val BatchSize = 10
  /** Rankings checked against the oracle: the first round, which every
    * run serves, so the ranking digest depends only on the seed. */
  val CheckedInteractive = Queries.interactiveClasses.size
  val CheckedBatches = 2

  final case class Snapshot(index: Index, engine: SearchEngine,
                            buildSaveS: Double, bytesPerInputByte: Double)

  /** Generate, build, save and load the served snapshot. */
  def snapshot(env: Env, res: RunResult): Snapshot = {
    import env._
    val dir = env.dir("snapshot")
    val t0 = System.nanoTime()
    tracer.root(1L, "setup.build_save") {
      val built = tracer.span("index.build") {
        IndexBuilder.build(spark, CorpusGen.df(spark, docs, seed),
          IndexConfig(cfg, fields = Check.Fields))
      }
      tracer.span("index.save")(IndexStore.save(built, dir))
    }
    val buildSaveS = (System.nanoTime() - t0) / 1e9
    val index = tracer.root(2L, "setup.load") {
      tracer.span("index.load")(IndexStore.load(spark, dir))
    }
    val ratio = Main.bytesUnder(dir).toDouble /
      Check.contentBytes(Check.corpus(docs, seed))
    res.info("snapshot_bytes") = Main.bytesUnder(dir)
    Snapshot(index, new SearchEngine(index, cfg), buildSaveS, ratio)
  }

  private def tieProne(m: RetrievalModel) =
    m == RankedBoolean || m == UnrankedBoolean

  private def ranking(rows: Seq[org.apache.spark.sql.Row]): Check.Ranking =
    rows.map(r => (r.getAs[String]("extid"), r.getAs[Double]("score")))

  /** `search(...).collect()` in rank order. Traced, it is made as the
    * public calls `search` is made of, each in its own span: parse,
    * plan, two-phase rank. */
  private def searchRows(env: Env, eng: SearchEngine, text: String,
                         model: RetrievalModel,
                         k: Int): Seq[org.apache.spark.sql.Row] = {
    val t = env.tracer
    val ranked =
      if (!t.enabled) eng.search(text, model, k)
      else {
        val ast = t.span("model.parse") {
          QueryParser.parseQuery(text, model, env.cfg).getOrElse(
            throw new IllegalArgumentException(s"Query syntax is incorrect. $text"))
        }
        val df = t.span("exec.plan")(new Planner(eng.index, model).plan(ast))
        t.span("api.rank")(eng.rank(df, k, tieProne(model)))
      }
    ranked.collect().toSeq.sortBy(_.getAs[Int]("rank"))
  }

  /** One served interactive operation: its ranking, the learned query
    * of a PRF flow, and the feedback docids a traced PRF flow read. */
  final case class Served(ranking: Check.Ranking, learned: Option[String],
                          feedbackIds: Seq[Long] = Nil)

  private def serveOne(env: Env, snap: Snapshot, op: Long, q: Query): Served =
    env.tracer.root(op, "query") {
      val eng = snap.engine
      if (!q.prf) Served(ranking(searchRows(env, eng, q.text, q.model, K)), None)
      else if (!env.tracer.enabled) {
        val (learned, combined) = eng.expand(q.text, q.model, Queries.fb)
        Served(ranking(searchRows(env, eng, combined, q.model, K)), Some(learned))
      } else {
        // SearchEngine.expand as its public parts: the feedback search,
        // Expansion.learnedQuery and the #WAND rewrite.
        val fb = Queries.fb
        val (learned, combined, topDocs) = env.tracer.span("api.expand") {
          val topDocs = searchRows(env, eng, q.text, q.model, fb.fbDocs)
            .map(r => (r.getAs[Long]("docid"), r.getAs[Double]("score")))
          val learned = env.tracer.span("exec.learn") {
            Expansion.learnedQuery(snap.index, topDocs, fb.fbMu, fb.fbTerms)
          }
          (learned, "#WAND(" + fb.fbOrigWeight + " " +
            QueryParser.addDefaultOp(q.text, q.model) + " " +
            (1 - fb.fbOrigWeight) + " " + learned + ")", topDocs)
        }
        Served(ranking(searchRows(env, eng, combined, q.model, K)),
          Some(learned), topDocs.map(_._1))
      }
    }

  /** The forward-vector read learnedQuery makes inside its call, timed
    * again off the query's path. */
  private def offPathFwdRead(env: Env, snap: Snapshot, op: Long,
                             ids: Seq[Long]): Unit =
    if (ids.nonEmpty)
      env.tracer.root(op, "index.fwd_read", offPath = true) {
        env.tracer.span("index.fwd_read")(snap.index.fwdVectors(ids).collect())
      }

  /** Rounds of the interactive mix: one query per template class, in a
    * fixed class order, each drawn with Zipf popularity from its class's
    * pool. Every seed's round has the same mix; the seed picks the
    * terms and the popular queries. `purpose` names the random stream,
    * so the timed and the traced phase draw their own picks. */
  def interactiveRounds(env: Env, purpose: String): Iterator[Seq[Query]] = {
    val pr = env.rng("pool")
    val pools = Queries.interactiveClasses.map { c =>
      val seen = mutable.LinkedHashSet.empty[Query]
      while (seen.size < PoolPerClass) seen += Queries.interactive(c, pr)
      c -> seen.toIndexedSeq
    }.toMap
    val r = env.rng(purpose)
    Iterator.continually(Queries.interactiveClasses.map(c =>
      pools(c)(Queries.zipf(r, PoolPerClass))))
  }

  /** Warm-up: one query of each of the two slowest classes, PRF and SDM,
    * drawn apart from the pools, so the timed rounds do not pay their
    * JIT and first-plan costs and find no query of their own already
    * cached. Their parts (Indri free text, #AND, #NEAR, #WINDOW, #WAND,
    * learnedQuery) cover most plan shapes of the other classes; a
    * warm-up of every class cost 19 s of a 57 s run. */
  private def warmUp(env: Env, snap: Snapshot, res: RunResult): Unit = {
    val r = env.rng("warmup")
    Seq("prf", "indri_sdm").foreach { c =>
      try serveOne(env, snap, -1L, Queries.interactive(c, r))
      catch { case e: Exception => res.info("warmup_error") = e.toString }
    }
  }

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def interactive(env: Env): RunResult = {
    val res = new RunResult
    res.info("session_ready_s") = env.sinceStart
    if (env.trace) env.tracer.enable()
    val snap = snapshot(env, res)
    env.tracer.disable()
    res.info("snapshot_ready_s") = env.sinceStart
    warmUp(env, snap, res)
    val setupS = env.sinceStart

    val served = mutable.ArrayBuffer.empty[Query]
    val answers = mutable.HashMap.empty[Int, Served]
    val byClass = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var op = 10L
    // Traced and second untraced phases run their own rounds (own Zipf
    // picks) of the same mix.
    def phase(purpose: String, record: Boolean): (Seq[Double], Double) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val rounds = interactiveRounds(env, purpose)
      val elapsed = Rounds.run(env.seconds) { _ =>
        rounds.next().foreach { q =>
          op += 1
          res.attempted += 1
          val i = served.length
          if (record) served += q
          try {
            val t0 = System.nanoTime()
            val a = serveOne(env, snap, op, q)
            val ms = msSince(t0)
            lat += ms
            if (record) {
              if (i < CheckedInteractive) answers(i) = a
              byClass.getOrElseUpdate(q.cls, mutable.ArrayBuffer.empty) += ms
            }
            offPathFwdRead(env, snap, op + 1000000L, a.feedbackIds)
          } catch {
            case e: Exception => res.wrong(s"query `${q.text}`: $e")
          }
        }
      }
      (lat.toSeq, elapsed)
    }
    val cpu0 = env.cpuMs
    val (lat, elapsed) = phase("stream", record = true)
    val cpuPerOp = (env.cpuMs - cpu0) / lat.size
    if (env.trace) {
      env.tracer.enable()
      val (tlat, _) = phase("traced", record = false)
      env.tracer.disable()
      val (ulat, _) = phase("untraced", record = false)
      layersInteractive(env, snap, res, lat ++ ulat, tlat)
    }
    val heap = Main.heapAfterGcMb()

    // Oracle checks on the first round.
    val ref = Check.oracle(Check.corpus(env.docs, env.seed), env.cfg)
    val rankDigest = new Digest
    val inputDigest = new Digest
    Check.corpus(env.docs, env.seed).foreach(d => inputDigest.add(Check.extid(d)).add(d.content))
    served.take(CheckedInteractive).zipWithIndex.foreach { case (q, i) =>
      inputDigest.add(q.text)
      answers.get(i).foreach { case Served(got, learned, _) =>
        val (wantLearned, text) =
          if (!q.prf) (None, q.text)
          else {
            val (l, c) = ref.expandQuery(q.text, q.model, Queries.fb.fbDocs,
              Queries.fb.fbTerms, Queries.fb.fbMu, Queries.fb.fbOrigWeight)
            (Some(l), c)
          }
        if (learned != wantLearned)
          res.wrong(s"query $i `${q.text}`: learned $learned want $wantLearned")
        Check.diff(got, ref.topkQuery(text, q.model, K))
          .foreach(d => res.wrong(s"query $i `${q.text}` [${q.model}]: $d"))
        Check.digestRanking(rankDigest, q.text, got)
      }
    }
    selfTest(res, answers.values.map(_.ranking).find(_.nonEmpty))

    val distinct = served.distinct.size
    res.info("input_digest") = inputDigest.hex
    res.info("ranking_digest") = rankDigest.hex
    res.info("queries_served") = lat.size
    res.info("repeat_share") = 1.0 - distinct.toDouble / math.max(1, served.size)
    res.info("prf_share") = served.count(_.prf).toDouble / math.max(1, served.size)
    res.info("pool_distinct") = Queries.interactiveClasses.size * PoolPerClass
    res.info("tail_percentile") = Stats.tailPercentile(lat.size)
    res.info("class_p50_ms") = byClass.map { case (c, xs) => c -> Stats.median(xs.toSeq) }

    val p50 = Stats.median(lat)
    val tail = Stats.percentile(lat, Stats.tailPercentile(lat.size))
    val qps = lat.size / elapsed
    res.info("rounds") = served.size / Queries.interactiveClasses.size
    common(env, res, setupS, snap, heap, Stats.geomean(lat), cpuPerOp)
    res.named("query_p50_ms") = Metric(p50, "ms")
    res.named("query_tail_ms") = Metric(tail, "ms")
    res.named("queries_per_s") = Metric(qps, "1/s")
    res
  }

  private def selfTest(res: RunResult, good: Option[Check.Ranking]): Unit = {
    val ok = good.forall(Check.selfTest)
    res.info("selftest_corruption_detected") = ok
    if (!ok) res.wrong("self-test: a corrupted ranking was not detected")
  }

  /** End-to-end figures of both serving workloads; run.py prints the ones
    * BENCHMARK.json gates on the result line. */
  private def common(env: Env, res: RunResult, setupS: Double, snap: Snapshot,
                     heap: Double, geomeanMs: Double, cpuPerOp: Double): Unit = {
    val e = res.endToEnd
    e("setup_s") = Metric(setupS, "s")
    e("op_geomean_ms") = Metric(geomeanMs, "ms")
    e("cpu_ms_per_op") = Metric(cpuPerOp, "ms")
    e("snapshot_bytes_per_input_byte") = Metric(snap.bytesPerInputByte, "ratio")
    e("heap_after_gc_mb") = Metric(heap, "MB")
    res.named("setup_s") = e("setup_s")
    res.named("build_docs_per_s") = Metric(env.docs / snap.buildSaveS, "docs/s")
    res.named("snapshot_bytes_per_input_byte") = e("snapshot_bytes_per_input_byte")
    res.named("heap_after_gc_mb") = e("heap_after_gc_mb")
    res.named("error_rate") =
      Metric(res.failed.toDouble / math.max(1L, res.attempted), "ratio")
  }

  // ------------------------------------------------------------ batch

  def batch(env: Env): RunResult = {
    val res = new RunResult
    if (env.trace) env.tracer.enable()
    val snap = snapshot(env, res)
    env.tracer.disable()
    // Warm-up: one batch per model, distinct from the timed batches.
    val wr = env.rng("warmup")
    Seq[RetrievalModel](BM25(), Indri()).foreach { m =>
      try snap.engine.searchBatch(
        (0 until BatchSize).map(i => i -> Queries.batchQuery(m, i, wr).text), m, K)
      catch { case e: Exception => res.info("warmup_error") = e.toString }
    }
    val setupS = env.sinceStart

    // Every query of the run is distinct: caches cannot help.
    val r = env.rng("stream")
    val seen = mutable.HashSet.empty[String]
    def nextBatch(b: Int): (RetrievalModel, Seq[(Int, String)]) = {
      val m: RetrievalModel = if (b % 2 == 0) BM25() else Indri()
      val qs = mutable.ArrayBuffer.empty[String]
      var tries = 0
      while (qs.size < BatchSize) {
        val q = Queries.batchQuery(m, qs.size, r).text
        if (seen.add(q)) qs += q
        tries += 1
        require(tries < 10000, "ran out of distinct batch queries")
      }
      (m, qs.zipWithIndex.map { case (q, i) => (b * 1000 + i, q) }.toSeq)
    }
    val batches = mutable.ArrayBuffer.empty[(RetrievalModel, Seq[(Int, String)])]
    val answers = mutable.HashMap.empty[Int, Map[Int, Check.Ranking]]
    var op = 10L
    /** Serves batch `b`; returns its latency (ms). */
    def runBatch(b: Int): Double = {
      val (m, qs) = batches(b)
      op += 1
      res.attempted += 1
      val t0 = System.nanoTime()
      val out = env.tracer.root(op, "batch") {
        env.tracer.span("api.batch")(snap.engine.searchBatch(qs, m, K))
      }
      val ms = msSince(t0)
      if (b < CheckedBatches)
        answers(b) = out.map { case (qid, rows) =>
          qid -> rows.map { case (_, e, _, s) => (e, s) }
        }.toMap
      if (env.tracer.enabled) planProbe(env, snap, m, qs)
      ms
    }
    // A round is one BM25 and one Indri batch.
    def phase(): (Seq[Double], Double) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val elapsed = Rounds.run(env.seconds) { _ =>
        (0 until 2).foreach { _ =>
          val b = batches.length
          batches += nextBatch(b)
          try lat += runBatch(b)
          catch { case e: Exception => res.wrong(s"batch $b: $e") }
        }
      }
      (lat.toSeq, elapsed)
    }
    val cpu0 = env.cpuMs
    val (lat, elapsed) = phase()
    val cpuPerOp = (env.cpuMs - cpu0) / lat.size
    if (env.trace) {
      env.tracer.enable()
      val (tlat, _) = phase()
      env.tracer.disable()
      val (ulat, _) = phase()
      layersBatch(env, snap, res, lat ++ ulat, tlat)
    }
    val heap = Main.heapAfterGcMb()

    val ref = Check.oracle(Check.corpus(env.docs, env.seed), env.cfg)
    val rankDigest = new Digest
    val inputDigest = new Digest
    Check.corpus(env.docs, env.seed).foreach(d => inputDigest.add(Check.extid(d)).add(d.content))
    (0 until CheckedBatches).foreach { b =>
      val (m, qs) = batches(b)
      qs.foreach { case (qid, text) =>
        inputDigest.add(text)
        answers.get(b).foreach { got =>
          val g = got.getOrElse(qid, Nil)
          Check.diff(g, ref.topkQuery(text, m, K))
            .foreach(d => res.wrong(s"batch $b query `$text` [$m]: $d"))
          Check.digestRanking(rankDigest, text, g)
        }
      }
    }
    selfTest(res, answers.values.flatMap(_.values).find(_.nonEmpty))

    val nq = lat.size * BatchSize
    res.info("input_digest") = inputDigest.hex
    res.info("ranking_digest") = rankDigest.hex
    res.info("batches_served") = lat.size
    res.info("batch_size") = BatchSize
    res.info("repeat_share") = 0.0
    val p50 = Stats.median(lat)
    common(env, res, setupS, snap, heap, Stats.geomean(lat), cpuPerOp)
    res.named("batch_p50_s") = Metric(p50 / 1e3, "s")
    res.named("queries_per_s") = Metric(nq / elapsed, "1/s")
    res
  }

  /** searchBatch plans its queries serially inside one call; time that
    * planning off the batch's path, query by query. */
  private def planProbe(env: Env, snap: Snapshot, m: RetrievalModel,
                        qs: Seq[(Int, String)]): Unit =
    qs.foreach { case (qid, text) =>
      env.tracer.root(-1000L - qid, "plan_probe", offPath = true) {
        val ast = env.tracer.span("model.parse") {
          QueryParser.parseQuery(text, m, env.cfg).get
        }
        env.tracer.span("exec.plan")(new Planner(snap.index, m).plan(ast))
      }
    }

  // ------------------------------------------------------- layer figures

  private def layerSetup(env: Env, res: RunResult, snap: Snapshot): Unit = {
    val mean = env.tracer.meanSeconds
    val l = res.layers
    l("index.build_s") = Metric(mean.getOrElse("index.build", 0.0), "s")
    l("index.save_s") = Metric(mean.getOrElse("index.save", 0.0), "s")
    l("index.load_s") = Metric(mean.getOrElse("index.load", 0.0), "s")
    l("index.bytes_written_per_input_byte") = Metric(snap.bytesPerInputByte, "ratio")
    l("spark.shuffle_write_bytes") = Metric(
      env.tracer.jobs.acc(Tracer.group(1L)).field("shuffle_write_bytes"), "bytes")
  }

  private def layerSpark(env: Env, res: RunResult, root: String,
                         perQuery: Double): Unit = {
    val s = env.tracer.sparkPerOp(root)
    def put(name: String, f: String, unit: String) =
      res.layers(s"spark.${name}_per_query") = Metric(s(f) / perQuery, unit)
    put("jobs", "jobs", "count")
    put("stages", "stages", "count")
    put("tasks", "tasks", "count")
    put("driver_s", "driver_s", "s")
    put("executor_run_s", "executor_run_s", "s")
    put("executor_cpu_s", "executor_cpu_s", "s")
    put("shuffle_read_bytes", "shuffle_read_bytes", "bytes")
    put("shuffle_write_bytes", "shuffle_write_bytes", "bytes")
    put("input_bytes", "input_bytes", "bytes")
  }

  private def layersInteractive(env: Env, snap: Snapshot, res: RunResult,
                                untraced: Seq[Double], traced: Seq[Double]): Unit = {
    layerSetup(env, res, snap)
    val mean = env.tracer.meanSeconds
    Seq("model.parse", "exec.plan", "api.rank", "api.expand", "exec.learn",
      "index.fwd_read").foreach(n =>
      res.layers(s"${n}_s") = Metric(mean.getOrElse(n, 0.0), "s"))
    layerSpark(env, res, "query", 1.0)
    val cov = env.tracer.pathCoverage("query")
    res.layers("trace.path_coverage") =
      Metric(if (cov.isEmpty) 0.0 else Stats.median(cov), "ratio")
    res.info("path_coverage_min") = if (cov.isEmpty) 0.0 else cov.min
    res.layers("index.decode_mb_per_s") = Metric(decodeMbPerS(env, res), "MB/s")
    res.layers("trace.overhead_ratio") = Stats.overhead(untraced, traced)
  }

  private def layersBatch(env: Env, snap: Snapshot, res: RunResult,
                          untraced: Seq[Double], traced: Seq[Double]): Unit = {
    layerSetup(env, res, snap)
    val mean = env.tracer.meanSeconds
    Seq("model.parse", "exec.plan", "api.batch").foreach(n =>
      res.layers(s"${n}_s") = Metric(mean.getOrElse(n, 0.0), "s"))
    layerSpark(env, res, "batch", BatchSize.toDouble)
    res.layers("trace.overhead_ratio") = Stats.overhead(untraced, traced)
  }

  /** PostingCodec.decode over every block of the served snapshot, no
    * Spark in the timed loop; MB of encoded blocks per second. Each
    * block's decoded docid range is checked against its metadata. */
  def decodeMbPerS(env: Env, res: RunResult): Double = {
    val blocks = env.spark.read.parquet(env.dir("snapshot") + "/postings_blocks")
      .select("block", "firstDocid", "lastDocid").collect()
      .map(r => (r.getAs[Array[Byte]](0), r.getLong(1), r.getLong(2)))
    val bytes = blocks.map(_._1.length.toLong).sum
    blocks.foreach { case (b, first, last) =>
      val ps = PostingCodec.decode(b, first)
      if (ps.isEmpty || ps.head.docid != first || ps.last.docid != last)
        res.wrong(s"decode: block [$first, $last] decoded to a different range")
    }
    var reps = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) {
      blocks.foreach { case (b, first, _) => PostingCodec.decode(b, first) }
      reps += 1
    }
    bytes * reps / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }
}
