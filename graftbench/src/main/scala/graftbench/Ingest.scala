package graftbench

import graft.analysis.Analyzer
import graft.api.SearchEngine
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.ops.Dedup
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.Random

/** The write path, as a sequence of cycles run back to back for the
  * timed phase. One cycle, over a fresh seeded corpus:
  *  1. batch build + save of the corpus (IndexBuilder.build + IndexStore.save);
  *  2. the same corpus as [[MicroBatches]] streaming micro-batches
  *     (StreamingIndexer.processBatch), then StreamingIndexer.loadMerged;
  *  3. one near-duplicate pass over a seeded document table with
  *     planted clusters: Dedup.minhashSignature, Dedup.lshCandidates
  *     (persisted, as a pipeline persists the propose→verify boundary),
  *     Dedup.jaccardVerify.
  * The serving workloads pay step 1 only in set-up; here it is the run. */
object Ingest {
  val MicroBatches = 4
  val Shingle = 3
  val Threshold = 0.5
  /** Tokens per planted document. */
  val DedupLen = 40

  private sealed trait Step
  private case object BuildSave extends Step
  private final case class Micro(i: Int) extends Step
  private case object Merge extends Step
  private case object DedupPass extends Step
  private val CycleSteps: Seq[Step] =
    Seq(BuildSave) ++ (0 until MicroBatches).map(Micro) ++ Seq(Merge, DedupPass)

  private def streamCfg(env: Env) =
    IndexConfig(env.cfg, buckets = 8, fields = Check.Fields)

  def cycleSeed(env: Env, c: Int): Long = env.seed * 7919L + c

  /** Rows [lo, hi) of the cycle's corpus, generated on the executors. */
  private def slice(env: Env, seed: Long, lo: Long, hi: Long): DataFrame = {
    val spark = env.spark
    import spark.implicits._
    spark.range(lo, hi).map(i => CorpusGen.doc(i, seed)).toDF()
  }

  // ----------------------------------------------------------- dedup

  private def word(r: Random): String = s"w${r.nextInt(1000000)}"

  /** `n` documents in clusters: a random base document of [[DedupLen]]
    * words and up to three variants of it, each with 1-3 words
    * replaced. */
  def plantedTable(n: Int, r: Random): IndexedSeq[(Long, String)] = {
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < n) {
      val base = Array.fill(DedupLen)(word(r))
      out += base.mkString(" ")
      (0 until r.nextInt(4)).foreach { _ =>
        val v = base.clone()
        (0 until 1 + r.nextInt(3)).foreach(_ => v(r.nextInt(DedupLen)) = word(r))
        out += v.mkString(" ")
      }
    }
    out.take(n).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toIndexedSeq
  }

  /** Exact word-3-gram Jaccard, computed the way Dedup defines it:
    * lowercase `[a-z0-9]+` tokens, distinct shingles, |A∩B| / |A∪B|. */
  def exactJaccard(a: String, b: String): Double = {
    def sh(t: String) = Analyzer.rawTokens(t).toSeq.sliding(Shingle)
      .filter(_.size == Shingle).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val inter = x.intersect(y).size.toLong
    val uni = x.size.toLong + y.size - inter
    inter.toDouble / uni.toDouble
  }

  final case class DedupOut(table: IndexedSeq[(Long, String)],
                            candidates: Seq[(Long, Long)],
                            verified: Seq[(Long, Long, Double)],
                            stageS: (Double, Double, Double))

  private def dedupPass(env: Env, table: IndexedSeq[(Long, String)]): DedupOut = {
    val spark = env.spark
    import spark.implicits._
    val t = env.tracer
    val df = table.toDF("id", "text")
    def secs[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = t.span(name)(f)
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (sig, s1) = secs("ops.minhash") {
      val s = Dedup.minhashSignature(df, "id", "text", Shingle).cache()
      s.count(); s
    }
    val (cands, s2) = secs("ops.candidates") {
      val c = Dedup.lshCandidates(sig).cache()
      c.count(); c
    }
    val (verified, s3) = secs("ops.verify") {
      Dedup.jaccardVerify(df, "id", "text", cands, Shingle, Threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val candRows = cands.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    cands.unpersist(); sig.unpersist()
    DedupOut(table, candRows, verified, (s1, s2, s3))
  }

  /** The verified pairs must be exactly the candidate pairs whose exact
    * Jaccard reaches the threshold, each with its exact Jaccard (bit for
    * bit). */
  private def checkDedup(res: RunResult, c: Int, d: DedupOut): Unit = {
    val text = d.table.toMap
    val want = d.candidates.map { case (a, b) =>
      val (x, y) = (math.min(a, b), math.max(a, b))
      (x, y) -> exactJaccard(text(x), text(y))
    }.filter(_._2 >= Threshold).toMap
    val got = d.verified.map { case (a, b, j) => (math.min(a, b), math.max(a, b)) -> j }.toMap
    if (got.keySet != want.keySet)
      res.wrong(s"dedup cycle $c: verified ${got.size} pairs, expected ${want.size}")
    got.foreach { case (p, j) =>
      want.get(p).filter(w => java.lang.Double.doubleToLongBits(w) !=
        java.lang.Double.doubleToLongBits(j))
        .foreach(w => res.wrong(s"dedup cycle $c pair $p: jaccard $j want $w"))
    }
  }

  /** Share of planted pairs with exact Jaccard >= 0.8 that LSH proposed. */
  private def plantedRecall(d: DedupOut): Double = {
    val cands = d.candidates.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val t = d.table
    val close = for {
      i <- t.indices; j <- i + 1 until math.min(t.size, i + 5)
      if exactJaccard(t(i)._2, t(j)._2) >= 0.8
    } yield (t(i)._1, t(j)._1)
    if (close.isEmpty) 1.0 else close.count(cands.contains).toDouble / close.size
  }

  // ------------------------------------------------------------ run

  def run(env: Env): RunResult = {
    val res = new RunResult
    val t = env.tracer
    val dedupDocs = math.max(40, env.docs * 2 / 5)
    final class Cycle(val c: Int) {
      val seed: Long = cycleSeed(env, c)
      val snapDir: String = env.dir(s"cycle$c/snapshot")
      val streamDir: String = env.dir(s"cycle$c/stream")
      var done = 0
      var merged: Option[graft.index.Index] = None
      var dedup: Option[DedupOut] = None
    }
    val buildS, microS, dedupS = mutable.ArrayBuffer.empty[Double]
    var microDocs = 0L
    var op = 10L

    /** Runs the cycle's next step; returns its seconds. */
    def step(cy: Cycle, n: Int, timed: Boolean): Double = {
      op += 1
      res.attempted += 1
      val s = CycleSteps(cy.done)
      val t0 = System.nanoTime()
      s match {
        case BuildSave =>
          t.root(op, "ingest.build_save") {
            val built = t.span("index.build") {
              IndexBuilder.build(env.spark, CorpusGen.df(env.spark, n, cy.seed),
                IndexConfig(env.cfg, fields = Check.Fields))
            }
            t.span("index.save")(IndexStore.save(built, cy.snapDir))
          }
        case Micro(i) =>
          val (lo, hi) = (n.toLong * i / MicroBatches, n.toLong * (i + 1) / MicroBatches)
          t.root(op, "ingest.micro") {
            t.span("streaming.batch") {
              StreamingIndexer.processBatch(cy.streamDir, streamCfg(env))(
                slice(env, cy.seed, lo, hi), i.toLong)
            }
          }
          if (timed) microDocs += hi - lo
        case Merge =>
          cy.merged = Some(t.root(op, "ingest.merge") {
            t.span("streaming.merge_load")(StreamingIndexer.loadMerged(env.spark, cy.streamDir))
          })
        case DedupPass =>
          cy.dedup = Some(t.root(op, "ingest.dedup") {
            dedupPass(env, plantedTable(dedupDocs, new Random(cy.seed)))
          })
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (timed) s match {
        case BuildSave => buildS += secs
        case Micro(_)  => microS += secs
        case Merge     =>
        case DedupPass => dedupS += cy.dedup.get.stageS.productIterator
            .map(_.asInstanceOf[Double]).sum
      }
      cy.done += 1
      secs
    }

    // Set-up: one small cycle, so the timed cycles run warm.
    val warm = new Cycle(-1)
    while (warm.done < CycleSteps.size) step(warm, math.max(40, env.docs / 10), timed = false)
    val setupS = env.sinceStart

    // A phase runs whole cycles (the Rounds rule), so every step is
    // measured in every run. Returns every step's latency (ms).
    val cycles = mutable.ArrayBuffer.empty[Cycle]
    def phase(): Seq[Double] = {
      val lat = mutable.ArrayBuffer.empty[Double]
      Rounds.run(env.seconds) { _ =>
        val cy = new Cycle(cycles.size)
        cycles += cy
        while (cy.done < CycleSteps.size) {
          try lat += step(cy, env.docs, timed = true) * 1e3
          catch {
            case e: Exception =>
              res.wrong(s"cycle ${cy.c} step ${cy.done}: $e"); cy.done += 1
          }
        }
      }
      lat.toSeq
    }
    val cpu0 = env.cpuMs
    val lat = phase()
    val cpuPerOp = (env.cpuMs - cpu0) / lat.size
    // End-to-end figures come from the untraced phase only.
    val (builds, micros, dedups, docsIn) =
      (buildS.toList, microS.toList, dedupS.toList, microDocs)
    if (env.trace) {
      t.enable()
      val tlat = phase()
      t.disable()
      res.layers("trace.overhead_ratio") = Stats.overhead(lat ++ phase(), tlat)
    }
    val heap = Main.heapAfterGcMb()

    // Checks, on cycle 0.
    val c0 = cycles.head
    val docs0 = Check.corpus(env.docs, c0.seed)
    val ref = Check.oracle(docs0, env.cfg)
    val batchEng = new SearchEngine(IndexStore.load(env.spark, c0.snapDir), env.cfg)
    val streamEng = c0.merged.map(new SearchEngine(_, env.cfg))
    if (streamEng.isEmpty) res.wrong("cycle 0 has no merged streaming index")
    val pr = env.rng("probe")
    val probes = Seq("bm25_text", "ranked_near", "fields")
      .map(Queries.interactive(_, pr))
    val inputDigest = new Digest
    docs0.foreach(d => inputDigest.add(Check.extid(d)).add(d.content))
    val rankDigest = new Digest
    var good: Option[Check.Ranking] = None
    probes.foreach { q =>
      inputDigest.add(q.text)
      res.attempted += 1
      try {
        def top(e: SearchEngine) = e.search(q.text, q.model, Serve.K).collect()
          .sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[String]("extid"), r.getAs[Double]("score"))).toSeq
        val b = top(batchEng)
        streamEng.foreach(e => Check.diff(top(e), b)
          .foreach(d => res.wrong(s"stream vs batch `${q.text}`: $d")))
        Check.diff(b, ref.topkQuery(q.text, q.model, Serve.K))
          .foreach(d => res.wrong(s"batch vs oracle `${q.text}`: $d"))
        Check.digestRanking(rankDigest, q.text, b)
        if (good.isEmpty && b.nonEmpty) good = Some(b)
      } catch { case e: Exception => res.wrong(s"probe `${q.text}`: $e") }
    }
    val ok = good.forall(Check.selfTest)
    res.info("selftest_corruption_detected") = ok
    if (!ok) res.wrong("self-test: a corrupted ranking was not detected")
    cycles.filter(_.dedup.isDefined).foreach(cy => checkDedup(res, cy.c, cy.dedup.get))
    c0.dedup.foreach { d0 =>
      d0.table.foreach { case (_, text) => inputDigest.add(text) }
      d0.verified.sortBy(p => (p._1, p._2)).foreach { case (a, b, j) =>
        rankDigest.add(s"$a-$b-${java.lang.Double.doubleToLongBits(j)}")
      }
      res.info("dedup_planted_recall_j08") = plantedRecall(d0)
    }

    val snapBytes = Main.bytesUnder(c0.snapDir)
    val ratio = snapBytes.toDouble / Check.contentBytes(docs0)
    val microP50 = Stats.median(micros) * 1e3
    val ingestPerS = docsIn / micros.sum
    val buildPerS = env.docs / Stats.median(builds)
    val dedupPerS = dedupDocs / Stats.median(dedups)

    res.info("input_digest") = inputDigest.hex
    res.info("ranking_digest") = rankDigest.hex
    res.info("cycles_started") = cycles.size
    res.info("micro_batches_timed") = micros.size
    res.info("builds_timed") = builds.size
    res.info("dedup_passes_timed") = dedups.size
    res.info("dedup_docs") = dedupDocs
    res.info("snapshot_bytes") = snapBytes

    val e = res.endToEnd
    e("setup_s") = Metric(setupS, "s")
    e("op_geomean_ms") = Metric(Stats.geomean(lat), "ms")
    e("cpu_ms_per_op") = Metric(cpuPerOp, "ms")
    e("snapshot_bytes_per_input_byte") = Metric(ratio, "ratio")
    e("heap_after_gc_mb") = Metric(heap, "MB")
    val n = res.named
    n("setup_s") = e("setup_s")
    n("build_docs_per_s") = Metric(buildPerS, "docs/s")
    n("ingest_docs_per_s") = Metric(ingestPerS, "docs/s")
    n("micro_batch_p50_ms") = Metric(microP50, "ms")
    n("snapshot_bytes_per_input_byte") = e("snapshot_bytes_per_input_byte")
    n("dedup_docs_per_s") = Metric(dedupPerS, "docs/s")
    n("heap_after_gc_mb") = e("heap_after_gc_mb")
    n("error_rate") = Metric(res.failed.toDouble / math.max(1L, res.attempted), "ratio")

    if (env.trace) layers(env, res, docs0, ratio, cycles.flatMap(_.dedup).toSeq)
    res
  }

  private def layers(env: Env, res: RunResult, docs: Seq[graft.corpus.CorpusDoc],
                     ratio: Double, passes: Seq[DedupOut]): Unit = {
    val mean = env.tracer.meanSeconds
    val l = res.layers
    Seq("index.build", "index.save", "streaming.batch", "streaming.merge_load",
      "ops.minhash", "ops.candidates", "ops.verify").foreach(s =>
      l(s"${s}_s") = Metric(mean.getOrElse(s, 0.0), "s"))
    l("index.bytes_written_per_input_byte") = Metric(ratio, "ratio")
    val roots = env.tracer.all.filter(_.parent < 0)
    def perRoot(name: String, f: String): Double = {
      val rs = roots.filter(_.name == name)
      if (rs.isEmpty) 0.0
      else rs.map(r => env.tracer.jobs.acc(Tracer.group(r.op)).field(f)).sum / rs.size
    }
    l("spark.shuffle_write_bytes") =
      Metric(perRoot("ingest.build_save", "shuffle_write_bytes"), "bytes")
    val cands = passes.map(_.candidates.size).sum.toDouble
    l("ops.candidates") = Metric(cands / math.max(1, passes.size), "count")
    l("ops.verified_ratio") = Metric(
      if (cands == 0) 0.0 else passes.map(_.verified.size).sum / cands, "ratio")
    l("analysis.tokens_per_s") = Metric(tokensPerS(env, docs), "1/s")
  }

  /** Analyzer.tokenize over the corpus text, no Spark. */
  def tokensPerS(env: Env, docs: Seq[graft.corpus.CorpusDoc]): Double = {
    var tokens = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L)
      docs.foreach(d => tokens += Analyzer.tokenize(d.content, env.cfg).length)
    tokens / ((System.nanoTime() - t0) / 1e9)
  }
}
