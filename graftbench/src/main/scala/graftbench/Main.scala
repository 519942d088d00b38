package graftbench

import graft.analysis.AnalyzerConfig
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.util.Random

/** What every workload gets: the session, the run's parameters and its
  * scratch directory. */
final case class Env(spark: SparkSession, seed: Long,
                     seconds: Double, trace: Boolean, docs: Int,
                     work: Path, jvmStartMs: Long) {
  val cfg: AnalyzerConfig = AnalyzerConfig.code
  val tracer = new Tracer(spark.sparkContext)

  /** An independent random stream per purpose, all derived from the seed. */
  def rng(purpose: String): Random =
    new Random(seed * 1000003L + purpose.hashCode)

  def dir(name: String): String = work.resolve(name).toString

  /** Seconds since the JVM started: set-up time includes Spark's start. */
  def sinceStart: Double =
    (System.currentTimeMillis() - jvmStartMs) / 1e3

  /** CPU time of the whole process (driver, executor, GC and JIT
    * threads alike, since Spark runs in-process), in ms. */
  def cpuMs: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e6
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> [--docs <n>] [--work <dir>] [--spans <file>]`.
  *
  * Prints two JSON lines on stdout: a report (every figure of the run
  * under its workload-specific name, the input and ranking digests, the
  * sample counts) and, last, the result line for machines:
  * `{"correct", "attempted", "failed", "metrics"}`, whose metrics are
  * the end-to-end figures untraced and the per-layer figures traced.
  */
object Main {
  val Workloads: Seq[String] =
    Seq("serve_interactive", "serve_batch", "index_ingest")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload),
      s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val docs = opts.getOrElse("docs", "1000").toInt
    val work = Paths.get(opts.getOrElse("work", "graftbench-work"))
      .toAbsolutePath
    Files.createDirectories(work)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    // run.py sets the count with -XX:ActiveProcessorCount.
    val cores = Runtime.getRuntime.availableProcessors()
    // The settings graft.api.Main serves with.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val env = Env(spark, seed, seconds, trace, docs, work, jvmStartMs)
    val res = workload match {
      case "serve_interactive" => Serve.interactive(env)
      case "serve_batch"       => Serve.batch(env)
      case "index_ingest"      => Ingest.run(env)
    }
    graft.util.SparkQuiesce.stop(spark)
    opts.get("spans").filter(_ => trace).foreach(writeSpans(_, env.tracer.all))

    res.info("error_rate") = res.failed.toDouble / math.max(1L, res.attempted)
    res.info("mismatches") = res.mismatches.take(5).toSeq
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "docs" -> docs) ++ res.info ++
      Seq("metrics" -> res.named, "end_to_end" -> res.endToEnd) ++
      (if (trace) Seq("layers" -> res.layers) else Nil)
    println(Json(report))
    val metrics = if (trace) res.layers else res.endToEnd
    println(Json(scala.collection.mutable.LinkedHashMap[String, Any](
      "correct" -> (res.mismatches.isEmpty && res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> metrics)))
    System.out.flush()
  }

  /** Driver heap after a full GC, in MB — the figure
    * graft.api.Main.printMemoryUsage prints. Spark's ContextCleaner
    * releases shuffles and broadcasts whose handles a collection found
    * unreachable asynchronously, so one collection can leave them live;
    * collections repeat until two in a row read within 1 MB. */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    def usedAfterGc(): Double = {
      rt.gc()
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }
    var last = usedAfterGc()
    var tries = 0
    var settled = false
    while (!settled && tries < 8) {
      Thread.sleep(300)
      val now = usedAfterGc()
      settled = math.abs(now - last) < 1.0
      last = now
      tries += 1
    }
    last
  }

  /** The traced run's spans, one JSON object per line. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    val lines = spans.sortBy(_.startNs).map { s =>
      Json(scala.collection.mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "dur_ms" -> s.durNs / 1e6,
        "off_path" -> s.offPath))
    }
    Files.write(p, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** Bytes of the regular files under `dir`, Hadoop checksum files
    * excluded. */
  def bytesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
    } finally s.close()
  }
}
