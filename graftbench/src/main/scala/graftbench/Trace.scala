package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call. `parent` is -1 for a root (one operation: a query, a
  * batch, a micro-batch); `op` is the operation id every span of that
  * operation shares. Off-path roots time extra calls made only to split
  * a cost the operation paid inside one public call (they are not part
  * of any operation's wall time). */
final case class Span(id: Int, parent: Int, name: String, op: Long,
                      startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, offPath: Boolean) {
  def durNs: Long = endNs - startNs
}

/** Spans around the benchmark's calls into the engine's public
  * functions, kept in memory and summarised when the run ends. While a
  * root span is open, its thread carries the Spark job group `gb-<op>`;
  * Spark local properties are inherited by threads the call creates
  * (searchBatch's pool), so every job the operation starts is attributed
  * to it by [[JobCounts]]. Disabled, every method just runs its body. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }
  private var nextId = 0
  private var on = false
  val jobs = new JobCounts

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(jobs); on = true }

  def disable(): Unit = if (on) {
    jobs.drain(sc); sc.removeSparkListener(jobs); on = false
  }

  private def record[A](name: String, op: Long, parent: Int,
                        offPath: Boolean)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    stack.set((id, op) :: stack.get)
    try f
    finally {
      stack.set(stack.get.tail)
      val sp = Span(id, parent, name, op, s0, System.nanoTime(),
        m0, System.currentTimeMillis(), offPath)
      synchronized(spans += sp)
    }
  }

  /** Root span of operation `op`. */
  def root[A](op: Long, name: String, offPath: Boolean = false)(f: => A): A =
    if (!on) f
    else {
      sc.setJobGroup(Tracer.group(op), name, interruptOnCancel = false)
      try record(name, op, -1, offPath)(f)
      finally sc.clearJobGroup()
    }

  /** Child of the span open on this thread. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else stack.get match {
      case (pid, op) :: _ => record(name, op, pid, offPath = false)(f)
      case Nil            => record(name, -1L, -1, offPath = true)(f)
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Duration minus the part of it that child spans cover. */
  def selfNs(s: Span, children: Map[Int, Seq[Span]]): Long =
    s.durNs - Tracer.unionLen(children.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))

  /** Mean duration (s) of one call of each named span. */
  def meanSeconds: Map[String, Double] =
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(_.durNs).sum / 1e9 / ss.size
    }

  /** Per operation root: the share of its wall time its child spans
    * (the calls on its blocking path) cover; the rest is the
    * benchmark's own glue between calls. */
  def pathCoverage(rootName: String): Seq[Double] = {
    val ss = all
    val children = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.filter(s => s.parent < 0 && !s.offPath && s.name == rootName)
      .map { r =>
        val covered = r.durNs - selfNs(r, children)
        covered.toDouble / math.max(1L, r.durNs)
      }
  }

  /** Per-operation Spark figures for the (non-off-path) roots named
    * `rootName`: sums over their job groups divided by their count, and
    * driver time = wall time not covered by any of its running jobs. */
  def sparkPerOp(rootName: String): Map[String, Double] = {
    val roots = all.filter(s => s.parent < 0 && !s.offPath && s.name == rootName)
    if (roots.isEmpty) return JobCounts.Fields.map(_ -> 0.0).toMap +
      ("driver_s" -> 0.0)
    val accs = roots.map(r => jobs.acc(Tracer.group(r.op)))
    val driverS = roots.zip(accs).map { case (r, a) =>
      val busy = Tracer.unionLen(a.intervals.toSeq.map { case (s, e) =>
        (math.max(s, r.startMs), math.min(e, r.endMs))
      })
      math.max(0L, (r.endMs - r.startMs) - busy) / 1e3
    }
    val n = roots.size.toDouble
    JobCounts.Fields.map(f => f -> accs.map(_.field(f)).sum / n).toMap +
      ("driver_s" -> driverS.sum / n)
  }
}

object Tracer {
  def group(op: Long): String = s"gb-$op"

  /** Total length covered by a set of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark's public listener API, keyed by job group: jobs, stages that
  * ran, tasks, executor run/CPU time, shuffle and input bytes, and each
  * job's [start, end] interval. */
final class JobCounts extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite,
      inputBytes = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    def field(f: String): Double = f match {
      case "jobs"                => jobs.toDouble
      case "stages"              => stages.toDouble
      case "tasks"               => tasks.toDouble
      case "executor_run_s"      => runMs / 1e3
      case "executor_cpu_s"      => cpuNs / 1e9
      case "shuffle_read_bytes"  => shuffleRead.toDouble
      case "shuffle_write_bytes" => shuffleWrite.toDouble
      case "input_bytes"         => inputBytes.toDouble
    }
  }

  private val groups = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val ended = mutable.HashSet.empty[Int]
  @volatile private var lastEventNs = System.nanoTime()

  def acc(g: String): Acc = synchronized(groups.getOrElseUpdate(g, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    acc(g).jobs += 1
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.get(e.jobId).foreach { case (g, t0) =>
      acc(g).intervals += ((t0, e.time))
    }
    ended += e.jobId
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(g => acc(g).stages += 1)
      lastEventNs = System.nanoTime()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until every job seen has ended, the status tracker reports no
    * active job and the listener has been quiet for 300 ms (events are
    * delivered asynchronously), at most 15 s. */
  def drain(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + 15000000000L
    def settled = synchronized(jobStart.keySet.forall(ended.contains)) &&
      sc.statusTracker.getActiveJobIds().isEmpty &&
      System.nanoTime() - lastEventNs > 300000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object JobCounts {
  val Fields: Seq[String] = Seq("jobs", "stages", "tasks", "executor_run_s",
    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "input_bytes")
}
