package graft

import graft.api.EntryQueries
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every driver-contract
  * query on `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  * The index build (shared by the search-engine queries) is timed
  * separately as `build` so per-query numbers are pure query cost. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Shared-artifact phases timed SEPARATELY (round-2 VERDICT item 4:
    // one merged number let an index-build regression hide inside the
    // signature materialization): `build` = 5-field index build + cache,
    // `signatures` = the shared MinHash table, `annLayout` = the
    // per-band bucketed ANN replicas, `streamingIngest` = the two
    // committed streaming segments q_streaming_doclen merges.
    val buildSec = time {
      val c = EntryQueries.ctx(spark, sfDir)
      c.index.postings.count(); c.index.doclen.count()
      c.index.termStats.count(); c.index.docs.count()
      c.index.blocks.count() // the compressed serving form
    }
    // signatures phase covers BOTH shared dedup artifacts: the MinHash
    // table and the persisted LSH candidate-pair table derived from it
    // (the propose→verify stage boundary; see EntryQueries.lshCands)
    val sigSec = time {
      EntryQueries.minhashSig(spark, sfDir).count()
      EntryQueries.lshCands(spark, sfDir).count()
    }
    val annSec = time { EntryQueries.annBucketedDir(spark, sfDir) }
    val streamSec = time { EntryQueries.streamingDir(spark, sfDir) }

    // A query that throws is recorded as -1 (sentinel), excluded from the
    // percentile/total stats, and listed in "failed" — a broken query must
    // never silently improve the bench numbers.
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                 false }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val failed = results.collect { case (n, t) if t < 0 => n }
    val times = results.map(_._2).filter(_ >= 0).sorted
    // linear-interpolated percentile (round-3 VERDICT: nearest-rank p99
    // over ~40 samples silently reports the max)
    def pct(p: Double): Double =
      if (times.isEmpty) 0.0
      else {
        val pos = p * (times.length - 1)
        val lo = pos.toInt
        val hi = math.min(lo + 1, times.length - 1)
        times(lo) + (pos - lo) * (times(hi) - times(lo))
      }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = times.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","build":$buildSec,""" +
      s""""signatures":$sigSec,"annLayout":$annSec,"streamingIngest":$streamSec,""" +
      s""""p50":${pct(0.5)},"p99":${pct(0.99)},"failed":$fj,"queries":$qs,"sf":"$sfDir"}""")
    graft.util.SparkQuiesce.stop(spark)
  }
}
