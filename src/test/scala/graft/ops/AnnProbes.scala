package graft.ops

import graft.ops.Similarity._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-side ANN probes: the scan-side banded probe the stored layout
  * must agree with, and a one-band stored scan for plan audits. */
object AnnProbes {

  /** Banded-LSH ANN over an UNSTORED frame: candidates share ≥1 of the
    * probe's band keys; exact cosine top-k within the candidate set. Band
    * keys are computed scan-side, so this is a full scan per probe — the
    * ad-hoc/one-shot fallback. The serving path is [[Similarity.writeBucketed]] +
    * [[Similarity.lshTopKStored]], where every band's candidates come from a
    * partition-pruned scan. */
  def lshTopKBanded(df: DataFrame, idCol: String, vecCol: String,
                    probe: Array[Float], probeId: Long, k: Int): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val probeKeys = probeBandKeys(spark, probe)
    val anyBand = (0 until BandCount)
      .map(bnd => bandKeyCol(col(vecCol), bnd) === lit(probeKeys(bnd)))
      .reduce(_ || _)
    df.filter(anyBand && col(idCol) =!= probeId)
      .select(col(idCol).as("vec_id"),
        cosineCol(col(vecCol), lit(probe.map(_.toDouble))).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** Probe ONE band of the stored layout (plan-audit helper: the spec
    * asserts every band's probe scan shows PartitionFilters). */
  def storedBandScan(spark: org.apache.spark.sql.SparkSession, dir: String,
                     band: Int, bucketKey: Long): DataFrame = {
    val dirs = ensureCommitted(dir)
    spark.read.parquet(dir)
      .filter(col("band") === band &&
        col("bucket") === lit(bucketKey % dirs) &&
        col("key") === lit(bucketKey))
  }
}
