package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic 10× scale-up of a driver-provided sf dir (VERDICT item
  * 7: a super-linearity probe needs an sf1-sized input, and the driver
  * ships sf0.1 as the largest). Every copy k keeps the original schema;
  * ids are offset by k·stride, and text/embeddings get a tiny
  * deterministic per-copy mutation so near-dup/ANN structure stays
  * realistic instead of collapsing into exact 10× duplicate clusters
  * (which would quadratically inflate LSH candidate pairs and measure an
  * artifact, not scaling). Derived from the provided test data only —
  * no external or random content.
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <dstDir> [copies]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val stride = 100000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    val docs = spark.read.parquet(s"$src/documents.parquet")
    (0 until copies).map { k =>
      val text =
        if (k == 0) col("text")
        else concat(col("text"), lit(s" copyvariant$k"))
      docs.select(
        (col("doc_id") + lit(k * stride)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    (0 until copies).map { k =>
      emb.select(
        (col("vec_id") + lit(k * stride)).as("vec_id"),
        (if (k == 0) col("embedding")
         else transform(col("embedding"),
           (x, i) => (x + lit(k.toFloat * 1e-3f) *
             cos(i.cast("double") + lit(k.toDouble)).cast("float"))
             .cast("float"))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"""{"scaled":"$src -> $dst","copies":$copies}""")
    graft.util.SparkQuiesce.stop(spark)
  }
}
