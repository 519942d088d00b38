package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** One media item flowing through the typed decode pipeline. */
final case class MediaItem(doc_id: Long, media: Array[Byte])

/** Decoded features for one media item: real pixel statistics. */
final case class MediaFeatures(doc_id: Long, n_bytes: Long, magic: String,
                               width: Int, height: Int,
                               feature: Array[Float])

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted per partition.
  *
  * The decode is REAL: media bytes are PNG images, decoded with the JDK's
  * `javax.imageio` (no external libraries) into width/height/per-channel
  * pixel means. Because the synthetic corpus images are generated from a
  * deterministic integer pixel formula and PNG is lossless, the decoded
  * statistics are exactly reproducible in SQL from `doc_id` alone — the
  * DuckDB oracle recomputes them without any image library, which is what
  * lets `q_media_features` hash-gate a genuine decode.
  */
object Multimodal {

  /** Attach the opaque binary column + cheap scan-time metadata. Here the
    * "media bytes" are the UTF-8 bytes of the text column — a stand-in
    * payload with the same plumbing as real image bytes. */
  def withBinary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      col(textCol).cast("binary").as("media"))

  /** Scan-time metadata over the binary column — pure expressions, no
    * decode: byte length + 4-byte magic prefix (file-type sniffing). */
  def metadata(bin: DataFrame): DataFrame =
    bin.select(col("doc_id"),
      length(col("media")).cast("long").as("n_bytes"),
      upper(hex(substring(col("media"), 1, 4))).as("magic"))

  // ---------------------------------------------- deterministic images

  /** Deterministic tiny-image geometry and pixel formula, shared by the
    * generator, the decoder's spec, and the SQL oracle. Integer-exact so
    * SQL reproduces it verbatim. */
  @inline def imgWidth(id: Long): Int = (4 + (id % 5)).toInt
  @inline def imgHeight(id: Long): Int = (3 + (id % 4)).toInt
  @inline def pixel(id: Long, x: Int, y: Int, c: Int): Int =
    (((id * 7 + x * 13 + y * 31 + c * 101) % 256L + 256L) % 256L).toInt

  /** One deterministic PNG for a doc id — real image bytes produced by
    * the JDK encoder. Lossless, so a decode recovers [[pixel]] exactly. */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = imgWidth(id)
    val h = imgHeight(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixel(id, x, y, 0) << 16) | (pixel(id, x, y, 1) << 8) |
            pixel(id, x, y, 2))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** (doc_id, media) with per-doc deterministic PNG payloads — the
    * image-ingest stand-in, generated per partition (imperative encoder
    * init, the documented mapPartitions exception). */
  def withSyntheticImages(spark: SparkSession, df: DataFrame,
                          idCol: String): Dataset[MediaItem] = {
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => MediaItem(id, syntheticPng(id))))
  }

  // -------------------------------------------------------- real decode

  /** Decode one image with the JDK decoder: dimensions + per-channel
    * (R, G, B) pixel means, each a float quotient like the engine's other
    * float-faithful statistics. */
  def decode(item: MediaItem): MediaFeatures = {
    val img = ImageIO.read(new ByteArrayInputStream(item.media))
    require(img != null, s"doc ${item.doc_id}: media bytes are not a " +
      "decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    val n = (w * h).toFloat
    val magic = item.media.take(4).map(b => f"${b & 0xff}%02X").mkString
    MediaFeatures(item.doc_id, item.media.length.toLong, magic, w, h,
      Array(sr.toFloat / n, sg.toFloat / n, sb.toFloat / n))
  }

  /** The decode pipeline: binary rows → per-partition batched decode →
    * typed features. `mapPartitions` is the right shape here (genuine
    * per-partition imperative decode, the documented exception to
    * expressions-only): one decoder init per partition, streaming
    * iteration, no driver collect. */
  def extractFeatures(spark: SparkSession, bin: Dataset[MediaItem])
      : Dataset[MediaFeatures] = {
    import spark.implicits._
    bin.mapPartitions { items =>
      // headless decode — no display pipeline on executors
      System.setProperty("java.awt.headless", "true")
      items.map(decode)
    }
  }
}
