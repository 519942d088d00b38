package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One source file — the BASELINE.json input_hint row shape. */
final case class CorpusDoc(repo: String, path: String, commit: String,
                           lang: String, content: String)

/** Deterministic synthetic source-code corpus (FIXTURES.md §1): seeded,
  * no external data. Token distribution is Zipf-skewed so hot-term skew
  * is real (code corpora: keywords + license headers), and planted
  * phrases / duplicates exercise #NEAR/#WINDOW and dedup operators.
  *
  * Determinism: content of doc i depends only on (seed, i) — generation
  * is order- and partition-independent, so the same corpus can be built
  * distributed at any parallelism.
  */
object CorpusGen {

  private val keywords = Array(
    "def", "class", "val", "var", "if", "else", "return", "import",
    "object", "match", "case", "for", "while", "new", "extends", "override",
    "private", "public", "static", "void", "int", "string", "true", "false")

  private val langs = Array("scala", "java", "py", "go", "rs")

  private val licenseHeader =
    "copyright 2014 carnegie mellon university all rights reserved " +
    "licensed under the apache license version 2 0"

  private val phrases = Array(
    "open inverted index", "query evaluation engine", "block max wand",
    "posting list merge", "delta gap encoding")

  /** Content of doc `i` — a skewed token stream of 40..360 tokens. */
  def content(i: Long, seed: Long): String = {
    val rnd = new scala.util.Random(seed * 1000003L + i * 7919L)
    val sb = new StringBuilder
    if (rnd.nextDouble() < 0.3) sb.append(licenseHeader).append(' ')
    val n = 40 + rnd.nextInt(320)
    var j = 0
    while (j < n) {
      val r = rnd.nextDouble()
      if (r < 0.35) sb.append(keywords(rnd.nextInt(keywords.length)))
      else if (r < 0.40) sb.append(phrases(rnd.nextInt(phrases.length)))
      else if (r < 0.50) sb.append("x").append(rnd.nextInt(20)) // hot ids
      else {
        val z = zipf(rnd, 500) // long tail
        // the deepest tail is HAPAX identifiers (~0.13% of tail tokens,
        // ~99% unique at 400k docs): real code corpora carry a huge
        // near-unique identifier vocabulary, and segment-sparse terms
        // make positional leaves match in few segments
        if (z >= 498) sb.append("uid").append(rnd.nextInt(1 << 22))
        else sb.append("ident").append(z)
      }
      sb.append(' ')
      j += 1
    }
    sb.toString.trim
  }

  /** Approximate Zipf sample in [0, n) via inverse power transform. */
  private def zipf(rnd: scala.util.Random, n: Int): Int = {
    val u = rnd.nextDouble()
    math.min(n - 1, (n * math.pow(u, 3.0)).toInt)
  }

  def doc(i: Long, seed: Long): CorpusDoc = {
    val rnd = new scala.util.Random(seed * 999983L + i)
    val repo = f"org/repo-${i % 97}%05d"
    val path = s"src/main/F${i}.${langs((i % langs.length).toInt)}"
    val commit = f"${rnd.nextLong().abs}%020d".take(20) +
      f"${rnd.nextLong().abs}%020d".take(20)
    // every 37th doc duplicates an earlier doc's content (dedup fixture)
    val c = if (i % 37 == 36 && i >= 37) content(i - 37, seed)
            else content(i, seed)
    CorpusDoc(repo, path, commit, langs((i % langs.length).toInt), c)
  }

  def docs(n: Int, seed: Long = 42L): Seq[CorpusDoc] =
    (0L until n.toLong).map(doc(_, seed))

  /** Distributed generation: `spark.range` + per-row derivation — no
    * driver-side materialization, scales to any n. */
  def df(spark: SparkSession, n: Long, seed: Long = 42L,
         partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions)
               else spark.range(n)
    base.map(i => CorpusGen.doc(i, seed)).toDF()
  }
}
