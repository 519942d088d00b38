package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, Spark-first:
  *
  *  - exact:    hash-groupBy on md5(text) — one shuffle on the hash key,
  *              uniform by construction (no skew: hash keys).
  *  - n-gram Jaccard: exact similarity on shingle sets for candidate
  *              pairs inside a blocking key (never the full cross join).
  *  - MinHash+LSH: shingle → 16 minhashes → 4 bands → bucket self-join.
  *              At 100 TB the band-bucket join is the only shuffle and its
  *              keys are hashes (uniform); candidate verification is a
  *              narrow follow-up join.
  *  - SimHash:  32-bit signature per doc, pure expressions.
  *
  * All hashes derive from the md5 builtin (portable → DuckDB-oracle
  * checkable); everything except the shingle builder is Column
  * expressions inside whole-stage codegen.
  */
object Dedup {

  /** Distinct word-`n`-gram shingles of the analyzed token stream, joined
    * by a single space. */
  def shinglesCol(text: Column, n: Int): Column = {
    val toks = TextOps.tokensCol(text)
    // Spark's sequence(0, k) with k < 0 counts DOWN — guard short docs.
    val idxs = when(size(toks) >= n, sequence(lit(0), size(toks) - lit(n)))
      .otherwise(array().cast("array<int>"))
    array_distinct(
      transform(idxs,
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** Sorted-ascending distinct 60-bit hashes of a doc's shingle set —
    * the transport form of the shingle set for pair-level verification.
    * A string shingle averages ~20 bytes plus offsets; its hash is 8.
    * At verify time the candidate pairs carry BOTH sides' sets through
    * a join, so the set payload is shuffled once per pair-side — the
    * hashed form cuts that shuffle ~4× and makes the per-pair intersect
    * a primitive-long merge scan ([[SortedIntersectCount]]) instead of
    * a per-call string hash set. Collisions (two distinct shingles, one
    * hash) are ~10^-12 per document at 60 bits, and the DuckDB oracle
    * computes the IDENTICAL hashed sets, so engine-vs-oracle stays
    * bit-exact even in the astronomically-unlikely collision case. */
  def shingleHashesCol(text: Column, n: Int): Column =
    array_sort(array_distinct(
      transform(shinglesCol(text, n), s => TextOps.h60(s))))

  /** Exact dedup: every doc mapped to the smallest id sharing its md5.
    * `min(id) over (partition by md5)` — single hash shuffle. */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), md5(col(textCol)).as("text_md5"))
    val canon = hashed.groupBy("text_md5").agg(min(col("id")).as("canonical_id"))
    hashed.join(canon, "text_md5").select("id", "canonical_id", "text_md5")
  }

  /** n-gram Jaccard over hashed shingle sets, restricted to an explicit
    * candidate-pair set (normally [[lshCandidates]] output): two narrow
    * equi-joins of (a_id, b_id) back to the per-doc sets. Cost is linear
    * in the candidate count — THIS is the 100 TB near-dup path (LSH
    * proposes, Jaccard verifies); never all-pairs within a coarse
    * attribute block.
    *
    * Two scale decisions shape the plan:
    *
    *  - Sets travel as sorted 60-bit shingle hashes
    *    ([[shingleHashesCol]], ~4× smaller than the string form) and
    *    intersect via the codegen'd merge scan [[SortedIntersectCount]]
    *    (no per-pair hash-set build); |A∪B| = |A| + |B| − |A∩B| on the
    *    duplicate-free sets.
    *  - The pair sides are MELTED so the set table joins ONCE: the naive
    *    `pairs ⋈ sh(a) ⋈ sh(b)` references the set subtree twice, and
    *    Spark re-evaluates it per side — re-reading the corpus text and
    *    re-running the shingle+hash computation, which dominates the op
    *    (measured 13.5 s of a 15.6 s verify at 50k docs / 249k pairs).
    *    Exploding each pair into its two (pair, id) rows, joining the
    *    sets once, and pivoting back with a groupBy evaluates the text
    *    scan exactly once; the extra aggregate shuffles only pair-sized
    *    hashed rows. Candidate growth (the quadratic term under high dup
    *    density) then scales only the cheap narrow stages, never the
    *    text scan.
    *
    * Contract: PERSIST `candidates` before calling. The plan references
    * it on both sides of the set join (pair rows, and the id semi-join
    * that gates shingling), so an unpersisted frame re-runs its lineage
    * — for [[lshCandidates]], the full band self-join — once per
    * reference, with run-to-run plan instability under AQE (measured at
    * 50k docs / 249k pairs: 34–365 s unpersisted vs a stable 27–29 s
    * persisted). A pipeline persists the propose→verify stage boundary
    * anyway. */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    candidates: DataFrame, n: Int,
                    threshold: Double): DataFrame = {
    // shingle ONLY docs that appear in a candidate pair — the semi-join
    // broadcasts the candidate ids over the corpus scan, so the (pricey)
    // shingle computation never runs on the non-candidate 99%+ of a
    // 100 TB corpus
    val ids = candidates.select(col("a_id").as(idCol))
      .union(candidates.select(col("b_id").as(idCol))).distinct()
    val sh = df.join(ids, Seq(idCol), "left_semi")
      .select(col(idCol).as("id"), shingleHashesCol(col(textCol), n).as("sh"))
    val melted = candidates.select(col("a_id"), col("b_id"),
      explode(array(col("a_id"), col("b_id"))).as("id"))
    melted.join(sh, "id")
      .groupBy("a_id", "b_id")
      .agg(
        first(when(col("id") === col("a_id"), col("sh")),
          ignoreNulls = true).as("a_sh"),
        first(when(col("id") === col("b_id"), col("sh")),
          ignoreNulls = true).as("b_sh"))
      .withColumn("inter",
        ArrayExpressions.sortedIntersectCount(col("a_sh"), col("b_sh")))
      .withColumn("uni",
        size(col("a_sh")).cast("long") + size(col("b_sh")).cast("long")
          - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** MinHash permutation constants: 16 fixed (a, b) pairs, a odd < 2^30,
    * over the prime p = 4294967311 > 2^32. Single source of truth — the
    * DuckDB oracle SQL is generated from this same array. */
  val MinhashP = 4294967311L
  val MinhashAB: Seq[(Long, Long)] = Seq(
    (887659L, 327461L), (394007L, 921953L), (743321L, 89923L),
    (180511L, 631517L), (550687L, 239203L), (962447L, 475531L),
    (122597L, 842393L), (671293L, 118057L), (438131L, 763921L),
    (291679L, 524287L), (815389L, 60763L), (99907L, 987433L),
    (721577L, 350377L), (260951L, 709043L), (609613L, 190031L),
    (333667L, 881077L))

  /** Per-doc minhash signature columns mh0..mh15:
    * `min((a_i * h32(shingle) + b_i) mod p)` over the shingle set. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame = {
    val sh = df
      .select(col(idCol).as("id"), explode(shinglesCol(col(textCol), n)).as("s"))
      .withColumn("h", TextOps.h32(col("s")))
    val aggs = MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(MinhashP))).as(s"mh$i")
    }
    sh.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate near-duplicate pairs from LSH: distinct (a, b) sharing any
    * band bucket, each emitted exactly once at its first matching band
    * (shared machinery and the one-row-per-id input contract:
    * [[LshPairs]] — satisfied here because [[minhashSignature]] is a
    * groupBy). The self-join shuffles on (band, key) — hash-uniform. */
  def lshCandidates(sig: DataFrame): DataFrame = {
    val keyed = sig.select(col("id"),
      array((0 until 4).map(bnd =>
        concat_ws(":", (0 until 4).map(r => col(s"mh${bnd * 4 + r}")): _*)): _*)
        .as("keys"))
    LshPairs.firstBandPairs(LshPairs.bandRows(keyed), bandCount = 4)
  }

  /** 32-bit SimHash over the token stream (term weight = term frequency,
    * applied by iterating instances): bit b set iff
    * `Σ_tokens ((h32(tok)>>b)&1 == 1 ? +1 : -1) > 0`. Pure expressions:
    * explode + 32 conditional sums + weighted recombination. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextOps.tokensCol(col(textCol))).as("t"))
      .withColumn("h", TextOps.h32(col("t")))
    val bitSums = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"s$b")
    }
    val agg = toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 32)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("id"), hash.as("simhash"))
  }
}
