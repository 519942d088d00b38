package graft.exec

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.index.Index
import graft.model.{BM25, Indri}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learning-to-rank features + ranker (O17; reference
  * `QryEval/src/LearnToRank.java` + `FeatureVector.java:96-358`):
  * per-(query, doc) feature assembly → per-query min-max normalization →
  * linear model → re-sort. Orchestration (E3) lives in [[LeToRRun]].
  *
  * Full 18-feature parity with the reference, ClueWeb-only signals mapped
  * to documented source-code-corpus analogs:
  *
  * | f | reference | corpus analog |
  * |---|-----------|---------------|
  * | f1 | spam score (stored field "score", `FeatureVector.java:109-112`) | stored per-doc quality percentile (`IndexBuilder.qualityScoreCol`) |
  * | f2 | URL depth — '/' count (:115-119) | same, over `repo + "/" + path` |
  * | f3 | wikipedia.org-in-url (:122-126) | url contains "src/main" |
  * | f4 | PageRank from file, NaN if absent (:129-136) | same mechanism (`letor:pageRankFile`, keyed by extid) |
  * | f5/f6/f7 | BM25 / Indri / overlap, body (:139-187) | same |
  * | f8/f9/f10 | title (:190-215) | same (title = path) |
  * | f11/f12/f13 | url (:246-271) | same (url = repo/path) |
  * | f14/f15/f16 | inlink (:300-325) | same (inlink = basename + repo) |
  * | f17 | TLD prior: .edu/.mil→1, .org→0.95 (:342-358) | .scala/.java→1, .md→0.95 |
  * | f18 | Σ fields containsQueryTerm, NaN if no body vector (:168-180 etc.) | same |
  *
  * Missing field vector ⇒ NaN features for that field (reference's
  * `termVec == null` branch); Indri feature is 0 when the field shares no
  * term with the query (`FeatureVector.java:525-579` hasOverlap).
  *
  * Numeric note: feature math is plain double end-to-end and ordered
  * folds fix term order ascending (the reference mixes float
  * intermediates in `BM25Evaluation` and iterates HashMap key order — a
  * JVM-nondeterministic order we replace, like Expansion's tiebreak).
  *
  * The reference shells out to the vendored `svm_rank` binaries
  * (`LearnToRank.java:146-167,200-226`); this rebuild substitutes a
  * documented in-repo linear ranker (pairwise logistic regression,
  * deterministic driver-side training over the collected per-query
  * feature matrix — the same place the external process sat). Scoring and
  * re-ranking stay distributed.
  */
object LeToR {

  val FeatureNames: Seq[String] = (1 to 18).map(i => s"f$i")
  val Fields = Seq("body", "title", "url", "inlink")
  private val nan = lit(Double.NaN)

  /** termTable (term → qtf) + queryLength of a free-text query
    * (`FeatureVector.java:60-80`). */
  def termTable(queryText: String, cfg: AnalyzerConfig): Map[String, Int] = {
    val toks = Analyzer.tokenize(queryText, cfg).map(_.term)
    toks.groupBy(identity).map { case (t, g) => t -> g.length }
  }

  /** Raw (un-normalized) features f1..f18 for one query over a candidate
    * docid set. `candidates` = (docid) rows; result = (docid, f1..f18).
    *
    * Shape: a candidates × queryTerms × fields grid (≤ 100·|q|·4 rows per
    * query) built from broadcast-joined postings/doclen slices — all
    * pushed-down scans at scale, no full-table shuffle. */
  def rawFeatures(index: Index, queryText: String, cfg: AnalyzerConfig,
                  candidates: DataFrame, bm25: BM25, indri: Indri,
                  pageRank: Map[String, Double] = Map.empty): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    val tt = termTable(queryText, cfg)
    val queryLength = tt.values.sum
    val n = index.stats.numDocs
    val terms = tt.keys.toSeq.sorted // fixed fold order (see scaladoc)

    // Per-query candidates are ≤100 ids by contract (the reference pipes
    // the same list through svm_rank files) — collect them into a
    // LocalRelation: every join against it broadcast-plans from local
    // data with no cache to leak and no hint to lose (round-2's
    // `broadcast(df).cache()` dropped the hint → HintErrorLogger noise).
    val candIds = candidates.select($"docid").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val cand = broadcast(candIds.toDF("docid"))

    // grid: candidate × field × query term, tf where present; len is NULL
    // when the doc has no vector in the field (→ NaN features, reference
    // `termVec == null`). Over a snapshot the term/field filter reaches
    // the block scan, below the decode (PostingBlocks.toPostings).
    val tfs = index.postings
      .filter($"term".isin(terms: _*) && $"field".isin(Fields: _*))
      .join(cand, "docid")
      .select($"docid", $"field", $"term", $"tf")
    val grid = cand
      .crossJoin(broadcast(
        Fields.flatMap(f => terms.map(t => (f, t))).toDF("field", "term")))
      .join(tfs, Seq("docid", "field", "term"), "left")
      .join(index.doclen.filter($"field".isin(Fields: _*))
        .select($"docid", $"field", $"len"), Seq("docid", "field"), "left")

    // per-(docid, field) term-expression triple
    def perTermCols(field: String): (Column, Column, Column) = {
      val cases = terms.map { t =>
        val (df, ctf) = index.lexicon.get(t, field).getOrElse((0L, 0L))
        val qtf = tt(t)
        // BM25 term (`FeatureVector.java:446-476` BM25Evaluation): only
        // present stems contribute; rsj has no max(0,·) floor
        val rsj = StrictMath.log((n - df + 0.5) / (df + 0.5))
        val usr = (bm25.k3 + 1.0) * qtf / (bm25.k3 + qtf)
        val lenD = coalesce($"len", lit(0L)).cast("double")
        val tfW = $"tf".cast("double") /
          ($"tf".cast("double") + lit(bm25.k1.toDouble) *
            (lit(1.0 - bm25.b.toDouble) +
              lit(bm25.b.toDouble) * lenD /
                lit(index.fieldStats(field).avgDocLen.toDouble)))
        val bm25Term = when($"term" === t && $"tf".isNotNull,
          lit(rsj) * tfW * lit(usr)).otherwise(lit(0.0))
        // Indri term (`FeatureVector.java:478-527` IndriEvaluation):
        // pow(λ(tf+μ·mle)/(len+μ)+(1-λ)mle, qtf/qLen); absent stems use
        // tf=0; mle is the DOUBLE ctf/cl quotient (unlike retrieval's
        // float pMLE)
        val mle =
          if (index.fieldStats(field).collectionLength == 0) 0.0
          else ctf.toDouble / index.fieldStats(field).collectionLength
        val inner = lit(indri.lambda.toDouble) *
          (coalesce($"tf", lit(0)).cast("double") +
            lit(indri.mu.toDouble * mle)) /
          (lenD + lit(indri.mu.toDouble)) +
          lit((1.0 - indri.lambda.toDouble) * mle)
        val indriTerm = when($"term" === t,
          ScoreExpressions.strictPow(inner,
            lit(qtf.toDouble / queryLength))).otherwise(lit(1.0))
        // overlap count (`FeatureVector.java:429-439`)
        val ov = when($"term" === t && $"tf".isNotNull, lit(qtf))
          .otherwise(lit(0))
        (bm25Term, indriTerm, ov)
      }
      (cases.map(_._1).reduce(_ + _),
       cases.map(_._2).reduce(_ * _),
       cases.map(_._3).reduce(_ + _))
    }

    val perField = Fields.map { f =>
      val (bmC, inC, ovC) = perTermCols(f)
      grid.filter($"field" === f)
        .groupBy($"docid")
        .agg(
          // ordered folds in ascending-term order — the fixed iteration
          // order replacing the reference's HashMap walk
          aggregate(sort_array(collect_list(struct($"term", bmC.as("v")))),
            lit(0.0), (acc, x) => acc + x.getField("v")).as(s"bm_$f"),
          aggregate(sort_array(collect_list(struct($"term", inC.as("v")))),
            lit(1.0), (acc, x) => acc * x.getField("v")).as(s"in0_$f"),
          sum(ovC).as(s"ovn_$f"),
          max(when($"tf".isNotNull, lit(1)).otherwise(lit(0))).as(s"has_$f"),
          max(when($"len".isNotNull, lit(1)).otherwise(lit(0)))
            .as(s"present_$f"))
        .select($"docid", col(s"present_$f"), col(s"has_$f"),
          when(col(s"present_$f") === 0, nan)
            .otherwise(col(s"bm_$f")).as(s"f_bm_$f"),
          when(col(s"present_$f") === 0, nan)
            .when(col(s"has_$f") === 0, lit(0.0)) // no overlap ⇒ 0
            .otherwise(col(s"in0_$f")).as(s"f_in_$f"),
          when(col(s"present_$f") === 0, nan)
            .otherwise(col(s"ovn_$f").cast("double") /
              lit(queryLength.toDouble)).as(s"f_ov_$f"))
    }

    val urlCol = concat($"repo", lit("/"), $"path")
    val prDf =
      if (pageRank.isEmpty) null
      else broadcast(pageRank.toSeq.toDF("extid", "pr"))
    val docMeta0 = index.docs
      .select($"docid", $"extid", $"repo", $"path", $"score")
      .join(cand, "docid")
    val docMeta = (if (prDf == null) docMeta0.withColumn("pr", nan)
                   else docMeta0.join(prDf, Seq("extid"), "left"))
      .select($"docid",
        $"score".cast("double").as("f1"),
        (length(urlCol) - length(regexp_replace(urlCol, "/", "")))
          .cast("double").as("f2"),
        when(urlCol.contains("src/main"), 1.0).otherwise(0.0).as("f3"),
        coalesce($"pr", nan).as("f4"),
        when(urlCol.contains(".scala") || urlCol.contains(".java"), 1.0)
          .when(urlCol.contains(".md"), 0.95)
          .otherwise(0.0).as("f17"))

    val joined = perField.foldLeft(docMeta)((acc, df) =>
      acc.join(df, Seq("docid"), "left"))

    // f18: starts from body containsQueryTerm (NaN when no body vector),
    // each further PRESENT field adds its own indicator
    // (`FeatureVector.java:168-180,225-236,275-287,327-339`)
    val f18 = when(col("present_body") === 0, nan).otherwise(
      Seq("body", "title", "url", "inlink").map(f =>
        when(col(s"present_$f") === 1, col(s"has_$f")).otherwise(lit(0)))
        .reduce(_ + _).cast("double"))

    joined.select($"docid", $"f1", $"f2", $"f3", $"f4",
      col("f_bm_body").as("f5"), col("f_in_body").as("f6"),
      col("f_ov_body").as("f7"),
      col("f_bm_title").as("f8"), col("f_in_title").as("f9"),
      col("f_ov_title").as("f10"),
      col("f_bm_url").as("f11"), col("f_in_url").as("f12"),
      col("f_ov_url").as("f13"),
      col("f_bm_inlink").as("f14"), col("f_in_inlink").as("f15"),
      col("f_ov_inlink").as("f16"),
      $"f17", f18.as("f18"))
  }

  /** Per-query min-max normalization replicating the reference's EXACT
    * (buggy) scan (`FeatureVector.java:589-622`): max starts at
    * `Double.MIN_VALUE` (the smallest POSITIVE double, not -∞) and min
    * only updates in the else-branch of the max test, so the scan is
    * insertion-order dependent (e.g. a monotonically increasing feature
    * leaves min at MAX_VALUE). `df` must carry `qid` and `ord` (insertion
    * order: qrels line order for training, rank for testing). Range
    * rules: {0,0}/{0,1} → values kept (NaN→0); min==max → all 0; else
    * (f-min)/(max-min), NaN→0. */
  def normalize(df: DataFrame): DataFrame = {
    val rows = sort_array(collect_list(struct(col("ord"),
      struct(FeatureNames.map(col): _*).as("fs"))))
    val mmCols = FeatureNames.map { f =>
      aggregate(col("rows"),
        struct(lit(Double.MaxValue).as("mn"),
          lit(java.lang.Double.MIN_VALUE).as("mx")),
        (acc, x) => {
          val v = x.getField("fs").getField(f)
          when(isnan(v), acc)
            .when(v > acc.getField("mx"),
              struct(acc.getField("mn").as("mn"), v.as("mx")))
            .when(v < acc.getField("mn"),
              struct(v.as("mn"), acc.getField("mx").as("mx")))
            .otherwise(acc)
        }).as(s"mm_$f")
    }
    val mm = df.groupBy(col("qid")).agg(rows.as("rows"))
      .select(col("qid") +: mmCols: _*)
    val out = df.join(broadcast(mm), "qid")
    FeatureNames.foldLeft(out) { (acc, f) =>
      val v = col(f)
      val mn = col(s"mm_$f").getField("mn")
      val mx = col(s"mm_$f").getField("mx")
      acc.withColumn(f,
        when((mx === 0.0 && mn === 0.0) || (mx === 1.0 && mn === 0.0),
          when(isnan(v), lit(0.0)).otherwise(v))
          .when(mx === mn, lit(0.0))
          .when(isnan(v), lit(0.0))
          .otherwise((v - mn) / (mx - mn)))
    }.drop(FeatureNames.map(f => s"mm_$f"): _*)
  }

  /** svm-light lines `rel qid:ID 1:v … 18:v # extid`
    * (`FeatureVector.java:624-637`); disabled feature indices (1-based,
    * `letor:featureDisable`) are omitted like the reference. */
  def svmLight(normalized: DataFrame,
               disabled: Set[Int] = Set.empty): DataFrame = {
    val feats = FeatureNames.zipWithIndex
      .filterNot { case (_, i) => disabled(i + 1) }
      .map { case (f, i) =>
        concat(lit(s"${i + 1}:"), col(f).cast("string"), lit(" "))
      }
    normalized.select(concat(
      (col("rel").cast("string") +: lit(" qid:") +: col("qid").cast("string")
        +: lit(" ") +: feats) :+ lit("# ") :+ col("extid"): _*).as("line"),
      col("qid"), col("ord"), col("extid"))
  }

  /** Deterministic pairwise logistic regression on the driver — the
    * documented substitution for the vendored svm_rank external process.
    * Input rows: (qid, ord, rel, f1..f18 normalized); iteration order is
    * fixed by sorting on (qid, ord), so training is run-to-run
    * deterministic regardless of partitioning. Returns the weight
    * vector (disabled features pinned to 0). */
  def trainPairwise(train: DataFrame, epochs: Int = 50, lr: Double = 0.1,
                    disabled: Set[Int] = Set.empty): Array[Double] = {
    val rows = train.select(
      (col("qid") +: col("ord") +: col("rel") +: FeatureNames.map(col)): _*)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        FeatureNames.indices.map(i => r.getDouble(i + 3)).toArray))
      .sortBy(r => (r._1, r._2))
    val byQ = rows.groupBy(_._1).toArray.sortBy(_._1).map(_._2)
    val d = FeatureNames.length
    val active = FeatureNames.indices.filterNot(i => disabled(i + 1)).toArray
    val w = new Array[Double](d)
    (0 until epochs).foreach { _ =>
      byQ.foreach { q =>
        for {
          (_, _, ra, xa) <- q; (_, _, rb, xb) <- q
          if ra > rb
        } {
          // P(a > b) = σ(w·(xa-xb)); gradient ascent on log-likelihood
          var dot = 0.0
          active.foreach(i => dot += w(i) * (xa(i) - xb(i)))
          val g = 1.0 / (1.0 + StrictMath.exp(-dot)) - 1.0
          active.foreach(i => w(i) -= lr * g * (xa(i) - xb(i)))
        }
      }
    }
    w
  }

  /** Linear rerank: score = w·x over normalized features →
    * (docid, score). */
  def score(normalized: DataFrame, w: Array[Double]): DataFrame = {
    val s = FeatureNames.zipWithIndex
      .map { case (f, i) => col(f) * lit(w(i)) }
      .reduce(_ + _)
    normalized.select(col("docid"), s.as("score"))
  }
}
