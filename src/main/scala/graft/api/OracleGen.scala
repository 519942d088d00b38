package graft.api

import graft.analysis.AnalyzerConfig
import graft.ops.{Dedup, Similarity, TextOps}

/** Generates the DuckDB oracle SQL for [[EntryQueries]]. Every constant
  * (BM25/Indri params, minhash permutation table, LSH hyperplanes,
  * fingerprint modulus) is taken from the SAME Scala definitions the
  * engine uses — single source of truth.
  *
  * Numeric-literal discipline (DuckDB 1.0):
  *  - double literals are written with an `e0` suffix (plain `0.5` parses
  *    as DECIMAL and silently changes arithmetic);
  *  - float-faithful scoring wraps every operand in CAST(... AS FLOAT) —
  *    DuckDB FLOAT arithmetic is IEEE single precision, matching the
  *    float arithmetic of the engine's scorer bit-for-bit;
  *  - `sum()` is wrapped in CAST(... AS BIGINT) (DuckDB returns HUGEINT).
  */
object OracleGen {

  // ------------------------------------------------------- literals

  private def f(v: Float): String = {
    val s = java.lang.Float.toString(v)
    s"CAST($s AS FLOAT)"
  }
  private def d(v: Double): String = {
    val s = java.lang.Double.toString(v)
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }
  private def h32(x: String): String =
    s"('0x' || substr(md5($x), 1, 8))::BIGINT"

  /** `TextOps.h60` twin: 60-bit md5 prefix (fits signed BIGINT). */
  private def h60(x: String): String =
    s"('0x' || substr(md5($x), 1, 15))::BIGINT"

  // ------------------------------------------------- shared CTE text

  private val Toks0 =
    "toks0 AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), " +
    "'[^a-z0-9]+'), x -> x <> '') AS toks FROM documents)"
  private val ToksU =
    "toks AS (SELECT doc_id, unnest(toks) AS term, " +
    "unnest(generate_series(1, len(toks))) AS pos1 FROM toks0)"
  private val Dl = "dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id)"

  private def withToks(extra: String*): String =
    "WITH " + (Seq(Toks0, ToksU, Dl) ++ extra).mkString(",\n ")

  private def withToksRec(extra: String*): String =
    "WITH RECURSIVE " + (Seq(Toks0, ToksU, Dl) ++ extra).mkString(",\n ")

  /** Shingle-list expression over a `toks` list column (word n=3). */
  private def sh3(toks: String): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len($toks) - 2, 0)), " +
    s"i -> concat_ws(' ', $toks[i], $toks[i+1], $toks[i+2])))"

  /** Top-100 rank wrapper: score desc, doc_id asc (the extid tiebreak). */
  private def ranked(body: String): String =
    "SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) " +
    s"AS INT) AS rank, score FROM ($body) " +
    "ORDER BY score DESC, doc_id ASC LIMIT 100"

  private def termCte(i: Int, t: String): String =
    s"t$i AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = '$t' GROUP BY doc_id)"

  private def leftJoins(n: Int): String =
    (0 until n).map(i => s"LEFT JOIN t$i ON t$i.doc_id = dl.doc_id").mkString(" ")

  private def anyPresent(n: Int): String =
    (0 until n).map(i => s"t$i.tf IS NOT NULL").mkString(" OR ")

  // ------------------------------------------------------ BM25 / Indri

  private val k1 = EntryQueries.Bm25Model.k1
  private val b = EntryQueries.Bm25Model.b
  private val mu = EntryQueries.IndriModel.mu
  private val lambda = EntryQueries.IndriModel.lambda

  /** The float-faithful BM25 #SUM machinery (QryopSlScore.java:121-168
    * float casts mirrored in SQL FLOAT arithmetic): CTE list + scored-set
    * SELECT, shared by [[bm25TopK]] and [[letorFeatures]]. */
  private def bm25Pieces(terms: Seq[String]): (Seq[String], String) = {
    val n = terms.length
    val ctes = terms.zipWithIndex.map { case (t, i) => termCte(i, t) }
    val consts = "c AS (SELECT " +
      "CAST((SELECT CAST(sum(len) AS BIGINT) FROM dl) AS FLOAT) / " +
      "CAST((SELECT count(*) FROM dl) AS FLOAT) AS avgf, " +
      terms.indices.map { i =>
        val df = s"(SELECT count(*) FROM t$i)"
        s"CAST(ln(((SELECT count(*) FROM documents) - $df + 0.5e0) / ($df + 0.5e0)) AS FLOAT) AS rsj$i"
      }.mkString(", ") + ")"
    def score(i: Int): String =
      s"CAST(c.rsj$i * (CAST(t$i.tf AS FLOAT) / (CAST(t$i.tf AS FLOAT) + " +
      s"${f(k1)} * (${f(1.0f - b)} + (${f(b)} * CAST(dl.len AS FLOAT)) / c.avgf))) AS DOUBLE)"
    val sum = terms.indices.foldLeft("0.0e0") { (acc, i) =>
      s"($acc + COALESCE(${score(i)}, 0.0e0))"
    }
    val body = s"SELECT dl.doc_id AS doc_id, $sum AS score " +
      s"FROM dl CROSS JOIN c ${leftJoins(n)} WHERE ${anyPresent(n)}"
    (ctes :+ consts, body)
  }

  /** Float-faithful BM25 #SUM top-100. */
  def bm25TopK(terms: Seq[String]): String = {
    val (ctes, body) = bm25Pieces(terms)
    withToks(ctes: _*) + "\n" + ranked(body)
  }

  /** Indri child value: Dirichlet score when present, default otherwise
    * (QryopSlScore.java:178-221, 233-247 — all-float, mirrored). */
  private def indriChild(i: Int): String = {
    val present =
      s"CAST((${f(lambda)} * (CAST(t$i.tf AS FLOAT) + ${f(mu)} * c.mle$i)) / " +
      s"(CAST(dl.len AS FLOAT) + ${f(mu)}) + ${f(1.0f - lambda)} * c.mle$i AS DOUBLE)"
    val dflt =
      s"CAST(((${f(lambda)} * ${f(mu)}) / (CAST(dl.len AS FLOAT) + ${f(mu)}) + " +
      s"${f(1.0f - lambda)}) * c.mle$i AS DOUBLE)"
    s"CASE WHEN t$i.tf IS NOT NULL THEN $present ELSE $dflt END"
  }

  private def indriQuery(terms: Seq[String], scoreExpr: String,
                         roundTo: Int): String = {
    val n = terms.length
    val ctes = terms.zipWithIndex.map { case (t, i) => termCte(i, t) }
    val st = "st AS (SELECT CAST(sum(len) AS BIGINT) AS cl FROM dl)"
    val consts = "c AS (SELECT " + terms.indices.map { i =>
      s"CAST((SELECT CAST(sum(tf) AS BIGINT) FROM t$i) AS FLOAT) / " +
      s"CAST((SELECT cl FROM st) AS FLOAT) AS mle$i"
    }.mkString(", ") + ")"
    val body = s"SELECT dl.doc_id AS doc_id, $scoreExpr AS score " +
      s"FROM dl CROSS JOIN c ${leftJoins(n)} WHERE ${anyPresent(n)}"
    val score = if (roundTo >= 0) s"round(score, $roundTo)" else "score"
    withToks(ctes ++ Seq(st, consts): _*) +
      s"\nSELECT doc_id, $score AS score FROM ($body) ORDER BY doc_id"
  }

  /** #AND(Indri): geo-mean of child values, round 6 (pow ulp). */
  def indriAnd(terms: Seq[String]): String = {
    val prod = terms.indices.foldLeft("1.0e0")((acc, i) =>
      s"($acc * (${indriChild(i)}))")
    indriQuery(terms, s"pow($prod, ${d(1.0 / terms.length)})", 6)
  }

  /** #WAND: product of child^w, round 6. Weights already normalized. */
  def indriWand(terms: Seq[String], wn: Seq[Float]): String = {
    val prod = terms.indices.foldLeft("1.0e0")((acc, i) =>
      s"($acc * pow((${indriChild(i)}), ${d(wn(i).toDouble)}))")
    indriQuery(terms, prod, 6)
  }

  /** #WSUM: weighted sum — linear, exact (no rounding). */
  def indriWsum(terms: Seq[String], wn: Seq[Float]): String = {
    val sum = terms.indices.foldLeft("0.0e0")((acc, i) =>
      s"($acc + (${indriChild(i)}) * ${d(wn(i).toDouble)})")
    indriQuery(terms, sum, -1)
  }

  /** Reference weight normalization (QryopSlWAnd.java:36-45): float sum. */
  def normWeights(ws: Seq[Float]): Seq[Float] = {
    var total = 0.0f
    ws.foreach(total += _)
    ws.map(_ / total)
  }

  // ------------------------------------------------- boolean / position

  def rankedAnd(t0: String, t1: String): String =
    withToks(termCte(0, t0), termCte(1, t1)) + "\n" + ranked(
      "SELECT doc_id, CAST(least(t0.tf, t1.tf) AS DOUBLE) AS score " +
      "FROM t0 JOIN t1 USING (doc_id)")

  def unrankedAnd(t0: String, t1: String): String =
    withToks(termCte(0, t0), termCte(1, t1)) + "\n" + ranked(
      "SELECT doc_id, 1.0e0 AS score FROM t0 JOIN t1 USING (doc_id)")

  def rankedOr(t0: String, t1: String): String =
    withToks(termCte(0, t0), termCte(1, t1)) + "\n" + ranked(
      "SELECT dl.doc_id AS doc_id, CAST(greatest(COALESCE(t0.tf, 0), " +
      "COALESCE(t1.tf, 0)) AS DOUBLE) AS score " +
      s"FROM dl ${leftJoins(2)} WHERE ${anyPresent(2)}")

  def rankedSyn(t0: String, t1: String): String =
    withToks(termCte(0, t0), termCte(1, t1)) + "\n" + ranked(
      "SELECT dl.doc_id AS doc_id, CAST(COALESCE(t0.tf, 0) + " +
      "COALESCE(t1.tf, 0) AS DOUBLE) AS score " +
      s"FROM dl ${leftJoins(2)} WHERE ${anyPresent(2)}")

  /** #NEAR/1(a b): the greedy chain degenerates to exact adjacent-pair
    * intersection when the args are distinct terms (positions can't
    * collide), so tf = |(P_a + 1) ∩ P_b|. */
  def near1(t0: String, t1: String): String = {
    val p0 = s"p0 AS (SELECT doc_id, list_sort(list(pos1 - 1)) AS ps FROM toks WHERE term = '$t0' GROUP BY doc_id)"
    val p1 = s"p1 AS (SELECT doc_id, list_sort(list(pos1 - 1)) AS ps FROM toks WHERE term = '$t1' GROUP BY doc_id)"
    val nr = "nr AS (SELECT doc_id, len(list_intersect(list_transform(" +
      "p0.ps, p -> p + 1), p1.ps)) AS tf FROM p0 JOIN p1 USING (doc_id))"
    withToks(p0, p1, nr) + "\n" + ranked(
      "SELECT doc_id, CAST(tf AS DOUBLE) AS score FROM nr WHERE tf > 0")
  }

  /** Generic greedy `#NEAR/d` chain (`PositionOps.nearPositions`,
    * `QryopIlNear.java:74-120`) as DuckDB recursive CTEs: one two-pointer
    * state machine per adjacent arg pair; stage i's matched positions
    * feed stage i+1. Terminal row per doc = pointers exhausted. */
  def nearChain(terms: Seq[String], dist: Int): String = {
    val pCtes = terms.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, list(pos1 ORDER BY pos1) AS ps FROM toks " +
      s"WHERE term = '$t' GROUP BY doc_id)"
    }
    val ch0 = "ch0 AS (SELECT doc_id, ps FROM p0)"
    val stages = (1 until terms.length).flatMap { i =>
      Seq(
        s"r$i(doc_id, a, b, m, n, acc) AS (" +
        s"SELECT c.doc_id, c.ps, p.ps, 1, 1, CAST([] AS BIGINT[]) " +
        s"FROM ch${i - 1} c JOIN p$i p USING (doc_id) " +
        "UNION ALL SELECT doc_id, a, b, " +
        "CASE WHEN b[n] < a[m] THEN m ELSE m + 1 END, " +
        s"CASE WHEN b[n] < a[m] THEN n + 1 WHEN b[n] - a[m] <= $dist THEN n + 1 ELSE n END, " +
        s"CASE WHEN b[n] >= a[m] AND b[n] - a[m] <= $dist THEN list_append(acc, b[n]) ELSE acc END " +
        s"FROM r$i WHERE m <= len(a) AND n <= len(b))",
        s"ch$i AS (SELECT doc_id, acc AS ps FROM r$i " +
        "WHERE (m > len(a) OR n > len(b)) AND len(acc) > 0)")
    }
    withToksRec(pCtes ++ (ch0 +: stages): _*) + "\n" + ranked(
      s"SELECT doc_id, CAST(len(ps) AS DOUBLE) AS score FROM ch${terms.length - 1}")
  }

  /** Greedy `#WINDOW/d` (`PositionOps.windowPositions`,
    * `QryopIlWindow.java:92-136`) as one k-pointer recursive CTE: if
    * `max-min <= d-1` emit max and advance all pointers, else advance the
    * pointer holding the min. Assumes DISTINCT terms (positions never
    * collide, so the reference's first-strict-min tiebreak and its df-
    * ascending arg sort cannot change the result). */
  def windowOracle(terms: Seq[String], dist: Int): String = {
    val k = terms.length
    val pCtes = terms.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, list(pos1 ORDER BY pos1) AS ps FROM toks " +
      s"WHERE term = '$t' GROUP BY doc_id)"
    }
    val cols = (0 until k).flatMap(i => Seq(s"l$i", s"q$i"))
    val cur = (0 until k).map(i => s"l$i[q$i]")
    val inBounds = (0 until k).map(i => s"q$i <= len(l$i)").mkString(" AND ")
    val outBounds = (0 until k).map(i => s"q$i > len(l$i)").mkString(" OR ")
    val base = "SELECT " +
      (("p0.doc_id" +: (0 until k).flatMap(i => Seq(s"p$i.ps", "1"))) :+
        "CAST([] AS BIGINT[])").mkString(", ") +
      " FROM p0 " + (1 until k).map(i => s"JOIN p$i USING (doc_id)").mkString(" ")
    val step = "SELECT doc_id, " +
      (0 until k).map(i =>
        s"l$i, CASE WHEN valid THEN q$i + 1 WHEN l$i[q$i] = mn THEN q$i + 1 ELSE q$i END")
        .mkString(", ") +
      ", CASE WHEN valid THEN list_append(acc, mx) ELSE acc END " +
      s"FROM (SELECT doc_id, ${(cols :+ "acc").mkString(", ")}, " +
      s"greatest(${cur.mkString(", ")}) AS mx, least(${cur.mkString(", ")}) AS mn, " +
      s"greatest(${cur.mkString(", ")}) - least(${cur.mkString(", ")}) <= ${dist - 1} AS valid " +
      s"FROM w WHERE $inBounds) s"
    val w = s"w(doc_id, ${(cols :+ "acc").mkString(", ")}) AS ($base UNION ALL $step)"
    val wt = s"wt AS (SELECT doc_id, acc FROM w WHERE $outBounds)"
    withToksRec(pCtes ++ Seq(w, wt): _*) + "\n" + ranked(
      "SELECT doc_id, CAST(len(acc) AS DOUBLE) AS score FROM wt WHERE len(acc) > 0")
  }

  /** Snippet oracle (`SearchEngine.snippets`): window of `window` stems
    * starting at `max(0, firstHit - window/2)`, where firstHit is the
    * smallest word position holding any query term; under the code
    * profile every position is filled (no stopword gaps), so the
    * positions-array length equals the doc length and the join over raw
    * token positions reproduces the engine's stems/positions walk. */
  def snippet(terms: Seq[String], window: Int): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val hits = "hits AS (SELECT doc_id, min(pos1 - 1) AS hit FROM toks " +
      s"WHERE term IN ($termList) GROUP BY doc_id)"
    val win = "win AS (SELECT h.doc_id AS doc_id, " +
      s"greatest(0, h.hit - ${window / 2}) AS lo FROM hits h)"
    val win2 = "win2 AS (SELECT w.doc_id AS doc_id, w.lo AS lo, " +
      s"least(dl.len, w.lo + $window) AS hi FROM win w JOIN dl USING (doc_id))"
    withToks(hits, win, win2) +
      "\nSELECT w.doc_id AS doc_id, " +
      "string_agg(t.term, ' ' ORDER BY t.pos1) AS snippet " +
      "FROM win2 w JOIN toks t ON t.doc_id = w.doc_id " +
      "AND t.pos1 - 1 >= w.lo AND t.pos1 - 1 < w.hi " +
      "GROUP BY w.doc_id ORDER BY doc_id"
  }

  /** Indri child value from arbitrary tf/mle SQL fragments (present →
    * Dirichlet, absent → default; mirrors `indriChild` for non-term
    * leaves). */
  private def indriVal(tf: String, mle: String): String = {
    val present =
      s"CAST((${f(lambda)} * (CAST($tf AS FLOAT) + ${f(mu)} * $mle)) / " +
      s"(CAST(dl.len AS FLOAT) + ${f(mu)}) + ${f(1.0f - lambda)} * $mle AS DOUBLE)"
    val dflt =
      s"CAST(((${f(lambda)} * ${f(mu)}) / (CAST(dl.len AS FLOAT) + ${f(mu)}) + " +
      s"${f(1.0f - lambda)}) * $mle AS DOUBLE)"
    s"CASE WHEN $tf IS NOT NULL THEN $present ELSE $dflt END"
  }

  /** The flagship SDM shape, ranked top-100:
    * `#WAND(w0 #AND(a b) w1 #NEAR/1(c d) w2 #WINDOW/8(e f g))` — the
    * oracle for the PRUNED Indri path (BlockMax): per-doc score =
    * pow(geoMean(and-children), w0) × pow(nearVal, w1) × pow(winVal, w2)
    * over the docid union of all leaf lists, where the positional
    * leaves' pMLE comes from THEIR list's summed tf. Scores rounded to 6
    * (StrictMath vs libm pow ulp); ranking uses the exact values. */
  def sdmTopK(andTerms: Seq[String], nearTerms: (String, String),
              winTerms: Seq[String], winDist: Int,
              weights: Seq[Float]): String = {
    val wn = normWeights(weights)
    val ctes = andTerms.zipWithIndex.map { case (t, i) => termCte(i, t) }
    val st = "st AS (SELECT CAST(sum(len) AS BIGINT) AS cl FROM dl)"
    val consts = "c AS (SELECT " + andTerms.indices.map { i =>
      s"CAST((SELECT CAST(sum(tf) AS BIGINT) FROM t$i) AS FLOAT) / " +
      s"CAST((SELECT cl FROM st) AS FLOAT) AS mle$i"
    }.mkString(", ") + ")"
    // near list (greedy #NEAR/1 of two distinct terms = adjacent-pair
    // intersection, see near1) — present docs have tf ≥ 1
    val (na, nb) = nearTerms
    val p0 = s"np0 AS (SELECT doc_id, list_sort(list(pos1 - 1)) AS ps FROM toks WHERE term = '$na' GROUP BY doc_id)"
    val p1 = s"np1 AS (SELECT doc_id, list_sort(list(pos1 - 1)) AS ps FROM toks WHERE term = '$nb' GROUP BY doc_id)"
    val nr = "nr AS (SELECT doc_id, len(list_intersect(list_transform(" +
      "np0.ps, p -> p + 1), np1.ps)) AS tf FROM np0 JOIN np1 USING (doc_id))"
    val nrp = "nrp AS (SELECT doc_id, tf FROM nr WHERE tf > 0)"
    // window list: reuse the k-pointer walk of windowOracle
    val k = winTerms.length
    val wCtes = winTerms.zipWithIndex.map { case (t, i) =>
      s"wp$i AS (SELECT doc_id, list(pos1 ORDER BY pos1) AS ps FROM toks " +
      s"WHERE term = '$t' GROUP BY doc_id)"
    }
    val cols = (0 until k).flatMap(i => Seq(s"l$i", s"q$i"))
    val cur = (0 until k).map(i => s"l$i[q$i]")
    val inBounds = (0 until k).map(i => s"q$i <= len(l$i)").mkString(" AND ")
    val outBounds = (0 until k).map(i => s"q$i > len(l$i)").mkString(" OR ")
    val base = "SELECT " +
      (("wp0.doc_id" +: (0 until k).flatMap(i => Seq(s"wp$i.ps", "1"))) :+
        "CAST([] AS BIGINT[])").mkString(", ") +
      " FROM wp0 " + (1 until k).map(i => s"JOIN wp$i USING (doc_id)").mkString(" ")
    val step = "SELECT doc_id, " +
      (0 until k).map(i =>
        s"l$i, CASE WHEN valid THEN q$i + 1 WHEN l$i[q$i] = mn THEN q$i + 1 ELSE q$i END")
        .mkString(", ") +
      ", CASE WHEN valid THEN list_append(acc, mx) ELSE acc END " +
      s"FROM (SELECT doc_id, ${(cols :+ "acc").mkString(", ")}, " +
      s"greatest(${cur.mkString(", ")}) AS mx, least(${cur.mkString(", ")}) AS mn, " +
      s"greatest(${cur.mkString(", ")}) - least(${cur.mkString(", ")}) <= ${winDist - 1} AS valid " +
      s"FROM w WHERE $inBounds) s"
    val w = s"w(doc_id, ${(cols :+ "acc").mkString(", ")}) AS ($base UNION ALL $step)"
    val wtp = s"wtp AS (SELECT doc_id, len(acc) AS tf FROM w " +
      s"WHERE ($outBounds) AND len(acc) > 0)"
    // positional-leaf pMLEs from their lists' ctf
    val pm = "pm AS (SELECT " +
      "CAST((SELECT CAST(COALESCE(sum(tf), 0) AS BIGINT) FROM nrp) AS FLOAT) / " +
      "CAST((SELECT cl FROM st) AS FLOAT) AS mlen, " +
      "CAST((SELECT CAST(COALESCE(sum(tf), 0) AS BIGINT) FROM wtp) AS FLOAT) / " +
      "CAST((SELECT cl FROM st) AS FLOAT) AS mlew)"
    val andProd = andTerms.indices.foldLeft("1.0e0")((acc, i) =>
      s"($acc * (${indriChild(i)}))")
    val andVal = s"pow($andProd, ${d(1.0 / andTerms.length)})"
    val nearVal = indriVal("nrp.tf", "pm.mlen")
    val winVal = indriVal("wtp.tf", "pm.mlew")
    val score = s"(pow($andVal, ${d(wn(0).toDouble)}) * " +
      s"pow(($nearVal), ${d(wn(1).toDouble)}) * " +
      s"pow(($winVal), ${d(wn(2).toDouble)}))"
    val anyP = (andTerms.indices.map(i => s"t$i.tf IS NOT NULL") ++
      Seq("nrp.tf IS NOT NULL", "wtp.tf IS NOT NULL")).mkString(" OR ")
    val body = s"SELECT dl.doc_id AS doc_id, $score AS score " +
      s"FROM dl CROSS JOIN c CROSS JOIN pm ${leftJoins(andTerms.length)} " +
      "LEFT JOIN nrp ON nrp.doc_id = dl.doc_id " +
      "LEFT JOIN wtp ON wtp.doc_id = dl.doc_id " +
      s"WHERE $anyP"
    withToksRec(ctes ++ Seq(st, consts, p0, p1, nr, nrp) ++ wCtes ++
      Seq(w, wtp, pm): _*) +
      "\nSELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, " +
      "doc_id ASC) AS INT) AS rank, round(score, 6) AS score " +
      s"FROM ($body) ORDER BY score DESC, doc_id ASC LIMIT 100"
  }

  // ----------------------------------------------------- PRF expansion

  /** Indri-RM learned-query oracle (rank, term, weight rounded 6):
    * re-derives `Expansion.learnedQuery` over the top-`fbDocs` Indri #AND
    * ranking — float pMLE quotient, doc-rank-ordered accumulation fold
    * (`QryExpansion.java:157-210`). */
  def prfExpand(terms: Seq[String], fbDocs: Int, fbTerms: Int,
                fbMu: Double): String = {
    val ctes = terms.zipWithIndex.map { case (t, i) => termCte(i, t) }
    val st = "st AS (SELECT CAST(sum(len) AS BIGINT) AS cl FROM dl)"
    val consts = "c AS (SELECT " + terms.indices.map { i =>
      s"CAST((SELECT CAST(sum(tf) AS BIGINT) FROM t$i) AS FLOAT) / " +
      s"CAST((SELECT cl FROM st) AS FLOAT) AS mle$i"
    }.mkString(", ") + ")"
    val prod = terms.indices.foldLeft("1.0e0")((acc, i) =>
      s"($acc * (${indriChild(i)}))")
    val scored = "scored AS (SELECT dl.doc_id AS doc_id, " +
      s"pow($prod, ${d(1.0 / terms.length)}) AS score " +
      s"FROM dl CROSS JOIN c ${leftJoins(terms.length)} WHERE ${anyPresent(terms.length)})"
    val top = "top AS (SELECT doc_id, score, row_number() OVER " +
      "(ORDER BY score DESC, doc_id ASC) AS rnk FROM scored " +
      s"ORDER BY score DESC, doc_id ASC LIMIT $fbDocs)"
    val tl = "tl AS (SELECT t.doc_id AS doc_id, t.score AS doc_score, " +
      "t.rnk AS rnk, dl.len AS len FROM top t JOIN dl USING (doc_id))"
    val tv = "tv AS (SELECT doc_id, term, count(*) AS tf FROM toks " +
      "WHERE doc_id IN (SELECT doc_id FROM top) GROUP BY doc_id, term)"
    val ct = "ct AS (SELECT term, CAST(count(*) AS BIGINT) AS ctf FROM toks " +
      "WHERE term IN (SELECT DISTINCT term FROM tv) GROUP BY term)"
    val vm = "vm AS (SELECT term, CAST(CAST(ctf AS FLOAT) / " +
      "CAST((SELECT cl FROM st) AS FLOAT) AS DOUBLE) AS mle FROM ct)"
    val grid = "grid AS (SELECT v.term AS term, v.mle AS mle, d.rnk AS rnk, " +
      "d.doc_score AS doc_score, d.len AS len, tv.tf AS tf " +
      "FROM vm v CROSS JOIN tl d " +
      "LEFT JOIN tv ON tv.doc_id = d.doc_id AND tv.term = v.term)"
    val contrib = "contrib AS (SELECT term, rnk, CASE WHEN tf IS NOT NULL " +
      s"THEN (CAST(tf AS DOUBLE) + ${d(fbMu)} * mle) / (CAST(len AS DOUBLE) + ${d(fbMu)}) " +
      "* doc_score * ln(1.0e0 / mle) " +
      s"ELSE ${d(fbMu)} * mle / (CAST(len AS DOUBLE) + ${d(fbMu)}) " +
      "* doc_score * ln(1.0e0 / mle) END AS contrib FROM grid)"
    val agg = "agg AS (SELECT term, list_reduce(list_prepend(0.0e0, " +
      "list(contrib ORDER BY rnk)), (x, y) -> x + y) AS score " +
      "FROM contrib GROUP BY term)"
    withToks(ctes ++ Seq(st, consts, scored, top, tl, tv, ct, vm, grid,
      contrib, agg): _*) +
      "\nSELECT CAST(row_number() OVER (ORDER BY score DESC, term ASC) AS INT) " +
      "AS rank, term, round(score, 6) AS weight FROM agg " +
      s"ORDER BY score DESC, term ASC LIMIT $fbTerms"
  }

  // ------------------------------------------------------ LeToR oracle

  /** 18-feature LeToR oracle (doc_id, f1..f18 normalized, round 6) —
    * re-derives `LeToR.rawFeatures` + `LeToR.normalize` over the BM25
    * top-`k` candidates of a distinct-term query (each qtf = 1).
    *
    * Non-body fields under the EntryQueries corpus mapping (title =
    * lpad(doc_id), url = "r/"+lpad, inlink = lpad+" r") can never contain
    * the alphabetic query terms, so their BM25/overlap sums are empty
    * (0.0) and Indri hits the no-overlap→0 rule — the oracle states those
    * zeros directly (fields are always present, so no NaN). f4 (PageRank)
    * has no file in the contract run ⇒ all-NaN ⇒ normalizes to 0.
    * Normalization replicates the reference's insertion-order min/max
    * scan bug (max starts at 4.9e-324, min only updates in the
    * else-branch — `FeatureVector.java:589-622`). */
  def letorFeatures(terms: Seq[String], k: Int): String = {
    require(terms.distinct == terms, "letor oracle assumes distinct terms")
    val qlen = terms.length
    val (ctes, scoredBody) = bm25Pieces(terms)
    val cand = "cand AS (SELECT doc_id, CAST(row_number() OVER " +
      "(ORDER BY score DESC, doc_id ASC) AS INT) AS ord " +
      s"FROM ($scoredBody) ORDER BY score DESC, doc_id ASC LIMIT $k)"
    val st = "st AS (SELECT CAST(sum(len) AS BIGINT) AS cl FROM dl)"
    // candidate grid with per-term body tf + body len
    val cg = "cg AS (SELECT cd.doc_id AS doc_id, cd.ord AS ord, " +
      "dl.len AS len, " +
      terms.indices.map(i => s"t$i.tf AS tf$i").mkString(", ") +
      s" FROM cand cd JOIN dl ON dl.doc_id = cd.doc_id " +
      terms.indices.map(i => s"LEFT JOIN t$i ON t$i.doc_id = cd.doc_id")
        .mkString(" ") + ")"
    // fold order = ascending term (engine's fixed iteration order)
    val ordIdx = terms.zipWithIndex.sortBy(_._1).map(_._2)
    val avgD = "CAST((SELECT avgf FROM c) AS DOUBLE)"
    def rsjD(i: Int) =
      s"ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) - " +
      s"(SELECT count(*) FROM t$i) + 0.5e0) / ((SELECT count(*) FROM t$i) + 0.5e0))"
    val k1D = d(EntryQueries.Bm25Model.k1.toDouble)
    val b1D = d(1.0 - EntryQueries.Bm25Model.b.toDouble)
    val bD = d(EntryQueries.Bm25Model.b.toDouble)
    val usrD = d((EntryQueries.Bm25Model.k3 + 1.0) * 1 /
      (EntryQueries.Bm25Model.k3 + 1))
    def bmTerm(i: Int) =
      s"CASE WHEN tf$i IS NOT NULL THEN (${rsjD(i)}) * " +
      s"(CAST(tf$i AS DOUBLE) / (CAST(tf$i AS DOUBLE) + $k1D * " +
      s"($b1D + $bD * CAST(len AS DOUBLE) / $avgD))) * $usrD ELSE 0.0e0 END"
    val f5 = ordIdx.foldLeft("0.0e0")((acc, i) => s"($acc + (${bmTerm(i)}))")
    val muD = d(IndriModel2.mu.toDouble)
    val lamD = d(IndriModel2.lambda.toDouble)
    def mleD(i: Int) =
      s"(CAST((SELECT CAST(sum(tf) AS BIGINT) FROM t$i) AS DOUBLE) / " +
      "CAST((SELECT cl FROM st) AS DOUBLE))"
    def inTerm(i: Int) =
      s"pow($lamD * (CAST(COALESCE(tf$i, 0) AS DOUBLE) + ($muD * ${mleD(i)})) / " +
      s"(CAST(len AS DOUBLE) + $muD) + (${d(1.0 - IndriModel2.lambda.toDouble)} * ${mleD(i)}), " +
      s"${d(1.0 / qlen)})"
    val anyTf = terms.indices.map(i => s"tf$i IS NOT NULL").mkString(" OR ")
    val inProd = ordIdx.foldLeft("1.0e0")((acc, i) => s"($acc * ${inTerm(i)})")
    val f6 = s"CASE WHEN $anyTf THEN $inProd ELSE 0.0e0 END"
    val ovSum = terms.indices
      .map(i => s"CASE WHEN tf$i IS NOT NULL THEN 1 ELSE 0 END")
      .mkString(" + ")
    val f7 = s"CAST($ovSum AS DOUBLE) / ${d(qlen.toDouble)}"
    val f18 = s"CASE WHEN $anyTf THEN 1.0e0 ELSE 0.0e0 END"
    val url = "('r/' || lpad(CAST(d.doc_id AS VARCHAR), 10, '0'))"
    val raw = "raw AS (SELECT cg.doc_id AS doc_id, cg.ord AS ord, " +
      "CAST(CASE WHEN length(d.text) = 0 THEN 0 ELSE floor(100.0e0 * " +
      "length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) / " +
      "length(d.text)) END AS DOUBLE) AS f1, " +
      s"CAST(length($url) - length(replace($url, '/', '')) AS DOUBLE) AS f2, " +
      s"CASE WHEN contains($url, 'src/main') THEN 1.0e0 ELSE 0.0e0 END AS f3, " +
      "'nan'::DOUBLE AS f4, " +
      s"$f5 AS f5, $f6 AS f6, $f7 AS f7, " +
      "0.0e0 AS f8, 0.0e0 AS f9, 0.0e0 AS f10, " +
      "0.0e0 AS f11, 0.0e0 AS f12, 0.0e0 AS f13, " +
      "0.0e0 AS f14, 0.0e0 AS f15, 0.0e0 AS f16, " +
      s"CASE WHEN contains($url, '.scala') OR contains($url, '.java') THEN 1.0e0 " +
      s"WHEN contains($url, '.md') THEN 0.95e0 ELSE 0.0e0 END AS f17, " +
      s"$f18 AS f18 " +
      "FROM cg JOIN documents d ON d.doc_id = cg.doc_id)"
    // reference min/max scan as an insertion-order fold: acc = [mn, mx]
    def fold(fc: String) =
      s"list_reduce(list_prepend([1.7976931348623157e308, 4.9e-324], " +
      s"list_transform(list($fc ORDER BY ord), v -> [v, v])), " +
      "(acc, x) -> CASE WHEN isnan(x[1]) THEN acc " +
      "WHEN x[1] > acc[2] THEN [acc[1], x[1]] " +
      "WHEN x[1] < acc[1] THEN [x[1], acc[2]] ELSE acc END)"
    val mm = "mm AS (SELECT " +
      (1 to 18).map(i => s"${fold(s"f$i")} AS m$i").mkString(", ") +
      " FROM raw)"
    def rule(i: Int) =
      s"CASE WHEN (m$i[2] = 0 AND m$i[1] = 0) OR (m$i[2] = 1 AND m$i[1] = 0) " +
      s"THEN (CASE WHEN isnan(f$i) THEN 0.0e0 ELSE f$i END) " +
      s"WHEN m$i[2] = m$i[1] THEN 0.0e0 " +
      s"WHEN isnan(f$i) THEN 0.0e0 " +
      s"ELSE (f$i - m$i[1]) / (m$i[2] - m$i[1]) END"
    withToks(ctes ++ Seq(cand, st, cg, raw, mm): _*) +
      "\nSELECT doc_id, " +
      (1 to 18).map(i => s"round(${rule(i)}, 6) AS f$i").mkString(", ") +
      " FROM raw CROSS JOIN mm ORDER BY doc_id"
  }

  private def IndriModel2 = EntryQueries.IndriModel

  // -------------------------------------------------------- text ops

  def tokenStats: String =
    s"WITH $Toks0\nSELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, " +
    "CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct " +
    "FROM toks0 ORDER BY doc_id"

  def quality(stop: Seq[String]): String = {
    val stopList = stop.map(s => s"'$s'").mkString("[", ", ", "]")
    s"WITH $Toks0, q AS (SELECT t.doc_id AS doc_id, len(t.toks) AS nt, " +
    "CAST(length(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS na, " +
    "CAST(length(d.text) AS BIGINT) AS nc, " +
    s"len(list_filter(t.toks, x -> list_contains($stopList, x))) AS ns, " +
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(t.toks, " +
    "x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS tc " +
    "FROM toks0 t JOIN documents d USING (doc_id))\n" +
    "SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, " +
    "CASE WHEN nc > 0 THEN CAST(na AS DOUBLE) / CAST(nc AS DOUBLE) ELSE 0.0e0 END AS alpha_ratio, " +
    "CASE WHEN nt > 0 THEN CAST(ns AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0e0 END AS stopword_ratio, " +
    "CASE WHEN nt > 0 THEN CAST(tc AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0e0 END AS avg_token_len " +
    "FROM q ORDER BY doc_id"
  }

  def langId: String = {
    val counts = TextOps.langMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      lang -> s"CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS BIGINT)"
    }
    val cdefs = counts.map { case (l, e) => s"$e AS c_$l" }.mkString(", ")
    val best = "greatest(" + counts.map("c_" + _._1).mkString(", ") + ")"
    val cases = counts.map { case (l, _) =>
      s"WHEN c_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"WITH $Toks0, lc AS (SELECT doc_id, $cdefs FROM toks0), " +
    s"lb AS (SELECT *, $best AS best FROM lc)\n" +
    s"SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM lb ORDER BY doc_id"
  }

  def fingerprint: String =
    s"WITH $Toks0\nSELECT doc_id, CASE WHEN len(toks) > 0 THEN " +
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> ${h32("t")})), " +
    s"(a, b) -> (a * ${TextOps.FpMul} + b) % ${TextOps.FpMod}) " +
    "ELSE CAST(0 AS BIGINT) END AS fp FROM toks0 ORDER BY doc_id"

  // ----------------------------------------------------------- dedup

  def dedupExact: String =
    "SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id, " +
    "md5(text) AS text_md5 FROM documents ORDER BY doc_id"

  /** LSH-candidate pairs (same bands as [[lshPairs]]) verified by shingle
    * Jaccard over hashed sets — mirrors `Dedup.lshCandidates` →
    * `jaccardVerify` (sets of 60-bit shingle hashes; |A∪B| = |A| + |B| −
    * |A∩B| on the duplicate-free sets, the same integers the engine
    * computes). */
  def jaccardPairs(threshold: Double): String = {
    val bandSelects = (0 until 4).map { bnd =>
      val ks = (0 until 4).map(r => s"mh${bnd * 4 + r}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(':', $ks) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"WITH $Toks0, $SigCtes, " +
    s"shx AS (SELECT doc_id, list_distinct(list_transform(sh, s -> ${h60("s")})) " +
    "AS hs FROM shd), " +
    s"bands AS ($bandSelects), " +
    "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
    "JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)\n" +
    "SELECT a_id, b_id, jaccard FROM (" +
    "SELECT a_id, b_id, CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard " +
    "FROM (SELECT c.a_id AS a_id, c.b_id AS b_id, " +
    "len(list_intersect(sa.hs, sb.hs)) AS inter, " +
    "len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS uni " +
    "FROM cand c JOIN shx sa ON sa.doc_id = c.a_id " +
    "JOIN shx sb ON sb.doc_id = c.b_id) WHERE uni > 0) " +
    s"WHERE jaccard >= ${d(threshold)} ORDER BY a_id, b_id"
  }

  private def minhashAggs: String =
    Dedup.MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % ${Dedup.MinhashP}) AS mh$i"
    }.mkString(", ")

  private val SigCtes =
    s"shd AS (SELECT doc_id, ${sh3("toks")} AS sh FROM toks0), " +
    "shu AS (SELECT doc_id, unnest(sh) AS s FROM shd), " +
    s"shh AS (SELECT doc_id, ${h32("s")} AS h FROM shu), " +
    s"sig AS (SELECT doc_id, $minhashAggs FROM shh GROUP BY doc_id)"

  def minhash: String =
    s"WITH $Toks0, $SigCtes\nSELECT doc_id, " +
    Dedup.MinhashAB.indices.map(i => s"mh$i").mkString(", ") +
    " FROM sig ORDER BY doc_id"

  def lshPairs: String = {
    val bandSelects = (0 until 4).map { bnd =>
      val ks = (0 until 4).map(r => s"mh${bnd * 4 + r}").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(':', $ks) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"WITH $Toks0, $SigCtes, bands AS ($bandSelects)\n" +
    "SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM bands a " +
    "JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id " +
    "ORDER BY a_id, b_id"
  }

  def simhash: String = {
    val sums = (0 until 32).map(bb =>
      s"sum(CASE WHEN (h >> $bb) & 1 = 1 THEN 1 ELSE -1 END) AS s$bb").mkString(", ")
    val bits = (0 until 32).map(bb =>
      s"(CASE WHEN s$bb > 0 THEN CAST(${1L << bb} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"WITH $Toks0, ${ToksU}, th AS (SELECT doc_id, ${h32("term")} AS h FROM toks), " +
    s"bs AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)\n" +
    s"SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM bs ORDER BY doc_id"
  }

  // ------------------------------------------------------ similarity

  /** Deterministic left-fold dot product (mirrors the engine's
    * `aggregate(zip_with(...), 0.0, +)`). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0e0, list_transform(generate_series(1, len($a)), " +
    s"i -> $a[i] * $b[i])), (x, y) -> x + y)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  def annCosine(k: Int): String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
    "p AS (SELECT v AS pv FROM e WHERE vec_id = 0)\n" +
    s"SELECT vec_id, sim FROM (SELECT e.vec_id AS vec_id, ${cosSql("e.v", "p.pv")} AS sim " +
    "FROM e CROSS JOIN p WHERE e.vec_id <> 0) " +
    s"ORDER BY sim DESC, vec_id ASC LIMIT $k"

  private def bucketSql(v: String): String =
    (0 until Similarity.LshBits).map { i =>
      val w = (0 until Similarity.Dim)
        .map(j => d(Similarity.lshWeight(i, j).toDouble)).mkString("[", ", ", "]")
      val dot = s"list_reduce(list_prepend(0.0e0, list_transform(" +
        s"generate_series(1, len($v)), j -> $v[j] * ($w)[j])), (x, y) -> x + y)"
      s"(CASE WHEN $dot > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  private def bandKeySql(v: String, bnd: Int): String =
    (0 until Similarity.BandBits).map { b =>
      val i = bnd * Similarity.BandBits + b
      val w = (0 until Similarity.Dim)
        .map(j => d(Similarity.lshWeight(i, j).toDouble)).mkString("[", ", ", "]")
      val dot = s"list_reduce(list_prepend(0.0e0, list_transform(" +
        s"generate_series(1, len($v)), j -> $v[j] * ($w)[j])), (x, y) -> x + y)"
      s"(CASE WHEN $dot > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")

  /** Banded multi-probe SRP: candidate iff ≥1 of the 4 8-bit band keys
    * matches the probe's (`Similarity.lshTopKStored`). */
  def annBanded(k: Int): String = {
    val bands = 0 until Similarity.BandCount
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
    "p AS (SELECT v AS pv FROM e WHERE vec_id = 0), " +
    s"eb AS (SELECT vec_id, v, ${bands.map(bnd => bandKeySql("v", bnd) + s" AS b$bnd").mkString(", ")} FROM e), " +
    s"bp AS (SELECT ${bands.map(bnd => bandKeySql("pv", bnd) + s" AS k$bnd").mkString(", ")} FROM p)\n" +
    s"SELECT vec_id, sim FROM (SELECT eb.vec_id AS vec_id, ${cosSql("eb.v", "p.pv")} AS sim " +
    "FROM eb CROSS JOIN p CROSS JOIN bp WHERE (" +
    bands.map(bnd => s"eb.b$bnd = bp.k$bnd").mkString(" OR ") +
    ") AND eb.vec_id <> 0) " +
    s"ORDER BY sim DESC, vec_id ASC LIMIT $k"
  }

  /** Embedding-cosine near-dup (`Similarity.embeddingNearDup`): pairs
    * sharing ≥1 SRP band bucket, kept when exact-fold cosine ≥ threshold. */
  def embedNearDup(threshold: Double): String = {
    val bands = 0 until Similarity.BandCount
    val unpiv = bands.map(bnd =>
      s"SELECT vec_id, $bnd AS band, b$bnd AS key FROM eb").mkString(" UNION ALL ")
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
    s"eb AS (SELECT vec_id, ${bands.map(bnd => bandKeySql("v", bnd) + s" AS b$bnd").mkString(", ")} FROM e), " +
    s"bands AS ($unpiv), " +
    "cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id FROM bands a " +
    "JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)\n" +
    s"SELECT a_id, b_id, sim FROM (SELECT a_id, b_id, ${cosSql("ea.v", "eb2.v")} AS sim " +
    "FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb2 ON eb2.vec_id = b_id) " +
    s"WHERE sim >= ${d(threshold)} ORDER BY a_id, b_id"
  }

  def annLsh(k: Int): String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
    "p AS (SELECT v AS pv FROM e WHERE vec_id = 0), " +
    s"eb AS (SELECT vec_id, v, ${bucketSql("v")} AS bkt FROM e), " +
    s"bp AS (SELECT ${bucketSql("pv")} AS bkt FROM p)\n" +
    s"SELECT vec_id, sim FROM (SELECT eb.vec_id AS vec_id, ${cosSql("eb.v", "p.pv")} AS sim " +
    "FROM eb CROSS JOIN p CROSS JOIN bp WHERE eb.bkt = bp.bkt AND eb.vec_id <> 0) " +
    s"ORDER BY sim DESC, vec_id ASC LIMIT $k"

  // ------------------------------------------------------ multimodal

  def mediaMeta: String =
    "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
    "upper(substr(hex(encode(text)), 1, 8)) AS magic FROM documents ORDER BY doc_id"

  /** Recomputes `Multimodal.decode`'s pixel statistics from the
    * deterministic generator formula (`Multimodal.pixel`): PNG is
    * lossless, so the decoded channel sums equal the generated ones; the
    * magic column is the PNG signature, gating that real encoded image
    * bytes flowed through the decode. Float divisions mirror
    * `sum.toFloat / (w*h).toFloat`. */
  def mediaFeatures: String = {
    def chanSum(c: Int): String =
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(generate_series(0, CAST(width AS BIGINT) * height - 1), " +
      s"i -> (doc_id * 7 + (i % width) * 13 + (i // width) * 31 + $c * 101) " +
      "% 256)), (x, y) -> x + y)"
    "WITH g AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS width, " +
    "CAST(3 + doc_id % 4 AS INT) AS height FROM documents), " +
    s"s AS (SELECT doc_id, width, height, ${chanSum(0)} AS sr, " +
    s"${chanSum(1)} AS sg, ${chanSum(2)} AS sb FROM g)\n" +
    "SELECT doc_id, '89504E47' AS magic, width, height, " +
    "CAST(CAST(sr AS FLOAT) / CAST(width * height AS FLOAT) AS DOUBLE) AS avg_r, " +
    "CAST(CAST(sg AS FLOAT) / CAST(width * height AS FLOAT) AS DOUBLE) AS avg_g, " +
    "CAST(CAST(sb AS FLOAT) / CAST(width * height AS FLOAT) AS DOUBLE) AS avg_b " +
    "FROM s ORDER BY doc_id"
  }

  // ------------------------------------------------------------- all

  def all: Map[String, String] = {
    val wandN = normWeights(Seq(0.7f, 0.3f))
    val wsumN = normWeights(Seq(0.4f, 0.6f))
    Map(
      "q_doc_sha256" -> "SELECT doc_id, sha256(text) AS sha256 FROM documents ORDER BY doc_id",
      "q_doclen" -> (withToks() + "\nSELECT doc_id, len FROM dl ORDER BY doc_id"),
      "q_termstats" -> (withToks(
        "tfs AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)") +
        "\nSELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ctf FROM tfs GROUP BY term ORDER BY term"),
      "q_collstats" -> (withToks() +
        "\nSELECT (SELECT count(*) FROM documents) AS num_docs, " +
        "(SELECT count(*) FROM dl) AS doc_count, " +
        "(SELECT CAST(sum(len) AS BIGINT) FROM dl) AS collection_length, " +
        "CAST(CAST((SELECT CAST(sum(len) AS BIGINT) FROM dl) AS FLOAT) / " +
        "CAST((SELECT count(*) FROM dl) AS FLOAT) AS DOUBLE) AS avg_doc_len"),
      "q_postings" -> (withToks() +
        "\nSELECT doc_id, count(*) AS tf FROM toks WHERE term = 'spark' GROUP BY doc_id ORDER BY doc_id"),
      "q_fwdindex" -> (withToks() +
        "\nSELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term ORDER BY doc_id, term"),
      // positions[] (TermVector.java:62-89): stem_idx = 1-based rank of
      // the term among the doc's sorted distinct stems; code profile has
      // no stopwords, so every raw position is filled
      "q_fwdindex_pos" -> (withToks(
        "sidx AS (SELECT doc_id, term, CAST(dense_rank() OVER " +
        "(PARTITION BY doc_id ORDER BY term) AS INT) AS stem_idx " +
        "FROM (SELECT DISTINCT doc_id, term FROM toks))") +
        "\nSELECT t.doc_id, CAST(t.pos1 - 1 AS INT) AS pos, s.stem_idx, " +
        "t.term FROM toks t JOIN sidx s USING (doc_id, term) " +
        "ORDER BY t.doc_id, pos"),
      "q_streaming_doclen" ->
        (withToks() + "\nSELECT doc_id, len FROM dl ORDER BY doc_id"),
      "q_bm25_topk" -> bm25TopK(Seq("spark", "hash", "join", "merge")),
      // block-max WAND must equal the exhaustive BM25 oracle exactly
      "q_bmw_topk" -> bm25TopK(Seq("spark", "hash", "join", "merge")),
      "q_bm25_dup" -> bm25TopK(Seq("spark", "spark", "hash")),
      "q_ranked_and" -> rankedAnd("hash", "merge"),
      "q_ranked_or" -> rankedOr("vector", "stream"),
      "q_unranked_and" -> unrankedAnd("spark", "window"),
      "q_indri_and" -> indriAnd(Seq("spark", "merge")),
      "q_wand" -> indriWand(Seq("spark", "merge"), wandN),
      // the pruned BlockMax path vs an independent SQL re-derivation
      "q_sdm_topk" -> sdmTopK(Seq("spark", "merge"), ("hash", "join"),
        Seq("spark", "merge", "batch"), 8, Seq(0.7f, 0.2f, 0.1f)),
      "q_wsum" -> indriWsum(Seq("spark", "merge"), wsumN),
      "q_syn" -> rankedSyn("hash", "merge"),
      "q_near" -> near1("hash", "join"),
      "q_near4" -> nearChain(Seq("data", "stream", "filter"), 4),
      "q_window" -> windowOracle(Seq("spark", "merge", "batch"), 8),
      "q_prf_expand" -> prfExpand(Seq("spark", "merge"), 10, 10, 2500.0),
      "q_snippet" -> snippet(Seq("spark", "merge"), 8),
      "q_media_features" -> mediaFeatures,
      "q_letor_features" -> letorFeatures(Seq("spark", "hash", "join"), 50),
      "q_token_stats" -> tokenStats,
      "q_quality" -> quality(AnalyzerConfig.luceneEnglishStopwords.toSeq.sorted),
      "q_lang_id" -> langId,
      "q_fingerprint" -> fingerprint,
      "q_dedup_exact" -> dedupExact,
      "q_jaccard_pairs" -> jaccardPairs(0.05),
      "q_minhash" -> minhash,
      "q_lsh_pairs" -> lshPairs,
      "q_simhash" -> simhash,
      "q_ann_cosine" -> annCosine(20),
      "q_ann_lsh" -> annLsh(10),
      "q_ann_banded" -> annBanded(10),
      "q_embed_neardup" -> embedNearDup(0.25),
      "q_media_meta" -> mediaMeta
    )
  }
}
