package graft.exec

import graft.index.Index
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Lowers a query AST to a declarative DataFrame plan, mirroring the
  * reference's DAAT evaluation (SURVEY §2/§3) while letting Catalyst pick
  * physical strategies:
  *
  *  - TERM           → pushed-down `(term, field)` filter on the postings
  *                     table (parquet row-group pruning on the sorted term
  *                     column at scale).
  *  - #SYN           → union + `groupBy(docid)` with flatten/sort.
  *  - #NEAR/#WINDOW  → k-way equi-join on docid + the exact greedy
  *                     position matchers as codegen'd Catalyst
  *                     expressions ([[PositionMatch]] ≡ the test-only
  *                     `PositionOps`).
  *  - #SCORE         → doclen join + float-faithful scoring expressions
  *                     (SURVEY §2.4 — float intermediates, widened to
  *                     double, bit-identical to the reference).
  *  - #AND/#OR/#SUM/#WAND/#WSUM → single-shuffle union + `groupBy(docid)`
  *                     with an ORDER-PRESERVING fold over child scores
  *                     (`aggregate` over the child-indexed score map), so
  *                     floating-point accumulation order matches the
  *                     reference's child-order loops exactly.
  *
  * Indri default scores (for docs missing a child) are composed
  * recursively as closed-form Column expressions over per-field doc
  * lengths, so the docid-union combine needs only one doclen join —
  * reference semantics (`QryopSlAnd.java:134-174` etc.) without a
  * per-(child,doc) driver callback.
  */
final class Planner(index: Index, model: RetrievalModel) {

  /** Inverted-list-shaped intermediate: (docid, tf, positions) + scalar
    * stats the scorer needs (reference recomputes df/ctf per synthetic
    * list — `InvList.java:44-45`). Stats are computed lazily: only
    * `#SCORE` forces them. */
  final case class IlRes(df: DataFrame, field: String,
                         docFreq: () => Long, ctf: () => Long)

  /** Score-shaped intermediate: (docid, score) + recursive default-score
    * expression over per-field doc-length columns. */
  final case class SlRes(scores: DataFrame, fields: Set[String],
                         default: Map[String, Column] => Column)

  private val spark = index.spark
  import spark.implicits._

  // Position matching runs as codegen'd Catalyst expressions
  // ([[PositionMatch]]) — semantics identical to the test-only
  // `PositionOps`, the independently-tested reference implementation.

  // ---------------------------------------------------------------- leaves

  /** (df, ctf) of the query's term leaves, collected by [[plan]]. */
  private var leafStats: Map[(String, String), (Long, Long)] = Map.empty

  // ------------------------------------------------------------------- Il

  def planIl(q: Il): IlRes = q match {
    case Term(t, f) =>
      // len rides inline on posting rows (Lucene-norm style) — scoring
      // needs no doclen join for docs that match
      val df = index.postings
        .filter($"term" === t && $"field" === f)
        .select($"docid", $"tf", $"positions", $"len")
      val (dfc, ctf) = leafStats.getOrElse((t, f), (0L, 0L))
      IlRes(df, f, () => dfc, () => ctf)

    case Syn(args) =>
      val children = args.map(planIl)
      val field = children.head.field
      // Reference concatenates member positions then sorts
      // (`QryopIlSyn.java:69-81`) — order-independent, so a plain
      // union+groupBy reproduces it.
      val unioned = children.map(_.df.select($"docid", $"positions", $"len"))
        .reduce(_ union _)
      val df = unioned.groupBy($"docid")
        .agg(sort_array(flatten(collect_list($"positions"))).as("positions"),
          first($"len").as("len"))
        .withColumn("tf", size($"positions"))
        .select($"docid", $"tf", $"positions", $"len")
      withLazyStats(df, field)

    case Near(dist, args) =>
      val children = args.map(planIl)
      requireSameField(children, s"#NEAR/$dist")
      val field = children.head.field
      val joined = kwayJoin(children)
      val posCols = children.indices.map(i => col(s"pos_$i"))
      val df = joined
        .withColumn("positions",
          PositionExpressions.near(array(posCols: _*), dist))
        .filter(size($"positions") > 0)
        .withColumn("tf", size($"positions"))
        .select($"docid", $"tf", $"positions", $"len")
      withLazyStats(df, field)

    case Window(dist, args) =>
      val children0 = args.map(planIl)
      requireSameField(children0, s"#WINDOW/$dist")
      // Args sorted by df ascending, stable (`QryopIlWindow.java:52`,
      // comparator `Qryop.java:25-33`) — a DAAT efficiency choice
      // (smallest list first): the window kernel is permutation-invariant
      // over its args (property-tested in PositionOpsSpec), which lets
      // [[BlockMax]] match #WINDOW leaves without the global df sort.
      val children = children0.sortBy(c => c.docFreq())
      val field = children.head.field
      if (children.length == 1) {
        // Single-arg shortcut (`QryopIlWindow.java:62-66`).
        children.head
      } else {
        val joined = kwayJoin(children)
        val posCols = children.indices.map(i => col(s"pos_$i"))
        val df = joined
          .withColumn("positions",
            PositionExpressions.window(array(posCols: _*), dist))
          .filter(size($"positions") > 0)
          .withColumn("tf", size($"positions"))
          .select($"docid", $"tf", $"positions", $"len")
        withLazyStats(df, field)
      }
  }

  /** Composite lists need result-level df/ctf for scoring — cache the
    * (small) intermediate and aggregate once, only if #SCORE asks. The
    * cache lives in the index's bounded LRU (see `Index.scratchLru`):
    * it survives until the caller's action has consumed it (the final
    * plan references the composite several times), repeated queries
    * reuse it through CacheManager plan substitution, and eviction
    * unpersists it — bounded storage in a serving loop. */
  private def withLazyStats(df0: DataFrame, field: String): IlRes = {
    val df = index.registerScratch(df0)
    lazy val agg: (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum($"tf"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    IlRes(df, field, () => agg._1, () => agg._2)
  }

  private def requireSameField(cs: Seq[IlRes], op: String): Unit =
    require(cs.map(_.field).distinct.size == 1,
      s"Error: Arguments must be in the same field: $op") // QryopIlNear.java:142-143

  private def kwayJoin(children: Seq[IlRes]): DataFrame =
    children.zipWithIndex
      .map { case (c, i) =>
        // len identical across children (same doc, same field) — carry
        // it once from the first child
        if (i == 0) c.df.select($"docid", $"positions".as(s"pos_$i"), $"len")
        else c.df.select($"docid", $"positions".as(s"pos_$i"))
      }
      .reduce((a, b) => a.join(b, "docid"))

  // ------------------------------------------------------------------- Sl

  private def doclenFor(field: String): DataFrame =
    index.doclen.filter($"field" === field).select($"docid", $"len")

  /** #SCORE — the Il→Sl bridge (`QryopSlScore.java:60-71`). All float
    * casts reproduce the reference's Java numeric promotion (SURVEY §2.4).
    */
  def planScore(il: Il): SlRes = {
    val ilr = planIl(il)
    val field = ilr.field
    val fs = index.fieldStats(field)
    model match {
      case UnrankedBoolean =>
        SlRes(ilr.df.select($"docid", lit(1.0).as("score")),
          Set(field), _ => lit(0.0))

      case RankedBoolean =>
        SlRes(ilr.df.select($"docid", $"tf".cast(DoubleType).as("score")),
          Set(field), _ => lit(0.0))

      case BM25(k1, b, _) =>
        // QryopSlScore.java:121-168 — float-faithful custom expression;
        // docLen comes inline with the posting rows (no join)
        val docFreq = ilr.docFreq()
        val n = index.stats.numDocs
        val avgDocLen: Float = fs.avgDocLen // float division (:142-143)
        val rsj: Float = // (float) Math.log(...) — NO max(0,·) floor (:146)
          StrictMath.log((n - docFreq + 0.5) / (docFreq + 0.5)).toFloat
        val scored = ilr.df
        SlRes(
          scored.select($"docid",
            ScoreExpressions.bm25($"tf", $"len", rsj, k1, b, avgDocLen)
              .as("score")),
          Set(field), _ => lit(0.0))

      case Indri(mu, lambda) =>
        // QryopSlScore.java:178-221 — float-faithful custom expression;
        // docLen inline (matching docs); defaults still read doclen
        val ctf = ilr.ctf()
        val mle: Float = ctf.toFloat / fs.collectionLength // (float) ctf / cl (:200)
        val scored = ilr.df
        def default(lens: Map[String, Column]): Column =
          ScoreExpressions.indriDefault(lens(field), mu, lambda, mle)
        SlRes(
          scored.select($"docid",
            ScoreExpressions.indri($"tf", $"len", mu, lambda, mle).as("score")),
          Set(field), default)
    }
  }

  def planSl(q: Sl): SlRes = q match {
    case Score(c) => planScore(c)

    case And(args) => model match {
      case UnrankedBoolean | RankedBoolean =>
        // Intersection + min (`QryopSlAnd.java:65-123`). min/1.0 are
        // FP-order-independent, so a plain groupBy reproduces scores.
        val children = args.map(planSl)
        val k = children.length
        val unioned = children.map(_.scores).reduce(_ union _)
        val scores = unioned.groupBy($"docid")
          .agg(count(lit(1)).as("cnt"), min($"score").as("mn"))
          .filter($"cnt" === k)
          .select($"docid",
            (if (model == UnrankedBoolean) lit(1.0) else $"mn").as("score"))
        SlRes(scores, children.flatMap(_.fields).toSet, _ => lit(0.0))
      case Indri(_, _) =>
        // Docid union; score = (∏ s_or_default)^(1/nArgs)
        // (`QryopSlAnd.java:134-174`), product in child order; the
        // default is the geo-mean of child defaults (:186-202)
        val children = args.map(planSl)
        val nArgs = children.length
        combineIndri(children)(cs =>
          ScoreExpressions.strictPow(product(cs), lit(1.0 / nArgs)))
      case _ => throw new IllegalStateException("#AND unsupported for BM25")
    }

    case Or(args) =>
      // Union + max / exists (`QryopSlOr.java:57-99`).
      model match {
        case UnrankedBoolean | RankedBoolean =>
          val children = args.map(planSl)
          val unioned = children.map(_.scores).reduce(_ union _)
          val scores = unioned.groupBy($"docid")
            .agg(max($"score").as("mx"))
            .select($"docid",
              (if (model == UnrankedBoolean) lit(1.0) else $"mx").as("score"))
          SlRes(scores, children.flatMap(_.fields).toSet, _ => lit(0.0))
        case _ => throw new IllegalStateException("#OR unsupported for " + model)
      }

    case Sum(args) => model match {
      case BM25(_, _, k3) =>
        // Docid union, Σ childScore × usrWeight with qtf=1
        // (`QryopSlSum.java:55-101`); accumulation in child order.
        val children = args.map(planSl)
        val qtf = 1
        val usrWeight: Double = ((k3 + 1) * qtf / (k3 + qtf)).toDouble // float math (:69-75)
        val scores = orderedSum(children, usrWeight)
        SlRes(scores, children.flatMap(_.fields).toSet, _ => lit(0.0))
      case _ => throw new IllegalStateException("#SUM unsupported for " + model)
    }

    case WAnd(weights, args) => model match {
      case Indri(_, _) =>
        val children = args.map(planSl)
        val wn = Planner.normalizeWeights(weights)
        combineIndri(children)(cs => product(cs.zip(wn).map { case (c, w) =>
          ScoreExpressions.strictPow(c, lit(w.toDouble))
        }))
      case _ => throw new IllegalStateException("#WAND requires Indri")
    }

    case WSum(weights, args) => model match {
      case Indri(_, _) =>
        val children = args.map(planSl)
        val wn = Planner.normalizeWeights(weights)
        combineIndri(children)(cs => aggregate(
          array(cs.zip(wn).map { case (c, w) => c * lit(w.toDouble) }: _*),
          lit(0.0), (acc, x) => acc + x))
      case _ => throw new IllegalStateException("#WSUM requires Indri")
    }
  }

  /** `1.0 · c₀ · c₁ ⋯` folded left in child order — an `aggregate` over
    * the child array rather than a nested Column product, so a wide tree
    * (PRF's learned #WAND has up to fbTerms children) stays one
    * expression of bounded depth instead of overflowing Janino's method
    * size and falling back from whole-stage codegen; same doubles, same
    * order, so bit-identical. */
  private def product(cs: Seq[Column]): Column =
    aggregate(array(cs: _*), lit(1.0), (acc, x) => acc * x)

  /** Docid-union combine for Indri operators: one shuffle — children
    * tagged with their index, grouped into a docid→(cid→score) map, then
    * the caller's fold over `coalesce(score_i, default_i(docLen))` per
    * child in child order. The operator's own default (for a doc missing
    * from every child) is the same fold over the child defaults. */
  private def combineIndri(children: Seq[SlRes])(fold: Seq[Column] => Column)
      : SlRes = {
    val fields = children.flatMap(_.fields).toSet
    val tagged = children.zipWithIndex.map { case (c, i) =>
      c.scores.select($"docid", lit(i).as("cid"), $"score")
    }.reduce(_ union _)
    val grouped = tagged.groupBy($"docid")
      .agg(map_from_entries(collect_list(struct($"cid", $"score"))).as("sm"))
    val (withLens, lens) = joinLens(grouped, fields)
    val scores = withLens.select($"docid", fold(children.indices.map(i =>
      coalesce(element_at($"sm", lit(i)), children(i).default(lens))))
      .as("score"))
    SlRes(scores, fields, outer => fold(children.map(_.default(outer))))
  }

  /** Ordered-sum combine for #SUM (BM25 — no defaults; each doc's score
    * summed over its PRESENT children in child order, matching the
    * reference's per-child accumulation loop FP-exactly). */
  private def orderedSum(children: Seq[SlRes], usrWeight: Double): DataFrame = {
    val tagged = children.zipWithIndex.map { case (c, i) =>
      c.scores.select($"docid", lit(i).as("cid"), $"score")
    }.reduce(_ union _)
    // sort_array on (cid, score) structs → child order; aggregate() folds
    // left-to-right: exact reference accumulation order.
    tagged.groupBy($"docid")
      .agg(sort_array(collect_list(struct($"cid", $"score"))).as("cs"))
      .select($"docid",
        aggregate($"cs", lit(0.0),
          (acc, x) => acc + x.getField("score") * lit(usrWeight)).as("score"))
  }

  // ------------------------------------------------------------ doclen map

  /** Left-join per-field doc lengths as a field→len map; missing field ⇒
    * length 0 (Lucene missing norm). doclen is semi-joined to the (much
    * smaller) union-docid frame BEFORE the map aggregate — the semi-join
    * broadcasts the query's docids over the doclen scan, so the per-query
    * aggregate touches only matching docs, never the full collection. */
  private def joinLens(df: DataFrame, fields: Set[String])
      : (DataFrame, Map[String, Column]) = {
    if (fields.isEmpty) return (df, Map.empty)
    val fseq = fields.toSeq
    val lenm = index.doclen
      .filter($"field".isin(fseq: _*))
      .join(df.select($"docid"), Seq("docid"), "left_semi")
      .groupBy($"docid")
      .agg(map_from_entries(collect_list(struct($"field", $"len"))).as("lenm"))
    val joined = df.join(lenm, Seq("docid"), "left")
    val lens = fseq.map(f =>
      f -> coalesce(element_at($"lenm", lit(f)), lit(0L))).toMap
    (joined, lens)
  }

  // ------------------------------------------------------------- top level

  /** Plan a full query AST to a (docid, score) DataFrame. Composite
    * scratch caches created along the way live in the index's bounded
    * LRU (evicted-and-unpersisted by later queries, reused by repeats —
    * see `Index.scratchLru`); [[graft.index.Index.releaseScratch]]
    * drops them all when serving stops. */
  def plan(q: Qry): DataFrame = {
    leafStats = Planner.leafStats(index, Planner.termLeaves(q))
    planSl(Qry.asSl(q)).scores
  }
}

object Planner {

  /** Normalize to Σ=1 in float, like `QryopSlWAnd.normalizeWeight`
    * (:36-45) — over the FULL weight list (orphaned weights from vanished
    * terms still count, replicating the parser quirk). */
  private[exec] def normalizeWeights(ws: Seq[Float]): Seq[Float] = {
    var total = 0.0f
    ws.foreach(total += _)
    ws.map(_ / total)
  }

  /** Every (term, field) leaf of a query, in tree order. */
  private def termLeaves(q: Qry): Seq[(String, String)] = q match {
    case Term(t, f)    => Seq((t, f))
    case Syn(as)       => as.flatMap(termLeaves)
    case Near(_, as)   => as.flatMap(termLeaves)
    case Window(_, as) => as.flatMap(termLeaves)
    case Score(c)      => termLeaves(c)
    case And(as)       => as.flatMap(termLeaves)
    case Or(as)        => as.flatMap(termLeaves)
    case Sum(as)       => as.flatMap(termLeaves)
    case WAnd(_, as)   => as.flatMap(termLeaves)
    case WSum(_, as)   => as.flatMap(termLeaves)
  }

  /** (df, ctf) of every distinct (term, field) leaf, collected in one job
    * — the few query terms against the termStats table (broadcast-semi-
    * join analog of `InvList`'s df/ctf fetch, `InvList.java:68-106`).
    * Shared by every execution route, so each validates fields alike. */
  private[exec] def leafStats(index: Index, leaves0: Seq[(String, String)])
      : Map[(String, String), (Long, Long)] = {
    val ls = leaves0.distinct
    // Unknown field = syntax error (reference indexes a fixed field set,
    // `QryEval/src/QryEval.java:467`; silently matching nothing hid typos)
    ls.map(_._2).distinct.foreach { f =>
      require(index.indexedFields.contains(f),
        s"Query syntax is incorrect. Unknown field: $f")
      // Legacy snapshots carry no indexedFields; a default-named field
      // accepted only through the DefaultFields union matched nothing at
      // build time, so a typo would look identical — warn (round-3
      // ADVICE).
      if (index.legacyAssumedFields.contains(f))
        System.err.println(s"[graft] WARNING: field '$f' accepted via the" +
          " legacy default-field fallback (snapshot lists no" +
          " indexedFields); it holds no documents and matches nothing")
    }
    if (ls.isEmpty) return Map.empty
    import index.spark.implicits._
    val conds = ls.map { case (t, f) => $"term" === t && $"field" === f }
      .reduce(_ || _)
    index.termStats.filter(conds)
      .select($"term", $"field", $"df", $"ctf")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }
}
