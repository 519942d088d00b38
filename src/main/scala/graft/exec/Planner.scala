package graft.exec

import graft.index.Index
import graft.model._
import org.apache.spark.sql.DataFrame

/** Plans a query AST to the (docid, score) frame of EVERY document it
  * matches — the reference's exhaustive DAAT evaluation (SURVEY §2/§3):
  * the block-max engine's segment tasks with pruning off
  * ([[BlockMax.all]]). Its Spark jobs: the [[Planner.leafStats]] collect,
  * under BM25 and Indri one df/ctf job over the positional leaves' blocks,
  * and the scoring `mapPartitions` the caller's action runs. The
  * operator × model checks throw here, before any scoring job.
  */
final class Planner(index: Index, model: RetrievalModel) {
  def plan(q: Qry): DataFrame =
    BlockMax.all(index, index.blocks, Qry.asSl(q), model)
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
  private[exec] def termLeaves(q: Qry): Seq[(String, String)] = q match {
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
