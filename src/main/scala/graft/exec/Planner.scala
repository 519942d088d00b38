package graft.exec

import graft.index.Index
import graft.model._
import org.apache.spark.sql.DataFrame

/** Plans a query AST to the (docid, score) frame of EVERY document it
  * matches — the reference's exhaustive DAAT evaluation (SURVEY §2/§3):
  * the block-max engine unpruned ([[BlockMax.all]]). Its Spark jobs: the
  * leaf-stats collect, under BM25 and Indri one df/ctf job over the
  * positional leaves' blocks, and the scoring `mapPartitions` the
  * caller's action runs. The operator × model checks throw here, before
  * any scoring job. */
final class Planner(index: Index, model: RetrievalModel) {
  def plan(q: Qry): DataFrame =
    BlockMax.all(index, index.blocks, Qry.asSl(q), model)
}
