package graft.model

/** Query AST — the two-sorted algebra of the reference engine
  * (`QryEval/src/QryResult.java:16-23`): `Il` nodes produce inverted
  * (posting-shaped) results, `Sl` nodes produce score-shaped results.
  * An `Il` child of an `Sl` operator is implicitly wrapped in `Score`
  * (`QryEval/src/QryopSl.java:27-45`).
  */
sealed trait Qry {
  /** The operands; a term has none. */
  def children: Seq[Qry] = this match {
    case Term(_, _)     => Nil
    case Score(c)       => Seq(c)
    case Syn(as)        => as
    case Near(_, as)    => as
    case Window(_, as)  => as
    case And(as)        => as
    case Or(as)         => as
    case Sum(as)        => as
    case WAnd(_, as)    => as
    case WSum(_, as)    => as
  }

  /** True when the subtree has no term leaves (parser drops empty ops,
    * `QryEval/src/QryEval.java:452-453`). */
  def isEmpty: Boolean = this match {
    case Term(_, _) => false
    case Score(c)   => c.isEmpty
    case _          => children.isEmpty
  }
}

/** Inverted-list-producing operators (`QryEval/src/QryopIl.java`). */
sealed trait Il extends Qry

/** Score-list-producing operators (`QryEval/src/QryopSl.java`). */
sealed trait Sl extends Qry

final case class Term(term: String, field: String = "body") extends Il
final case class Syn(args: Seq[Il]) extends Il
final case class Near(distance: Int, args: Seq[Il]) extends Il
final case class Window(distance: Int, args: Seq[Il]) extends Il

final case class Score(child: Il) extends Sl
final case class And(args: Seq[Sl]) extends Sl
final case class Or(args: Seq[Sl]) extends Sl
final case class Sum(args: Seq[Sl]) extends Sl
final case class WAnd(weights: Seq[Float], args: Seq[Sl]) extends Sl
final case class WSum(weights: Seq[Float], args: Seq[Sl]) extends Sl

object Qry {
  /** Implicit-#SCORE coercion (`QryEval/src/QryopSl.java:34-35`). */
  def asSl(q: Qry): Sl = q match {
    case il: Il => Score(il)
    case sl: Sl => sl
  }
}
