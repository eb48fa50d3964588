package graftbench

import graft.api.CountSummaryView
import graft.api.CountSummaryView._

/** One query-API call of the closed-loop client. */
sealed trait Op { def span: String }
final case class GetCount(s: Long, a: String, o: Long) extends Op {
  def span = "api.get_count_ms"
}
final case class CountsFor(s: Long, actions: Seq[String]) extends Op {
  def span = "api.counts_for_subj_action_ms"
}
final case class SumCounts(s: Long, actions: Seq[String]) extends Op {
  def span = "api.sum_counts_ms"
}
final case class Tuples(ordering: TupleOrdering, s: Long,
                        actions: Seq[String]) extends Op {
  def span = "api.tuples_for_subj_action_ms"
}

/** The op mix: getCount, countsForSubjAction, sumCounts and
  * tuplesForSubjAction in turn, about a tenth of them on keys the cache
  * does not hold.
  */
object Ops {
  val ActionSets: Seq[Seq[String]] =
    Seq(Seq("buy"), Seq("err"), Seq("buy", "err"), Seq.empty)
  val Orderings: Seq[TupleOrdering] = Seq(Unsorted, ByTime(true),
    ByTime(false), ByCount(true), ByCount(false), ByCountTime(true),
    ByCountTime(false))

  def gen(rng: java.util.Random, idx: CountIndex, n: Int): Seq[Op] = {
    val keys = idx.keys
    val subjects = idx.subjects
    val absentBase = (subjects.lastOption.getOrElse(0L) + 1) * 2
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    (0 until n).map { i =>
      val absent = rng.nextInt(10) == 0
      val s = if (absent) absentBase + rng.nextInt(1000) else pick(subjects)
      i % 4 match {
        case 0 =>
          val (ks, ka, ko) = pick(keys)
          if (absent) GetCount(ks, ka, absentBase + rng.nextInt(1000))
          else GetCount(ks, ka, ko)
        case 1 => CountsFor(s, pick(ActionSets))
        case 2 => SumCounts(s, pick(ActionSets))
        case _ => Tuples(pick(Orderings), s, pick(ActionSets))
      }
    }
  }

  def run(view: CountSummaryView, op: Op): Any = op match {
    case GetCount(s, a, o) => view.getCount(s, a, o)
    case CountsFor(s, as) => view.countsForSubjAction(s, as: _*)
    case SumCounts(s, as) => view.sumCounts(s, as: _*)
    case Tuples(ord, s, as) => view.tuplesForSubjAction(ord, Some(s), as: _*)
  }

  private def sortKey(ord: TupleOrdering)(r: Tuple5L): (Long, Long) = ord match {
    case ByTime(_) => (r._5, 0L)
    case ByCount(_) => (r._4, 0L)
    case ByCountTime(_) => (r._4, r._5)
    case _ => (0L, 0L)
  }

  /** Whether `got` is a correct answer to `op` against `idx`. Rows
    * that tie on an ordering's key may come back in any order.
    */
  def matches(idx: CountIndex, op: Op, got: Any): Boolean = op match {
    case GetCount(s, a, o) => got == idx.getCount(s, a, o)
    case CountsFor(s, as) => got == idx.countsFor(s, as)
    case SumCounts(s, as) => got == idx.sumCounts(s, as)
    case Tuples(ord, s, as) =>
      val rows = got.asInstanceOf[Seq[Tuple5L]]
      val exp = idx.tuples(s, as)
      rows.sorted == exp.sorted &&
        rows.map(sortKey(ord)) == ord.sort(exp).map(sortKey(ord))
  }
}
