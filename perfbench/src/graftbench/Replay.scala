package graftbench

import scala.collection.mutable

/** One raw event row as the generator wrote it. */
final case class RawEvent(seq: Long, tUs: Long, user: Long, etype: String,
                          props: String)

/** A replay of the reference's record semantics, independent of the
  * engine: parse each event, route it through the default transform
  * config, and fold it into plain maps — a HashMap count with the max
  * time per (cache, s, a, o), a ring buffer of the last 20 values per
  * key, the last write per key, and the update count per key.
  */
final class Replay {
  import Replay._

  val counts = mutable.HashMap.empty[(String, Long, String, Long), (Long, Long)]
  private val rings = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[(Long, Long, Long)]]
  private val lastWrite = mutable.HashMap.empty[(String, Long), (Long, Long, Long)]
  val keycount = mutable.HashMap.empty[Long, Long]

  /** Events must arrive in (t, seq) order, as the engine's (t, seq)
    * "last" order defines them.
    */
  def add(e: RawEvent): Unit = objectOf(e.props).foreach { o =>
    val (s, t, seq) = (e.user, e.tUs, e.seq)
    def emit(cache: String, k: Long, v: Long, action: String = null): Unit = {
      keycount(k) = keycount.getOrElse(k, 0L) + 1
      kinds(cache) match {
        case "count" =>
          val key = (cache, k, action, v)
          val (c, lt) = counts.getOrElse(key, (0L, Long.MinValue))
          counts(key) = (c + 1, math.max(lt, t))
        case "lastn" =>
          val ring = rings.getOrElseUpdate((cache, k), mutable.ArrayBuffer.empty)
          ring += ((t, seq, v))
          if (ring.size > LastN) ring.remove(0)
        case "assoc" =>
          lastWrite((cache, k)) = (t, seq, v)
      }
    }
    e.etype match {
      case "signup" =>
        emit("signup-obj-user", o, s); emit("signup-user-obj", s, o)
      case "view" => emit("view-user-obj", s, o)
      case "purchase" =>
        emit("buy-obj-user", o, s); emit("buy-user-obj", s, o)
        emit("interactions-user-obj", s, o, "buy")
      case "error" => emit("interactions-user-obj", s, o, "err")
      case _ => // unmatched predicates are dropped
    }
  }

  /** (cache, s, a, o, cnt, last_t) */
  def countRows: Set[Seq[Any]] =
    counts.iterator.map { case ((c, s, a, o), (n, t)) => Seq(c, s, a, o, n, t) }.toSet

  /** (cache, k, v, t, rn), rn = 1 newest */
  def lastnRows: Set[Seq[Any]] = rings.iterator.flatMap { case ((c, k), ring) =>
    ring.reverseIterator.zipWithIndex.map { case ((t, _, v), i) =>
      Seq[Any](c, k, v, t, (i + 1).toLong)
    }
  }.toSet

  /** (cache, k, v, t) */
  def assocRows: Set[Seq[Any]] =
    lastWrite.iterator.map { case ((c, k), (t, _, v)) => Seq[Any](c, k, v, t) }.toSet

  /** (cache, k, cnt) */
  def keycountRows: Set[Seq[Any]] =
    keycount.iterator.map { case (k, n) => Seq[Any]("subject-counts", k, n) }.toSet

  def countIndex: CountIndex = new CountIndex(counts.iterator.collect {
    case ((CountCache, s, a, o), (n, t)) => (s, a, o, n, t)
  }.toSeq)
}

object Replay {
  val LastN = 20
  val CountCache = "interactions-user-obj"
  val kinds: Map[String, String] = Map(
    "signup-obj-user" -> "assoc", "buy-obj-user" -> "assoc",
    "signup-user-obj" -> "lastn", "view-user-obj" -> "lastn",
    "buy-user-obj" -> "lastn", "interactions-user-obj" -> "count")

  private val KRe = "\"k\": (\\d+)".r

  /** ≙ TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) */
  def objectOf(props: String): Option[Long] =
    Option(props).flatMap(KRe.findFirstMatchIn).flatMap(_.group(1).toLongOption)

  def of(events: Iterable[RawEvent]): Replay = {
    val r = new Replay
    events.toSeq.sortBy(e => (e.tUs, e.seq)).foreach(r.add)
    r
  }
}

/** The count cache as the query API sees it: (s, a, o, cnt, last_t). */
final class CountIndex(rows: Seq[(Long, String, Long, Long, Long)]) {
  type Row5 = (Long, String, Long, Long, Long)
  private val bySubj: Map[Long, Seq[Row5]] = rows.groupBy(_._1)
  private val byKey: Map[(Long, String, Long), Row5] =
    rows.map(r => (r._1, r._2, r._3) -> r).toMap

  def keys: IndexedSeq[(Long, String, Long)] = byKey.keys.toIndexedSeq.sorted
  def subjects: IndexedSeq[Long] = bySubj.keys.toIndexedSeq.sorted

  private def slice(s: Long, actions: Seq[String]): Seq[Row5] =
    bySubj.getOrElse(s, Nil).filter(r => actions.isEmpty || actions.contains(r._2))

  def getCount(s: Long, a: String, o: Long): (Long, Long, Option[Long]) =
    byKey.get((s, a, o)).map(r => (o, r._4, Some(r._5))).getOrElse((o, 0L, None))

  def countsFor(s: Long, actions: Seq[String]): Seq[(Long, Long, Long)] =
    slice(s, actions).groupBy(_._3).map { case (o, rs) =>
      (o, rs.map(_._4).sum, rs.map(_._5).max)
    }.toSeq.sortBy(_._1)

  def sumCounts(s: Long, actions: Seq[String]): Long = slice(s, actions).map(_._4).sum

  def tuples(s: Long, actions: Seq[String]): Seq[Row5] = slice(s, actions)
}
