package graftbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The local property `SparkContext.setJobGroup` writes. */
object GroupKey {
  val name = "spark.jobGroup.id"
}

/** Task-side totals of one job group, or of the whole traced window. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = synchronized {
    jobs += o.jobs; taskMs += o.taskMs; shuffleBytes += o.shuffleBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes
  }
}

/** Attributes every job and task to the job group of the call that
  * launched it. A streaming query runs its batches on its own thread
  * under a group named by its run id; `alias` maps that id back to the
  * span that started the query.
  */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  val alias = new ConcurrentHashMap[String, String]()
  val total = new Counters
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(p: Properties): Option[String] =
    Option(p).flatMap(q => Option(q.getProperty(GroupKey.name)))
      .map(g => alias.getOrDefault(g, g))

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      val c = counters(g); c.synchronized(c.jobs += 1)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach(stageGroup.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counters
      c.taskMs = m.executorRunTime
      c.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      c.inputBytes = m.inputMetrics.bytesRead
      c.outputBytes = m.outputMetrics.bytesWritten
      c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      total.add(c)
      Option(stageGroup.get(e.stageId)).foreach(g => counters(g).add(c))
    }
  }
}

/** One benchmark-side span around a public call. */
final case class Span(id: Long, name: String, parent: Long, iter: Int,
                      startNs: Long, endNs: Long, group: String)

/** Spans held in memory for one traced window. With `enabled` false a
  * span is just its body: no job group, no record.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()
  val listener = new GroupListener
  @volatile var iter = 0

  /** Streaming state size per query run id, and which span started it. */
  val stateRows = new ConcurrentHashMap[String, java.lang.Long]()
  val runSpan = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var streamParent: Span = null

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val p = streamParent
      if (p != null) {
        listener.alias.put(e.runId.toString, p.group)
        runSpan.put(e.runId.toString, p.id)
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
      stateRows.merge(e.progress.runId.toString, rows, (a, b) => math.max(a, b))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the listener has seen every event posted so far. */
  def stop(): Unit = if (enabled) {
    org.apache.spark.GraftBenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def currentSpan: Span = current.get

  /** Times `body` as span `name` under its own job group. `parent`
    * defaults to the enclosing span of this thread.
    */
  def span[T](name: String, parent: Span = null)(body: => T): T =
    if (!enabled) body
    else {
      val par = Option(parent).getOrElse(current.get)
      val id = ids.incrementAndGet()
      val group = s"graftbench-$id"
      val keys = Seq(GroupKey.name, "spark.job.description",
        "spark.job.interruptOnCancel")
      val saved = keys.map(sc.getLocalProperty)
      val t0 = System.nanoTime()
      val open = Span(id, name, Option(par).map(_.id).getOrElse(0L), iter,
        t0, 0L, group)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      current.set(open)
      try body
      finally {
        val t1 = System.nanoTime()
        keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
        current.set(par)
        spans.add(open.copy(endNs = t1))
      }
    }

  /** Task totals of one span including its descendants. */
  def countersOf(s: Span, children: Map[Long, Seq[Span]]): Counters = {
    val c = new Counters
    Option(listener.byGroup.get(s.group)).foreach(c.add)
    children.getOrElse(s.id, Nil).foreach(ch => c.add(countersOf(ch, children)))
    c
  }
}
