package graftbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer

import graft.analytics.Graph
import graft.api.SinkCountSummaryView
import graft.core.{Caches, Transform}
import graft.pipeline.{CorpusClean, CorpusOps, Dedup, QualityGate, TextAnalysis}
import graft.sinks.{BucketedSnapshotCacheSink, DeltaCacheSink}
import graft.streaming.StreamSum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one measured window of a workload observed. */
final class Samples {
  val items = ArrayBuffer.empty[Double]   // input items per second, per iteration
  val fresh = ArrayBuffer.empty[Double]   // s from input due to visible result
  val queryMs = ArrayBuffer.empty[Double] // one public call each
  val pending = ArrayBuffer.empty[Double] // deltas a read has to merge
  val attempted = new AtomicLong
  val failed = new AtomicLong
  var eventsPublished = 0L
  var passS = 0.0
  var liveBytes = 0L

  /** Adds `o`'s samples and counts to these; returns this. */
  def absorb(o: Samples): Samples = {
    items ++= o.items; fresh ++= o.fresh; queryMs ++= o.queryMs
    attempted.addAndGet(o.attempted.get); failed.addAndGet(o.failed.get)
    this
  }

  /** Runs one operation, counting it; a throw counts as failed. */
  def op[T](body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[graftbench] operation failed: $e")
        e.printStackTrace()
        None
    }
  }

  def timedQuery[T](body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = op(body)
    queryMs += (System.nanoTime() - t0) / 1e6
    r
  }
}

/** Session, scratch space and seeded inputs shared by the workloads. */
final class Ctx(val spark: SparkSession, val work: File, val inputs: File,
                val seed: Long, val meta: Map[String, Long]) {
  private val runs = new AtomicInteger

  /** A new directory holding hard links to the given input files:
    * memos are keyed by (session, dir), so each iteration reads a
    * directory no earlier iteration has seen.
    */
  def freshDir(tag: String, files: String*): String = {
    val d = new File(work, s"runs/$tag-${runs.incrementAndGet()}")
    d.mkdirs()
    files.foreach { f =>
      Files.createLink(new File(d, f).toPath, new File(inputs, f).toPath)
    }
    d.getPath
  }

  /** Every memo release hook the engine has. */
  def releaseAll(): Unit = {
    Transform.releaseAll(spark)
    graft.core.CountQueries.releaseAll(spark)
    graft.pipeline.SignatureStore.releaseAll(spark)
    graft.pipeline.Similarity.releaseAll(spark)
    graft.pipeline.QualityClassifier.releaseAll(spark)
    TextAnalysis.releaseAll(spark)
    Graph.releaseAll(spark)
    StreamSum.releaseHarnessTables(spark)
  }

  /** Storage the block manager still holds for cached relations. */
  def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** The raw rows of the given input files, in one read, per file. */
  def rawEvents(files: String*): Seq[Seq[RawEvent]] = {
    val byFile = spark.read.parquet(files.map(f => new File(inputs, f).getPath): _*)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")),
        col("user_id"), col("event_type"), col("props"), input_file_name())
      .collect().toSeq
      .groupBy(r => new File(new java.net.URI(r.getString(5)).getPath).getName)
      .map { case (f, rows) => f -> rows.map(r => RawEvent(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))) }
    files.map(f => byFile.getOrElse(f, Nil))
  }

  def deleteTree(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }
}

trait Workload {
  /** Part of `setup_s`: the first engine read of the inputs. */
  def setup(): Unit
  /** Untimed benchmark work before the window (the replay). */
  def prepare(): Unit = ()
  /** One measured window of about `seconds`. */
  def window(seconds: Double, tr: Tracer, s: Samples): Unit
  /** The shortest window that still yields the end-to-end numbers the
    * tracing overhead compares.
    */
  def overheadWindow(tr: Tracer, s: Samples): Unit = window(0, tr, s)
  /** Checks outside the timed region; returns the number of wrong
    * answers. Results for the DuckDB oracle go under `<work>/check`.
    */
  def check(): Long
  /** SparkEntry query names whose results were written for the oracle. */
  def oracle: Seq[String] = Nil
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "summarize" => new Summarize(ctx)
    case "corpus_clean" => new CorpusCleanWl(ctx)
    case "graph_fixpoint" => new GraphFixpoint(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val CountKeys: Seq[String] = StreamSum.countSinkKeys
}

/** The reference's whole job as a batch, then the update-mode stream
  * publishing delta batches into a bucketed sink, each publish followed
  * by a round of query-API calls over the sink and its pending deltas.
  */
final class Summarize(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val nEvents = ctx.meta("events")
  private val nBatches = ctx.meta("batches").toInt
  private val batchEvents = ctx.meta("batch_events")
  private val Name = "counts"
  private var base: Replay = _ // events.parquet
  private var prefixes: IndexedSeq[CountIndex] = _ // events.parquet + k batches
  private val rng = new java.util.Random(ctx.seed * 7919 + 1)
  private val answers = ArrayBuffer.empty[(Op, Any, Int)]
  private var lastSinks: Map[String, BucketedSnapshotCacheSink] = Map.empty
  private var lastStreamed: Set[Seq[Any]] = _

  private val states: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("count", xf => Caches.countState(xf), Workloads.CountKeys),
    ("lastn", xf => Caches.lastnState(xf), Seq("cache", "k", "rn")),
    ("assoc", xf => Caches.assocState(xf), Seq("cache", "k")),
    ("keycount", xf => Caches.keycountState(xf), Seq("cache", "k")))

  private def batchFile(i: Int) = f"batch-$i%04d.parquet"

  def setup(): Unit = {
    val rows = spark.read.parquet(new File(ctx.inputs, "events.parquet").getPath).count()
    require(rows == nEvents, s"events.parquet holds $rows rows")
  }

  /** The replay of events.parquet, and of it plus each batch in turn. */
  override def prepare(): Unit = {
    val files = ctx.rawEvents("events.parquet" +: (0 until nBatches).map(batchFile): _*)
    base = Replay.of(files.head)
    prefixes = (0 to nBatches).map(k => Replay.of(files.take(k + 1).flatten).countIndex)
  }

  /** Input to every cache published; returns the sinks. */
  private def build(dir: String, tr: Tracer): Map[String, BucketedSnapshotCacheSink] = {
    val xf = tr.span("core.transform_s") {
      val x = Transform.transformed(spark, dir); x.count(); x
    }
    states.map { case (kind, state, keys) =>
      val sink = new BucketedSnapshotCacheSink(s"$dir/sink-$kind", keys)
      val st = tr.span(s"core.cache_${kind}_s") {
        val d = state(xf).persist(); d.count(); d
      }
      tr.span("sinks.put_s") { sink.put(kind, st) }
      st.unpersist()
      kind -> sink
    }.toMap
  }

  def window(seconds: Double, tr: Tracer, s: Samples): Unit =
    pass(seconds, tr, s, withBuild = true)

  /** The batch build feeds neither freshness nor query latency. */
  override def overheadWindow(tr: Tracer, s: Samples): Unit =
    pass(0, tr, s, withBuild = false)

  /** One build; then the stream publishes events.parquet as the sink's
    * base, and one untimed call of each kind compiles the read plans.
    * Then each round publishes the next batch (it lands in the watched
    * directory and is published at once) and makes one call of each
    * kind, until every batch is published and `seconds` have passed.
    */
  private def pass(seconds: Double, tr: Tracer, s: Samples, withBuild: Boolean): Unit = {
    tr.iter += 1
    val dir = ctx.freshDir("summarize", "events.parquet")
    val t0 = System.nanoTime()
    if (withBuild) s.op(build(dir, tr)).foreach { sk =>
      s.items += nEvents / ((System.nanoTime() - t0) / 1e9)
      s.eventsPublished += nEvents
      lastSinks = sk
    }

    val watch = new File(dir, "watch"); watch.mkdirs()
    val real = new BucketedSnapshotCacheSink(s"$dir/stream-sink", Workloads.CountKeys)
    val lastMerge = new AtomicLong
    val sink = new TimedSink(real, tr, t => lastMerge.set(t))
    def land(f: String): Unit =
      Files.createLink(new File(watch, f).toPath, new File(ctx.inputs, f).toPath)
    // the base publish is spanned for its jobs only: its merge is a put
    def publish(span: String, delta: Boolean): Boolean = s.op(tr.span(span) {
      if (delta) sink.publishSpan = tr.currentSpan
      tr.streamParent = tr.currentSpan
      try StreamSum.streamCountsToSinkUpdate(spark, watch.getPath, sink, Name,
        Some(s"$dir/checkpoint"), glob = "*.parquet")
      finally { sink.publishSpan = null; tr.streamParent = null }
    }).isDefined
    def calls(visible: Int, timed: Boolean): Unit = {
      // a view reads the version current when it is made; making it is
      // not part of a call
      val view = new SinkCountSummaryView(spark, real, Name, Replay.CountCache)
      Ops.gen(rng, prefixes.last, 4).foreach { op =>
        val a = if (timed) s.timedQuery(tr.span(op.span)(Ops.run(view, op)))
          else s.op(Ops.run(view, op))
        a.foreach(x => answers += ((op, x, visible)))
        if (tr.enabled && timed) s.pending += pendingDeltas(s"$dir/stream-sink/$Name")
      }
    }

    land("events.parquet")
    if (publish("streaming.base_publish_s", delta = false)) {
      calls(0, timed = false)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var published = 0
      while (published < nBatches || System.nanoTime() < deadline) {
        if (published < nBatches) {
          val due = System.nanoTime()
          land(batchFile(published))
          lastMerge.set(0L)
          if (publish("streaming.publish_s", delta = true)) {
            val seen = if (lastMerge.get > 0) lastMerge.get else System.nanoTime()
            s.fresh += (seen - due) / 1e9
            s.eventsPublished += batchEvents
          }
          published += 1
        }
        calls(published, timed = true)
      }
      lastStreamed = countRows(real.get(spark, Name))
    }
    ctx.releaseAll()
    s.liveBytes = math.max(s.liveBytes, ctx.cachedBytes)
  }

  private def countRows(df: DataFrame): Set[Seq[Any]] =
    df.select(col("cache"), col("s"), col("a"), col("o"), col("cnt"), col("last_t"))
      .collect().map(_.toSeq).toSet

  /** Deltas a read of the current version has to merge, from the
    * sink's own layout file.
    */
  private def pendingDeltas(nameDir: String): Double = {
    val latest = new String(Files.readAllBytes(new File(nameDir, "_LATEST").toPath)).trim
    val state = new File(nameDir, s"v=$latest/_STATE")
    val src = scala.io.Source.fromFile(state)
    try src.getLines().count(_.startsWith("D ")).toDouble finally src.close()
  }

  def check(): Long = if (lastSinks.isEmpty || lastStreamed == null) 1 else {
    def rows(kind: String, cols: String*): Set[Seq[Any]] =
      lastSinks(kind).get(spark, kind).select(cols.map(col): _*).collect()
        .map(_.toSeq).toSet
    val all = prefixes.last
    val streamed = all.keys.map { case (s, a, o) =>
      val (_, cnt, t) = all.getCount(s, a, o)
      Seq[Any](Replay.CountCache, s, a, o, cnt, t.get)
    }.toSet
    val stateChecks = Seq(
      "count" -> (rows("count", "cache", "s", "a", "o", "cnt", "last_t") == base.countRows),
      "lastn" -> (rows("lastn", "cache", "k", "v", "t", "rn") == base.lastnRows),
      "assoc" -> (rows("assoc", "cache", "k", "v", "t") == base.assocRows),
      "keycount" -> (rows("keycount", "cache", "k", "cnt") == base.keycountRows),
      "streamed count" -> (lastStreamed == streamed))
    stateChecks.filterNot(_._2).foreach { case (k, _) =>
      System.err.println(s"[graftbench] cache state '$k' differs from the replay")
    }
    // a call sees the batches published before it
    val wrong = answers.count { case (op, a, k) => !Ops.matches(prefixes(k), op, a) }
    if (wrong > 0) System.err.println(s"[graftbench] $wrong wrong query answers")
    stateChecks.count(!_._2) + wrong
  }
}

/** A real sink whose merges under a publish span are timed as their
  * own spans; `onMerge` sees when each merge became visible.
  */
final class TimedSink(real: BucketedSnapshotCacheSink, tr: Tracer,
                      onMerge: Long => Unit) extends DeltaCacheSink {
  @volatile var publishSpan: Span = null
  def put(n: String, st: DataFrame): Unit = real.put(n, st)
  def get(spark: SparkSession, n: String): DataFrame = real.get(spark, n)
  def reset(spark: SparkSession, n: String): Unit = real.reset(spark, n)
  def mergeDelta(n: String, delta: DataFrame, keys: Seq[String]): Unit = {
    val p = publishSpan
    if (p == null) real.mergeDelta(n, delta, keys)
    else tr.span("sinks.merge_delta_s", parent = p)(real.mergeDelta(n, delta, keys))
    onMerge(System.nanoTime())
  }
}

/** A fixed sequence of public calls over one input per iteration. */
abstract class BatchWorkload(ctx: Ctx, tag: String, input: String,
                             items: Long) extends Workload {
  /** (span name, SparkEntry query name, call) */
  def calls: Seq[(String, String, (SparkSession, String) => DataFrame)]
  override def oracle: Seq[String] = calls.map(_._2)
  protected val spark: SparkSession = ctx.spark
  private val checkDir = new File(ctx.work, "check")
  private var checkWritten = false

  def setup(): Unit = {
    val rows = spark.read.parquet(new File(ctx.inputs, input).getPath).count()
    require(rows > 0, s"empty input $input")
  }

  /** One pass of the calls over a fresh directory, each writing its
    * result as parquet; the first window's results go to the oracle.
    */
  def window(seconds: Double, tr: Tracer, s: Samples): Unit = {
    tr.iter += 1
    val dir = ctx.freshDir(tag, input)
    val out = if (checkWritten) s"$dir/out" else checkDir.getPath
    val t0 = System.nanoTime()
    val ok = calls.map { case (span, q, call) =>
      s.timedQuery(tr.span(span) {
        call(spark, dir).write.mode("overwrite").parquet(s"$out/$q")
      }).isDefined
    }
    val wall = (System.nanoTime() - t0) / 1e9
    s.fresh += wall
    s.items += items / wall
    checkWritten ||= ok.forall(identity)
    ctx.releaseAll()
    s.liveBytes = math.max(s.liveBytes, ctx.cachedBytes)
    ctx.deleteTree(dir)
  }

  /** The DuckDB side of the check runs after the process ends. */
  def check(): Long = if (checkWritten) 0 else 1
}

final class CorpusCleanWl(ctx: Ctx)
    extends BatchWorkload(ctx, "corpus", "documents.parquet", ctx.meta("docs")) {
  def calls = Seq(
    ("pipeline.text_stats_s", "txt_stats", TextAnalysis.stats _),
    ("pipeline.dedup_exact_s", "dd_exact", Dedup.exact _),
    ("pipeline.dedup_near_s", "dd_minhash_lsh", Dedup.minhashLsh _),
    ("pipeline.dedup_clusters_s", "dd_clusters", Dedup.dupClusters _),
    ("pipeline.corpus_clean_s", "pipe_corpus_clean",
      (s: SparkSession, d: String) => CorpusClean(s, d)),
    ("pipeline.quality_gate_s", "pipe_quality_gate",
      (s: SparkSession, d: String) => QualityGate(s, d)),
    ("pipeline.pack_s", "pipe_pack_tokens", CorpusOps.packTokens _))
}

final class GraphFixpoint(ctx: Ctx)
    extends BatchWorkload(ctx, "graph", "events.parquet", ctx.meta("edges")) {
  def calls = Seq(
    ("analytics.concomp_s", "q_concomp", Graph.qConcomp _),
    ("analytics.kcore_s", "q_kcore", Graph.qKcore _),
    ("analytics.pagerank_s", "q_pagerank", Graph.qPagerank _))
}
