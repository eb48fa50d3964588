package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up, measure one pass (traced or not),
  * check, write `result.json` into the work directory, stop Spark.
  * `run.py` prints the result. A traced run then adds untraced, traced
  * and untraced passes over the same inputs, whose end-to-end numbers
  * give the tracing overhead.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <work dir> <inputs dir> <setup clock start, epoch ns>
  */
object Main {

  /** Per-layer spans; each also reports .jobs, .shuffle_bytes and
    * .driver_gap_s.
    */
  val SpanNames: Seq[String] = Seq(
    "core.transform_s", "core.cache_count_s", "core.cache_lastn_s",
    "core.cache_assoc_s", "core.cache_keycount_s",
    "sinks.put_s", "sinks.merge_delta_s",
    "streaming.publish_s",
    "api.get_count_ms", "api.counts_for_subj_action_ms", "api.sum_counts_ms",
    "api.tuples_for_subj_action_ms",
    "pipeline.text_stats_s", "pipeline.dedup_exact_s", "pipeline.dedup_near_s",
    "pipeline.dedup_clusters_s", "pipeline.corpus_clean_s",
    "pipeline.quality_gate_s", "pipeline.pack_s",
    "analytics.concomp_s", "analytics.kcore_s", "analytics.pagerank_s")

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def session(cores: Int, work: File): SparkSession = {
    val tmp = new File(work, "spark-tmp"); tmp.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "15s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** End-to-end metrics of one window. */
  def endToEnd(s: Samples): Seq[(String, Double, String, Int)] = Seq(
    ("items_per_s", median(s.items.toSeq), "1/s", s.items.size),
    ("query_p50_ms", quantile(s.queryMs.toSeq, 0.5), "ms", s.queryMs.size),
    ("query_p90_ms", quantile(s.queryMs.toSeq, 0.9), "ms", s.queryMs.size),
    ("freshness_p50_s", median(s.fresh.toSeq), "s", s.fresh.size))

  /** Per-layer metrics of the traced window. */
  def perLayer(tr: Tracer, s: Samples, cores: Int,
               gcS: Double): Seq[(String, Double, String, Int)] = {
    val spans = tr.spans.asScala.toSeq
    val children = spans.groupBy(_.parent)
    val wallS = (sp: Span) => (sp.endNs - sp.startNs) / 1e9
    val spanMetrics = SpanNames.flatMap { name =>
      val mine = spans.filter(_.name == name)
      val cs = mine.map(sp => sp -> tr.countersOf(sp, children))
      val scale = if (name.endsWith("_ms")) 1000.0 else 1.0
      Seq(
        (name, median(mine.map(wallS)) * scale,
          if (scale > 1) "ms" else "s", mine.size),
        (s"$name.jobs", median(cs.map(_._2.jobs.toDouble)), "count", mine.size),
        (s"$name.shuffle_bytes", median(cs.map(_._2.shuffleBytes.toDouble)),
          "bytes", mine.size),
        (s"$name.driver_gap_s", median(cs.map { case (sp, c) =>
          wallS(sp) - c.taskMs / 1000.0 / cores }), "s", mine.size))
    }
    val byName = spans.groupBy(_.name)
    val publishes = byName.getOrElse("streaming.publish_s", Nil)
    val writes = (byName.getOrElse("sinks.put_s", Nil) ++
      byName.getOrElse("sinks.merge_delta_s", Nil))
      .map(sp => tr.countersOf(sp, Map.empty).outputBytes).sum
    val lookups = SpanNames.filter(_.startsWith("api."))
      .flatMap(n => byName.getOrElse(n, Nil))
    val runOf = tr.runSpan.asScala.groupBy(_._2.longValue).map { case (id, m) =>
      id -> m.keys.toSeq.map(r => Option(tr.stateRows.get(r)).map(_.toDouble).getOrElse(0.0)).sum
    }
    spanMetrics ++ Seq(
      ("sinks.pending_deltas", median(s.pending.toSeq), "count", s.pending.size),
      ("sinks.bytes_written_per_event",
        if (s.eventsPublished == 0) 0.0 else writes.toDouble / s.eventsPublished,
        "bytes/event", s.eventsPublished.toInt),
      ("sinks.bytes_read_per_lookup",
        median(lookups.map(sp => tr.countersOf(sp, children).inputBytes.toDouble)),
        "bytes/lookup", lookups.size),
      ("streaming.self_s", median(publishes.map { p =>
        wallS(p) - children.getOrElse(p.id, Nil)
          .filter(_.name == "sinks.merge_delta_s").map(wallS).sum
      }), "s", publishes.size),
      ("streaming.state_rows", median(publishes.map(p => runOf.getOrElse(p.id, 0.0))),
        "rows", publishes.size),
      ("memo.live_bytes_after_release", s.liveBytes.toDouble, "bytes", 1),
      ("spark.spill_bytes", tr.listener.total.spillBytes.toDouble, "bytes", 1),
      ("jvm.gc_s", gcS, "s", 1))
  }

  /** Each layer's share of the measured pass: the wall time of its
    * outermost spans ÷ the pass's wall time; `unspanned` is the rest.
    */
  def layerShares(tr: Tracer, passS: Double): Seq[(String, Double, String, Int)] = {
    val top = tr.spans.asScala.toSeq.filter(_.parent == 0L)
    val byLayer = top.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (l, sps) => l -> sps.map(sp => (sp.endNs - sp.startNs) / 1e9).sum }
    val shares = byLayer.toSeq.sortBy(_._1).map { case (l, w) =>
      (s"share.$l", w / passS, "ratio", top.count(_.name.startsWith(l + ".")))
    }
    ("pass_s", passS, "s", 1) +: shares :+
      (("share.unspanned", 1 - byLayer.values.sum / passS, "ratio", 1))
  }

  private def writeSpans(tr: Tracer, f: File): Unit = {
    val spans = tr.spans.asScala.toSeq.sortBy(_.startNs)
    val children = spans.groupBy(_.parent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { sp =>
      val wall = (sp.endNs - sp.startNs) / 1e9
      val self = wall - children.getOrElse(sp.id, Nil)
        .map(c => (c.endNs - c.startNs) / 1e9).sum
      Json.obj(Seq("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "iteration" -> sp.iter, "start_s" -> (sp.startNs - t0) / 1e9,
        "end_s" -> (sp.endNs - t0) / 1e9, "self_s" -> self)).json
    }
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }

  private def log(msg: String): Unit =
    System.err.println(s"[graftbench] ${java.time.Instant.now()} $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, inputsS, t0S) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = new File(workS)
    val inputs = new File(inputsS)
    val meta = Json.flatLongs(Files.readString(new File(inputs, "meta.json").toPath))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    log(s"session up after ${(System.currentTimeMillis() - t0S.toLong / 1000000) / 1e3} s")
    val ctx = new Ctx(spark, work, inputs, seedS.toLong, meta)
    val wl = Workloads(workload, ctx)
    wl.setup()
    val now = java.time.Instant.now()
    val setupS = (now.getEpochSecond * 1000000000L + now.getNano - t0S.toLong) / 1e9
    log("set up")
    wl.prepare()

    // the measured pass; with tracing on it also carries the spans
    val tr = new Tracer(spark, traced)
    val first = new Samples
    val gc0 = gcSeconds
    tr.start()
    val p0 = System.nanoTime()
    wl.window(seconds, tr, first)
    first.passS = (System.nanoTime() - p0) / 1e9
    tr.stop()
    val gcS = gcSeconds - gc0
    if (traced) writeSpans(tr, new File(work, "spans.jsonl"))
    // the tracing overhead: untraced, traced and untraced passes over the
    // same inputs in this process, so the warm-up that goes on from pass
    // to pass falls on both sides; each is the shortest window that
    // yields the compared numbers, so the run stays within its time limit
    val pair = if (!traced) Nil else {
      def pass(on: Boolean): Samples = {
        val x = new Samples
        val t = new Tracer(spark, on)
        t.start(); wl.overheadWindow(t, x); t.stop()
        x
      }
      val before = pass(on = false)
      val tracedPass = pass(on = true)
      val after = pass(on = false)
      Seq("untraced" -> before.absorb(after), "traced" -> tracedPass)
    }
    pair.foreach { case (_, x) =>
      first.attempted.addAndGet(x.attempted.get)
      first.failed.addAndGet(x.failed.get)
    }
    val layers = if (traced) perLayer(tr, first, cores, gcS) else Nil
    log("measured")
    val wrong = wl.check()
    log("checked")
    val oracleSql = wl.oracle.map(q => q -> graft.SparkEntry.oracleSql(q))
    val e2e = ("setup_s", setupS, "s", 1) +: endToEnd(first)
    def metrics(ms: Seq[(String, Double, String, Int)]) = Json.obj(ms.map {
      case (n, v, u, c) => n -> Json.obj(Seq("value" -> v, "unit" -> u, "samples" -> c))
    })
    val info = if (traced) layerShares(tr, first.passS) else Nil
    val result = Json.obj(Seq(
      "workload" -> workload,
      "attempted" -> first.attempted.get,
      "failed" -> (first.failed.get + wrong),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "info" -> metrics(info),
      "passes" -> Json.obj(pair.map { case (k, x) => k -> metrics(endToEnd(x)) }),
      "oracle" -> Json.obj(oracleSql)))
    Files.writeString(new File(work, "result.json").toPath, result.json)
    ctx.releaseAll()
    spark.stop()
    log("stopped")
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  /** Parses a flat JSON object of integer values. */
  def flatLongs(text: String): Map[String, Long] =
    "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
}
