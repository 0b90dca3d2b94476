package graft.replbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM. `replbench/run.py` launches it; it prints one
  * line `REPLBENCH {json}` with the run's outcome and layer counters.
  *
  * {{{
  *   Main --workload tail|queries --seed N --seconds S --trace 0|1
  *        --work DIR [--data DIR] [--delay-us N]
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val flags = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = flags("workload")
    val seed = flags("seed").toLong
    val seconds = flags("seconds").toInt
    val trace = flags.get("trace").contains("1")
    val work = Paths.get(flags("work")).toAbsolutePath
    Files.createDirectories(work)

    // SyncMain.main's session: local[cores], shuffle partitions = cores, UTC, no UI
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Phase("session up")
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val streams = new StreamStats
    spark.streams.addListener(streams)

    val delayNanos = flags.get("delay-us").map(_.toLong * 1000L).getOrElse(0L)
    // a traced run makes three passes, so each measures half as long (and
    // the deck needs one timed pass instead of five) to stay within the
    // time a run may take
    val passes = if (trace) 1 else 5
    val passSeconds = if (trace) math.max(1, seconds / 2) else seconds
    def run(label: String, tracing: Boolean): Outcome = {
      Obs.tracing = tracing
      Obs.runId = s"$workload-$seed-$label"
      val env = Env(spark, work.resolve(label), seed, passSeconds, delayNanos, stats, streams,
        passes)
      workload match {
        case "tail" => Workloads.tail(env)
        case "queries" => Workloads.queries(env, flags("data"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }

    val out =
      if (!trace) {
        val o = run("timed", tracing = false)
        line(o, Map.empty)
      } else {
        // untraced, traced, untraced again in one JVM: each pass runs
        // warmer than the one before, so the traced pass is compared with
        // the mean of its two neighbours to estimate the tracing overhead
        val before = run("plain", tracing = false)
        val traced = run("traced", tracing = true)
        val spans = Obs.allSpans
        val layers = Layers.perLayer(spans, cpus.toInt)
        Trace.writeJsonl(work.resolve(s"trace-$workload-$seed.jsonl"), spans)
        val after = run("plain-after", tracing = false)
        // every pass is checked, so a failure in an untraced one counts too
        line(traced.copy(attempted = before.attempted + traced.attempted + after.attempted,
          failed = before.failed + traced.failed + after.failed),
          layers ++ overhead(before, traced, after))
      }
    println("REPLBENCH " + out)
    spark.stop()
  }

  private def overhead(before: Outcome, traced: Outcome, after: Outcome): Map[String, Double] = {
    def pct(k: String, higherBetter: Boolean): Double = {
      val (p, t) = ((before.metrics(k) + after.metrics(k)) / 2, traced.metrics(k))
      100.0 * (if (higherBetter) (p - t) / p else (t - p) / p)
    }
    Map("trace.overhead.throughput_pct" -> pct("throughput_per_s", higherBetter = true),
      "trace.overhead.latency_p50_pct" -> pct("latency_p50_ms", higherBetter = false))
  }

  private val mapper = new ObjectMapper()

  private def line(o: Outcome, layers: Map[String, Double]): String = {
    def sorted[V](m: Map[String, V]): java.util.Map[String, V] = new java.util.TreeMap(m.asJava)
    def finite(m: Map[String, Double]) =
      sorted(m.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) null else Double.box(v)) })
    mapper.writeValueAsString(sorted(Map[String, Any](
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "first_timed_epoch_ms" -> o.firstTimedEpochMs,
      "metrics" -> finite(o.metrics),
      "samples" -> sorted(o.samples),
      "layers" -> finite(layers),
      "notes" -> sorted(o.notes))))
  }
}

/** Per-layer metrics from the traced pass's counters and spans. */
object Layers {
  private val deckIds = Workloads.deck

  def perLayer(spans: Seq[Span], cores: Int): Map[String, Double] = {
    def c(k: String): Double = Obs.count(k).toDouble
    val triggers = c("stream.triggers")
    val publishUs = spans.filter(_.name == "sink.publish").map(s => (s.endNs - s.startNs) / 1e3)
    val timedS = c("timed.ns") / 1e9
    val base = Map(
      "sources.latest.calls" -> c("sources.latest.calls"),
      "sources.latest.ms" -> Obs.ms("sources.latest"),
      "sources.topic_partitions.ms" -> Obs.ms("sources.topic_partitions"),
      "sources.read.calls" -> c("sources.read.calls"),
      "sources.read.msgs" -> c("sources.read.msgs"),
      "sources.read.ms" -> Obs.ms("sources.read"),
      "stream.triggers" -> triggers,
      "stream.rows_per_batch" -> (if (triggers > 0) c("stream.rows") / triggers else 0.0),
      "sink.publish.calls" -> c("sink.publish.calls"),
      "sink.publish.ms" -> Obs.ms("sink.publish"),
      "sink.publish.us_p50" -> Stats.pctl(publishUs, 0.5).getOrElse(0.0),
      "sink.publish.us_p99" -> Stats.pctl(publishUs, 0.99).getOrElse(0.0),
      "sink.publish.failed" -> c("sink.publish.failed"),
      "recorder.record.calls" -> c("recorder.record.calls"),
      "recorder.record.ms" -> Obs.ms("recorder.record"),
      "recorder.todf.ms" -> Obs.ms("recorder.todf"),
      "recorder.todf.rows" -> c("recorder.todf.rows"),
      "metadata.ticks" -> c("metadata.tick.calls"),
      "metadata.tick.ms" -> Obs.ms("metadata.tick"),
      "metadata.created" -> c("metadata.created"),
      "cursor.ticks" -> c("cursor.tick.calls"),
      "cursor.tick.ms" -> Obs.ms("cursor.tick"),
      "cursor.actions" -> c("cursor.actions"),
      "spark.jobs" -> c("spark.jobs"),
      "spark.stages" -> c("spark.stages"),
      "spark.tasks" -> c("spark.tasks"),
      "spark.task.ms" -> Obs.ms("spark.task"),
      "spark.core_busy_ratio" -> (if (timedS > 0) c("spark.task.ns") / 1e9 / (timedS * cores) else 0.0),
      "spark.shuffle_read.bytes" -> c("spark.shuffle_read.bytes"),
      "spark.shuffle_write.bytes" -> c("spark.shuffle_write.bytes"),
      "spark.spill.bytes" -> c("spark.spill.bytes"),
      "spark.result.bytes" -> c("spark.result.bytes"),
      "spark.task_skew" -> c("spark.task_skew.milli") / 1000.0,
      "load.backlog.max" -> c("load.backlog.max"),
      "load.late.ms_p99" -> c("load.late.us_p99") / 1000.0) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
        .map(ph => s"stream.$ph.ms" -> Obs.ms(s"stream.$ph")) ++
      deckIds.flatMap { q =>
        Seq(s"query.$q.ms_p50" -> c(s"query.$q.ms_p50.us") / 1000.0,
          s"query.$q.jobs" -> c(s"query.$q.jobs") / math.max(1.0, c(s"query.$q.execs")),
          s"query.$q.task.ms" -> Obs.ms(s"query.$q.task") / math.max(1.0, c(s"query.$q.execs")),
          s"query.$q.shuffle_read.bytes" ->
            c(s"query.$q.shuffle_read.bytes") / math.max(1.0, c(s"query.$q.execs")),
          s"query.$q.result.bytes" ->
            c(s"query.$q.result.bytes") / math.max(1.0, c(s"query.$q.execs")))
      }
    // self time per layer: task-side spans sit inside addBatch, driver
    // listings inside latestOffset
    val adopted = Trace.adopt(Trace.adopt(spans,
      Set("sources.read", "sink.publish", "recorder.record"), Set("stream.addBatch")),
      Set("sources.latest", "sources.topic_partitions"), Set("stream.latestOffset"))
    val self = Trace.selfTimes(adopted)
    val selfLayers = Seq("stream.addBatch", "stream.latestOffset", "sources.read",
      "sink.publish", "recorder.record", "recorder.todf", "metadata.tick", "cursor.tick")
    base ++ selfLayers.map(l => s"self.$l.ms" -> self.getOrElse(l, 0.0))
  }
}
