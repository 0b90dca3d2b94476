package graft.replbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.FileBroker
import graft.streaming._

/** What a workload hands back: correctness counts, end-to-end values,
  * the sample count behind each, and when its first timed operation
  * began (epoch ms, for `setup_s`).
  */
final case class Outcome(attempted: Long, failed: Long,
    metrics: Map[String, Double], samples: Map[String, Long],
    firstTimedEpochMs: Long, notes: Map[String, String] = Map.empty)

final case class Env(spark: SparkSession, work: Path, seed: Long,
    seconds: Int, delayNanos: Long, stats: SparkStats, streams: StreamStats,
    passes: Int) {
  def drain(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)
}

object Workloads {

  private def ms(ns: Long): Double = ns / 1e6

  /** Per-class median, geometric mean over classes. */
  private def classGeomean(byClass: Iterable[Seq[Double]]): Double =
    Stats.geomean(byClass.filter(_.nonEmpty).map(Stats.median).toSeq)

  private def latencyMetrics(lat: Seq[Double], byClass: Iterable[Seq[Double]]): Map[String, Double] =
    Map("latency_p50_ms" -> Stats.pctl(lat, 0.50).getOrElse(Double.NaN),
      "latency_p99_ms" -> Stats.pctl(lat, 0.99).getOrElse(Double.NaN),
      "query_ms_geomean" -> classGeomean(byClass))

  // -------------------------------------------------------------------- tail

  /** Open loop over a wide topology in `SyncMain`'s continuous
    * composition: one generator thread appends on a fixed schedule that
    * never waits for the mirror.
    */
  def tail(env: Env): Outcome = {
    val rate = 150.0
    val history = 150
    val limitMs = 5000.0
    // warm-up: mirroring the history, then a lead-in at the window's rate,
    // both through this same continuous pipeline (see runWindow)
    val topo = Topology.generate(env.seed, tenants = 4, nsPerTenant = 2,
      topicsPerNs = 1, partsPerTopic = 2, depth = history, depthJitter = 0.2,
      payloadMean = 512, nCursors = 8)
    val roots = Roots.fresh(env.work, "tail")
    val srcSeed = topo.seed(env.spark, roots.src)
    Phase("source seeded")
    Deliveries.clear()
    val rows0 = env.streams.rowsSeen.get()
    val conf = SyncConfig(autoUpdateTopic = true, autoUpdatePartition = true,
      autoUpdateSubscription = true)
    val wired = new Wired(env.spark, roots, conf, env.delayNanos)
    val cursorPeriod = 1000L
    val sup = wired.pipe.superviseMirror(roots.ckpt,
      trigger = Trigger.ProcessingTime(math.min(cursorPeriod, 10000L)),
      offsets = Some(wired.recorder))
    val ticker = wired.pipe.runContinuous(5000L, 5000L, cursorPeriod,
      offsetMap = Some(() => wired.recorder.toDF(env.spark)))
    try {
      // catch up on the history before the window opens
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (Deliveries.at.size < topo.total && System.nanoTime() < deadline) Thread.sleep(50)
      require(Deliveries.at.size >= topo.total, "mirror did not catch up on the history")
      // catch-up batches report their progress after they commit
      while (env.streams.rowsSeen.get() - rows0 < topo.total && System.nanoTime() < deadline)
        Thread.sleep(20)
      env.drain()
      Phase("history mirrored")
      runWindow(env, topo, srcSeed, roots, rate, limitMs)
    } finally {
      ticker.close()
      sup.close()
      sup.awaitTerminated(30000L)
      val until = System.nanoTime() + 30L * 1000000000L
      while (Inflight.n.get() > 0 && System.nanoTime() < until) Thread.sleep(20)
      Phase("pipeline stopped")
    }
  }

  private def runWindow(env: Env, topo: Topology, src: FileCluster,
      roots: Roots, rate: Double, limitMs: Double): Outcome = {
    val r = new Random(env.seed * 7 + 1)
    val windowNs = env.seconds * 1000000000L
    // an untimed lead-in at the same rate brings the pipeline to its
    // steady state (compiled code, tick phase) before the window opens
    val leadNs = 3000000000L
    val n = (rate * (leadNs + windowNs) / 1e9).round.toInt
    // partition skew: Zipf-like weights over a seeded order
    val order = r.shuffle(topo.parts.toVector)
    val weights = order.indices.map(i => 1.0 / math.pow(i + 1, 0.6))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    // two new topics appear during the window and take a share of traffic
    val newTopics = (0 until 2).map { k =>
      val p0 = order(k)
      (k, (0 until 2).map(pi => Part(p0.tenant, p0.namespace, s"${p0.topic}-new$k", pi,
        0, 1000000, 10000 + k * 2 + pi)))
    }
    val schedule = (0 until n).map { i =>
      val due = ((i + r.nextDouble()) * 1e9 / rate).toLong
      val frac = (due - leadNs).toDouble / windowNs
      val live = newTopics.filter { case (k, _) => frac >= 0.3 + 0.3 * k }.flatMap(_._2)
      val part =
        if (live.nonEmpty && r.nextDouble() < 0.1) live(r.nextInt(live.size))
        else { val u = r.nextDouble(); order(cum.indexWhere(_ >= u) max 0) }
      (due, part, 64 + r.nextInt(896))
    }
    // window messages go to a ledger above every history ledger
    val ledger = 900L
    val next = mutable.Map.empty[(String, Int), Long]
    val broker = new FileBroker(s"${roots.src}/messages")
    val dueAt = new java.util.concurrent.ConcurrentHashMap[Deliveries.Key, java.lang.Long]()
    val late = mutable.ArrayBuffer.empty[Double]
    val generated = new AtomicLong()
    val backlogMax = new AtomicLong()
    val running = new AtomicBoolean(true)
    val created = mutable.Set.empty[Int]
    val baseDelivered = Deliveries.at.size.toLong
    val sampler = new Thread(() => {
      while (running.get()) {
        val b = generated.get() - (Deliveries.at.size - baseDelivered)
        backlogMax.accumulateAndGet(b, math.max)
        Thread.sleep(50)
      }
    }, "replbench-backlog")
    sampler.setDaemon(true)
    var first = 0L
    val tg = System.nanoTime()
    val t0 = tg + leadNs
    sampler.start()
    schedule.foreach { case (due, p, size) =>
      if (first == 0L && due >= leadNs) {
        Obs.reset()
        env.stats.resetSkew()
        first = System.currentTimeMillis()
      }
      newTopics.foreach { case (k, ps) =>
        if (!created(k) && (due - leadNs).toDouble / windowNs >= 0.3 + 0.3 * k) {
          created += k
          src.createTopics(Seq(TopicRow(ps.head.tenant, ps.head.namespace, ps.head.topic,
            partitioned = true, ps.size, Map("owner" -> ps.head.tenant))))
        }
      }
      val wait = tg + due - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      if (due >= leadNs) late += ms(math.max(0L, now - (tg + due)))
      val entry = next.getOrElse(p.key, 0L)
      next(p.key) = entry + 1
      val value = new Array[Byte](size)
      r.nextBytes(value)
      dueAt.put((p.topic, p.partition, ledger, entry), tg + due)
      broker.append(RawMessage(p.tenant, p.namespace, p.topic, p.partition, ledger, entry,
        value, if (r.nextDouble() < topo.keyShare) s"k${r.nextInt(1000)}" else null,
        0L, System.currentTimeMillis(), Map.empty))
      generated.incrementAndGet()
    }
    val genEnd = System.nanoTime()
    val backlogEnd = generated.get() - (Deliveries.at.size - baseDelivered)
    // drain grace: everything generated should land well inside it
    val grace = genEnd + 15L * 1000000000L
    def pending = dueAt.keySet.asScala.count(k => !Deliveries.at.containsKey(k))
    while (pending > 0 && System.nanoTime() < grace) Thread.sleep(50)
    running.set(false)
    sampler.join()
    Phase("window drained")
    env.drain()
    val windowS = (genEnd - t0) / 1e9
    val undelivered = dueAt.keySet.asScala.count(k => !Deliveries.at.containsKey(k))
    val lat = dueAt.asScala.toSeq.filter(_._2 >= t0).flatMap { case (k, due) =>
      Option(Deliveries.at.get(k)).map(d => (k, ms(d - due)))
    }
    val windowMsgs = dueAt.values.asScala.count(_ >= t0)
    val good = lat.count(_._2 <= limitMs)
    val srcCounts = topo.parts.map(p => p.key -> p.depth.toLong).toMap
    val dups = duplicates(roots, srcCounts ++ next.map { case (k, v) =>
      k -> (v + srcCounts.getOrElse(k, 0L)) })
    Obs.add("load.backlog.max", backlogMax.get())
    Obs.add("load.late.us_p99", (Stats.pctl(late.toSeq, 0.99).getOrElse(0.0) * 1000).round)
    Obs.add("timed.ns", genEnd - t0)
    Obs.add("spark.task_skew.milli", (env.stats.mirrorSkew * 1000).round)
    val lats = lat.map(_._2)
    Outcome(windowMsgs.toLong, undelivered + dups,
      Map("throughput_per_s" -> good / windowS) ++
        latencyMetrics(lats, lat.groupBy(x => (x._1._1, x._1._2)).values.map(_.map(_._2))),
      Map("throughput_per_s" -> good.toLong, "latency_p50_ms" -> lats.size.toLong,
        "latency_p99_ms" -> lats.size.toLong,
        "query_ms_geomean" -> lat.map(x => (x._1._1, x._1._2)).distinct.size.toLong,
        "window_messages" -> windowMsgs.toLong, "over_limit" -> (windowMsgs - good).toLong),
      first, Map("backlog_max" -> backlogMax.get().toString, "backlog_at_end" -> backlogEnd.toString,
        "generator_late_ms_p99" -> f"${Stats.pctl(late.toSeq, 0.99).getOrElse(0.0)}%.2f",
        "rate_per_s" -> rate.toString) ++
        Seq("stream.triggers", "stream.rows", "cursor.tick.calls", "metadata.tick.calls")
          .map(k => k -> Obs.count(k).toString) ++
        Seq("stream.addBatch", "stream.latestOffset", "stream.walCommit", "stream.commitOffsets",
          "cursor.tick", "metadata.tick", "recorder.todf", "sink.publish")
          .map(k => s"$k.ms" -> f"${Obs.ms(k)}%.0f"))
  }

  /** Destination messages beyond the one-per-source-message count, per
    * partition (a duplicated delivery gets its own destination id).
    */
  private def duplicates(roots: Roots, srcCounts: Map[(String, Int), Long]): Long = {
    val dst = new FileBroker(s"${roots.dst}/messages")
    dst.topicPartitions.map { case (t, p) =>
      val got = dst.read(t, p, (0L, 0L), dst.latest(t, p)).size.toLong
      math.max(0L, got - srcCounts.getOrElse((t, p), 0L))
    }.sum
  }

  // ----------------------------------------------------------------- queries

  val deck: Seq[String] = Seq("q07_join_star", "q34_minhash_lsh", "q54_redact_pii",
    "q66_winnow_pairs", "q100_ivfpq_ann", "q103_heavy_hitters")

  private def rowsHash(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString)))

  /** Closed loop, one client: the six-query deck in fixed order. The
    * warm-up pass writes each result for the oracle check; every timed
    * execution must match it in row count and hash.
    */
  def queries(env: Env, dataDir: String): Outcome = {
    val spark = env.spark
    Phase("deck warm-up")
    val fns = graft.SparkEntry.queries
    val outDir = env.work.resolve("results")
    Files.createDirectories(outDir)
    val verified = deck.map { q =>
      val df = fns(q)(spark, dataDir)
      val rows = df.collect()
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(outDir.resolve(q).toString)
      q -> rowsHash(rows)
    }.toMap
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(outDir.resolve("oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(deck.map(q => q -> oracle(q)).toMap.asJava))
    env.drain()
    Phase("deck verified")
    Obs.reset()
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var failed = 0L
    var execs = 0L
    val first = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var timedNs = 0L
    while (execs == 0 || times.values.exists(_.size < env.passes) ||
        System.nanoTime() - t0 < env.seconds * 1000000000L) {
      deck.foreach { q =>
        env.stats.label = q
        val s = System.nanoTime()
        val rows = fns(q)(spark, dataDir).collect()
        val e = System.nanoTime()
        env.drain()
        env.stats.label = ""
        timedNs += e - s
        times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms(e - s)
        if (rowsHash(rows) != verified(q)) failed += 1
        Obs.add(s"query.$q.execs", 1)
        execs += 1
      }
    }
    Obs.add("timed.ns", timedNs)
    val med = deck.map(q => q -> Stats.median(times(q).toSeq)).toMap
    deck.foreach(q => Obs.add(s"query.$q.ms_p50.us", (med(q) * 1000).round))
    val gm = Stats.geomean(med.values.toSeq)
    Outcome(execs, failed,
      // executions per second with every query at its median time: a mean
      // over the loop would let one stalled execution move the whole run
      Map("throughput_per_s" -> deck.size * 1000.0 / med.values.sum,
        "query_ms_geomean" -> gm,
        "latency_p50_ms" -> gm,
        // a query has too few executions for a p99; its upper quartile
        // (nearest rank) stands in for the deck's tail
        "latency_p99_ms" -> Stats.geomean(deck.map { q =>
          val t = times(q).sorted
          t(math.ceil(0.75 * t.size).toInt - 1)
        })),
      Map("throughput_per_s" -> execs, "query_ms_geomean" -> times.values.map(_.size).min.toLong,
        "latency_p50_ms" -> execs, "latency_p99_ms" -> execs),
      first, Map("results" -> outDir.toString) ++
        med.map { case (q, m) => s"median_ms.$q" -> f"$m%.1f" })
  }
}
