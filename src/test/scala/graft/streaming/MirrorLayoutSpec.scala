package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{DefaultParallelism, ListenerBusDrain}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.{SparkEntry, SparkSuiteBase}

/** How the mirror lays out a micro-batch: each source partition is
  * published in the task that reads it (no shuffle, one job per
  * trigger).
  */
class MirrorLayoutSpec extends SparkSuiteBase {

  /** Jobs, tasks and shuffle-write bytes per (query id, batch id),
    * from the local properties every micro-batch job carries.
    */
  private class BatchJobs extends SparkListener {
    private val stageBatch = new ConcurrentHashMap[Int, (String, Long)]()
    private val jobs = new ConcurrentHashMap[(String, Long), AtomicLong]()
    private val tasks = new ConcurrentHashMap[(String, Long), AtomicLong]()
    private val shuffleWrite = new ConcurrentHashMap[(String, Long), AtomicLong]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      for {
        p <- Option(e.properties)
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } {
        val key = (q, b.toLong)
        jobs.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()
        tasks.computeIfAbsent(key, _ => new AtomicLong())
        shuffleWrite.computeIfAbsent(key, _ => new AtomicLong())
        e.stageIds.foreach(s => stageBatch.put(s, key))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        key <- Option(stageBatch.get(e.stageId))
        m <- Option(e.taskMetrics)
      } {
        tasks.get(key).incrementAndGet()
        shuffleWrite.get(key).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }

    /** (query id, batch id) → (jobs, tasks, shuffle-write bytes). */
    def all: Map[(String, Long), (Long, Long, Long)] = {
      ListenerBusDrain(spark.sparkContext)
      jobs.asScala.map { case (key, n) =>
        key -> ((n.get, tasks.get(key).get, shuffleWrite.get(key).get))
      }.toMap
    }

    /** batch id → (jobs, tasks, shuffle-write bytes) of query `id`. */
    def of(id: java.util.UUID): Map[Long, (Long, Long, Long)] =
      all.collect { case ((q, b), v) if q == id.toString => b -> v }
  }

  private def withListener[T](body: BatchJobs => T): T = {
    val l = new BatchJobs
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  private def msg(topic: String, part: Int, ledger: Long, entry: Long): RawMessage =
    RawMessage("t", "ns", topic, part, ledger, entry,
      s"$topic/$part@$ledger:$entry".getBytes("UTF-8"), null, 0L,
      1700000000000L + ledger * 1000 + entry, Map.empty)

  /** Every dst id the recorder holds is the rank of its src id in
    * (ledgerId, entryId) order within its (topic, partition).
    */
  private def assertRankOrder(mappings: Seq[OffsetMapping]): Unit =
    mappings.groupBy(m => (m.topic, m.partition)).foreach { case ((t, p), ms) =>
      val bySrc = ms.sortBy(m => (m.srcLedger, m.srcEntry))
      assert(bySrc.map(m => (m.dstLedger, m.dstEntry)) ==
        bySrc.indices.map(i => (1000L + p, i.toLong)), s"dst ids of $t/$p")
    }

  test("envelope-fed mirror: no shuffle, one job per micro-batch, order, dst ids, no-op replay") {
    val src = new FileCluster(spark, tmpDir("ml-src"), "src")
    val dstRoot = tmpDir("ml-dst")
    val dst = new FileCluster(spark, dstRoot, "dst")
    val rec = FileOffsetRecorder(s"$dstRoot/offsetmap")
    val ckpt = tmpDir("ml-ckpt")
    // four partitions over two topics, appended out of order across ledgers
    val parts = Seq(("a", 0), ("a", 1), ("a", 2), ("b", 0))
    src.addMessages((for {
      (t, p) <- parts
      l <- Seq(3L, 1L, 2L)
      e <- Seq(4L, 0L, 2L)
    } yield msg(t, p, l, e)): _*)

    def run(checkpoint: String): Map[Long, (Long, Long, Long)] = withListener { l =>
      val q = MessageMirror.start(spark, src.brokerName, dst.sink, checkpoint,
        Trigger.AvailableNow(), offsets = Some(rec)).start()
      q.awaitTermination()
      l.of(q.id)
    }

    val first = run(ckpt)
    // a restart on the same checkpoint reads only what arrived since
    src.addMessages(msg("a", 1, 5, 0), msg("b", 0, 4, 9), msg("b", 1, 1, 0))
    val second = run(ckpt)
    for (batches <- Seq(first, second)) {
      assert(batches.nonEmpty)
      batches.foreach { case (b, (jobs, _, shuffled)) =>
        assert(shuffled == 0L, s"batch $b wrote $shuffled shuffle bytes")
        assert(jobs == 1L, s"batch $b ran $jobs jobs")
      }
    }

    val mapped = rec.mappings
    assert(mapped.size == parts.size * 9 + 3)
    assertRankOrder(mapped)
    // the destination log holds each source partition's payloads in
    // source order at the recorded dst ids
    val srcOrder = src.mirroredMessages.groupBy(m => (m.topic, m.partition))
      .map { case (tp, ms) => tp -> ms.map(m => new String(m.value, "UTF-8")) }
    val dstOrder = dst.mirroredMessages.groupBy(m => (m.topic, m.partition))
      .map { case (tp, ms) =>
        assert(ms.map(_.entryId) == ms.indices.map(_.toLong))
        tp -> ms.map(m => new String(m.value, "UTF-8"))
      }
    assert(dstOrder == srcOrder)

    // a full replay (fresh checkpoint) changes nothing downstream
    val before = (dst.mirroredMessages.map(m => (m.topic, m.partition,
      m.ledgerId, m.entryId, new String(m.value, "UTF-8"))), rec.mappings)
    run(tmpDir("ml-ckpt-replay"))
    assert((dst.mirroredMessages.map(m => (m.topic, m.partition,
      m.ledgerId, m.entryId, new String(m.value, "UTF-8"))), rec.mappings) == before)
  }

  test("envelope-fed mirror on a 2-core session: one job, at most 2 tasks, no shuffle") {
    val src = new FileCluster(spark, tmpDir("ml-pack-src"), "src")
    val dst = new FileCluster(spark, tmpDir("ml-pack-dst"), "dst")
    val name = s"ml-pack-${java.util.UUID.randomUUID()}"
    val rec = new InMemoryOffsetRecorder(name)
    src.addMessages((for {
      p <- 0 until 5
      e <- 3L to 0L by -1L
    } yield msg("k", p, 1L, e)): _*)
    val batches = DefaultParallelism.withValue(spark.sparkContext, 2) {
      withListener { l =>
        val q = MessageMirror.start(spark, src.brokerName, dst.sink,
          tmpDir("ml-pack-ckpt"), Trigger.AvailableNow(), offsets = Some(rec)).start()
        q.awaitTermination()
        l.of(q.id)
      }
    }
    try {
      assert(batches.nonEmpty)
      batches.foreach { case (b, (jobs, tasks, shuffled)) =>
        assert(jobs == 1L, s"batch $b ran $jobs jobs")
        // five (topic, partition) ranges packed into two input partitions
        assert(tasks == 2L, s"batch $b ran $tasks tasks")
        assert(shuffled == 0L, s"batch $b wrote $shuffled shuffle bytes")
      }
      assert(rec.mappings.size == 20)
      assertRankOrder(rec.mappings)
    } finally rec.clear()
  }

  test("envelope-fed mirror: an undeliverable message is dead-lettered, its siblings publish in order, the batch commits") {
    val src = new FileCluster(spark, tmpDir("ml-dl-src"), "src")
    val name = s"ml-dl-${java.util.UUID.randomUUID()}"
    val dst = new InMemoryCluster(name)
    val dl = new InMemoryDeadLetter(name)
    val rec = new InMemoryOffsetRecorder(name)
    val ckpt = tmpDir("ml-dl-ckpt")
    src.addMessages((for (p <- 0 to 1; e <- 4L to 0L by -1L) yield msg("d", p, 1L, e)): _*)
    val sink = PoisonSink(dst, ("d", 1, 1L, 2L))
    def run(): Unit = MessageMirror.start(spark, src.brokerName, sink, ckpt,
      Trigger.AvailableNow(), deadLetter = Some(dl), offsets = Some(rec))
      .start().awaitTermination()
    try {
      run()
      assert(dl.entries.map(e => (e._1, e._2, e._3, e._4, e._5)) ==
        Seq(("d", 1, 1L, 2L, "poison")))
      assert(dst.messages.map(m => (m.partition, m.entryId)) ==
        (for (p <- 0 to 1; e <- 0L to 4L if (p, e) != ((1, 2L))) yield (p, e)))
      assertRankOrder(rec.mappings)
      // the batch committed: a restart has nothing left to publish
      assert(new java.io.File(ckpt, "commits/0").exists)
      run()
      assert(dl.entries.size == 1 && rec.mappings.size == 9)
    } finally { dst.clear(); dl.clear(); rec.clear() }
  }

  test("envelope-fed mirror without a dead-letter sink fails; a restart delivers each message once") {
    val src = new FileCluster(spark, tmpDir("ml-fail-src"), "src")
    val dstRoot = tmpDir("ml-fail-dst")
    val dst = new FileCluster(spark, dstRoot, "dst")
    val rec = FileOffsetRecorder(s"$dstRoot/offsetmap")
    val ckpt = tmpDir("ml-fail-ckpt")
    src.addMessages((for (p <- 0 to 2; e <- 0L to 4L) yield msg("f", p, 1L, e)): _*)
    val failing = MessageMirror.start(spark, src.brokerName,
      PoisonSink(dst.sink, ("f", 1, 1L, 3L)), ckpt, Trigger.AvailableNow(),
      offsets = Some(rec)).start()
    intercept[StreamingQueryException](failing.awaitTermination())
    assert(!new java.io.File(ckpt, "commits/0").exists)
    MessageMirror.start(spark, src.brokerName, dst.sink, ckpt,
      Trigger.AvailableNow(), offsets = Some(rec)).start().awaitTermination()
    // each source message exactly once at the destination, in source
    // order at dense dst entries, each mapped once
    val dstOrder = dst.mirroredMessages.groupBy(m => (m.topic, m.partition))
      .map { case (tp, ms) =>
        assert(ms.map(_.entryId) == ms.indices.map(_.toLong), s"dst entries of $tp")
        tp -> ms.map(m => new String(m.value, "UTF-8"))
      }
    assert(dstOrder == src.mirroredMessages.groupBy(m => (m.topic, m.partition))
      .map { case (tp, ms) => tp -> ms.map(m => new String(m.value, "UTF-8")) })
    assert(rec.mappings.size == 15)
    assertRankOrder(rec.mappings)
  }

  test("q271 runs the deployed mirror path: no shuffle, one job per micro-batch") {
    val batches = withListener { l =>
      SparkEntry.queries("q271_mirror_e2e")(spark, sfDir)
      l.all
    }
    // two ticks (first run, full replay from a fresh checkpoint), each
    // of at least one data batch
    assert(batches.keySet.map(_._1).size == 2, s"streaming queries: $batches")
    batches.foreach { case ((q, b), (jobs, _, shuffled)) =>
      assert(shuffled == 0L, s"query $q batch $b wrote $shuffled shuffle bytes")
      assert(jobs == 1L, s"query $q batch $b ran $jobs jobs")
    }
  }

  test("two attempts of one task publishing into a FileClusterSink stay in step") {
    val dst = new FileCluster(spark, tmpDir("ml-race"), "ml-race")
    def pm(entry: Long) = PulsarMessage("t", "ns", "r", 0, 1L, entry,
      s"r@$entry".getBytes("UTF-8"), None, None,
      new java.sql.Timestamp(1700000000000L), Map.empty)
    // each attempt deserializes its own sink; the behind attempt lists
    // the partition after the ahead one's first create
    val ahead = dst.sink
    val behind = dst.sink
    assert(ahead.publish(pm(0)) == ((1000L, 0L)))
    assert(behind.publish(pm(0)) == ((1000L, 0L)))
    assert(ahead.publish(pm(1)) == ((1000L, 1L)))
    assert(ahead.publish(pm(2)) == ((1000L, 2L)))
    assert(behind.publish(pm(1)) == ((1000L, 1L)))
    assert(behind.publish(pm(2)) == ((1000L, 2L)))
    // the behind attempt now leads: its next create takes a fresh entry
    assert(behind.publish(pm(3)) == ((1000L, 3L)))
    assert(ahead.publish(pm(3)) == ((1000L, 3L)))
    assert(dst.mirroredMessages.map(m => (m.entryId, new String(m.value, "UTF-8"))) ==
      (0L to 3L).map(e => (e, s"r@$e")))
  }
}

/** Fails every publish of the `poison` MessageId; forwards the rest. */
private case class PoisonSink(inner: DestinationSink, poison: (String, Int, Long, Long))
    extends DestinationSink {
  override def publish(m: PulsarMessage): (Long, Long) =
    if ((m.topic, m.partition, m.ledgerId, m.entryId) == poison)
      throw new RuntimeException("poison")
    else inner.publish(m)
}
