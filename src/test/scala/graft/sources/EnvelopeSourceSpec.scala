package graft.sources

import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuiteBase
import graft.streaming.{InMemoryCluster, MessageMirror, RawMessage}

object EnvelopeSourceSpec {
  /** JVM-wide drain buffer for the checkpoint-resume test (foreachBatch
    * runs on executors; valid under local[*]).
    */
  val drained = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long)]()
}

/** The DataSource-V2 envelope connector: partition planning mirrors
  * the reference's one-consumer-per-partition, offsets are replayable
  * checkpoint positions, and the whole mirror topology runs off it.
  */
class EnvelopeSourceSpec extends SparkSuiteBase {

  private val fmt = classOf[EnvelopeSource].getName

  private def raw(topic: String, part: Int, ledger: Long, entry: Long): RawMessage =
    RawMessage("t1", "ns1", topic, part, ledger, entry,
      s"$topic-$part-$ledger-$entry".getBytes("UTF-8"), null, 0L,
      1700000000000L + entry, Map.empty)

  test("batch read: full backfill, one Spark partition per (topic, partition)") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-batch", broker)
    broker.add(raw("a", 0, 1, 0), raw("a", 0, 1, 1), raw("a", 1, 1, 0),
      raw("b", 0, 2, 5))
    val df = spark.read.format(fmt).option("broker", "es-batch").load()
    assert(df.schema == EnvelopeSource.schema)
    assert(df.count() == 4)
    // (a,0), (a,1), (b,0): three ranges on four cores, one reader each
    assert(df.rdd.getNumPartitions == 3)
    val got = df.select("topic", "partition", "ledgerId", "entryId")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 0, 1L, 0L), ("a", 0, 1L, 1L), ("a", 1, 1L, 0L),
      ("b", 0, 2L, 5L)))
  }

  test("column pruning reaches the scan: projection-only read emits pruned rows") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-prune", broker)
    broker.add(raw("p", 0, 1, 0), raw("p", 0, 1, 1))
    val df = spark.read.format(fmt).option("broker", "es-prune").load()
      .select("topic", "entryId")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("p", 0L), ("p", 1L)))
    // the scan's output schema itself is pruned (not a post-scan
    // projection): BatchScan output carries exactly the two columns
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("topic") && scanLine.contains("entryId")
      && !scanLine.contains("value") && !scanLine.contains("properties"),
      s"scan not pruned: $scanLine")
  }

  test("short name resolves via DataSourceRegister") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-short", broker)
    broker.add(raw("s", 0, 1, 0))
    val n = spark.read.format("pulsar-envelope")
      .option("broker", "es-short").load().count()
    assert(n == 1)
  }

  /** One drain = a fresh AvailableNow query against the checkpoint
    * `ckpt` (the memory sink refuses checkpoint recovery, so the
    * collector is a foreachBatch into a JVM-wide buffer); the
    * (topic, partition, ledgerId, entryId) rows it read.
    */
  private def drain(brokerName: String, ckpt: String): Seq[(String, Int, Long, Long)] = {
    EnvelopeSourceSpec.drained.clear()
    val q = spark.readStream.format(fmt).option("broker", brokerName).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("topic", "partition", "ledgerId", "entryId").collect()
          .foreach(r => EnvelopeSourceSpec.drained.add(
            (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))))
      }
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    EnvelopeSourceSpec.drained.asScala.toSeq
  }

  test("streaming: checkpointed offsets resume exactly where the last run stopped") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-stream", broker)
    broker.add(raw("s", 0, 1, 0), raw("s", 0, 1, 1))
    val ckpt = tmpDir("es-stream-ckpt")
    def drainCount(): Long = drain("es-stream", ckpt).size.toLong
    assert(drainCount() == 2)
    // new messages + a NEW partition appear after the first run: the
    // next run reads ONLY the delta (offsets came from the checkpoint)
    broker.add(raw("s", 0, 1, 2), raw("s", 1, 1, 0))
    assert(drainCount() == 2)
    assert(EnvelopeSourceSpec.drained.contains(("s", 1, 1L, 0L)))
    // nothing new: third run reads nothing
    assert(drainCount() == 0)
  }

  test("per-partition order is preserved within Spark partitions") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-order", broker)
    // insert out of order; the broker log sorts by (ledger, entry)
    broker.add(raw("o", 0, 2, 0), raw("o", 0, 1, 1), raw("o", 0, 1, 0))
    val df = spark.read.format(fmt).option("broker", "es-order").load()
    val perPart = df.select("ledgerId", "entryId").rdd
      .mapPartitions(it => Iterator(it.map(r => (r.getLong(0), r.getLong(1))).toSeq))
      .collect().filter(_.nonEmpty)
    assert(perPart.length == 1)
    assert(perPart.head == perPart.head.sorted)
  }

  test("a partition transiently absent from the broker listing keeps its checkpointed position") {
    val inner = new InMemoryBroker
    inner.add(raw("tp", 0, 1, 0), raw("tp", 0, 1, 1), raw("tp", 1, 1, 0))
    // a broker whose listing can transiently hide partition 1 (admin
    // hiccup / topic recreation on a live transport)
    var hide = false
    val flaky = new EnvelopeBroker {
      override def topicPartitions: Seq[(String, Int)] =
        inner.topicPartitions.filterNot(tp => hide && tp == (("tp", 1)))
      override def read(topic: String, partition: Int,
          from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] =
        inner.read(topic, partition, from, until)
      override def latest(topic: String, partition: Int): (Long, Long) =
        if (hide && topic == "tp" && partition == 1) (0L, 0L)
        else inner.latest(topic, partition)
    }
    EnvelopeBrokerRegistry.register("flaky-listing", flaky)
    val stream = new EnvelopeMicroBatchStream("flaky-listing")
    val start = stream.latestOffset().asInstanceOf[EnvelopeOffset]
    assert(start.positions(("tp", 1)) == ((1L, 1L)))
    hide = true
    // with the partition hidden, its checkpointed position must be
    // carried forward unchanged — not rebuilt from (0,0)
    val next = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[EnvelopeOffset]
    assert(next.positions(("tp", 1)) == ((1L, 1L)),
      s"hidden partition lost its position: ${next.positions}")
    // and nothing replays when it reappears; a new message on
    // partition 0 makes the next batch non-empty
    hide = false
    inner.add(raw("tp", 0, 1, 2))
    val after = stream.latestOffset(next,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[EnvelopeOffset]
    assert(after.positions(("tp", 1)) == ((1L, 1L)))
    val planned = stream.planInputPartitions(next, after)
      .flatMap(_.asInstanceOf[EnvelopeInputPartition].ranges).toSeq
    assert(planned == Seq(EnvelopeRange("tp", 0, 1L, 2L, 1L, 3L)),
      s"reappearing partition must not replay history: $planned")
  }

  test("AvailableNow: the capture at prepare bounds every batch; later appends and partitions wait") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-capture", broker)
    broker.add(raw("n", 0, 1, 0), raw("n", 0, 1, 1))
    val stream = new EnvelopeMicroBatchStream("es-capture")
    stream.prepareForTriggerAvailableNow()
    // after the capture: one more message on (n,0) and a new partition
    broker.add(raw("n", 0, 1, 2), raw("n", 1, 1, 0))
    val all = org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
    def planned(s: Offset, e: Offset) = stream.planInputPartitions(s, e)
      .flatMap(_.asInstanceOf[EnvelopeInputPartition].ranges).toSeq
    val first = stream.latestOffset(stream.initialOffset(), all)
    assert(planned(stream.initialOffset(), first) == Seq(EnvelopeRange("n", 0, 0L, 0L, 1L, 2L)),
      s"batch 0 must stop at the capture: $first")
    // the live positions still show what arrived
    assert(stream.reportLatestOffset().asInstanceOf[EnvelopeOffset].positions ==
      Map(("n", 0) -> ((1L, 3L)), ("n", 1) -> ((1L, 1L))))
    // the next batch of the same run plans nothing
    val second = stream.latestOffset(first, all)
    assert(planned(first, second).isEmpty, s"batch 1 read past the capture: $second")
  }

  test("AvailableNow: a checkpointed partition hidden for a whole run keeps its position") {
    val inner = new InMemoryBroker
    inner.add(raw("h", 0, 1, 0), raw("h", 0, 1, 1), raw("h", 1, 1, 0), raw("h", 1, 1, 1))
    // a broker whose listing hides partition 1 for a whole run
    var hide = false
    val hiding = new EnvelopeBroker {
      override def topicPartitions: Seq[(String, Int)] =
        inner.topicPartitions.filterNot(tp => hide && tp == (("h", 1)))
      override def read(topic: String, partition: Int,
          from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] =
        inner.read(topic, partition, from, until)
      override def latest(topic: String, partition: Int): (Long, Long) =
        if (hide && partition == 1) (0L, 0L) else inner.latest(topic, partition)
    }
    EnvelopeBrokerRegistry.register("es-hidden", hiding)
    val ckpt = tmpDir("es-hidden-ckpt")
    // the session-wide AvailableNow wrapper must not reach this source:
    // the wrapper's capture drops a partition the listing misses
    val wrapper = "spark.sql.streaming.triggerAvailableNowWrapper.enabled"
    spark.conf.set(wrapper, "true")
    try {
      assert(drain("es-hidden", ckpt).size == 4)
      hide = true
      inner.add(raw("h", 0, 1, 2))
      assert(drain("es-hidden", ckpt) == Seq(("h", 0, 1L, 2L)))
      // partition 1 is listed again: only its new message is read, none
      // of its history (a capture that dropped it would replay from (0,0))
      hide = false
      inner.add(raw("h", 1, 1, 2))
      assert(drain("es-hidden", ckpt) == Seq(("h", 1, 1L, 2L)))
    } finally spark.conf.unset(wrapper)
  }

  test("AvailableNow: a run after a failed batch replays it, then reads what arrived since") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-retry", broker)
    broker.add(raw("r", 0, 1, 0), raw("r", 0, 1, 1))
    val ckpt = tmpDir("es-retry-ckpt")
    // batch 0 is logged, then its sink fails: the offset log holds it,
    // the commit log does not
    val failed = spark.readStream.format(fmt).option("broker", "es-retry").load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sys.error("sink down"): Unit
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](failed.awaitTermination())
    broker.add(raw("r", 0, 1, 2))
    // a single-batch run would replay batch 0 and stop
    assert(drain("es-retry", ckpt).sorted ==
      Seq(("r", 0, 1L, 0L), ("r", 0, 1L, 1L), ("r", 0, 1L, 2L)))
  }

  test("packing: at most one input partition per slot, each range whole, largest first onto the least loaded") {
    val rs = Seq(
      EnvelopeRange("a", 0, 1L, 0L, 1L, 10L), // 10
      EnvelopeRange("a", 1, 1L, 4L, 1L, 10L), // 6
      EnvelopeRange("b", 0, 1L, 5L, 1L, 10L), // 5
      EnvelopeRange("b", 1, 0L, 7L, 2L, 4L)) // spans ledgers: 4
    def ranges(slots: Int) = EnvelopeInputPartition.pack("b", rs, slots).toSeq
      .map(_.asInstanceOf[EnvelopeInputPartition].ranges.map(r => (r.topic, r.partition)))
    // 10 and 6 open the two partitions, 5 joins the 6, 4 joins the 10;
    // each partition reads its ranges in (topic, partition) order
    assert(ranges(2) == Seq(Seq(("a", 0), ("b", 1)), Seq(("a", 1), ("b", 0))))
    assert(ranges(1) == Seq(rs.map(r => (r.topic, r.partition))))
    assert(ranges(8).map(_.size) == Seq(1, 1, 1, 1))
    assert(ranges(4) == ranges(8))
    assert(EnvelopeInputPartition.pack("b", Nil, 4).isEmpty)
  }

  test("a trigger lists each partition once: reportLatestOffset reuses latestOffset's listing") {
    val inner = new InMemoryBroker
    inner.add(raw("c", 0, 1, 0), raw("c", 1, 1, 0), raw("c", 2, 1, 0), raw("c", 2, 1, 1))
    val listings = new java.util.concurrent.atomic.AtomicInteger()
    val latests = new java.util.concurrent.atomic.AtomicInteger()
    val counting = new EnvelopeBroker {
      override def topicPartitions: Seq[(String, Int)] = {
        listings.incrementAndGet(); inner.topicPartitions
      }
      override def read(topic: String, partition: Int,
          from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] =
        inner.read(topic, partition, from, until)
      override def latest(topic: String, partition: Int): (Long, Long) = {
        latests.incrementAndGet(); inner.latest(topic, partition)
      }
    }
    EnvelopeBrokerRegistry.register("counting-listing", counting)
    val stream = new EnvelopeMicroBatchStream("counting-listing")
    val end = stream.latestOffset(stream.initialOffset(),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    val reported = stream.reportLatestOffset()
    assert((listings.get, latests.get) == ((1, 3)))
    assert(reported == end)
    assert(reported.asInstanceOf[EnvelopeOffset].positions(("c", 2)) == ((1L, 2L)))
  }

  test("end-to-end: MessageMirror drains the DSv2 source into a destination cluster") {
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("es-e2e", broker)
    broker.add(raw("tp", 0, 5, 1), raw("tp", 0, 5, 2), raw("tp", 1, 5, 1))
    val sink = new InMemoryCluster("es-e2e-dst")
    sink.clear()
    val q = MessageMirror.start(spark, "es-e2e", sink, tmpDir("es-e2e-ckpt"),
      Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(sink.messages.map(m => (m.topic, m.partition, m.ledgerId, m.entryId)).toSet
      == Set(("tp", 0, 5L, 1L), ("tp", 0, 5L, 2L), ("tp", 1, 5L, 1L)))
    // late messages: a second mirror run from the SAME checkpoint...
    // (fresh query, new checkpoint semantics differ; reuse checkpoint)
    broker.add(raw("tp", 0, 5, 3))
    val q2 = MessageMirror.start(spark, "es-e2e", sink, tmpDir("es-e2e-ckpt2"),
      Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // replay through a fresh checkpoint re-reads everything; the
    // MessageId-idempotent sink absorbs the duplicates (at-least-once)
    assert(sink.messages.size == 4)
  }
}
