package graft.sources

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.pulsar.client.admin.PulsarAdmin
import org.apache.pulsar.client.api.{Message, MessageId, Producer, PulsarClient, Reader, Schema}
import org.apache.pulsar.client.impl.MessageIdImpl

import graft.streaming.RawMessage

/** LIVE transport binding: [[EnvelopeBroker]] + [[WritableEnvelopeBroker]]
  * over the Pulsar client/admin API — the seam the reference occupies
  * with its admin+client pair (`PulsarSync.java:39-43`). This file
  * lives in the compile-off `src/live-pulsar` source set (see
  * build.sbt: set GRAFT_PULSAR_JARS to compile it) because the
  * pulsar-client jars cannot exist in the offline build environment.
  *
  * == TCK clause mapping (EnvelopeBrokerTCK — the binding contract) ==
  *
  *  1. ORDER — a Pulsar reader on one physical partition delivers in
  *     (ledgerId, entryId) order by construction (single-partition
  *     managed-ledger order; the same guarantee the reference's
  *     Failover consumer relies on,
  *     `PulsarPartitionSyncWorker.java:95-124`).
  *  2. RANGE — `read(from, until)` seeks the reader to `from`
  *     INCLUSIVE (`startMessageIdInclusive`) and stops before
  *     `until`; `latest` = admin `getLastMessageId` + 1 entry, the
  *     exclusive end.
  *  3. REPLAY — readers are non-durable cursors: reading never moves
  *     any subscription, so a range re-reads identically. (The
  *     reference consumes destructively on a durable subscription;
  *     the Spark source's checkpoint plays that role instead —
  *     reading must therefore be side-effect-free, which a reader
  *     gives and a consumer would not.)
  *  4. IDEMPOTENCE — `append` maps MessageId dedup onto Pulsar
  *     producer dedup: a stable producer name per (topic, partition)
  *     and a sequenceId derived deterministically from the source
  *     (ledgerId, entryId) make every replayed append a broker-side
  *     no-op (requires `brokerDeduplicationEnabled=true` on the
  *     destination namespace — the deployment prerequisite, same as
  *     the reference's implicit reliance on ack-after-write).
  *  5. DISCOVERY — `topicPartitions` lists the namespace through the
  *     admin API (physical `-partition-N` topics parsed back to
  *     (topic, index)); `latest` is monotonic because managed-ledger
  *     positions never move backwards.
  *  6. CONCURRENCY — racing duplicate appends collapse broker-side
  *     via the same producer-dedup sequence check.
  *
  * Certification: `src/live-pulsar-test` re-instantiates the TCK
  * against a standalone broker (set PULSAR_SERVICE_URL /
  * PULSAR_ADMIN_URL). Passing it is the drop-in criterion — the DSv2
  * source, mirror, and cursor planes run unmodified on top.
  *
  * @param serviceUrl  pulsar://host:6650
  * @param adminUrl    http://host:8080
  * @param namespace   "tenant/ns" whose topics this broker exposes
  */
class PulsarEnvelopeBroker(
    serviceUrl: String,
    adminUrl: String,
    namespace: String,
    readTimeoutMs: Int = 2000)
    extends EnvelopeBroker with WritableEnvelopeBroker with AutoCloseable {

  private val client: PulsarClient =
    PulsarClient.builder().serviceUrl(serviceUrl).build()
  private val admin: PulsarAdmin =
    PulsarAdmin.builder().serviceHttpUrl(adminUrl).build()

  // one producer per physical partition, stable name = dedup identity
  private val producers = new ConcurrentHashMap[(String, Int), Producer[Array[Byte]]]()

  private def physical(topic: String, partition: Int): String =
    if (partition < 0) s"persistent://$namespace/$topic"
    else s"persistent://$namespace/$topic-partition-$partition"

  private def parsePhysical(full: String): (String, Int) = {
    val local = full.substring(full.lastIndexOf('/') + 1)
    val i = local.lastIndexOf("-partition-")
    if (i < 0) (local, -1)
    else (local.substring(0, i), local.substring(i + 11).toInt)
  }

  private def pos(id: MessageId): (Long, Long) = id match {
    case m: MessageIdImpl => (m.getLedgerId, m.getEntryId)
    case other =>
      // public toString format "ledgerId:entryId:partitionIndex[...]"
      val parts = other.toString.split(":")
      (parts(0).toLong, parts(1).toLong)
  }

  override def topicPartitions: Seq[(String, Int)] =
    admin.topics().getList(namespace).asScala.toSeq
      .map(parsePhysical).sorted

  override def latest(topic: String, partition: Int): (Long, Long) = {
    val id = admin.topics().getLastMessageId(physical(topic, partition))
    val (l, e) = pos(id)
    if (l < 0 || e < 0) (0L, 0L) else (l, e + 1) // exclusive end
  }

  override def read(topic: String, partition: Int,
      from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] = {
    val ord = Ordering[(Long, Long)]
    if (ord.gteq(from, until)) return Iterator.empty
    val reader: Reader[Array[Byte]] = client.newReader(Schema.BYTES)
      .topic(physical(topic, partition))
      .startMessageId(new MessageIdImpl(from._1, from._2, partition))
      .startMessageIdInclusive() // clause 2: from-INCLUSIVE
      .create()
    new Iterator[RawMessage] {
      private var nextMsg: Message[Array[Byte]] = pollReader()
      private def pollReader(): Message[Array[Byte]] = {
        while (reader.hasMessageAvailable) {
          val m = reader.readNext(readTimeoutMs, TimeUnit.MILLISECONDS)
          if (m == null) { reader.close(); return null }
          val p = pos(m.getMessageId)
          if (ord.gteq(p, until)) { reader.close(); return null }
          if (ord.gteq(p, from)) return m
          // else: pre-from message (seek landed earlier) — skip
        }
        reader.close()
        null
      }
      override def hasNext: Boolean = nextMsg != null
      override def next(): RawMessage = {
        val m = nextMsg
        nextMsg = pollReader()
        val (l, e) = pos(m.getMessageId)
        val Array(tenant, ns) = namespace.split("/", 2)
        RawMessage(tenant, ns, topic, partition, l, e,
          m.getValue,
          if (m.hasKey) m.getKey else null,
          m.getEventTime, // 0 = absent, the reference's convention
          m.getPublishTime,
          m.getProperties.asScala.toMap)
      }
    }
  }

  /** Clause 4: idempotent publish. Producer dedup needs (a) a stable
    * producer name per physical partition and (b) a monotonic
    * sequenceId that is a pure function of the source MessageId —
    * `(ledgerId << 20) | entryId` keeps ordering within the 2^44
    * ledger / 2^20 entry envelope of a single mirror run. The
    * destination namespace must have broker deduplication enabled.
    */
  override def append(m: RawMessage): Unit = {
    val p = producers.computeIfAbsent((m.topic, m.partition), { case (t, part) =>
      client.newProducer(Schema.BYTES)
        .topic(physical(t, part))
        .producerName(s"graft-sync-$t-$part")
        .enableBatching(false)
        .create()
    })
    val builder = p.newMessage()
      .value(m.value)
      .sequenceId((m.ledgerId << 20) | (m.entryId & 0xFFFFFL))
      .properties(m.properties.asJava)
    if (m.key != null) builder.key(m.key)
    if (m.eventTimeMillis != 0L) builder.eventTime(m.eventTimeMillis)
    builder.send() // sync: ack-after-write, the reference's A14 rule
    ()
  }

  override def close(): Unit = {
    producers.values().asScala.foreach(p =>
      try p.close() catch { case _: Exception => () })
    try client.close() catch { case _: Exception => () }
    try admin.close() catch { case _: Exception => () }
  }
}
