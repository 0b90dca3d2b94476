package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.streaming.RawMessage

/** DataSource-V2 connector for the replication envelope stream —
  * the Spark-side half of the reference's consumer plane
  * (`PulsarPartitionSyncWorker.java:95-124`): each physical (topic,
  * partition) read by one reader, per-partition (ledgerId, entryId)
  * order preserved, replayable offsets = the reference's subscription
  * read position.
  *
  * The TRANSPORT is pluggable behind [[EnvelopeBroker]]: the live
  * binding over the Pulsar reader/admin API is
  * `graft.sources.PulsarEnvelopeBroker` in the compile-off
  * `src/live-pulsar` source set (the pulsar-client jars cannot exist
  * in the offline build — set GRAFT_PULSAR_JARS to compile it and
  * PulsarBrokerTCKSpec to certify it); tests and the offline harness
  * use [[InMemoryBroker]] / [[FileBroker]] / the socket broker. All
  * the Spark machinery — TableProvider, capabilities, batch planning,
  * micro-batch offsets/ranges, InternalRow encoding — is real and
  * exercised end-to-end (EnvelopeSourceSpec, incl. driving
  * [[graft.streaming.MessageMirror]] from this source).
  *
  * LAYOUT CONTRACT: every scan, batch or micro-batch, plans each
  * (topic, partition) wholly inside one input partition, and its
  * reader emits that partition's rows contiguously in (ledgerId,
  * entryId) order. An input partition may hold several (topic,
  * partition) ranges, read one after another in (topic, partition)
  * order: a scan packs its ranges into at most the session's
  * `defaultParallelism` input partitions, so a trigger runs at most
  * one task per core (see [[EnvelopeInputPartition.pack]]). The scan
  * does not report this layout to the planner (Spark 4.1 plans
  * streaming scans without a reported partitioning or ordering):
  * [[graft.streaming.MessageMirror]], which reads only this source,
  * relies on it to publish each source partition in the task that
  * reads it, with no shuffle.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("pulsar-envelope")
  *     .option("broker", "<registered broker name>").load()
  * }}}
  */
class EnvelopeSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "pulsar-envelope"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // option keys reach getTable lowercased — go through the
    // case-insensitive wrapper
    val opts = new CaseInsensitiveStringMap(properties)
    val broker = opts.get("broker")
    require(broker != null && broker.nonEmpty,
      "option 'broker' (a registered EnvelopeBroker name) is required")
    new EnvelopeTable(broker)
  }
}

object EnvelopeSource {
  /** The wire schema is exactly [[RawMessage]] (FIXTURES.md §A.1). */
  val schema: StructType = Encoders.product[RawMessage].schema

  /** The row encoder, derived by Scala reflection once per JVM rather
    * than per reader. Serializers are not thread-safe: each reader
    * takes its own from it.
    */
  private[sources] lazy val encoder: ExpressionEncoder[RawMessage] =
    ExpressionEncoder[RawMessage]().resolveAndBind()
}

/** Read-side transport: what a live connector implements over the
  * Pulsar reader API. Positions are (ledgerId, entryId) pairs ordered
  * lexicographically; `latest` returns the EXCLUSIVE end position
  * (one past the last message).
  *
  * BINDING CONTRACT: any implementation must pass the conformance kit
  * (`graft.sources.EnvelopeBrokerTCK` in the test sources — extend it
  * with a `newBroker()` provisioning the real backend). The TCK pins
  * the clauses the replication pipeline leans on: per-partition
  * (ledger, entry) order, inclusive/exclusive range semantics,
  * side-effect-free replayable reads, MessageId-idempotent append
  * (also under racing appenders), and partition discovery with
  * monotonic `latest`. Passing it is the drop-in criterion for
  * replacing [[InMemoryBroker]] with a live transport.
  */
trait EnvelopeBroker {
  def topicPartitions: Seq[(String, Int)]
  /** Messages with from <= (ledger, entry) < until, in order. */
  def read(topic: String, partition: Int,
      from: (Long, Long), until: (Long, Long)): Iterator[RawMessage]
  def latest(topic: String, partition: Int): (Long, Long)
}

/** JVM-wide broker registry (valid under local[*], where executors
  * share the driver JVM — same pattern as the InMemory* test fakes;
  * a live implementation would construct its client from connection
  * options instead).
  */
object EnvelopeBrokerRegistry {
  private val brokers = new ConcurrentHashMap[String, EnvelopeBroker]()
  def register(name: String, broker: EnvelopeBroker): Unit =
    brokers.put(name, broker)
  def get(name: String): EnvelopeBroker = {
    val b = brokers.get(name)
    require(b != null, s"no EnvelopeBroker registered under '$name'")
    b
  }
}

/** Write-side transport: what a live connector implements over a
  * Pulsar producer. `append` MUST be idempotent on the MessageId
  * (topic, partition, ledgerId, entryId) — streaming epochs replay on
  * failure (at-least-once), and MessageId dedup is what upgrades the
  * pipeline to effectively-once (same contract as
  * [[graft.streaming.DestinationSink]]).
  */
trait WritableEnvelopeBroker {
  def append(m: RawMessage): Unit
}

/** In-memory transport: per-partition message log keyed by MessageId
  * (duplicate appends are no-ops), sorted on read.
  */
class InMemoryBroker extends EnvelopeBroker with WritableEnvelopeBroker {
  private val logs =
    new ConcurrentHashMap[(String, Int), ConcurrentHashMap[(Long, Long), RawMessage]]()

  override def append(m: RawMessage): Unit =
    logs.computeIfAbsent((m.topic, m.partition),
      _ => new ConcurrentHashMap[(Long, Long), RawMessage]())
      .putIfAbsent((m.ledgerId, m.entryId), m)

  def add(msgs: RawMessage*): Unit = msgs.foreach(append)

  override def topicPartitions: Seq[(String, Int)] =
    logs.keySet().asScala.toSeq.sorted

  private def sorted(topic: String, partition: Int): Seq[RawMessage] = {
    val log = logs.get((topic, partition))
    if (log == null) Seq.empty
    else log.values.asScala.toSeq.sortBy(m => (m.ledgerId, m.entryId))
  }

  override def read(topic: String, partition: Int,
      from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] =
    sorted(topic, partition).iterator.filter { m =>
      val pos = (m.ledgerId, m.entryId)
      Ordering[(Long, Long)].lteq(from, pos) &&
        Ordering[(Long, Long)].lt(pos, until)
    }

  override def latest(topic: String, partition: Int): (Long, Long) = {
    val s = sorted(topic, partition)
    if (s.isEmpty) (0L, 0L)
    else {
      val last = s.last
      (last.ledgerId, last.entryId + 1) // exclusive end
    }
  }
}

private[sources] class EnvelopeTable(brokerName: String)
    extends Table with SupportsRead {

  override def name(): String = s"pulsar-envelope($brokerName)"
  override def schema(): StructType = EnvelopeSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EnvelopeScanBuilder(brokerName)
}

/** Column pruning (SupportsPushDownRequiredColumns): a projection-only
  * consumer (e.g. an offset audit reading `(topic, entryId)`) gets a
  * scan whose readers emit just those fields — the payload bytes never
  * leave the reader.
  */
private[sources] class EnvelopeScanBuilder(brokerName: String)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = EnvelopeSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new EnvelopeScan(brokerName, required)
}

private[sources] class EnvelopeScan(
    brokerName: String,
    required: StructType = EnvelopeSource.schema) extends Scan {
  override def readSchema(): StructType = required
  override def description(): String = s"pulsar-envelope($brokerName)"

  private def readerFactory = EnvelopeReaderFactory(required)

  /** Batch scan: every partition read from its beginning to `latest`
    * — the reference's Earliest-position backfill (A14).
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val broker = EnvelopeBrokerRegistry.get(brokerName)
      EnvelopeInputPartition.pack(brokerName, broker.topicPartitions.map { case (t, p) =>
        val (el, ee) = broker.latest(t, p)
        EnvelopeRange(t, p, 0L, 0L, el, ee)
      })
    }
    override def createReaderFactory(): PartitionReaderFactory = readerFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EnvelopeMicroBatchStream(brokerName, required)
}

/** Streaming offsets: per-partition exclusive end positions. Wire
  * format is `topic\u0001partition\u0001ledger\u0001entry` records
  * joined by `\u0002`, all on ONE line — Spark's offset log treats
  * each line of an offset's json as a separate SOURCE, so a multiline
  * encoding would corrupt recovery. The separators cannot appear in a
  * topic name; no JSON library dependency — the checkpoint just
  * round-trips the string.
  */
private[sources] case class EnvelopeOffset(
    positions: Map[(String, Int), (Long, Long)]) extends Offset {
  override def json(): String =
    positions.toSeq.sortBy(_._1).map { case ((t, p), (l, e)) =>
      Seq(t, p.toString, l.toString, e.toString).mkString("\u0001")
    }.mkString("\u0002")
}

private[sources] object EnvelopeOffset {
  def fromJson(s: String): EnvelopeOffset =
    EnvelopeOffset(
      s.split("\u0002").filter(_.nonEmpty).map { line =>
        val parts = line.split("\u0001")
        ((parts(0), parts(1).toInt), (parts(2).toLong, parts(3).toLong))
      }.toMap)
}

/** Micro-batch stream: each batch covers (startOffset, latestOffset]
  * per partition. Partitions that appear on the broker AFTER the
  * stream started are picked up by the next `latestOffset` call with
  * an implicit (0,0) start — the reference's partition-discovery
  * behavior (A13/A21). Like the reference's consumer, a batch reads
  * everything available: there is no per-batch budget, and the read
  * limit Spark passes is ignored. `SupportsAdmissionControl` is
  * implemented for the checkpointed start that
  * `latestOffset(start, limit)` receives: it floors every partition's
  * end, also for a partition the listing misses, and the live
  * positions that call lists answer `reportLatestOffset`.
  */
private[sources] class EnvelopeMicroBatchStream(
    brokerName: String,
    required: StructType = EnvelopeSource.schema)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def broker = EnvelopeBrokerRegistry.get(brokerName)

  // AvailableNow: the end captured at stream start; batches never read
  // past it even if the broker keeps growing. The source implements
  // the trigger itself because each of Spark 4.1.2's two fallbacks for
  // a source that does not loses data or replays it:
  //  - by default the query runs ONE batch, so a run that starts with
  //    an uncommitted batch (an earlier run failed) replays that batch
  //    and stops without reading what arrived since;
  //  - with the session-wide spark.sql.streaming.
  //    triggerAvailableNowWrapper.enabled, `AvailableNowDataStreamWrapper`
  //    captures `latestOffset(initialOffset, allAvailable)` once and
  //    returns it for every batch, so a checkpointed partition the
  //    listing misses at capture drops out of the committed offset and
  //    the next run replays it from (0,0).
  // Here the capture only caps each batch's end; the floor at the
  // checkpointed start holds.
  @volatile private var availableNowEnd: Option[Map[(String, Int), (Long, Long)]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd =
      Some(latestOffset().asInstanceOf[EnvelopeOffset].positions)

  override def initialOffset(): Offset = EnvelopeOffset(Map.empty)

  override def latestOffset(): Offset =
    EnvelopeOffset(broker.topicPartitions.map { case (t, p) =>
      ((t, p), broker.latest(t, p))
    }.toMap)

  // the live positions the last `latestOffset(start, limit)` listed:
  // Spark asks for them right after that call, and a second listing
  // of every partition would only repeat it
  @volatile private var lastLive: Offset = _

  override def reportLatestOffset(): Offset = lastLive

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[EnvelopeOffset].positions
    val ord = Ordering[(Long, Long)]
    // the partition universe is the live listing UNION the
    // checkpointed start's keys: checkpointed positions must never
    // drop out of the offset map just because the broker listing
    // momentarily misses the partition
    val listed = broker.topicPartitions
    val live = (listed ++ start.keys.filterNot(listed.toSet).toSeq.sorted)
      .map { case (t, p) => (t, p) -> broker.latest(t, p) }.toMap
    lastLive = EnvelopeOffset(live)
    // per-partition end: broker latest, clamped to the AvailableNow
    // capture (partitions discovered after the capture wait for the
    // next run), and NEVER below the checkpointed start — a partition
    // transiently absent from the broker listing (admin hiccup, topic
    // recreation on a live transport) reports latest (0,0); without
    // the floor its checkpointed position would be overwritten and a
    // reappearing partition would silently replay its full history.
    EnvelopeOffset(live.map { case (tp, l) =>
      val s = start.getOrElse(tp, (0L, 0L))
      val capped = availableNowEnd.fold(l)(cap => ord.min(l, cap.getOrElse(tp, s)))
      tp -> ord.max(capped, s)
    })
  }

  override def deserializeOffset(json: String): Offset =
    EnvelopeOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[EnvelopeOffset].positions
    val e = end.asInstanceOf[EnvelopeOffset].positions
    EnvelopeInputPartition.pack(brokerName, e.toSeq.flatMap { case ((t, p), (el, ee)) =>
      val (sl, se) = s.getOrElse((t, p), (0L, 0L))
      if (Ordering[(Long, Long)].lt((sl, se), (el, ee)))
        Some(EnvelopeRange(t, p, sl, se, el, ee))
      else None
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    EnvelopeReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One physical (topic, partition)'s slice [from, until) of a scan —
  * the reference's one-consumer-per-partition (A13).
  */
private[sources] case class EnvelopeRange(
    topic: String,
    partition: Int,
    fromLedger: Long, fromEntry: Long,
    untilLedger: Long, untilEntry: Long) {

  /** The message count the positions imply within a ledger (exact when
    * the slice stays in one ledger, the until ledger's entries when it
    * spans ledgers), at least 1. Packing needs no more: a wrong
    * estimate unbalances tasks, it never misplaces a row.
    */
  def estimate: Long =
    math.max(1L, if (fromLedger == untilLedger) untilEntry - fromEntry else untilEntry)
}

/** The planning unit: the ranges one reader serves, one after another,
  * in (topic, partition) order.
  */
private[sources] case class EnvelopeInputPartition(
    brokerName: String,
    ranges: Seq[EnvelopeRange]) extends InputPartition

private[sources] object EnvelopeInputPartition {

  /** Pack `ranges` into at most `slots` input partitions (default: the
    * active session's `defaultParallelism`, one task per core): largest
    * estimate first, each onto the least-loaded partition. A trigger
    * then pays each task's fixed setup at most once per core instead
    * of once per (topic, partition).
    */
  def pack(
      brokerName: String,
      ranges: Seq[EnvelopeRange],
      slots: Int = SparkSession.active.sparkContext.defaultParallelism)
      : Array[InputPartition] = {
    val bins = Array.fill(math.min(slots, ranges.size))(List.empty[EnvelopeRange])
    val load = new Array[Long](bins.length)
    ranges.sortBy(r => (-r.estimate, r.topic, r.partition)).foreach { r =>
      val i = load.indices.minBy(load(_))
      bins(i) = r :: bins(i)
      load(i) += r.estimate
    }
    // every estimate is >= 1, so each bin got a range before any got two
    bins.map(_.sortBy(r => (r.topic, r.partition)))
      .sortBy(b => (b.head.topic, b.head.partition))
      .map(EnvelopeInputPartition(brokerName, _): InputPartition)
  }
}

private[sources] case class EnvelopeReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EnvelopeInputPartition]
    val broker = EnvelopeBrokerRegistry.get(p.brokerName)
    new PartitionReader[InternalRow] {
      private val serializer = EnvelopeSource.encoder.createSerializer()
      // project the full envelope row down to the pruned schema with a
      // codegen'd UnsafeProjection over bound field references
      private val full = EnvelopeSource.schema
      private val project =
        org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          required.fields.toSeq.map { f =>
            val i = full.fieldIndex(f.name)
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, f.dataType, f.nullable): org.apache.spark.sql.catalyst.expressions.Expression
          })
      // each range is opened only once the one before it is drained
      private val it = p.ranges.iterator.flatMap(r =>
        broker.read(r.topic, r.partition,
          (r.fromLedger, r.fromEntry), (r.untilLedger, r.untilEntry)))
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = project(serializer(it.next())).copy(); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
