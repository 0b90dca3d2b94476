package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Data-plane message mirror (SURVEY §2A A14, §3.2): consume a source
  * envelope broker's stream, apply the envelope projection, and write
  * to the destination through an idempotent sink. The reference's "ack
  * only after dst write succeeds" (`PulsarPartitionSyncWorker.java:232-242`)
  * maps to Structured Streaming's checkpoint commit: a micro-batch's
  * offsets are only committed after its `foreach` write succeeds, so a
  * crash before the sink finishes replays the batch — at-least-once,
  * exactly like the reference. The sink dedupes on MessageId, upgrading
  * the pipeline to effectively-once.
  */
object MessageMirror {

  /** Envelope projection (the copy rules at
    * `PulsarPartitionSyncWorker.java:222-230`): value verbatim, key
    * only if non-null, eventTime only if non-zero, properties
    * verbatim.
    */
  def project(raw: DataFrame): DataFrame =
    raw.select(
      col("tenant"), col("namespace"), col("topic"), col("partition"),
      col("ledgerId"), col("entryId"), col("value"),
      col("key"), // nullable by schema; null = absent, copied as-is
      when(col("eventTimeMillis") === 0L, lit(null))
        .otherwise(timestamp_millis(col("eventTimeMillis"))).as("eventTime"),
      timestamp_millis(col("publishTimeMillis")).as("publishTime"),
      col("properties"))

  private val DefaultPublishAttempts = 3

  /** Start the mirror of the envelope broker registered as `broker`
    * ([[graft.sources.EnvelopeBrokerRegistry]]): its `pulsar-envelope`
    * stream, Earliest position, through [[project]] into `sink`.
    * Per-partition ordering (the reference's single consumer+producer
    * per partition) needs each (topic, partition) of a micro-batch
    * published by one task, in (ledgerId, entryId) order — which is the
    * envelope source's layout contract. So the stream is written
    * through a `foreach` writer: Spark plans the write inside the
    * micro-batch's own execution, and each source partition is read,
    * published ([[deliver]]) and offset-recorded in the task that
    * reads it — one stage and one job per trigger, no shuffle.
    *
    * The checkpoint's offset and commit logs are written through
    * [[CheckpointFileManager]] (java.nio on `file:` paths): `start`
    * sets `spark.sql.streaming.checkpointFileManagerClass` on `spark`
    * when that setting is unset. Spark reads it only from the session
    * configuration — a query has no option for it — so it holds for
    * every later streaming query of that session. It is set here
    * rather than in `SyncMain.main` because other entry points build
    * their own sessions (replbench does).
    */
  def start(
      spark: SparkSession,
      broker: String,
      sink: DestinationSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetter: Option[DeadLetterSink] = None,
      offsets: Option[OffsetRecorder] = None): DataStreamWriter[Row] = {
    if (spark.conf.getOption(CheckpointFileManager.ConfKey).isEmpty)
      spark.conf.set(CheckpointFileManager.ConfKey, classOf[CheckpointFileManager].getName)
    val raw = spark.readStream.format("pulsar-envelope")
      .option("broker", broker).load()
    project(raw).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreach(new MirrorWriter(sink, deadLetter, offsets))
  }

  /** The mirror's `foreach` writer: [[deliver]] per row. */
  private class MirrorWriter(
      sink: DestinationSink,
      deadLetter: Option[DeadLetterSink],
      offsets: Option[OffsetRecorder]) extends ForeachWriter[Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(r: Row): Unit = deliver(r, sink, deadLetter, offsets)
    override def close(errorOrNull: Throwable): Unit = ()
  }

  /** Publish one row and record its src→dst mapping.
    *
    * Error isolation (SURVEY §2A A23): a publish is retried
    * `DefaultPublishAttempts` times (transient-failure absorption — the
    * reference gets this from broker redelivery on no-ack); if all
    * attempts fail and a DeadLetterSink is configured, the failure is
    * recorded per message and never aborts the siblings. NOTE the
    * semantics: a dead-lettered message is TERMINAL for this pipeline —
    * the batch's offsets commit and nothing replays DLQ entries; the
    * at-least-once guarantee then covers it only if an external
    * process re-feeds the DLQ. Without a DeadLetterSink the batch
    * fails and replays — full at-least-once, the reference's behavior.
    *
    * A recorder failure AFTER a successful publish is deliberately NOT
    * dead-lettered (the message was delivered; recording it as failed
    * would lose the src→dst mapping): it fails the batch distinctly,
    * and the replay re-publishes idempotently and re-records.
    */
  private def deliver(
      r: Row,
      sink: DestinationSink,
      deadLetter: Option[DeadLetterSink],
      offsets: Option[OffsetRecorder]): Unit = {
    val published: Option[(Long, Long)] =
      try Some(publishWithRetry(r, sink, DefaultPublishAttempts))
      catch {
        // a task kill (speculation, stage retry, query stop) is NOT a
        // sink failure: fail the task so the batch replays, never
        // dead-letter on it. Spark kills via interrupt OR
        // TaskKilledException (a RuntimeException — without its own
        // case a killed task would record spurious DLQ entries for
        // messages the retried task then delivers).
        case e: InterruptedException => throw e
        case e: org.apache.spark.TaskKilledException => throw e
        case e: Exception => deadLetter match {
          case Some(dl) =>
            dl.record(
              r.getAs[String]("topic"), r.getAs[Int]("partition"),
              r.getAs[Long]("ledgerId"), r.getAs[Long]("entryId"),
              e.getMessage)
            None
          case None => throw e // no DLQ → fail the batch, replay
        }
      }
    published.foreach { case (dstLedger, dstEntry) =>
      // A15: record src->dst translation on publish success;
      // recordedTs = publishTime keeps replays deterministic (the
      // reference stamps wall-clock nanoTime). Own try-scope: see
      // above.
      try offsets.foreach(_.record(OffsetMapping(
        r.getAs[String]("topic"), r.getAs[Int]("partition"),
        r.getAs[Long]("ledgerId"), r.getAs[Long]("entryId"),
        dstLedger, dstEntry,
        r.getAs[java.sql.Timestamp]("publishTime"))))
      catch {
        case e: Exception => throw new IllegalStateException(
          "offset recorder failed after successful publish of " +
            s"${r.getAs[String]("topic")}/${r.getAs[Int]("partition")}" +
            s"@(${r.getAs[Long]("ledgerId")},${r.getAs[Long]("entryId")})" +
            " — failing the batch for replay", e)
      }
    }
  }

  private def publishWithRetry(
      r: Row,
      sink: DestinationSink,
      attempts: Int): (Long, Long) = {
    var n = 0
    while (true) {
      n += 1
      try return publishRow(r, sink)
      catch {
        case e: InterruptedException => throw e // task kill, not an outage
        case e: org.apache.spark.TaskKilledException => throw e // ditto
        case e: Exception if n < attempts =>
          Thread.sleep(10L * n) // brief linear backoff between attempts
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def publishRow(
      r: Row, sink: DestinationSink): (Long, Long) =
    sink.publish(PulsarMessage(
            tenant = r.getAs[String]("tenant"),
            namespace = r.getAs[String]("namespace"),
            topic = r.getAs[String]("topic"),
            partition = r.getAs[Int]("partition"),
            ledgerId = r.getAs[Long]("ledgerId"),
            entryId = r.getAs[Long]("entryId"),
            value = r.getAs[Array[Byte]]("value"),
            key = Option(r.getAs[String]("key")),
            eventTime = Option(r.getAs[java.sql.Timestamp]("eventTime")),
            publishTime = r.getAs[java.sql.Timestamp]("publishTime"),
            properties = Option(r.getAs[Map[String, String]]("properties"))
              .getOrElse(Map.empty)))
}

/** Destination abstraction — a real deployment holds a Pulsar producer
  * per executor; tests use [[InMemoryCluster]]. `publish` MUST be
  * idempotent on (topic, partition, ledgerId, entryId): the mirror
  * replays whole micro-batches on failure (at-least-once), and the
  * MessageId dedup is what the reference gets from Pulsar broker
  * dedup. Returns the DESTINATION-assigned MessageId (a replayed
  * duplicate returns the original assignment), which the mirror
  * records into the offset map — the reference's
  * `messageIdMap.put(src, dst)` on publish success
  * (PulsarPartitionSyncWorker.java:240).
  */
trait DestinationSink extends Serializable {
  def publish(msg: PulsarMessage): (Long, Long)
}

/** Receives src→dst MessageId mappings from the mirror (A15/A16). */
trait OffsetRecorder extends Serializable {
  def record(mapping: OffsetMapping): Unit
}

/** JVM-wide in-memory offset-map store; `toDF` feeds
  * [[OffsetIndex.sparseSample]]/[[OffsetIndex.translate]].
  */
class InMemoryOffsetRecorder(val name: String) extends OffsetRecorder {
  override def record(mapping: OffsetMapping): Unit =
    InMemoryOffsetRecorder.store(name).putIfAbsent(
      (mapping.topic, mapping.partition, mapping.srcLedger, mapping.srcEntry),
      mapping)

  def mappings: Seq[OffsetMapping] = {
    import scala.jdk.CollectionConverters._
    InMemoryOffsetRecorder.store(name).values.asScala.toSeq
      .sortBy(m => (m.topic, m.partition, m.srcLedger, m.srcEntry))
  }

  def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    mappings.toDF()
  }

  def clear(): Unit = InMemoryOffsetRecorder.store(name).clear()
}

object InMemoryOffsetRecorder {
  private val stores = new ConcurrentHashMap[String,
    ConcurrentHashMap[(String, Int, Long, Long), OffsetMapping]]()
  private def store(name: String) =
    stores.computeIfAbsent(name, _ => new ConcurrentHashMap())
}

/** Dead-letter record target for per-message publish failures (A23
  * error isolation).
  */
trait DeadLetterSink extends Serializable {
  def record(topic: String, partition: Int, ledgerId: Long, entryId: Long,
      error: String): Unit
}

/** JVM-wide in-memory dead-letter store (tests; valid under local[*]). */
class InMemoryDeadLetter(val name: String) extends DeadLetterSink {
  override def record(topic: String, partition: Int, ledgerId: Long,
      entryId: Long, error: String): Unit =
    InMemoryDeadLetter.store(name)
      .add((topic, partition, ledgerId, entryId, error))

  def entries: Seq[(String, Int, Long, Long, String)] = {
    import scala.jdk.CollectionConverters._
    InMemoryDeadLetter.store(name).asScala.toSeq.sorted
  }

  def clear(): Unit = InMemoryDeadLetter.store(name).clear()
}

object InMemoryDeadLetter {
  private val stores = new ConcurrentHashMap[String,
    java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long, String)]]()
  private def store(name: String) =
    stores.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue())
}

/** In-memory destination "cluster" for tests: a JVM-wide store (valid
  * under local[*], where executors share the driver JVM). Keyed by
  * MessageId → duplicate publishes are conflict-as-success no-ops
  * returning the original dst assignment. Destination ids are
  * deterministic (dstLedger = 1000 + partition, dstEntry = a
  * per-partition sequence in arrival order).
  */
class InMemoryCluster(val name: String) extends DestinationSink {
  override def publish(msg: PulsarMessage): (Long, Long) = {
    val key = (msg.topic, msg.partition, msg.ledgerId, msg.entryId)
    val assigned = InMemoryCluster.assignments(name).computeIfAbsent(key, { _ =>
      val seq = InMemoryCluster.sequences(name)
        .computeIfAbsent((msg.topic, msg.partition),
          _ => new java.util.concurrent.atomic.AtomicLong(0L))
      (1000L + msg.partition, seq.getAndIncrement())
    })
    InMemoryCluster.store(name).putIfAbsent(key, msg)
    assigned
  }

  def messages: Seq[PulsarMessage] = {
    import scala.jdk.CollectionConverters._
    InMemoryCluster.store(name).values.asScala.toSeq
      .sortBy(m => (m.topic, m.partition, m.ledgerId, m.entryId))
  }

  def clear(): Unit = {
    InMemoryCluster.store(name).clear()
    InMemoryCluster.assignments(name).clear()
    InMemoryCluster.sequences(name).clear()
  }
}

object InMemoryCluster {
  private val clusters =
    new ConcurrentHashMap[String, ConcurrentHashMap[(String, Int, Long, Long), PulsarMessage]]()
  private val assignmentMaps =
    new ConcurrentHashMap[String, ConcurrentHashMap[(String, Int, Long, Long), (Long, Long)]]()
  private val sequenceMaps = new ConcurrentHashMap[String,
    ConcurrentHashMap[(String, Int), java.util.concurrent.atomic.AtomicLong]]()
  private def store(name: String) =
    clusters.computeIfAbsent(name, _ => new ConcurrentHashMap())
  private[streaming] def assignments(name: String) =
    assignmentMaps.computeIfAbsent(name, _ => new ConcurrentHashMap())
  private[streaming] def sequences(name: String) =
    sequenceMaps.computeIfAbsent(name, _ => new ConcurrentHashMap())
}
