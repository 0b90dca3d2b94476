package graft.replbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.EnvelopeBroker
import graft.streaming._

// Delegating wrappers around each replication layer. Each one forwards
// to the real implementation and adds only counters (and spans when
// tracing); none changes what the layer does.

/** `graft.sources`: the source cluster's [[graft.sources.FileBroker]],
  * re-registered under the cluster's broker name.
  */
class TracedBroker(inner: EnvelopeBroker) extends EnvelopeBroker {

  override def topicPartitions: Seq[(String, Int)] =
    Obs.timed("sources.topic_partitions")(inner.topicPartitions)

  override def latest(topic: String, partition: Int): (Long, Long) =
    Obs.timed("sources.latest")(inner.latest(topic, partition))

  // The listing happens in `read`; payload decoding happens lazily as
  // the reader pulls, so each `next` adds to the same busy time.
  override def read(topic: String, partition: Int,
      from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] = {
    val it = Obs.timed("sources.read")(inner.read(topic, partition, from, until))
    new Iterator[RawMessage] {
      override def hasNext: Boolean = it.hasNext
      override def next(): RawMessage = {
        val t0 = System.nanoTime()
        val m = it.next()
        Obs.add("sources.read.ns", System.nanoTime() - t0)
        Obs.add("sources.read.msgs", 1)
        m
      }
    }
  }
}

/** `MessageMirror` → `FileClusterSink`. `delayNanos` > 0 adds a fixed
  * stall to every publish: the harness's own sensitivity check.
  */
case class TracedSink(inner: DestinationSink, delayNanos: Long)
    extends DestinationSink {
  override def publish(msg: PulsarMessage): (Long, Long) =
    Obs.timed("sink.publish") {
      if (delayNanos > 0) {
        val until = System.nanoTime() + delayNanos
        while (System.nanoTime() < until) LockSupport.parkNanos(until - System.nanoTime())
      }
      try inner.publish(msg)
      catch { case e: Exception => Obs.add("sink.publish.failed", 1); throw e }
    }
}

/** Per-message delivery times: the one timestamp per message that tail
  * latency needs, taken when the offset-record call returns.
  */
object Deliveries {
  type Key = (String, Int, Long, Long)
  val at = new ConcurrentHashMap[Key, java.lang.Long]()
  def clear(): Unit = at.clear()
}

/** `FileOffsetRecorder`, with the record call stamping delivery. */
case class TracedRecorder(inner: FileOffsetRecorder) extends OffsetRecorder {
  override def record(m: OffsetMapping): Unit = {
    Obs.timed("recorder.record")(inner.record(m))
    val prev = Deliveries.at.putIfAbsent(
      (m.topic, m.partition, m.srcLedger, m.srcEntry), System.nanoTime())
    if (prev != null) Obs.add("recorder.record.repeat", 1)
  }

  def toDF(spark: SparkSession): DataFrame =
    Inflight(Obs.timed("recorder.todf") {
      val df = inner.toDF(spark)
      df.queryExecution.logical match {
        case l: LocalRelation => Obs.add("recorder.todf.rows", l.data.size)
        case _ => ()
      }
      df
    })
}

/** Destination [[FileCluster]] whose sink is the traced sink. */
class TracedDestination(inner: FileCluster, delayNanos: Long)
    extends DestinationCluster {
  override def clusters: Seq[String] = inner.clusters
  override def tenants: DataFrame = inner.tenants
  override def namespaces: DataFrame = inner.namespaces
  override def topics: DataFrame = inner.topics
  override def createTenants(rows: Seq[TenantRow]): Unit = inner.createTenants(rows)
  override def createNamespaces(rows: Seq[NamespaceRow]): Unit = inner.createNamespaces(rows)
  override def createTopics(rows: Seq[TopicRow]): Unit = inner.createTopics(rows)
  override def createPartitions(rows: Seq[PartitionRow]): Unit = inner.createPartitions(rows)
  override def schemas: Option[DataFrame] = inner.schemas
  override def createSchemas(rows: Seq[SchemaRow]): Unit = inner.createSchemas(rows)
  override def sink: DestinationSink = TracedSink(inner.sink, delayNanos)
  override def hasActiveCursor(topic: String, partition: Int, cursor: String): Boolean =
    inner.hasActiveCursor(topic, partition, cursor)
  override def applyCursorAction(action: CursorAction): Unit =
    inner.applyCursorAction(action)
}

/** `SyncPipeline` control plane: metadata, partition-growth and cursor
  * ticks, timed where `runContinuous` calls them.
  */
class TracedPipeline(spark: SparkSession, src: SourceCluster,
    dst: DestinationCluster, conf: SyncConfig)
    extends SyncPipeline(spark, src, dst, conf) {

  override def tickMetadata(refreshOnly: Boolean): (Long, Long, Long) =
    Inflight(Obs.timed("metadata.tick") {
      val r = super.tickMetadata(refreshOnly)
      Obs.add("metadata.created", r._1 + r._2 + r._3)
      r
    })

  override def tickPartitionGrowth(): Long =
    Inflight(Obs.timed("metadata.tick") {
      val n = super.tickPartitionGrowth()
      Obs.add("metadata.created", n)
      n
    })

  override def syncCursors(offsetMap: DataFrame): Seq[CursorAction] =
    Inflight(Obs.timed("cursor.tick") {
      val a = super.syncCursors(offsetMap)
      Obs.add("cursor.actions", a.size)
      a
    })
}

/** Spark runtime counters from the public listener bus. Task metrics are
  * also kept per deck query while `label` names one.
  */
class SparkStats extends SparkListener {
  @volatile var label: String = ""
  private val stageTasks = new ConcurrentHashMap[Int, java.util.Vector[Long]]()
  @volatile var mirrorSkew: Double = 0.0
  @volatile private var mirrorStageMs: Long = 0L

  private def add(k: String, v: Long): Unit = {
    Obs.add("spark." + k, v)
    val l = label
    if (l.nonEmpty) Obs.add(s"query.$l.$k", v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val info = e.stageInfo
    val ts = Option(stageTasks.remove(info.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    // the mirror's partition-serial write: the streaming job's result
    // stage, one task per shuffle partition (it reads a shuffle and
    // writes none)
    val m = info.taskMetrics
    val isMirrorWrite = info.name.contains("SyncPipeline") && m != null &&
      m.shuffleReadMetrics.recordsRead > 0 && m.shuffleWriteMetrics.recordsWritten == 0
    if (isMirrorWrite && ts.size > 1) {
      val total = ts.sum
      if (total > mirrorStageMs) {
        mirrorStageMs = total
        mirrorSkew = ts.max.toDouble / (total.toDouble / ts.size)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ms = e.taskInfo.duration
    add("tasks", 1)
    add("task.ns", ms * 1000000L)
    stageTasks.computeIfAbsent(e.stageId, _ => new java.util.Vector[Long]()).add(ms)
    if (m != null) {
      add("shuffle_read.bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write.bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("result.bytes", m.resultSize)
    }
  }

  def resetSkew(): Unit = { mirrorSkew = 0.0; mirrorStageMs = 0L; stageTasks.clear() }
}

/** Micro-batch phases from `StreamingQueryProgress.durationMs`. */
class StreamStats extends StreamingQueryListener {
  import StreamingQueryListener._
  // progress timestamps are wall-clock; spans are on the nanoTime axis
  private val nanoAtEpoch = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Input rows over every progress event this listener has seen. */
  val rowsSeen = new java.util.concurrent.atomic.AtomicLong()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    rowsSeen.addAndGet(p.numInputRows)
    if (p.numInputRows > 0) {
      Obs.add("stream.triggers", 1)
      Obs.add("stream.rows", p.numInputRows)
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      phases.foreach(ph => Obs.add(s"stream.$ph.ns", d.getOrElse(ph, 0L) * 1000000L))
      if (Obs.tracing) {
        // phases laid out in MicroBatchExecution order from the
        // trigger start; gaps between them stay unattributed
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + nanoAtEpoch
        val total = d.getOrElse("triggerExecution", 0L) * 1000000L
        val batch = Obs.span("stream.batch", start, start + total)
        var t = start
        phases.foreach { ph =>
          val len = d.getOrElse(ph, 0L) * 1000000L
          if (len > 0) Obs.span(s"stream.$ph", t, t + len, batch)
          t += len
        }
      }
    }
  }
}
