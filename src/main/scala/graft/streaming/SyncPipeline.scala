package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Engine sync configuration — the Spark-native equivalent of the
  * reference's `SyncConfig` (`SyncConfig.java:29-41`): a subscription
  * name for the mirror consumer and one auto-update flag per tree
  * level (`false` = sync that level once on the initial tick, `true` =
  * re-scan it on every periodic tick, SURVEY §2A A21 — enforced by
  * `tickMetadata(refreshOnly)`). `autoUpdatePartition` exists in the
  * reference but is never read there (SURVEY §2A quirks); here it
  * gates the partition-growth refresh: on refresh ticks the
  * partition diff (`MetadataSync.partitionCreates` →
  * `DestinationCluster.createPartitions`) runs when this flag or
  * `autoUpdateTopic` is set, restricted to topics already mirrored on
  * the destination.
  */
case class SyncConfig(
    subscriptionName: String = "graft-sync",
    autoUpdateTenant: Boolean = false,
    autoUpdateNamespace: Boolean = false,
    autoUpdateTopic: Boolean = false,
    autoUpdatePartition: Boolean = false,
    // `autoUpdateSubscription` is DOCUMENTED by the reference
    // (README.md:14-15) but absent from its SyncConfig.java — here it
    // exists and gates the cursor plane like every other level:
    // false = one cursor-translation tick, true = periodic re-ticks
    // in runContinuous.
    autoUpdateSubscription: Boolean = false,
    // guard for [[SyncPipeline.materialize]]: metadata listings are
    // snapshotted to the driver, which is only sane while they are
    // actually metadata-sized — a pathological source (e.g. a live
    // listing wired to the data plane) fails loudly instead of OOMing
    // the driver.
    maxMetadataRows: Int = 1000000)

/** Read side of a cluster's metadata + message log (what the
  * reference reaches through `PulsarAdmin`/`PulsarClient` on the
  * source). Metadata is DataFrame-shaped, so a live listing, a
  * file-backed fixture or an in-memory fake plug in identically; the
  * message log is an [[graft.sources.EnvelopeBroker]] registered by
  * name, which the mirror reads through the `pulsar-envelope` source.
  */
trait SourceCluster {
  def tenants: DataFrame // tenant, allowedClusters
  def namespaces: DataFrame // tenant, namespace, policiesJson
  def topics: DataFrame // tenant, namespace, topic, partitioned, partitions, properties
  /** [[graft.sources.EnvelopeBrokerRegistry]] name of the message log. */
  def brokerName: String
  def cursorStats: DataFrame // CursorStat schema
  /** Schema versions per topic (SchemaRow schema) — the schema-sync
    * extension; None = the cluster exposes no schema registry.
    */
  def schemas: Option[DataFrame] = None
}

/** Write/admin side of the destination cluster. Creates MUST be
  * conflict-as-success idempotent (the reference swallows
  * `ConflictException`, e.g. `PulsarTenantSyncManager.java:79`).
  */
trait DestinationCluster {
  def clusters: Seq[String]
  def tenants: DataFrame
  def namespaces: DataFrame
  def topics: DataFrame
  def createTenants(rows: Seq[TenantRow]): Unit
  def createNamespaces(rows: Seq[NamespaceRow]): Unit
  def createTopics(rows: Seq[TopicRow]): Unit
  /** Create missing physical partitions (incl. partition-count growth
    * on an already-synced topic). Default no-op: destinations that
    * create all partitions as part of the partitioned-topic create can
    * ignore it.
    */
  def createPartitions(rows: Seq[PartitionRow]): Unit = ()
  /** Schema-sync extension: registered versions on this side (None =
    * no registry) and the idempotent register call.
    */
  def schemas: Option[DataFrame] = None
  def createSchemas(rows: Seq[SchemaRow]): Unit = ()
  def sink: DestinationSink
  def hasActiveCursor(topic: String, partition: Int, cursor: String): Boolean
  def applyCursorAction(action: CursorAction): Unit
}

/** The reference's `PulsarSync` re-expressed Spark-first: the control
  * plane is a batch anti-join tick ([[MetadataSync]]), the data plane
  * a Structured Streaming mirror ([[MessageMirror]]), cursor
  * translation an as-of join + keyed state machine
  * ([[OffsetIndex]]/[[CursorSync]]). The reference's scheduled
  * executor cadences (3 min / 1 min / 10 s) become the caller's
  * trigger policy: run [[tickMetadata]]/[[syncCursors]] from any
  * scheduler, run [[startMirror]] once per topology with the trigger
  * of your choice (`AvailableNow` = the reference's one-shot mode).
  */
class SyncPipeline(
    spark: SparkSession,
    source: SourceCluster,
    dest: DestinationCluster,
    conf: SyncConfig = SyncConfig()) {

  /** One control-plane tick (A1–A13): compute the per-level create
    * plan and apply it level-ordered. Returns created counts per level
    * (tenants, namespaces, topics). Safe to re-run at any cadence.
    *
    * `refreshOnly = true` marks a periodic re-tick: only levels whose
    * `autoUpdate*` flag is set are re-scanned (the reference schedules
    * each level's manager independently; levels with the flag off sync
    * exactly once, on the initial tick).
    */
  def tickMetadata(refreshOnly: Boolean = false): (Long, Long, Long) = {
    def gate(df: => DataFrame, enabled: Boolean): DataFrame =
      if (!refreshOnly || enabled) df else df.limit(0)
    // MATERIALIZE the topic listing once per tick: a live source issues
    // an admin call per DataFrame action, and plan.topics/plan
    // .partitions are separate collect()s — an uncached frame would
    // re-list and the two plans could disagree (the orphan-partition
    // case the willExist guard targets). Metadata sets are tiny, so a
    // driver-side snapshot is the honest materialization.
    val srcTopics = materialize(source.topics)
    val plan = MetadataSync.tick(
      gate(source.tenants, conf.autoUpdateTenant), dest.tenants,
      gate(source.namespaces, conf.autoUpdateNamespace), dest.namespaces,
      gate(srcTopics, conf.autoUpdateTopic), dest.topics,
      dest.clusters,
      // partition growth refreshes on its own flag (the reference
      // re-checks partition metadata on a faster cadence than topics);
      // MetadataSync.tick restricts it to topics existing on dst
      srcTopicsForPartitions =
        gate(srcTopics, conf.autoUpdateTopic || conf.autoUpdatePartition))
    // metadata sets are tiny relative to the data plane; the apply
    // step is a driver-side admin call series, exactly like the
    // reference's async create chain
    val tenants = plan.tenants.collect().map { r =>
      TenantRow(r.getAs[String]("tenant"),
        r.getSeq[String](r.fieldIndex("allowedClusters")))
    }.toSeq
    dest.createTenants(tenants)
    val namespaces = plan.namespaces.collect().map { r =>
      NamespaceRow(r.getAs[String]("tenant"), r.getAs[String]("namespace"),
        r.getAs[String]("policiesJson"))
    }.toSeq
    dest.createNamespaces(namespaces)
    val topics = plan.topics.collect().map { r =>
      TopicRow(r.getAs[String]("tenant"), r.getAs[String]("namespace"),
        r.getAs[String]("topic"), r.getAs[Boolean]("partitioned"),
        r.getAs[Int]("partitions"),
        Option(r.getAs[Map[String, String]]("properties")).getOrElse(Map.empty))
    }.toSeq
    dest.createTopics(topics)
    val partitions = plan.partitions.collect().map { r =>
      PartitionRow(r.getAs[String]("tenant"), r.getAs[String]("namespace"),
        r.getAs[String]("topic"), r.getAs[Int]("partitionIndex"),
        r.getAs[String]("physicalTopic"))
    }.toSeq
    dest.createPartitions(partitions)
    // schema-sync extension: runs whenever both sides expose a
    // registry; refresh gating follows the topic level (schemas are
    // topic metadata)
    (source.schemas, dest.schemas) match {
      case (Some(srcSchemas), Some(dstSchemas))
          if !refreshOnly || conf.autoUpdateTopic =>
        val schemaRows = MetadataSync
          .schemaCreates(materialize(srcSchemas), dstSchemas)
          .collect().map { r =>
            SchemaRow(r.getAs[String]("tenant"), r.getAs[String]("namespace"),
              r.getAs[String]("topic"), r.getAs[Int]("version"),
              r.getAs[String]("schemaType"), r.getAs[String]("schemaJson"))
          }.toSeq
        dest.createSchemas(schemaRows)
      case _ => ()
    }
    (tenants.size.toLong, namespaces.size.toLong, topics.size.toLong)
  }

  /** Snapshot a (tiny) metadata frame so repeated actions inside one
    * tick see one consistent listing. Guarded by
    * `SyncConfig.maxMetadataRows`: the driver-side snapshot is only
    * correct for metadata-sized listings, so a pathological source
    * fails with a clear message instead of OOMing the driver.
    */
  private def materialize(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    // +1 peeks past the limit to detect overflow; clamp so
    // maxMetadataRows = Int.MaxValue (guard disabled) can't wrap into
    // a negative limit
    val peek =
      if (conf.maxMetadataRows >= Int.MaxValue) Int.MaxValue
      else conf.maxMetadataRows + 1
    val rows = df.limit(peek).collect().toSeq
    require(rows.size <= conf.maxMetadataRows,
      s"metadata listing exceeded maxMetadataRows=${conf.maxMetadataRows} — " +
        "refusing the driver-side snapshot (is this listing actually " +
        "metadata, or did a data-plane frame get wired in?)")
    spark.createDataFrame(rows.asJava, df.schema)
  }

  /** Partition-growth-only tick (the reference re-fetches partition
    * metadata on a FASTER cadence than the topic level —
    * `PulsarPartitionedTopicSyncWorker.java:56-58` re-checks every
    * minute while topics re-scan every 3 — so growth must be
    * computable without re-running the whole metadata tick). Restricted
    * to topics already mirrored on the destination; new topics are the
    * topic level's job. Returns the number of partitions created.
    */
  def tickPartitionGrowth(): Long = {
    val keys = Seq("tenant", "namespace", "topic")
    val srcTopics = materialize(source.topics)
    val dstTopics = materialize(dest.topics)
    val mirrored = MetadataSync.logicalTopics(srcTopics)
      .join(MetadataSync.logicalTopics(dstTopics).select(keys.map(col): _*),
        keys, "left_semi")
    val parts = MetadataSync.partitionCreates(mirrored, dstTopics)
      .collect().map { r =>
        PartitionRow(r.getAs[String]("tenant"), r.getAs[String]("namespace"),
          r.getAs[String]("topic"), r.getAs[Int]("partitionIndex"),
          r.getAs[String]("physicalTopic"))
      }.toSeq
    dest.createPartitions(parts)
    parts.size.toLong
  }

  /** Start the data-plane mirror (A14) of the source's message log
    * (`SourceCluster.brokerName`). One streaming query for the whole
    * topology — each (topic, partition) is published in order by the
    * one task that reads it ([[MessageMirror.start]]), which preserves
    * the reference's per-partition ordering without one query per
    * topic. When `offsets` is given, every
    * successful publish records its src→dst MessageId mapping (A15),
    * which [[syncCursors]] then consumes — the closed loop the
    * reference runs between its data plane and cursor plane.
    *
    * `SyncConfig.subscriptionName` namespaces the checkpoint: the
    * reference's consumer subscription is what persists the mirror's
    * read position across restarts
    * (`PulsarPartitionSyncWorker.java:99-112`); Structured Streaming's
    * equivalent durable position is the checkpoint, so two pipelines
    * with different subscription names track independent positions
    * under the same checkpoint root.
    */
  def startMirror(checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetter: Option[DeadLetterSink] = None,
      offsets: Option[OffsetRecorder] = None) =
    MessageMirror.start(spark, source.brokerName, dest.sink,
      s"$checkpointDir/${conf.subscriptionName}", trigger,
      deadLetter, offsets).start()

  /** A20: supervised mirror — the reference's worker init retries
    * until success (`PulsarPartitionSyncWorker.java:88-93,118`) and a
    * dead consumer is re-created; here a mirror query that dies with an
    * error is restarted from its checkpoint (replaying the failed
    * micro-batch — publish idempotence makes that safe) until it
    * terminates cleanly or `maxRestarts` is exhausted.
    */
  def superviseMirror(checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      deadLetter: Option[DeadLetterSink] = None,
      offsets: Option[OffsetRecorder] = None,
      restartBackoffMillis: Long = 1000L,
      maxRestarts: Int = Int.MaxValue): MirrorSupervisor =
    new MirrorSupervisor(
      () => startMirror(checkpointDir, trigger, deadLetter, offsets),
      restartBackoffMillis, maxRestarts)

  /** Continuous mode (A21), with the reference's PER-LEVEL cadences:
    * tenants/namespaces/topics re-scan on the metadata period (3 min
    * there — `PulsarTenantSyncManager.java:58`), partition growth on
    * its own faster period (1 min —
    * `PulsarPartitionedTopicSyncWorker.java:58`), and the cursor plane
    * on the fastest (10 s — `PulsarPartitionSyncWorker.java:92`).
    * `autoUpdate*` false ⇒ that level ticks once, immediately;
    * true ⇒ fixed-delay re-ticks. The cursor plane requires
    * `offsetMap` (a () ⇒ DataFrame so each tick reads the CURRENT
    * recorded map, closing the loop with a running mirror) and follows
    * `autoUpdateSubscription`: one translation tick when false,
    * periodic when true.
    *
    * The reference uses one 10-thread ScheduledExecutorService for all
    * levels (`PulsarSync.java:44`); here two scheduler threads suffice
    * — the heavy lifting happens on the Spark cluster, not the
    * scheduler. Returns a handle whose `close()` stops rescheduling.
    */
  def runContinuous(
      metadataPeriodMillis: Long = 3 * 60 * 1000L,
      partitionPeriodMillis: Long = 60 * 1000L,
      cursorPeriodMillis: Long = 10 * 1000L,
      offsetMap: Option[() => DataFrame] = None): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newScheduledThreadPool(2,
      r => { val t = new Thread(r, "graft-sync-ticker"); t.setDaemon(true); t })
    // A23: a failed tick logs (with stack trace — getMessage alone
    // hides NPEs) and waits for the next cadence; only fatal VM errors
    // propagate (and then scheduleWithFixedDelay stops, so log them
    // first rather than dying silently)
    def guarded(label: String)(body: => Unit): Runnable = () =>
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft-sync] $label tick failed: $e")
          e.printStackTrace()
        case e: Throwable =>
          System.err.println(s"[graft-sync] $label tick died fatally: $e")
          e.printStackTrace()
          throw e
      }
    val anyMetaAuto = conf.autoUpdateTenant || conf.autoUpdateNamespace ||
      conf.autoUpdateTopic
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    val metaTask = guarded("metadata") {
      tickMetadata(refreshOnly = !first.getAndSet(false))
    }
    if (anyMetaAuto)
      exec.scheduleWithFixedDelay(metaTask, 0L, metadataPeriodMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    else exec.submit(metaTask) // one-shot initial tick (all levels)
    // partition growth on its own (faster) cadence; the initial
    // metadata tick already created the partitions of brand-new topics
    if (conf.autoUpdatePartition)
      exec.scheduleWithFixedDelay(guarded("partition") { tickPartitionGrowth() },
        partitionPeriodMillis, partitionPeriodMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    // cursor plane: periodic when autoUpdateSubscription (the
    // reference-documented flag), else a single translation tick —
    // one-shot vs periodic exactly like the metadata levels. Either
    // way the first tick waits one period so a just-started mirror
    // has recorded offsets to translate against.
    offsetMap.foreach { om =>
      val task = guarded("cursor") { syncCursors(om()) }
      if (conf.autoUpdateSubscription)
        exec.scheduleWithFixedDelay(task, cursorPeriodMillis, cursorPeriodMillis,
          java.util.concurrent.TimeUnit.MILLISECONDS)
      else exec.schedule(task, cursorPeriodMillis,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    }
    // graceful: stop rescheduling, let an in-flight tick finish (an
    // interrupt mid-apply could leave a level half-created)
    () => exec.shutdown()
  }

  // last mirrored position per cursor, persisted across ticks — the
  // reference's cursorSet/cursorPositionSet (PulsarPartitionSyncWorker
  // .java:158,174), folded tick by tick through CursorSync.decidePure.
  private val cursorState =
    scala.collection.mutable.Map.empty[(String, Int, String), CursorState]

  /** One cursor-plane tick (A15–A19): translate the observed cursor
    * positions through the two-tier index (exact hit on the full
    * offset map first, sparse floor fallback —
    * [[OffsetIndex.translateTwoTier]]), decide create/reset per
    * cursor, apply to the destination. Synchronized: a scheduled
    * cursor tick and a manual call must not interleave on the cursor
    * state.
    */
  def syncCursors(offsetMap: DataFrame): Seq[CursorAction] = this.synchronized {
    val translated = OffsetIndex.translateTwoTier(source.cursorStats, offsetMap)
    val stats = translated.collect().map { r =>
      val topic = r.getAs[String]("topic")
      val partition = r.getAs[Int]("partition")
      val cursor = r.getAs[String]("cursor")
      TranslatedCursorStat(topic, partition, cursor,
        r.getAs[Long]("readLedger"), r.getAs[Long]("readEntry"),
        Option(r.get(r.fieldIndex("dstLedger"))).map(_.asInstanceOf[Long]),
        Option(r.get(r.fieldIndex("dstEntry"))).map(_.asInstanceOf[Long]),
        dest.hasActiveCursor(topic, partition, cursor),
        r.getAs[java.sql.Timestamp]("observedTs"))
    }.toSeq
    val actions = stats.groupBy(s => (s.topic, s.partition, s.cursor)).toSeq
      .sortBy(_._1)
      .flatMap { case (key, ss) =>
        val (acts, newState) = CursorSync.decidePure(key, cursorState.get(key), ss)
        newState.foreach(cursorState.update(key, _))
        acts
      }
    actions.foreach(dest.applyCursorAction)
    actions
  }
}

/** Pure (instance-state-free) pieces of the pipeline, callable without
  * constructing clusters — the oracle gate (q264) runs [[lagReport]]
  * over a deterministic events-derived feed this way.
  */
object SyncPipeline {

  /** Replication LAG report — the monitoring surface the reference
    * never had (its only signal is its log lines): per
    * (topic, partition), how far the mirror's offset map trails the
    * source's message frontier.
    *
    *   - `src_messages` / `mirrored`: message counts on each side
    *     (the offset map records exactly one row per delivered
    *     message, so the difference IS the backlog — A15/A16);
    *   - `backlog`: src_messages − mirrored;
    *   - frontier columns: the max (ledger, entry) MessageId seen on
    *     each side (null mirrored frontier = nothing delivered yet).
    *
    * GRAIN: (topic, partition) — the offset map's own key (and the
    * cursor machinery's), which carries the SHORT topic name. Both
    * sides aggregate to that same key; grouping the source by
    * tenant/namespace too would fan one mirrored count into several
    * namespace rows whenever short names collide and silently report
    * negative backlogs.
    *
    * Scale shape: two map-side-combinable count/max aggregates (one
    * per side) joined on (topic, partition) — partition-count-sized
    * output, no message-level co-shuffle. Run it from any scheduler
    * next to [[SyncPipeline!.tickMetadata]]/[[SyncPipeline!.syncCursors]].
    *
    * `srcMessages` is a BATCH snapshot of the source's message log
    * (RawMessage schema) — the mirror streams the broker named by
    * `SourceCluster.brokerName`; the report wants the batch view the
    * DSv2 connector also serves (`spark.read.format("pulsar-envelope")`
    * with that broker, S-1 batch mode).
    */
  def lagReport(srcMessages: DataFrame, offsetMap: DataFrame): DataFrame = {
    val srcAgg = srcMessages
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).as("src_messages"),
        max(struct(col("ledgerId"), col("entryId"))).as("__sf"))
    val mirAgg = offsetMap
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).as("__mirrored"),
        max(struct(col("srcLedger"), col("srcEntry"))).as("__mf"))
    srcAgg.join(mirAgg, Seq("topic", "partition"), "left")
      .select(col("topic"), col("partition"), col("src_messages"),
        coalesce(col("__mirrored"), lit(0L)).as("mirrored"),
        (col("src_messages") - coalesce(col("__mirrored"), lit(0L)))
          .as("backlog"),
        col("__sf.ledgerId").as("src_frontier_ledger"),
        col("__sf.entryId").as("src_frontier_entry"),
        col("__mf.srcLedger").as("mirrored_frontier_ledger"),
        col("__mf.srcEntry").as("mirrored_frontier_entry"))
  }
}

/** A20 mirror supervision: starts the query, and on an errored
  * termination restarts it from its checkpoint after a backoff —
  * retry-until-success, like the reference's worker init loop. A clean
  * termination (e.g. `AvailableNow` drained the source) ends
  * supervision. The failed micro-batch replays on restart; the sink's
  * MessageId idempotence makes the replay a no-op for already-delivered
  * rows.
  */
class MirrorSupervisor(
    startQuery: () => org.apache.spark.sql.streaming.StreamingQuery,
    backoffMillis: Long,
    maxRestarts: Int) extends AutoCloseable {

  @volatile private var closed = false
  @volatile private var restartCounter = 0
  @volatile private var lastErrorOpt: Option[Throwable] = None
  @volatile private var active: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
  private val done = new java.util.concurrent.CountDownLatch(1)

  private val thread = new Thread({ () =>
    // the latch MUST count down on every exit path — an interrupt
    // escaping the loop (close() interrupts while awaitTermination
    // blocks) would otherwise leave awaitTerminated() hanging forever
    try {
      var keepGoing = true
      while (keepGoing && !closed) {
        try {
          val q = startQuery()
          active = Some(q)
          if (closed) q.stop() // close() raced the start — shut it down
          q.awaitTermination() // throws on errored termination
          keepGoing = false // clean end (AvailableNow drained, or stop())
        } catch {
          case _: InterruptedException => keepGoing = false
          case scala.util.control.NonFatal(e) =>
            lastErrorOpt = Some(e)
            if (closed || restartCounter >= maxRestarts) keepGoing = false
            else {
              restartCounter += 1
              System.err.println(
                s"[graft-mirror] query died (restart $restartCounter): $e")
              try Thread.sleep(backoffMillis)
              catch { case _: InterruptedException => keepGoing = false }
            }
        }
      }
    } finally {
      active.foreach { q => try q.stop() catch { case _: Exception => () } }
      active = None
      done.countDown()
    }
  }: Runnable, "graft-mirror-supervisor")
  thread.setDaemon(true)
  thread.start()

  /** Number of restarts performed so far. */
  def restarts: Int = restartCounter

  /** Last error that caused a restart (or gave up), if any. */
  def lastError: Option[Throwable] = lastErrorOpt

  /** Wait for supervision to end (clean termination, restart budget
    * exhausted, or close()); true if it ended within the timeout.
    */
  def awaitTerminated(timeoutMillis: Long): Boolean =
    done.await(timeoutMillis, java.util.concurrent.TimeUnit.MILLISECONDS)

  override def close(): Unit = {
    closed = true
    active.foreach { q => try q.stop() catch { case _: Exception => () } }
    thread.interrupt()
  }
}
