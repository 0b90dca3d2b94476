package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSuiteBase
import graft.sources.{EnvelopeBrokerRegistry, InMemoryBroker}

/** In-memory source/destination cluster fakes (the offline stand-in
  * for two live clusters, SURVEY §5.2.2).
  */
class FakeSource(spark: SparkSession) extends SourceCluster {
  import spark.implicits._
  // COW lists: the continuous-mode ticker thread reads these while the
  // test thread appends
  val tenantRows: mutable.Buffer[TenantRow] =
    new java.util.concurrent.CopyOnWriteArrayList[TenantRow]().asScala
  val namespaceRows: mutable.Buffer[NamespaceRow] =
    new java.util.concurrent.CopyOnWriteArrayList[NamespaceRow]().asScala
  val topicRows: mutable.Buffer[TopicRow] =
    new java.util.concurrent.CopyOnWriteArrayList[TopicRow]().asScala
  val cursorRows: mutable.Buffer[CursorStat] =
    new java.util.concurrent.CopyOnWriteArrayList[CursorStat]().asScala
  // the message log: a broker of its own, registered under a unique name
  val broker = new InMemoryBroker
  private val ownBroker = s"fake-src-${java.util.UUID.randomUUID()}"
  EnvelopeBrokerRegistry.register(ownBroker, broker)
  def brokerName: String = ownBroker
  def tenants: DataFrame = tenantRows.toSeq.toDF()
  def namespaces: DataFrame = namespaceRows.toSeq.toDF()
  def topics: DataFrame = topicRows.toSeq.toDF()
  def cursorStats: DataFrame = cursorRows.toSeq.toDF()
}

class FakeDest(spark: SparkSession, name: String) extends DestinationCluster {
  import spark.implicits._
  val tenantRows: mutable.Buffer[TenantRow] =
    new java.util.concurrent.CopyOnWriteArrayList[TenantRow]().asScala
  val namespaceRows: mutable.Buffer[NamespaceRow] =
    new java.util.concurrent.CopyOnWriteArrayList[NamespaceRow]().asScala
  val topicRows: mutable.Buffer[TopicRow] =
    new java.util.concurrent.CopyOnWriteArrayList[TopicRow]().asScala
  val activeCursors = mutable.Set.empty[(String, Int, String)]
  val cursorActions = mutable.ArrayBuffer.empty[CursorAction]
  val partitionCreates: mutable.Buffer[PartitionRow] =
    new java.util.concurrent.CopyOnWriteArrayList[PartitionRow]().asScala
  val cluster = new InMemoryCluster(name)
  cluster.clear()
  override def clusters: Seq[String] = Seq("dst-cluster")
  override def tenants: DataFrame = tenantRows.toSeq.toDF()
  override def namespaces: DataFrame = namespaceRows.toSeq.toDF()
  override def topics: DataFrame = topicRows.toSeq.toDF()
  // conflict-as-success: re-creates are no-ops, like the swallowed
  // ConflictException in the reference
  override def createTenants(rows: Seq[TenantRow]): Unit =
    rows.foreach(r => if (!tenantRows.exists(_.tenant == r.tenant)) tenantRows += r)
  override def createNamespaces(rows: Seq[NamespaceRow]): Unit =
    rows.foreach(r => if (!namespaceRows.exists(x =>
      x.tenant == r.tenant && x.namespace == r.namespace)) namespaceRows += r)
  override def createTopics(rows: Seq[TopicRow]): Unit =
    rows.foreach(r => if (!topicRows.exists(x => x.tenant == r.tenant
      && x.namespace == r.namespace && x.topic == r.topic)) topicRows += r)
  override def sink: DestinationSink = cluster
  override def hasActiveCursor(topic: String, partition: Int, cursor: String): Boolean =
    activeCursors.contains((topic, partition, cursor))
  override def applyCursorAction(action: CursorAction): Unit = cursorActions += action
  override def createPartitions(rows: Seq[PartitionRow]): Unit =
    rows.foreach(r => if (!partitionCreates.contains(r)) partitionCreates += r)
}

/** JVM-wide attempt counter for the flaky sink (valid under local[*]). */
object FlakySinkState {
  val counters = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
  def counter(name: String): java.util.concurrent.atomic.AtomicInteger =
    counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicInteger(0))
  def reset(name: String): Unit = counter(name).set(0)
}

/** Fails every publish attempt of the first query run (3 in-task
  * retries + the batch failure), succeeds from attempt 4 on — so only
  * a supervisor restart can drain the stream.
  */
class FlakyThenOkSink(name: String, inner: DestinationSink) extends DestinationSink {
  override def publish(msg: PulsarMessage): (Long, Long) = {
    if (FlakySinkState.counter(name).incrementAndGet() <= 3)
      throw new RuntimeException("transient sink outage")
    inner.publish(msg)
  }
}

/** The reference's four E2E scenarios (SURVEY §5.1), end-to-end
  * through the SyncPipeline API against in-memory cluster fakes.
  */
class SyncPipelineSpec extends SparkSuiteBase {

  import spark.implicits._

  private def freshPipeline(destName: String) = {
    val src = new FakeSource(spark)
    val dst = new FakeDest(spark, destName)
    (src, dst, new SyncPipeline(spark, src, dst))
  }

  test("tenant sync (PulsarTenantSyncTest analogue)") {
    val (src, dst, pipe) = freshPipeline("sp-tenant")
    src.tenantRows += TenantRow("test-tenant", Seq("src-cluster"))
    val (t, _, _) = pipe.tickMetadata()
    assert(t == 1)
    assert(dst.tenantRows.exists(r =>
      r.tenant == "test-tenant" && r.allowedClusters == Seq("dst-cluster")))
    // re-tick converges to a no-op
    assert(pipe.tickMetadata() == ((0L, 0L, 0L)))
  }

  test("namespace sync with policies (PulsarNamespaceSyncTest analogue)") {
    val (src, dst, pipe) = freshPipeline("sp-ns")
    src.tenantRows += TenantRow("public", Seq("src-cluster"))
    src.namespaceRows += NamespaceRow("public", "test-ns", "{\"retention\":7}")
    pipe.tickMetadata()
    assert(dst.namespaceRows.toSeq ==
      Seq(NamespaceRow("public", "test-ns", "{\"retention\":7}")))
  }

  test("topic sync incl. partitioned fan-out (PulsarTopicSyncTest analogue)") {
    val (src, dst, pipe) = freshPipeline("sp-topic")
    src.topicRows += TopicRow("public", "default", "topic-np", partitioned = false, 0, Map.empty)
    src.topicRows += TopicRow("public", "default", "topic-p", partitioned = true, 2, Map("k" -> "v"))
    src.topicRows += TopicRow("public", "default", "topic-p-partition-0", partitioned = false, 0, Map.empty)
    pipe.tickMetadata()
    assert(dst.topicRows.map(_.topic).toSet == Set("topic-np", "topic-p"))
    // physical partitions derivable on dst exactly like the reference's
    // per-partition workers
    val phys = MetadataSync.partitionFanout(dst.topics)
      .select("physicalTopic").as[String].collect().toSet
    assert(phys == Set("topic-p-partition-0", "topic-p-partition-1"))
  }

  test("message sync backfills pre-existing messages (PulsarMessageSyncTest analogue)") {
    val (src, dst, pipe) = freshPipeline("sp-msg")
    // message exists BEFORE the mirror starts (Earliest backfill)
    src.broker.add(RawMessage("public", "default", "tp", 0, 1, 0,
      "hello".getBytes("UTF-8"), null, 0L, 1700000000000L, Map.empty))
    val q = pipe.startMirror(tmpDir("sp-msg-ckpt"))
    q.awaitTermination()
    val got = dst.cluster.messages
    assert(got.size == 1 && new String(got.head.value, "UTF-8") == "hello"
      && got.head.key.isEmpty && got.head.eventTime.isEmpty)
  }

  test("cursor sync across ticks: create once, reset on movement") {
    val (src, dst, pipe) = freshPipeline("sp-cursor")
    val offsetMap = Seq(
      OffsetMapping("tp", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00")),
      OffsetMapping("tp", 0, 20, 0, 120, 0, Timestamp.valueOf("2024-01-01 10:01:00"))).toDF()
    src.cursorRows += CursorStat("tp", 0, "sub", 15, 0, Timestamp.valueOf("2024-01-01 10:02:00"))
    val a1 = pipe.syncCursors(offsetMap)
    assert(a1.map(a => (a.action, a.dstLedger)) == Seq(("create", Some(110L))))
    // unchanged -> tick is a no-op (state survives between ticks)
    assert(pipe.syncCursors(offsetMap).isEmpty)
    // moved -> reset at the new floor
    src.cursorRows.clear()
    src.cursorRows += CursorStat("tp", 0, "sub", 25, 0, Timestamp.valueOf("2024-01-01 10:03:00"))
    val a3 = pipe.syncCursors(offsetMap)
    assert(a3.map(a => (a.action, a.dstLedger)) == Seq(("reset", Some(120L))))
    assert(dst.cursorActions.size == 2)
  }

  test("closed loop: mirror records offsets, cursor sync consumes them") {
    val (src, dst, pipe) = freshPipeline("sp-loop")
    val rec = new InMemoryOffsetRecorder("sp-loop-offsets")
    rec.clear()
    // mirror three messages on one partition
    (1L to 3L).foreach { e =>
      src.broker.add(RawMessage("t", "n", "tp", 0, 5, e,
        s"m$e".getBytes("UTF-8"), null, 0L, 1700000000000L + e * 60000L, Map.empty))
    }
    val q = pipe.startMirror(tmpDir("sp-loop-ckpt"), offsets = Some(rec))
    q.awaitTermination()
    // the mirror produced one mapping per message, dst entries in order
    assert(rec.mappings.map(m => (m.srcEntry, m.dstLedger, m.dstEntry))
      == Seq((1L, 1000L, 0L), (2L, 1000L, 1L), (3L, 1000L, 2L)))
    // a cursor at src position (5, 2) translates through the RECORDED
    // map to the dst id that the mirror assigned for that message
    src.cursorRows += CursorStat("tp", 0, "sub", 5, 2,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    val actions = pipe.syncCursors(rec.toDF(spark))
    assert(actions.map(a => (a.action, a.dstLedger, a.dstEntry))
      == Seq(("create", Some(1000L), Some(1L))))
  }

  test("continuous mode: periodic re-ticks pick up new entities (A21)") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-cont")
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(autoUpdateTenant = true))
    src0.tenantRows += TenantRow("t-initial", Seq("src"))
    val handle = pipe.runContinuous(metadataPeriodMillis = 200L)
    try {
      var tries = 0
      while (!dst0.tenantRows.exists(_.tenant == "t-initial") && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      assert(dst0.tenantRows.exists(_.tenant == "t-initial"))
      // a tenant that appears LATER is discovered by a subsequent tick
      src0.tenantRows += TenantRow("t-late", Seq("src"))
      tries = 0
      while (!dst0.tenantRows.exists(_.tenant == "t-late") && tries < 50) {
        Thread.sleep(100); tries += 1
      }
      assert(dst0.tenantRows.exists(_.tenant == "t-late"))
    } finally handle.close()
  }

  test("one-shot mode: autoUpdate=false ticks exactly once") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-oneshot")
    val pipe = new SyncPipeline(spark, src0, dst0, SyncConfig())
    src0.tenantRows += TenantRow("t-one", Seq("src"))
    val handle = pipe.runContinuous(metadataPeriodMillis = 100L)
    try {
      var tries = 0
      while (dst0.tenantRows.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(dst0.tenantRows.map(_.tenant) == Seq("t-one"))
      // a late tenant is NOT picked up (no re-scan in one-shot mode)
      src0.tenantRows += TenantRow("t-late", Seq("src"))
      Thread.sleep(600)
      assert(!dst0.tenantRows.exists(_.tenant == "t-late"))
    } finally handle.close()
  }

  test("per-level gating: only autoUpdate levels re-scan on periodic ticks") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-gate")
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(autoUpdateTenant = true)) // topics: one-shot
    src0.tenantRows += TenantRow("t0", Seq("src"))
    src0.topicRows += TopicRow("t0", "ns", "top0", partitioned = false, 0, Map.empty)
    pipe.tickMetadata() // initial tick: all levels
    assert(dst0.topicRows.map(_.topic) == Seq("top0"))
    // late arrivals: tenant IS picked up by a refresh tick, topic is NOT
    src0.tenantRows += TenantRow("t-late", Seq("src"))
    src0.topicRows += TopicRow("t0", "ns", "top-late", partitioned = false, 0, Map.empty)
    pipe.tickMetadata(refreshOnly = true)
    assert(dst0.tenantRows.exists(_.tenant == "t-late"))
    assert(!dst0.topicRows.exists(_.topic == "top-late"))
  }

  test("partition-count growth on an already-synced topic is propagated") {
    val (src0, dst0, pipe) = freshPipeline("sp-grow")
    // topic already mirrored with 3 partitions on both sides
    dst0.topicRows += TopicRow("t", "ns", "top", partitioned = true, 3, Map.empty)
    src0.topicRows += TopicRow("t", "ns", "top", partitioned = true, 5, Map.empty)
    val (_, _, newTopics) = pipe.tickMetadata()
    assert(newTopics == 0) // the topic itself is not re-created
    // ...but the two NEW partition indexes are
    assert(dst0.partitionCreates.map(_.physicalTopic).sorted
      == Seq("top-partition-3", "top-partition-4"))
  }

  test("continuous mode: cursors sync on their own cadence (A21 10s loop)") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-cursor-cadence")
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(autoUpdateSubscription = true))
    val offsetMap = Seq(
      OffsetMapping("tp", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00"))).toDF()
    src0.cursorRows += CursorStat("tp", 0, "sub", 15, 0,
      Timestamp.valueOf("2024-01-01 10:02:00"))
    val handle = pipe.runContinuous(
      metadataPeriodMillis = 60000L, cursorPeriodMillis = 150L,
      offsetMap = Some(() => offsetMap))
    try {
      var tries = 0
      while (dst0.cursorActions.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
      // the cursor plane ticked on its own schedule, no manual call
      assert(dst0.cursorActions.map(a => (a.action, a.dstLedger))
        == Seq(("create", Some(110L))))
      // a later observation is picked up by a subsequent cursor tick
      src0.cursorRows.clear()
      src0.cursorRows += CursorStat("tp", 0, "sub", 25, 0,
        Timestamp.valueOf("2024-01-01 10:03:00"))
      tries = 0
      while (dst0.cursorActions.size < 2 && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(dst0.cursorActions.map(_.action) == Seq("create", "reset"))
    } finally handle.close()
  }

  test("autoUpdateSubscription=false: the cursor plane ticks exactly once") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-cursor-oneshot")
    val pipe = new SyncPipeline(spark, src0, dst0, SyncConfig()) // default false
    val offsetMap = Seq(
      OffsetMapping("tp", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00")),
      OffsetMapping("tp", 0, 20, 0, 120, 0, Timestamp.valueOf("2024-01-01 10:01:00"))).toDF()
    src0.cursorRows += CursorStat("tp", 0, "sub", 15, 0,
      Timestamp.valueOf("2024-01-01 10:02:00"))
    val handle = pipe.runContinuous(
      metadataPeriodMillis = 60000L, cursorPeriodMillis = 100L,
      offsetMap = Some(() => offsetMap))
    try {
      var tries = 0
      while (dst0.cursorActions.isEmpty && tries < 100) { Thread.sleep(50); tries += 1 }
      assert(dst0.cursorActions.map(_.action) == Seq("create"))
      // a moved cursor observed AFTER the one-shot tick is never acted
      // on — the flag turned periodic re-scans off
      src0.cursorRows.clear()
      src0.cursorRows += CursorStat("tp", 0, "sub", 25, 0,
        Timestamp.valueOf("2024-01-01 10:03:00"))
      Thread.sleep(500)
      assert(dst0.cursorActions.map(_.action) == Seq("create"))
    } finally handle.close()
  }

  test("materialize refuses a listing larger than maxMetadataRows") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-mat-guard")
    (1 to 5).foreach { i =>
      src0.topicRows += TopicRow("t", "ns", s"top$i", partitioned = false, 0, Map.empty)
    }
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(maxMetadataRows = 3))
    val e = intercept[IllegalArgumentException] { pipe.tickMetadata() }
    assert(e.getMessage.contains("maxMetadataRows"))
  }

  test("continuous mode: partition growth propagates on its own faster cadence") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-part-cadence")
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(autoUpdatePartition = true))
    dst0.topicRows += TopicRow("t", "ns", "top", partitioned = true, 2, Map.empty)
    src0.topicRows += TopicRow("t", "ns", "top", partitioned = true, 2, Map.empty)
    val handle = pipe.runContinuous(
      metadataPeriodMillis = 60000L, partitionPeriodMillis = 150L)
    try {
      // growth appears on src AFTER startup; only the partition ticker
      // (metadata period is 60s, far beyond this test) can see it
      src0.topicRows.clear()
      src0.topicRows += TopicRow("t", "ns", "top", partitioned = true, 4, Map.empty)
      var tries = 0
      while (dst0.partitionCreates.size < 2 && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(dst0.partitionCreates.map(_.physicalTopic).sorted
        == Seq("top-partition-2", "top-partition-3"))
    } finally handle.close()
  }

  test("supervised mirror restarts after a crash and drains (A20)") {
    FlakySinkState.reset("sp-supervise")
    val src = new FakeSource(spark)
    src.broker.add(RawMessage("t", "n", "tp", 0, 5, 1,
      "m1".getBytes("UTF-8"), null, 0L, 1700000000000L, Map.empty))
    val flakyDest = new FakeDest(spark, "sp-supervise-real") {
      override def sink: DestinationSink = new FlakyThenOkSink("sp-supervise", cluster)
    }
    val pipe2 = new SyncPipeline(spark, src, flakyDest)
    val sup = pipe2.superviseMirror(tmpDir("sp-supervise-ckpt"),
      restartBackoffMillis = 100L)
    try {
      // first run: every publish attempt fails -> batch fails -> query
      // dies -> supervisor restarts from checkpoint -> replay succeeds
      assert(sup.awaitTerminated(600000L), "supervisor did not finish")
      assert(sup.restarts >= 1, "mirror was never restarted")
      assert(flakyDest.cluster.messages.size == 1)
      assert(new String(flakyDest.cluster.messages.head.value, "UTF-8") == "m1")
    } finally sup.close()
  }

  test("closed loop over the DSv2 connector: mirror drains, offsets recorded, cursor translates") {
    // message plane = a broker registered under a caller-chosen name,
    // read through the pulsar-envelope DataSource-V2 source; the rest
    // of the cluster surface stays the fake admin
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register("sp-dsv2", broker)
    (1L to 3L).foreach { e =>
      broker.add(RawMessage("t", "n", "tp", 0, 5, e,
        s"m$e".getBytes("UTF-8"), null, 0L, 1700000000000L + e * 60000L, Map.empty))
    }
    val src = new FakeSource(spark) {
      override def brokerName = "sp-dsv2"
    }
    val dst = new FakeDest(spark, "sp-dsv2-dst")
    val pipe = new SyncPipeline(spark, src, dst)
    val rec = new InMemoryOffsetRecorder("sp-dsv2-offsets")
    rec.clear()
    val q = pipe.startMirror(tmpDir("sp-dsv2-ckpt"), offsets = Some(rec))
    q.awaitTermination()
    assert(dst.cluster.messages.size == 3)
    assert(rec.mappings.map(m => (m.srcEntry, m.dstLedger, m.dstEntry))
      == Seq((1L, 1000L, 0L), (2L, 1000L, 1L), (3L, 1000L, 2L)))
    // a cursor observed at src position (5,2) translates through the
    // recorded map (dense exact hit) to the mirror's dst assignment
    src.cursorRows += CursorStat("tp", 0, "sub", 5, 2,
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    val actions = pipe.syncCursors(rec.toDF(spark))
    assert(actions.map(a => (a.action, a.dstLedger, a.dstEntry))
      == Seq(("create", Some(1000L), Some(1L))))
  }

  test("schema-sync extension: tick replicates missing versions when both sides expose a registry") {
    val srcSchemas: mutable.Buffer[SchemaRow] =
      new java.util.concurrent.CopyOnWriteArrayList[SchemaRow]().asScala
    val dstSchemas: mutable.Buffer[SchemaRow] =
      new java.util.concurrent.CopyOnWriteArrayList[SchemaRow]().asScala
    val src = new FakeSource(spark) {
      override def schemas = Some(srcSchemas.toSeq.toDF())
    }
    val dst = new FakeDest(spark, "sp-schema") {
      override def schemas = Some(dstSchemas.toSeq.toDF())
      override def createSchemas(rows: Seq[SchemaRow]): Unit =
        rows.foreach(r => if (!dstSchemas.contains(r)) dstSchemas += r)
    }
    val pipe = new SyncPipeline(spark, src, dst)
    srcSchemas += SchemaRow("t", "ns", "top", 1, "AVRO", "{\"v\":1}")
    srcSchemas += SchemaRow("t", "ns", "top", 2, "AVRO", "{\"v\":2}")
    dstSchemas += SchemaRow("t", "ns", "top", 1, "AVRO", "{\"v\":1}")
    pipe.tickMetadata()
    assert(dstSchemas.map(_.version).sorted == Seq(1, 2))
    // converged: re-tick adds nothing
    val before = dstSchemas.size
    pipe.tickMetadata()
    assert(dstSchemas.size == before)
  }

  test("partition-only refresh never creates orphan partitions for unsynced topics") {
    val src0 = new FakeSource(spark)
    val dst0 = new FakeDest(spark, "sp-orphan")
    val pipe = new SyncPipeline(spark, src0, dst0,
      SyncConfig(autoUpdatePartition = true)) // topics: one-shot
    // synced topic with growth + a topic that appeared after the
    // initial tick (and, topics being one-shot, will never be created)
    dst0.topicRows += TopicRow("t", "ns", "old", partitioned = true, 2, Map.empty)
    src0.topicRows += TopicRow("t", "ns", "old", partitioned = true, 4, Map.empty)
    src0.topicRows += TopicRow("t", "ns", "brand-new", partitioned = true, 3, Map.empty)
    pipe.tickMetadata(refreshOnly = true)
    // growth on the mirrored topic propagates...
    assert(dst0.partitionCreates.map(_.physicalTopic).sorted
      == Seq("old-partition-2", "old-partition-3"))
    // ...but no orphan physical partitions for the never-created topic
    assert(!dst0.partitionCreates.exists(_.topic == "brand-new"))
    assert(dst0.topicRows.map(_.topic) == Seq("old"))
  }

  test("lag report: backlog and frontiers per partition, null frontier before delivery") {
    import spark.implicits._
    def raw(t: String, p: Int, l: Long, e: Long) =
      RawMessage("acme", "prod", t, p, l, e, Array[Byte](1), null, 0L,
        1700000000000L, Map.empty)
    val srcBatch = Seq(
      raw("tp", 0, 1, 0), raw("tp", 0, 1, 1), raw("tp", 0, 2, 0),
      raw("tp", 1, 5, 0), raw("tp", 1, 5, 1),
      raw("other", 0, 9, 9)).toDF()
    def om(t: String, p: Int, sl: Long, se: Long) =
      OffsetMapping(t, p, sl, se, sl + 100, se,
        new java.sql.Timestamp(1700000000000L))
    val offsetMap = Seq(
      om("tp", 0, 1, 0), om("tp", 0, 1, 1), // 2 of 3 delivered
      om("tp", 1, 5, 0)).toDF()             // 1 of 2 delivered
    val got = SyncPipeline.lagReport(srcBatch, offsetMap)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val tp0 = got(("tp", 0))
    assert(tp0.getLong(2) === 3L && tp0.getLong(3) === 2L
      && tp0.getLong(4) === 1L)
    assert(tp0.getLong(5) === 2L && tp0.getLong(6) === 0L) // src frontier
    assert(tp0.getLong(7) === 1L && tp0.getLong(8) === 1L) // mirrored
    val tp1 = got(("tp", 1))
    assert(tp1.getLong(4) === 1L && tp1.getLong(7) === 5L
      && tp1.getLong(8) === 0L)
    // nothing mirrored for "other": zero counts, null mirrored frontier
    val oth = got(("other", 0))
    assert(oth.getLong(3) === 0L && oth.getLong(4) === 1L)
    assert(oth.isNullAt(7) && oth.isNullAt(8))
    // the report's grain is the OFFSET MAP's key: a short topic name
    // shared by two namespaces folds into ONE row with the combined
    // counts (never a fan-out into per-namespace rows with negative
    // backlog)
    val collide = srcBatch.unionByName(
      Seq(raw("tp", 0, 7, 0).copy(namespace = "dev")).toDF())
    val c = SyncPipeline.lagReport(collide, offsetMap)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(c(("tp", 0)).getLong(2) === 4L && c(("tp", 0)).getLong(4) === 2L)
    assert(c.size === 3, "one row per (topic, partition)")
  }
}
