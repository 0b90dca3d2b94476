package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuiteBase
import graft.sources.{EnvelopeBrokerRegistry, InMemoryBroker}

/** Reference-equivalent E2E tests (SURVEY §5.2.2-3): metadata cascade
  * idempotency, envelope-preserving message backfill, at-least-once
  * redelivery absorbed by MessageId dedup, cursor state machine, and
  * the two-tier offset index.
  */
class ReplicationSpec extends SparkSuiteBase {

  import spark.implicits._

  // ------------------------------------------------------ control plane

  test("metadata tick: creates missing entities, idempotent on re-tick") {
    val srcTenants = Seq(TenantRow("t1", Seq("src")), TenantRow("t2", Seq("src"))).toDF()
    val dstTenants = Seq(TenantRow("t1", Seq("dst"))).toDF()
    val srcNs = Seq(NamespaceRow("t1", "ns1", "{}"), NamespaceRow("t2", "ns2", "{\"p\":1}")).toDF()
    val dstNs = Seq(NamespaceRow("t1", "ns1", "{}")).toDF()
    val srcTopics = Seq(
      TopicRow("t1", "ns1", "top-a", partitioned = false, 0, Map.empty),
      TopicRow("t1", "ns1", "top-b", partitioned = true, 3, Map("k" -> "v")),
      TopicRow("t1", "ns1", "top-b-partition-0", partitioned = false, 0, Map.empty) // physical: filtered
    ).toDF()
    val dstTopics = Seq(TopicRow("t1", "ns1", "top-a", partitioned = false, 0, Map.empty)).toDF()

    val plan = MetadataSync.tick(srcTenants, dstTenants, srcNs, dstNs,
      srcTopics, dstTopics, dstClusters = Seq("dst"))

    // A2: allowedClusters rewritten to dst's clusters
    val tenants = plan.tenants.collect()
    assert(tenants.map(_.getAs[String]("tenant")).toSet == Set("t2"))
    assert(tenants.head.getSeq[String](tenants.head.fieldIndex("allowedClusters")) == Seq("dst"))
    // A6: policies carried verbatim
    val ns = plan.namespaces.collect()
    assert(ns.map(r => (r.getAs[String]("tenant"), r.getAs[String]("policiesJson"))).toSet
      == Set(("t2", "{\"p\":1}")))
    // A8/A9/A12: physical partition topics excluded; partitioned kept
    assert(plan.topics.collect().map(_.getAs[String]("topic")).toSet == Set("top-b"))
    // A13: fan-out into physical partitions
    assert(plan.partitions.collect().map(_.getAs[String]("physicalTopic")).toSet
      == Set("top-b-partition-0", "top-b-partition-1", "top-b-partition-2"))

    // idempotency: after applying, a second tick is a no-op
    val dstTenants2 = dstTenants.unionByName(plan.tenants.select("tenant", "allowedClusters"))
    val dstNs2 = dstNs.unionByName(plan.namespaces)
    val dstTopics2 = dstTopics.unionByName(plan.topics)
    val plan2 = MetadataSync.tick(srcTenants, dstTenants2, srcNs, dstNs2,
      srcTopics, dstTopics2, dstClusters = Seq("dst"))
    assert(plan2.tenants.count() == 0 && plan2.namespaces.count() == 0
      && plan2.topics.count() == 0 && plan2.partitions.count() == 0)
  }

  test("schema sync: missing versions replicate, history preserved, idempotent") {
    val src = Seq(
      SchemaRow("t", "ns", "top", 1, "AVRO", "{\"v\":1}"),
      SchemaRow("t", "ns", "top", 2, "AVRO", "{\"v\":2}"),
      SchemaRow("t", "ns", "other", 1, "JSON", "{}")).toDF()
    val dst = Seq(SchemaRow("t", "ns", "top", 1, "AVRO", "{\"v\":1}")).toDF()
    val plan = MetadataSync.schemaCreates(src, dst)
    val got = plan.collect()
      .map(r => (r.getAs[String]("topic"), r.getAs[Int]("version"))).toSet
    assert(got == Set(("top", 2), ("other", 1)))
    // after applying, a re-tick is a no-op
    val dst2 = dst.unionByName(plan)
    assert(MetadataSync.schemaCreates(src, dst2).count() == 0)
  }

  // --------------------------------------------------------- data plane

  private def raw(
      part: Int, ledger: Long, entry: Long,
      key: String = null, eventTimeMs: Long = 0L,
      props: Map[String, String] = Map.empty): RawMessage =
    RawMessage("t1", "ns1", "top", part, ledger, entry,
      s"v-$ledger-$entry".getBytes("UTF-8"), key, eventTimeMs,
      publishTimeMillis = 1700000000000L + entry, properties = props)

  /** A fresh source broker registered as `name`. */
  private def broker(name: String): InMemoryBroker = {
    val b = new InMemoryBroker
    EnvelopeBrokerRegistry.register(name, b)
    b
  }

  test("message mirror: envelope rules, backfill, redelivery dedup") {
    val sink = new InMemoryCluster("mirror-test")
    sink.clear()
    val src = broker("mirror-test-src")
    // pre-existing messages (Earliest backfill, PulsarMessageSyncTest.java:46)
    src.add(
      raw(0, 1, 1, key = "k1", eventTimeMs = 1700000000123L, props = Map("a" -> "b")),
      raw(0, 1, 2), // key null, eventTime 0 => both absent on dst
      raw(1, 1, 1, key = "x"))
    val query = MessageMirror.start(spark, "mirror-test-src", sink, tmpDir("mirror-ckpt"),
      Trigger.AvailableNow()).start()
    query.awaitTermination()

    val msgs = sink.messages
    assert(msgs.size == 3)
    val m1 = msgs.find(m => m.partition == 0 && m.entryId == 1).get
    assert(m1.key.contains("k1")
      && m1.eventTime.contains(new Timestamp(1700000000123L))
      && m1.properties == Map("a" -> "b")
      && new String(m1.value, "UTF-8") == "v-1-1")
    val m2 = msgs.find(m => m.partition == 0 && m.entryId == 2).get
    assert(m2.key.isEmpty && m2.eventTime.isEmpty)

    // redelivery (at-least-once): a fresh checkpoint re-reads every
    // message from Earliest, plus one new one
    src.add(raw(0, 1, 3))
    val query2 = MessageMirror.start(spark, "mirror-test-src", sink, tmpDir("mirror-ckpt2"),
      Trigger.AvailableNow()).start()
    query2.awaitTermination()
    assert(sink.messages.size == 4) // dup absorbed, new one delivered
  }

  // ------------------------------------------------------- cursor plane

  test("offset index: sparse sampling keeps first-per-minute and expires old entries") {
    def om(min: Int, sec: Int, srcL: Long, srcE: Long): OffsetMapping =
      OffsetMapping("top", 0, srcL, srcE, srcL + 100, srcE + 100,
        Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d"))
    val idx = OffsetIndex.sparseSample(
      Seq(om(0, 5, 1, 1), om(0, 30, 1, 2), // same minute: keep first
        om(1, 0, 2, 1),
        om(59, 59, 9, 9)).toDF(),
      retentionMinutes = 30)
    val kept = idx.collect().map(r => (r.getAs[Long]("srcLedger"), r.getAs[Long]("srcEntry"))).toSet
    // minute-0/1 entries are >30 min older than the newest sample -> expired
    assert(kept == Set((9L, 9L)))
  }

  test("offset translation: floor per (topic, partition), null when below all") {
    val idx = Seq(
      OffsetMapping("top", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00")),
      OffsetMapping("top", 0, 20, 0, 120, 0, Timestamp.valueOf("2024-01-01 10:01:00")),
      OffsetMapping("top", 1, 15, 0, 215, 0, Timestamp.valueOf("2024-01-01 10:00:30"))).toDF()
    val stats = Seq(
      CursorStat("top", 0, "sub-a", 15, 5, Timestamp.valueOf("2024-01-01 10:02:00")),
      CursorStat("top", 0, "sub-b", 5, 0, Timestamp.valueOf("2024-01-01 10:02:00")), // below all
      CursorStat("top", 1, "sub-a", 99, 0, Timestamp.valueOf("2024-01-01 10:02:00"))).toDF()
    val out = OffsetIndex.translate(stats, idx)
      .select("cursor", "partition", "dstLedger").collect()
      .map(r => (r.getAs[String]("cursor"), r.getAs[Int]("partition")) ->
        Option(r.get(r.fieldIndex("dstLedger"))))
      .toMap
    assert(out(("sub-a", 0)) == Some(110L)) // floor of (15,5) is (10,0)
    assert(out(("sub-b", 0)) == None) // reference would NPE here
    assert(out(("sub-a", 1)) == Some(215L))
  }

  test("two-tier translation: exact dense hit beats the minute-first sparse floor") {
    // two mappings in the SAME minute: the sparse tier keeps only the
    // first (10,0); a cursor sitting exactly on the second (10,5) must
    // translate EXACTLY through the dense tier (the reference's
    // messageIdMap hit, PulsarPartitionSyncWorker.java:211-214), not
    // floor back a minute to (110,0)
    val om = Seq(
      OffsetMapping("top", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00")),
      OffsetMapping("top", 0, 10, 5, 115, 5, Timestamp.valueOf("2024-01-01 10:00:30"))).toDF()
    val stats = Seq(
      CursorStat("top", 0, "on-mapping", 10, 5, Timestamp.valueOf("2024-01-01 10:01:00")),
      CursorStat("top", 0, "between", 10, 7, Timestamp.valueOf("2024-01-01 10:01:00")),
      CursorStat("top", 0, "below-all", 1, 0, Timestamp.valueOf("2024-01-01 10:01:00"))).toDF()
    val out = OffsetIndex.translateTwoTier(stats, om)
      .collect().map(r => r.getAs[String]("cursor") ->
        (Option(r.get(r.fieldIndex("dstLedger"))), Option(r.get(r.fieldIndex("dstEntry")))))
      .toMap
    assert(out("on-mapping") == ((Some(115L), Some(5L)))) // dense exact hit
    assert(out("between") == ((Some(110L), Some(0L)))) // sparse floor fallback
    assert(out("below-all") == ((None, None)))
  }

  test("dense tier expires entries beyond its retention window") {
    val om = Seq(
      OffsetMapping("top", 0, 10, 0, 110, 0, Timestamp.valueOf("2024-01-01 10:00:00")),
      OffsetMapping("top", 0, 99, 0, 199, 0, Timestamp.valueOf("2024-01-01 12:30:00"))).toDF()
    val stats = Seq(
      CursorStat("top", 0, "c", 10, 0, Timestamp.valueOf("2024-01-01 12:31:00"))).toDF()
    def dst(df: org.apache.spark.sql.DataFrame): Option[Any] = {
      val r = df.collect().head
      Option(r.get(r.fieldIndex("dstLedger")))
    }
    // 2.5 h old: outside both tiers' 60-min default retention -> no
    // translation (the mapping is gone, like the reference's TTL'd
    // cache + evicted sparse map)
    assert(dst(OffsetIndex.translateTwoTier(stats, om)).isEmpty)
    // wide retention: the dense tier hits exactly
    assert(dst(OffsetIndex.translateTwoTier(stats, om, retentionMinutes = 1000000))
      .contains(110L))
  }

  test("cursor state machine: create / skip / reset / dst-owned") {
    def stat(cursor: String, l: Long, e: Long, dstL: Long,
        active: Boolean = false, t: String = "2024-01-01 10:00:00") =
      TranslatedCursorStat("top", 0, cursor, l, e, Some(dstL), Some(0L),
        active, Timestamp.valueOf(t))

    // one tick: fold each key's observations over its carried state
    val state = scala.collection.mutable.Map.empty[(String, Int, String), CursorState]
    val acts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def tick(stats: TranslatedCursorStat*): Unit =
      stats.groupBy(s => (s.topic, s.partition, s.cursor)).toSeq.sortBy(_._1)
        .foreach { case (key, ss) =>
          val (out, next) = CursorSync.decidePure(key, state.get(key), ss)
          next.foreach(state.update(key, _))
          acts ++= out.map(a => (a.cursor, a.action))
        }

    tick(stat("c1", 1, 1, 101), stat("c2", 5, 0, 105))
    // first sighting: create
    assert(acts.toSet == Set(("c1", "create"), ("c2", "create")))

    // unchanged -> skip; moved -> reset; moved-but-dst-active -> skip
    tick(
      stat("c1", 1, 1, 101, t = "2024-01-01 10:00:10"),
      stat("c2", 6, 0, 106, t = "2024-01-01 10:00:10"))
    tick(stat("c2", 7, 0, 107, active = true, t = "2024-01-01 10:00:20"))
    assert(acts.count(_ == ("c2", "reset")) == 1)
    assert(acts.count(_._1 == "c1") == 1) // no extra action for unchanged c1

    // dst-owned move updated state: moving again from (7,0) emits reset
    tick(stat("c2", 8, 0, 108, t = "2024-01-01 10:00:30"))
    assert(acts.count(_ == ("c2", "reset")) == 2)
  }

  test("dead letter: one poisoned message doesn't abort siblings (A23)") {
    val dl = new InMemoryDeadLetter("dl-test")
    dl.clear()
    val sink = new InMemoryCluster("dl-dest")
    sink.clear()
    val poisoned: DestinationSink = new DestinationSink {
      override def publish(msg: PulsarMessage): (Long, Long) = {
        if (msg.entryId == 2L) throw new RuntimeException("poison")
        sink.publish(msg)
      }
    }
    broker("dl-src").add(raw(0, 1, 1), raw(0, 1, 2), raw(0, 1, 3))
    val query = MessageMirror.start(spark, "dl-src", poisoned, tmpDir("dl-ckpt"),
      Trigger.AvailableNow(), deadLetter = Some(dl)).start()
    query.awaitTermination()
    assert(sink.messages.map(_.entryId).sorted == Seq(1L, 3L))
    assert(dl.entries.map(e => (e._4, e._5)) == Seq((2L, "poison")))
  }
}
