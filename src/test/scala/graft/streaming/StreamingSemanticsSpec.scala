package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuiteBase

/** S-1/S-2/S-4/S-5/S-7: streaming semantics that the batch oracle
  * can't reach — MemoryStream-driven micro-batches with watermarks,
  * state TTL, and stream-static joins.
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

case class EvK(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

case class Doc(doc_id: Long, text: String)

class StreamingSemanticsSpec extends SparkSuiteBase {

  import spark.implicits._

  private def ev(id: Long, t: String, u: Long = 1, v: Double = 1.0) =
    Ev(id, Timestamp.valueOf(t), u, v)

  test("streaming tumbling window agg matches batch semantics") {
    val ms = MemoryStream[Ev](spark, 1)
    val data = Seq(
      ev(1, "2024-01-01 00:00:10"), ev(2, "2024-01-01 00:00:50"),
      ev(3, "2024-01-01 00:01:10"), ev(4, "2024-01-01 00:02:59"))
    ms.addData(data: _*)
    val q = ms.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("tumbling")
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = data.toDF()
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == batch)
    assert(got == Set(("2024-01-01 00:00:00", 2L),
      ("2024-01-01 00:01:00", 1L), ("2024-01-01 00:02:00", 1L)))
    q.stop()
  }

  test("streaming sliding window agg matches batch semantics (S-2)") {
    val ms = MemoryStream[Ev](spark, 1)
    val data = Seq(
      ev(1, "2024-01-01 00:01:10"), ev(2, "2024-01-01 00:06:30"),
      ev(3, "2024-01-01 00:07:10"), ev(4, "2024-01-01 00:12:59"))
    ms.addData(data: _*)
    val q = ms.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("sliding")
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = data.toDF()
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == batch)
    // every event lands in exactly two windows
    assert(got.toSeq.map(_._2).sum == data.size * 2)
    q.stop()
  }

  test("streaming dedup with watermark drops in-window duplicates (S-5)") {
    val ms = MemoryStream[Ev](spark, 1)
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    ms.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:00:30"))
    q.processAllAvailable()
    ms.addData(ev(1, "2024-01-01 00:01:00"), ev(3, "2024-01-01 00:01:30"))
    q.processAllAvailable()
    val ids = spark.table("dedup").select("event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L))
    q.stop()
  }

  test("watermark drops data later than the watermark delay (S-4)") {
    val ms = MemoryStream[Ev](spark, 1)
    val q = ms.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    // batch 1 advances the watermark to 00:09:00
    ms.addData(ev(1, "2024-01-01 00:00:10"), ev(2, "2024-01-01 00:10:00"))
    q.processAllAvailable()
    // batch 2: an event at 00:00:20 is far behind the watermark -> dropped
    ms.addData(ev(3, "2024-01-01 00:00:20"), ev(4, "2024-01-01 00:10:30"))
    q.processAllAvailable()
    // close all windows
    ms.addData(ev(5, "2024-01-01 00:30:00"))
    q.processAllAvailable()
    val counts = spark.table("late")
      .select(col("window.start").cast("string"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts("2024-01-01 00:00:00") == 1L) // late ev(3) NOT counted
    assert(counts("2024-01-01 00:10:00") == 2L)
    q.stop()
  }

  test("scale-safe arrival rank (range-partitioned) equals the single-window form") {
    // the global-window formulation is confined to bounded fixtures;
    // this asserts the decomposed rank (range partition + local rank
    // + offsets) is the SAME function, so the scale path carries the
    // identical arrival semantics — including across uneven partition
    // sizes (numParts larger than needed leaves some ranges empty)
    val events = graft.Tables.events(spark, sfDir)
    val global = graft.StreamingQueries.arrivalBatches(events, batchSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(4, 32).foreach { parts =>
      val scalable = graft.StreamingQueries
        .arrivalBatchesScalable(events, batchSize = 100, numParts = parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(scalable == global, s"numParts=$parts diverges")
    }
  }

  test("q52 batch twin equals streaming dropDuplicates late-drop over the fixture (S-4)") {
    // replay the EXACT simulated-arrival batches q52 models through a
    // real watermark: the streaming survivors must equal the batch
    // twin's row set, proving the oracle-checked query carries the
    // true streaming semantic (including the >= watermark boundary)
    val events = graft.Tables.events(spark, sfDir)
    // batches of 100: the sf0.001 suite fixture (1000 events) then
    // spans 10 micro-batches, so the watermark actually advances
    val arrival = graft.StreamingQueries.arrivalBatches(events, batchSize = 100)
      .join(events.select(col("event_id").as("eid"), col("ts")),
        col("event_id") === col("eid"))
      .select(col("batch"), col("event_id"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val ms = MemoryStream[Ev](spark, 1)
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("q52twin")
      .outputMode("append").start()
    arrival.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      ms.addData(rows.map(t => Ev(t._2, t._3, 1, 1.0)).toSeq: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("q52twin").select("event_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val twin = graft.StreamingQueries.watermarkLateDrop(events, batchSize = 100)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed == twin,
      s"stream-only: ${streamed.diff(twin).take(5)}; twin-only: ${twin.diff(streamed).take(5)}")
    // and the filter actually dropped something — the test is vacuous
    // on a fixture with no late arrivals
    assert(twin.size < arrival.length)
  }

  test("q53 batch twin equals streaming dropDuplicates survivors over the fixture (S-5)") {
    val events = graft.Tables.events(spark, sfDir)
    val arrival = graft.StreamingQueries.arrivalBatches(events, batchSize = 100)
      .join(events.select(col("event_id").as("eid"), col("ts"),
        col("user_id"), col("event_type")), col("event_id") === col("eid"))
      .select(col("batch"), col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0),
        EvK(r.getLong(1), r.getTimestamp(2), r.getLong(3), r.getString(4))))
    val batchOf = arrival.map { case (b, e) => e.event_id -> b }.toMap
    val ms = MemoryStream[EvK](spark, 1)
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("q53twin")
      .outputMode("append").start()
    arrival.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      ms.addData(rows.map(_._2).toSeq: _*)
      q.processAllAvailable()
    }
    // survivors: key -> batch of the emitted row (which duplicate of a
    // within-batch tie gets emitted is unspecified; its BATCH is not)
    val streamed = spark.table("q53twin")
      .select(col("user_id"), col("event_type"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> batchOf(r.getLong(2))).toMap
    q.stop()
    val twin = graft.StreamingQueries.streamingDedupTwin(events, batchSize = 100)
      .select(col("user_id"), col("event_type"), col("first_batch"),
        col("n_arrivals"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed.keySet == twin.keySet,
      s"stream-only: ${streamed.keySet.diff(twin.keySet).take(5)}; " +
        s"twin-only: ${twin.keySet.diff(streamed.keySet).take(5)}")
    streamed.foreach { case (k, b) =>
      assert(twin(k)._1 == b, s"key $k emitted in batch $b, twin says ${twin(k)._1}")
    }
    // non-vacuous: the stream really suppressed duplicate keys
    assert(twin.values.exists(_._2 > 1L))
    assert(twin.size < arrival.length)
  }

  test("q70 batch twin equals streaming near-dup dedup keyed on the min fingerprint (S-5 × R-19)") {
    // the documents fixture streamed in doc_id order, ONE doc per
    // micro-batch (within a batch dropDuplicates keeps an ARBITRARY
    // row of a tied key — per-batch feed makes first-arrival = min
    // doc id exact): the streaming survivors must equal the batch
    // twin's
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val ms = MemoryStream[Doc](spark, 1)
    val fps = graft.operators.TextAnalysis.winnowFingerprints(
      ms.toDF(), "doc_id", "text", k = 3, windowSize = 4)
    val q = fps
      .select(col("doc_id"),
        when(size(col("fingerprints")) > 0,
          element_at(col("fingerprints"), 1)).as("fp_min"))
      .filter(col("fp_min").isNotNull)
      .dropDuplicates("fp_min")
      .writeStream.format("memory").queryName("q70twin")
      .outputMode("append").start()
    docs.foreach { d =>
      ms.addData(d)
      q.processAllAvailable()
    }
    val streamed = spark.table("q70twin").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    val twin = graft.StreamingQueries.nearDupDedupTwin(
        graft.Tables.documents(spark, sfDir))
      .select("survivor_doc").collect().map(_.getLong(0)).toSet
    assert(streamed == twin,
      s"stream-only: ${streamed.diff(twin).take(5)}; twin-only: ${twin.diff(streamed).take(5)}")
    // non-vacuous: state actually suppressed near-dups
    assert(twin.size < docs.length)
  }

  test("streaming chunk dedup equals the batch keep-first winners (S-5 × R-19)") {
    // Dedup.chunkFrame is a pure projection, so it applies unchanged
    // to the stream; dropDuplicates("chunk") state then IS the batch
    // keep-first rule when docs arrive one per micro-batch in id
    // order (within a batch dropDuplicates keeps an arbitrary tied
    // row; per-doc feed plus position-ordered rows make first-arrival
    // = min (doc, pos) exact for the doc-level winner map)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .limit(100)
      .collect().map(r => Doc(r.getLong(0), r.getString(1)))
    val batchDf = docs.toSeq.toDF("doc_id", "text")
    val ms = MemoryStream[Doc](spark, 1)
    val q = graft.operators.Dedup
      .chunkFrame(ms.toDF(), "doc_id", "text", chunkWords = 3)
      .dropDuplicates("chunk")
      .writeStream.format("memory").queryName("chunktwin")
      .outputMode("append").start()
    docs.foreach { d =>
      ms.addData(d)
      q.processAllAvailable()
    }
    val streamed = spark.table("chunktwin")
      .select(col("chunk"), col("__doc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    val winners = graft.operators.Dedup.chunkWinners(
        graft.operators.Dedup.chunkFrame(batchDf, "doc_id", "text", 3))
      .select(col("chunk"), col("__doc"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == winners,
      s"diff: ${streamed.toSet.diff(winners.toSet).take(3)} / " +
        s"${winners.toSet.diff(streamed.toSet).take(3)}")
    // non-vacuous: the state actually suppressed repeats
    val totalChunks = graft.operators.Dedup
      .chunkFrame(batchDf, "doc_id", "text", 3).count()
    assert(winners.size < totalChunks)
  }

  test("stream-static join enriches the stream (S-7)") {
    val ms = MemoryStream[Ev](spark, 1)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = ms.toDF().join(dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    ms.addData(ev(1, "2024-01-01 00:00:00", u = 1), ev(2, "2024-01-01 00:00:01", u = 3))
    q.processAllAvailable()
    val rows = spark.table("enriched").select("event_id", "tier")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "gold"))) // u=3 has no dim row
    q.stop()
  }

  test("rate source streams rows (S-1)") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("rate_rows")
      .outputMode("append").start()
    try {
      var tries = 0
      while (spark.table("rate_rows").isEmpty && tries < 50) {
        Thread.sleep(200); tries += 1
      }
      assert(!spark.table("rate_rows").isEmpty)
    } finally q.stop()
  }

  test("checkpoint-as-ack: failed batch replays after restart (S-8)") {
    import graft.streaming._
    val sink = new InMemoryCluster("ck-replay")
    sink.clear()
    val ckpt = tmpDir("ck-replay-ckpt")
    val broker = new graft.sources.InMemoryBroker
    graft.sources.EnvelopeBrokerRegistry.register("ck-replay-src", broker)
    broker.add(RawMessage("t", "n", "tp", 0, 1, 1, "a".getBytes, null, 0L,
      1700000000000L, Map.empty))
    // first run: sink poisoned -> batch fails -> offsets NOT committed
    val poisoned: DestinationSink = new DestinationSink {
      override def publish(msg: PulsarMessage): (Long, Long) =
        throw new RuntimeException("dst down")
    }
    val q1 = MessageMirror.start(spark, "ck-replay-src", poisoned, ckpt).start()
    intercept[Exception] { q1.awaitTermination() }
    assert(sink.messages.isEmpty)
    // restart with a healthy sink and the SAME checkpoint: the batch
    // replays (the ack never happened), message arrives exactly once
    val q2 = MessageMirror.start(spark, "ck-replay-src", sink, ckpt).start()
    q2.awaitTermination()
    assert(sink.messages.map(m => (m.ledgerId, m.entryId)) == Seq((1L, 1L)))
  }

  test("df.sample with a seed is deterministic across runs (R-29)") {
    val li = graft.Tables.lineitem(spark, graft.Tables.all.headOption
      .map(_ => "/root/testdata/sf0.001").get)
    val a = li.sample(withReplacement = false, 0.05, seed = 42)
      .select("l_orderkey", "l_linenumber").collect().toSeq
    val b = li.sample(withReplacement = false, 0.05, seed = 42)
      .select("l_orderkey", "l_linenumber").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("stateful dedup works on the RocksDB state store provider (scale path)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev](spark, 1)
      val q = ms.toDF()
        .withWatermark("ts", "10 minutes")
        .dropDuplicates("event_id")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").start()
      ms.addData(ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:00:30"))
      q.processAllAvailable()
      ms.addData(ev(1, "2024-01-01 00:01:00"), ev(3, "2024-01-01 00:01:30"))
      q.processAllAvailable()
      val ids = spark.table("rocks_dedup").select("event_id")
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L))
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming session window matches the batch formulation (S-3)") {
    val ms = MemoryStream[Ev](spark, 1)
    val data = Seq(
      ev(1, "2024-01-01 00:00:00"), ev(2, "2024-01-01 00:04:00"), // one session
      ev(3, "2024-01-01 00:30:00"), // new session (gap >= 10 min)
      ev(4, "2024-01-01 01:00:00", u = 2))
    ms.addData(data: _*)
    val q = ms.toDF()
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    q.processAllAvailable()
    val got = spark.table("sessions")
      .select(col("user_id"), col("session_window.start").cast("string"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = data.toDF()
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").cast("string"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == batch)
    assert(got == Set((1L, "2024-01-01 00:00:00", 2L),
      (1L, "2024-01-01 00:30:00", 1L), (2L, "2024-01-01 01:00:00", 1L)))
    q.stop()
  }

  test("stream-stream interval join matches the batch twin (S-10)") {
    def evk(id: Long, t: String, u: Long, typ: String) =
      EvK(id, Timestamp.valueOf(t), u, typ)
    val clicks = Seq(
      evk(1, "2024-01-01 00:00:00", 1, "click"),
      evk(2, "2024-01-01 00:10:00", 1, "click"),
      evk(3, "2024-01-01 00:05:00", 2, "click"))
    val purchases = Seq(
      // matches clicks 1 and 2 (within 60 min of both)
      evk(10, "2024-01-01 00:20:00", 1, "purchase"),
      // matches click 2 only (>60 min after click 1)
      evk(11, "2024-01-01 01:05:00", 1, "purchase"),
      // equal-ts to click 3: excluded by the strict > bound
      evk(12, "2024-01-01 00:05:00", 2, "purchase"),
      // different user: no match
      evk(13, "2024-01-01 00:06:00", 3, "purchase"))
    val msA = MemoryStream[EvK](spark, 1)
    val msB = MemoryStream[EvK](spark, 1)
    msA.addData(clicks: _*)
    msB.addData(purchases: _*)
    val joined = graft.StreamingQueries.intervalJoin(
      msA.toDF(), msB.toDF(), "user_id", "event_id", "ts",
      lagMinutes = 60, watermarkDelay = Some("10 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssij")
      .outputMode("append").start()
    q.processAllAvailable()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("lead_id"), col("follow_id"), col("lag_ms"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = rows(spark.table("ssij"))
    val batch = rows(graft.StreamingQueries.intervalJoin(
      clicks.toDF(), purchases.toDF(), "user_id", "event_id", "ts",
      lagMinutes = 60))
    assert(got == batch)
    assert(got == Set(
      (1L, 1L, 10L, 1200000L),
      (1L, 2L, 10L, 600000L),
      (1L, 2L, 11L, 3300000L)))
    q.stop()
  }

  test("interval join evicts lead state once the follow watermark passes (S-10)") {
    // The range bound is what lets the state store evict: after the
    // follow-side watermark advances past lead_ts + lag + delay, the
    // lead row is gone — a follow that ARRIVES later (beyond the
    // watermark) finds no state and emits nothing, while the batch
    // twin (which sees all data at once) would pair it.
    def evk(id: Long, t: String, u: Long, typ: String) =
      EvK(id, Timestamp.valueOf(t), u, typ)
    val msA = MemoryStream[EvK](spark, 1)
    val msB = MemoryStream[EvK](spark, 1)
    val joined = graft.StreamingQueries.intervalJoin(
      msA.toDF(), msB.toDF(), "user_id", "event_id", "ts",
      lagMinutes = 10, watermarkDelay = Some("5 minutes"))
    val q = joined.writeStream.format("memory").queryName("ssij_evict")
      .outputMode("append").start()
    // batch 1: a click, plus far-future rows on BOTH sides — the
    // query watermark is the MIN across all watermarked inputs
    // (multipleWatermarkPolicy=min), so both streams must advance for
    // the join state to evict
    msA.addData(evk(1, "2024-01-01 00:00:00", 1, "click"),
      evk(2, "2024-01-01 03:00:00", 9, "click"))
    msB.addData(evk(10, "2024-01-01 03:00:00", 8, "purchase"))
    q.processAllAvailable()
    // batch 2: a purchase that the batch twin pairs with click 1, but
    // it arrives hours past the 02:55 watermark — dropped as late,
    // and click 1's state is already evicted: no emit
    msB.addData(evk(11, "2024-01-01 00:05:00", 1, "purchase"))
    q.processAllAvailable()
    val got = spark.table("ssij_evict").collect()
    assert(got.isEmpty,
      s"late follow must find no lead state, got ${got.mkString(",")}")
    import spark.implicits._
    val batchPairs = graft.StreamingQueries.intervalJoin(
      Seq(evk(1, "2024-01-01 00:00:00", 1, "click"),
        evk(2, "2024-01-01 03:00:00", 9, "click")).toDF(),
      Seq(evk(10, "2024-01-01 03:00:00", 8, "purchase"),
        evk(11, "2024-01-01 00:05:00", 1, "purchase")).toDF(),
      "user_id", "event_id", "ts", lagMinutes = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs == Set((1L, 11L))) // batch WOULD pair it
    q.stop()
  }

  test("left-outer interval join emits the unmatched lead only after eviction (S-10)") {
    def evk(id: Long, t: String, u: Long, typ: String) =
      EvK(id, Timestamp.valueOf(t), u, typ)
    val msA = MemoryStream[EvK](spark, 1)
    val msB = MemoryStream[EvK](spark, 1)
    val joined = graft.StreamingQueries.intervalJoin(
      msA.toDF(), msB.toDF(), "user_id", "event_id", "ts",
      lagMinutes = 10, watermarkDelay = Some("5 minutes"),
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssij_outer")
      .outputMode("append").start()
    def rows() = spark.table("ssij_outer").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // batch 1: one matched lead, one unmatched lead; watermark still low
    msA.addData(evk(1, "2024-01-01 00:00:00", 1, "click"),
      evk(2, "2024-01-01 00:00:30", 2, "click"))
    msB.addData(evk(10, "2024-01-01 00:05:00", 1, "purchase"))
    q.processAllAvailable()
    // the match emits; the unmatched lead does NOT — its window is not
    // provably over yet
    assert(rows() == Set((1L, 10L)))
    // batch 2: far-future rows on both sides push the watermark past
    // lead_ts + lag + delay → lead 2's state evicts and the
    // null-extended row finally emits
    msA.addData(evk(3, "2024-01-01 02:00:00", 9, "click"))
    msB.addData(evk(11, "2024-01-01 02:00:00", 8, "purchase"))
    q.processAllAvailable()
    assert(rows() == Set((1L, 10L), (2L, -1L)),
      s"unmatched lead must emit null-extended after eviction, got ${rows()}")
    q.stop()
  }

  test("streaming rolling z-score equals the q121 batch operator, any batch split") {
    import graft.streaming.StreamingAnomaly
    // two keys, a planted spike each at different positions; values
    // with genuine variance so z is well-defined
    def pts(key: Long, vals: Seq[Double]): Seq[StreamingAnomaly.Point] =
      vals.zipWithIndex.map { case (v, i) =>
        StreamingAnomaly.Point(key, 1700000000000L + i * 1000L,
          key * 1000 + i, v)
      }
    val k1 = pts(1L, Seq(5.0, 5.2, 4.8, 5.1, 4.9, 5.0, 5.3, 4.7, 5.0,
      5.1, 60.0, 5.0, 4.9))
    val k2 = pts(2L, Seq(1.0, 1.1, 0.9, 1.0, 1.05, 0.95, 1.0, 1.1, 0.9,
      25.0, 1.0))
    val all = k1 ++ k2

    // batch reference: TimeSeries.rollingZScore over the same rows
    val batchDf = all.map(p =>
        (p.key, new Timestamp(p.tsMs), p.id, p.value))
      .toDF("user_id", "ts", "event_id", "value")
    val batch = graft.operators.TimeSeries.rollingZScore(
        batchDf, "user_id", "ts", "event_id", "value", w = 8,
        zThreshold = 3.0)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toSet

    // streaming: same points over THREE uneven micro-batches,
    // per-key time-ordered across batches per the contract
    val ms = MemoryStream[StreamingAnomaly.Point](spark, 1)
    implicit val s = spark
    val q = StreamingAnomaly.scores(ms.toDS(), w = 8, zThreshold = 3.0)
      .writeStream.format("memory").queryName("zstream")
      .outputMode("append").start()
    Seq(all.take(5), all.slice(5, 16), all.drop(16)).foreach { b =>
      ms.addData(b: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("zstream").collect()
      .map(r => (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toSet
    q.stop()
    assert(streamed == batch,
      s"stream != batch:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    // and the spikes really flagged
    assert(batch.exists { case (id, _, a) => id == 1010L && a })
    assert(batch.exists { case (id, _, a) => id == 2009L && a })
  }

  test("streaming column profile equals the batch profile after every batch (mergeable stats)") {
    // columnProfile is count/nulls/min/max/sum — every stat algebraic,
    // so the SAME operator code runs as a complete-mode streaming
    // aggregate and equals the batch profile over the rows fed so far
    import graft.operators.Audit
    val ms = MemoryStream[(Option[Double], Option[Double])](spark, 1)
    val q = Audit.columnProfile(ms.toDF().toDF("x", "y"), Seq("x", "y"))
      .writeStream.format("memory").queryName("profstream")
      .outputMode("complete").start()
    val batches = Seq(
      Seq((Some(1.0), Option.empty[Double]), (Some(5.0), Some(2.0))),
      Seq((None, Some(7.0)), (Some(-3.0), Some(3.0))),
      Seq((Some(10.0), None)))
    var fed = Seq.empty[(Option[Double], Option[Double])]
    try {
      batches.foreach { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
        fed = fed ++ b
        val batch = Audit.columnProfile(fed.toDF("x", "y"), Seq("x", "y"))
          .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
        val streamed = spark.table("profstream")
          .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
        assert(streamed === batch, s"after ${fed.size} rows")
      }
    } finally q.stop()
  }

  test("streaming EWMA equals the q165 batch operator, any batch split") {
    import graft.streaming.StreamingEwma
    def pts(key: Long, vals: Seq[Double]): Seq[StreamingEwma.Point] =
      vals.zipWithIndex.map { case (v, i) =>
        StreamingEwma.Point(key, 1700000000000L + i * 1000L,
          key * 1000 + i, v)
      }
    val all = pts(1L, Seq(5.0, 7.0, 3.0, 9.0, 4.0, 6.0, 8.0, 2.0)) ++
      pts(2L, Seq(1.5, 2.5, 0.5, 3.5, 1.0))

    val batchDf = all.map(p =>
        (p.key, new Timestamp(p.tsMs), p.id, p.value))
      .toDF("user_id", "ts", "event_id", "value")
    val batch = graft.operators.TimeSeries.ewmaSmooth(
        batchDf, "user_id", "ts", "event_id", "value",
        alpha = 0.5, lookback = 4)
      .collect()
      .map(r => (r.getLong(1), r.getInt(3), r.getDouble(4))).toSet

    val ms = MemoryStream[StreamingEwma.Point](spark, 1)
    implicit val s = spark
    val q = StreamingEwma.smoothed(ms.toDS(), alpha = 0.5, lookback = 4)
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode("append").start()
    Seq(all.take(3), all.slice(3, 10), all.drop(10)).foreach { b =>
      ms.addData(b: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("ewmastream").collect()
      .map(r => (r.getLong(1), r.getInt(3), r.getDouble(4))).toSet
    q.stop()
    assert(streamed == batch,
      s"stream != batch:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    // every input row is smoothed (partial windows kept)
    assert(batch.size == all.size)
  }

  test("streaming latest-wins upsert equals batch after every prefix, out of order") {
    import graft.streaming.StreamingUpsert
    import graft.streaming.StreamingUpsert.Change
    // deliberately OUT-OF-ORDER feed: latest-wins has no ordering
    // contract (max over the version tuple is commutative), so an
    // old version arriving late must NOT regress the state
    val batches = Seq(
      Seq(Change(1, 100L, 1, "a", 1.0), Change(2, 50L, 2, "x", 9.0)),
      Seq(Change(1, 300L, 5, "c", 3.0), Change(1, 200L, 3, "b", 2.0),
        Change(3, 10L, 4, "q", 7.0)),
      // late straggler: version (150, 6) < current (300, 5) for key 1;
      // ts tie on key 2 resolved by id
      Seq(Change(1, 150L, 6, "stale", -1.0), Change(2, 50L, 7, "y", 8.0)))

    val ms = MemoryStream[Change](spark, 1)
    implicit val s = spark
    val q = StreamingUpsert.latest(ms.toDS())
      .writeStream.format("memory").queryName("upsert")
      .outputMode("update").start()
    try {
      var fed = Seq.empty[Change]
      batches.foreach { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
        fed = fed ++ b
        // batch reference over the prefix fed so far
        val batchLatest = graft.operators.Cdc.latestWins(
            fed.toDF(), Seq("key"), Seq("tsMs", "id"),
            Seq("typ", "value"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
            r.getString(3), r.getDouble(4))).toMap
        // stream state = per key, the max-version emission so far
        val streamed = spark.table("upsert").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getDouble(4)))
          .groupBy(_._1)
          .map { case (k, rows) =>
            val b = rows.maxBy(x => (x._2, x._3))
            k -> ((b._2, b._3, b._4, b._5))
          }
        assert(streamed == batchLatest,
          s"prefix of ${fed.size}: stream $streamed != batch $batchLatest")
      }
      // the stale straggler emitted the UNCHANGED winner, not "stale"
      val key1Rows = spark.table("upsert").collect()
        .filter(_.getLong(0) == 1L).map(_.getString(3))
      assert(!key1Rows.contains("stale"))
    } finally q.stop()
  }

  test("streaming gap sessions equal the q138 batch operator, incl. watermark flush") {
    import graft.streaming.StreamingSessionize
    def ev(key: Long, t: String, id: Long) =
      StreamingSessionize.Ev(key, Timestamp.valueOf(t), id)
    // key 1: a 3-event session, then a 2-event session (closed by gap
    // traffic and by timeout respectively); key 2: a lone session
    // flushed by TIMEOUT, then traffic RESUMES a day later (the
    // counter must continue at sess 2, not restart); key 5: two
    // single-event sessions split by an in-data gap
    val all = Seq(
      ev(2, "2024-01-01 09:00:00", 6),
      ev(1, "2024-01-01 10:00:00", 1), ev(1, "2024-01-01 10:10:00", 2),
      ev(1, "2024-01-01 10:20:00", 3),
      ev(1, "2024-01-01 12:30:00", 4), ev(1, "2024-01-01 12:40:00", 5),
      ev(5, "2024-01-01 18:00:00", 7),
      ev(2, "2024-01-02 09:00:00", 8), ev(5, "2024-01-02 10:00:00", 9))

    val batchDf = all.map(e => (e.id, e.ts, e.key))
      .toDF("event_id", "ts", "user_id")
    val batch = graft.operators.Behavior.sessionize(
        batchDf, "user_id", "ts", "event_id", gapMs = 3600000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet

    val ms = MemoryStream[StreamingSessionize.Ev](spark, 1)
    implicit val s = spark
    val q = StreamingSessionize.sessions(ms.toDS(), gapMs = 3600000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // globally watermark-aligned batches (the documented contract);
      // key 2's session 1 flushes by TIMEOUT in batch 2, key 1's
      // session 2 by timeout in batch 3, and batch 4 resumes key 2
      // after its timeout flush; the far-future key-9 event flushes
      // the rest
      Seq(all.take(4), all.slice(4, 6), all.slice(6, 7), all.drop(7),
          Seq(ev(9, "2024-01-05 00:00:00", 100))).foreach { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .filter(_._1 != 9L).toSet
      assert(streamed == batch,
        s"stream != batch:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
      // the resumed key-2 session is NUMBERED 2 (counter survived the
      // timeout flush)
      assert(streamed.exists(t => t._1 == 2L && t._2 == 2L))
    } finally q.stop()
  }

  test("transformWithState latest-wins equals the mapGroupsWithState twin (API migration)") {
    import graft.streaming.{StreamingUpsert, StreamingUpsertV2}
    import graft.streaming.StreamingUpsert.Change
    val batches = Seq(
      Seq(Change(1, 100L, 1, "a", 1.0), Change(2, 50L, 2, "x", 9.0)),
      Seq(Change(1, 300L, 5, "c", 3.0), Change(1, 200L, 3, "b", 2.0)),
      Seq(Change(1, 150L, 6, "stale", -1.0), Change(3, 10L, 4, "q", 7.0)))
    implicit val s = spark
    // transformWithState requires the RocksDB provider
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // compare the PER-BATCH EMISSION MULTISETS, not a client-side
      // re-derivation of latest-wins — a V2 that dropped prior state
      // would emit the batch-local winner and a collapsed comparison
      // could not see it (review finding)
      def run(name: String,
          f: org.apache.spark.sql.Dataset[Change] =>
            org.apache.spark.sql.Dataset[StreamingUpsert.Latest]) = {
        val ms = MemoryStream[Change](spark, 1)
        val q = f(ms.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          var prev = Map.empty[(Long, Long, Long, String, Double), Int]
          batches.map { b =>
            ms.addData(b: _*); q.processAllAvailable()
            val now = spark.table(name).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                r.getString(3), r.getDouble(4)))
              .groupBy(identity).map { case (k, v) => k -> v.size }
            val emitted = now.map { case (k, c) =>
              k -> (c - prev.getOrElse(k, 0)) }.filter(_._2 > 0)
            prev = now
            emitted
          }
        } finally q.stop()
      }
      val v1 = run("upsert_v1", StreamingUpsert.latest(_))
      val v2 = run("upsert_v2", StreamingUpsertV2.latest(_))
      assert(v1 == v2, s"per-batch emissions diverge:\nv1=$v1\nv2=$v2")
      // batch 3 carried only a STALE change for key 1: both APIs must
      // re-emit the ts=300 winner there, proving state was read
      assert(v1(2).keySet.exists(r => r._1 == 1L && r._2 == 300L),
        s"stale batch must re-emit the stateful winner: ${v1(2)}")
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming CUSUM equals the q156 batch operator over any batch split") {
    import graft.streaming.StreamingCusum
    import graft.streaming.StreamingCusum.Point
    def pts(key: Long, vals: Seq[Double]): Seq[Point] =
      vals.zipWithIndex.map { case (v, i) =>
        Point(key, 1700000000000L + i * 1000L, key * 1000 + i, v)
      }
    val all = pts(1L, Seq(10.0, 60.0, 70.0, 40.0, 80.0, 20.0, 90.0)) ++
      pts(2L, Seq(55.0, 56.0, 57.0, 10.0))

    val batchDf = all.map(p => (p.key, new Timestamp(p.tsMs), p.id, p.value))
      .toDF("user_id", "ts", "event_id", "value")
    val batch = graft.operators.TimeSeries.cusum(batchDf,
        "user_id", "ts", "event_id", "value", 50.0, 5.0, 20.0)
      .collect().map(r => (r.getLong(2), r.getDouble(4), r.getBoolean(5)))
      .toSet

    val ms = MemoryStream[Point](spark, 1)
    implicit val s = spark
    val q = StreamingCusum.scores(ms.toDS(), 50.0, 5.0, 20.0)
      .writeStream.format("memory").queryName("cusum")
      .outputMode("append").start()
    try {
      Seq(all.take(3), all.slice(3, 8), all.drop(8)).foreach { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("cusum").collect()
        .map(r => (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toSet
      assert(streamed == batch,
        s"stream != batch:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
      assert(batch.exists(_._3), "fixture must trip at least one alarm")
    } finally q.stop()
  }

  test("streaming Holt equals the q230 batch operator over any batch split") {
    import graft.streaming.StreamingHolt
    import graft.streaming.StreamingHolt.Point
    val all = Seq(10.0, 14.0, 10.0, 18.0, 22.0, 16.0).zipWithIndex
      .map { case (v, i) => Point("a", i.toLong, v) } ++
      Seq(7.0, 7.0, 7.0).zipWithIndex
        .map { case (v, i) => Point("b", i.toLong, v) }

    val batch = graft.operators.TimeSeries.holtSmooth(
        all.map(p => (p.key, p.t, p.x)).toDF("key", "t", "x"),
        "key", "t", "x", 0.5, 0.25)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getAs[Double]("level6"), r.getAs[Double]("trend6"),
        Option(r.get(r.fieldIndex("fc6"))))).toSet

    val ms = MemoryStream[Point](spark, 1)
    implicit val s = spark
    val q = StreamingHolt.fits(ms.toDS(), 0.5, 0.25)
      .writeStream.format("memory").queryName("holt")
      .outputMode("append").start()
    try {
      // split mid-key: a's series crosses batch boundaries twice
      Seq(all.take(2), all.slice(2, 7), all.drop(7)).foreach { b =>
        ms.addData(b: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("holt").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getAs[Double]("level6"), r.getAs[Double]("trend6"),
          Option(r.get(r.fieldIndex("fc6"))))).toSet
      assert(streamed == batch,
        s"stream != batch:\nonly-stream=${streamed -- batch}\nonly-batch=${batch -- streamed}")
    } finally q.stop()
  }
}
