package graft

import org.apache.spark.sql.functions._

/** Batch-replayable streaming semantics (SURVEY §2B S-2/S-3): the
  * window operators used by the streaming plane, verified against the
  * oracle by running them in batch mode over `events` (identical
  * semantics; the MemoryStream-driven variants live in the ScalaTest
  * streaming suite where the oracle can't reach).
  */
object StreamingQueries extends QueryGroup {

  /** Simulated-arrival frame shared by q52 and the stream-vs-batch
    * spec: (event_id, tms, batch) where batch chunks the jittered
    * arrival order into micro-batches of 1000.
    */
  /** (event_id, tms, ak): jittered arrival key per event. event_id is
    * reduced mod the jitter window BEFORE the Knuth multiply:
    * ((id % m) * c) % m == (id * c) % m, and the bounded intermediate
    * (< 3.6e6 * 2.7e9 < 2^63) can never overflow int64 — Spark would
    * wrap silently where DuckDB raises, so the twins would diverge
    * past id ~3.4e9 (same discipline as PortableHash).
    */
  private def jittered(events: org.apache.spark.sql.DataFrame) =
    events.select(col("event_id"), unix_millis(col("ts")).as("tms"))
      .withColumn("ak",
        col("tms") + ((col("event_id") % lit(3600000L)) * lit(2654435761L)) % lit(3600000L)
          - lit(1800000L))

  def arrivalBatches(events: org.apache.spark.sql.DataFrame,
      batchSize: Int = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // arrival order is a global total order, so this window is a
    // single-task sort BY CONSTRUCTION — acceptable ONLY because the
    // batch-twin fixtures bound the row count (~1e5 (long,long) pairs);
    // the scale-safe formulation of the same rank is
    // [[arrivalBatchesScalable]], asserted identical in
    // StreamingSemanticsSpec
    val rnW = Window.orderBy(col("ak"), col("event_id"))
    jittered(events)
      .withColumn("batch",
        ((row_number().over(rnW) - lit(1)) / lit(batchSize)).cast("long"))
      .select(col("event_id"), col("tms"), col("batch"))
  }

  /** Scale-safe twin of [[arrivalBatches]]: the global arrival rank as
    * range-partition + per-partition rank + partition offsets — the
    * decomposition Spark's own global `orderBy` uses, written out so
    * no single partition ever holds the whole stream. The only driver
    * materialization is one count per range partition (bounded by the
    * partition count, not the data). Identical output to the
    * single-window form on any input: (ak, event_id) is a total order,
    * so global rank = rows in earlier ranges + local rank.
    */
  def arrivalBatchesScalable(events: org.apache.spark.sql.DataFrame,
      batchSize: Int = 1000, numParts: Int = 0): org.apache.spark.sql.DataFrame =
    // the range-partition + pid-stability + offsets machinery lives
    // ONCE in ScaleOps.prefixSumByRange (packScan shares it); with
    // value = 1 the strictly-before sum IS the 0-based global rank
    graft.operators.ScaleOps.prefixSumByRange(
        jittered(events), Seq("ak", "event_id"), lit(1L), "rn", numParts)
      .withColumn("batch", (col("rn") / lit(batchSize)).cast("long"))
      .select(col("event_id"), col("tms"), col("batch"))

  /** The late-filter core shared by q52/q53: arrival rows that pass
    * the watermark (per-batch watermark = max event time of PRIOR
    * batches minus 10 min; keep `tms >= wm_ms`, null watermark =
    * first batch keeps all). Returns (batch, event_id, tms).
    */
  def lateFiltered(events: org.apache.spark.sql.DataFrame,
      batchSize: Int = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // size-routed arrival rank (same router discipline as the cosine
    // byte gate): the single-window form sorts the whole stream in ONE
    // task — fastest below a few million rows, a funnel beyond — while
    // the range-partitioned form pays ~5 fixed jobs of machinery
    // (count, offsets, two checkpoints) that only amortize on big
    // inputs (measured at 10x: scalable 3.1-4.1 s vs single-window
    // 1.6-2.3 s for q52/q53/q56 — the crossover is above 10^7 rows on
    // this box). The two are spec-proven value-identical, so routing
    // is purely a plan choice; the count is metadata-cheap on parquet.
    val ev =
      if (events.count() <= 4000000L) arrivalBatches(events, batchSize)
      else arrivalBatchesScalable(events, batchSize)
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = ev.groupBy(col("batch")).agg(max(col("tms")).as("mx"))
      .withColumn("wm_ms", max(col("mx")).over(w))
      .select(col("batch"), col("wm_ms"))
    ev.join(broadcast(wm), "batch")
      .filter(col("wm_ms").isNull || col("tms") >= col("wm_ms") - lit(600000L))
      .select(col("batch"), col("event_id"), col("tms"))
  }

  /** The batch twin of the streaming late filter (S-4). */
  def watermarkLateDrop(events: org.apache.spark.sql.DataFrame,
      batchSize: Int = 1000): org.apache.spark.sql.DataFrame =
    lateFiltered(events, batchSize)
      .select(col("event_id"), col("tms").as("ts_ms"))

  /** Stream-stream event-time interval join (beyond the S-1…S-9
    * surface; the reference's per-partition replication never joins
    * two live streams, but a training-data event pipeline does —
    * click→conversion attribution, request→response pairing): lead
    * events inner-joined to follow events on the key with
    * `lead_ts < follow_ts <= lead_ts + lagMinutes`.
    *
    * With `watermarkDelay` set and streaming inputs this is Spark's
    * stream-stream inner join: both sides shuffle on the equality key
    * (co-partitioned state), and the TIME-RANGE bound is what lets
    * the state store evict — a lead row can only match follows within
    * lagMinutes, so once the follow-side watermark passes
    * `lead_ts + lag + delay` the row is dropped. Without the range
    * bound, stream-stream state grows without bound; that failure
    * mode is the reason the lag is a REQUIRED parameter. Batch
    * callers leave `watermarkDelay` empty and get the identical
    * per-row semantics (StreamingSemanticsSpec proves stream == batch
    * over a MemoryStream feed).
    *
    * Output: (user_id, lead_id, follow_id, lag_ms) — lag in
    * epoch-millis (the ns-fixture-portable precision).
    */
  def intervalJoin(
      lead: org.apache.spark.sql.DataFrame,
      follow: org.apache.spark.sql.DataFrame,
      keyCol: String, idCol: String, tsCol: String,
      lagMinutes: Int,
      watermarkDelay: Option[String] = None,
      joinType: String = "inner"): org.apache.spark.sql.DataFrame = {
    require(lagMinutes > 0, "lagMinutes must be positive")
    require(joinType == "inner" || joinType == "left_outer",
      s"interval join supports inner/left_outer, got $joinType")
    val a0 = lead.select(col(keyCol).as("user_id"),
      col(idCol).as("lead_id"), col(tsCol).as("lead_ts"))
    val b0 = follow.select(col(keyCol).as("__fk"),
      col(idCol).as("follow_id"), col(tsCol).as("follow_ts"))
    val a = watermarkDelay.fold(a0)(w => a0.withWatermark("lead_ts", w))
    val b = watermarkDelay.fold(b0)(w => b0.withWatermark("follow_ts", w))
    // left_outer semantics at streaming runtime: an unmatched lead row
    // emits its null-extended result ONLY when the watermark passes
    // lead_ts + lag (+ delay) and its state is evicted — "no
    // conversion within the window" is an absence that needs the
    // window to be provably over (spec-asserted). Batch callers get
    // ordinary left-outer rows immediately.
    a.join(b, col("user_id") === col("__fk") &&
        col("follow_ts") > col("lead_ts") &&
        col("follow_ts") <=
          col("lead_ts") + expr(s"INTERVAL $lagMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("lead_id"), col("follow_id"),
        (unix_millis(col("follow_ts")) - unix_millis(col("lead_ts")))
          .as("lag_ms"))
  }

  /** The batch twin of streaming `dropDuplicates` under a watermark
    * (S-5): among the non-late arrivals, each dedup key
    * (user_id, event_type) is emitted once, in its first passing
    * batch. WHICH duplicate row of a key the streaming operator emits
    * when several share that micro-batch is an implementation detail,
    * but the KEY and the emitting batch are deterministic — exactly
    * what this twin outputs; n_arrivals counts the passing rows the
    * dedup state suppressed.
    */
  def streamingDedupTwin(events: org.apache.spark.sql.DataFrame,
      batchSize: Int = 1000): org.apache.spark.sql.DataFrame =
    lateFiltered(events, batchSize)
      .join(events.select(col("event_id"), col("user_id"), col("event_type")),
        "event_id")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("batch")).as("first_batch"), count(lit(1)).as("n_arrivals"))

  /** S-5 × R-19: batch twin of STREAMING near-duplicate dedup,
    * blocked by the MIN winnowing fingerprint — the key that lets
    * `dropDuplicates` state carry near-dup evidence: two docs sharing
    * their minimal fingerprint share content, so keying the streaming
    * dedup on it suppresses near-dup arrivals with bounded per-key
    * state (one fingerprint per doc, not the full set — the standard
    * min-hash blocking trade: recall only for pairs agreeing on the
    * MINIMUM, which near-identical docs overwhelmingly do).
    *
    * Twin semantics (q53's pattern): per non-null key, the
    * deterministic SURVIVOR (min doc id = first arrival under id-
    * ordered feed) and the suppressed count. Docs with no fingerprint
    * (no 3-gram) carry no dedup evidence and pass through outside
    * this frame. Stream-vs-batch equality is proven in
    * StreamingSemanticsSpec over a MemoryStream feed.
    */
  def nearDupDedupTwin(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.TextAnalysis
      .winnowFingerprints(docs, "doc_id", "text", k = 3, windowSize = 4)
      .select(col("doc_id"),
        when(size(col("fingerprints")) > 0,
          element_at(col("fingerprints"), 1)).as("fp_min"))
      .filter(col("fp_min").isNotNull)
      .groupBy(col("fp_min"))
      .agg(min(col("doc_id")).as("survivor_doc"), count(lit(1)).as("n_docs"))

  // ---------------------------------------------------------------- S-2
  // Tumbling 1-minute window (epoch-aligned = date_trunc minute) — the
  // reference's 60 s sampling cadence (PulsarPartitionSyncWorker
  // .java:236).
  q("q39_tumbling_window",
    s"""SELECT epoch_ms(date_trunc('minute', ts)) AS wstart_ms,
       |  count(*) AS n, ${sqlRound("sum(value)", 2)} AS val_sum
       |FROM events
       |GROUP BY date_trunc('minute', ts)
       |ORDER BY wstart_ms""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n"), pround(sum(col("value")), 2).as("val_sum"))
      .select(unix_millis(col("window.start")).as("wstart_ms"),
        col("n"), col("val_sum"))
      .orderBy(col("wstart_ms"))
  }

  // S-2 sliding window: 10-minute windows sliding every 5 — each event
  // lands in exactly 2 windows. Oracle enumerates the two candidate
  // 5-minute-aligned starts per event and keeps those whose window
  // covers the event.
  q("q50_sliding_window",
    s"""WITH c AS (
       |  SELECT e.*, unnest([date_trunc('minute', ts) - INTERVAL (EXTRACT(minute FROM ts)::INT % 5) MINUTE,
       |                      date_trunc('minute', ts) - INTERVAL (EXTRACT(minute FROM ts)::INT % 5) MINUTE - INTERVAL 5 MINUTE]) AS wstart
       |  FROM events e),
       |w AS (SELECT * FROM c WHERE ts >= wstart AND ts < wstart + INTERVAL 10 MINUTE)
       |SELECT epoch_ms(wstart) AS wstart_ms, count(*) AS n,
       |  ${sqlRound("sum(value)", 2)} AS val_sum
       |FROM w GROUP BY wstart ORDER BY wstart_ms""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), pround(sum(col("value")), 2).as("val_sum"))
      .select(unix_millis(col("window.start")).as("wstart_ms"),
        col("n"), col("val_sum"))
      .orderBy(col("wstart_ms"))
  }

  /** Shared oracle CTE block for the q52/q53/q56 family — the SQL
    * twin of [[arrivalBatches]]+[[lateFiltered]] (jitter constant,
    * window, batch size and delay live HERE and in those two
    * functions only). `k` = the non-late arrival rows, carrying
    * `extraCols` through from `events`.
    */
  private def arrivalCtes(extraCols: String*): String = {
    val extra = extraCols.map(_ + ", ").mkString
    s"""e AS (SELECT event_id, ${extra}epoch_ms(ts) AS tms,
       |       epoch_ms(ts) + ((event_id % 3600000) * 2654435761) % 3600000 - 1800000 AS ak
       |     FROM events),
       |r AS (SELECT event_id, ${extra}tms,
       |        (row_number() OVER (ORDER BY ak, event_id) - 1) // 1000 AS batch
       |      FROM e),
       |bm AS (SELECT batch, max(tms) AS mx FROM r GROUP BY batch),
       |wm AS (SELECT batch, max(mx) OVER (ORDER BY batch
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_ms
       |       FROM bm),
       |k AS (SELECT r.* FROM r JOIN wm USING (batch)
       |      WHERE wm_ms IS NULL OR tms >= wm_ms - 600000)""".stripMargin
  }

  // ---------------------------------------------------------------- S-4
  // Watermark late-drop as a batch twin. The fixture is time-sorted,
  // so the out-of-order arrival every watermark exists for is
  // SIMULATED deterministically: arrival position = event time plus a
  // bounded per-event jitter (±30 min, a multiplicative-hash of
  // event_id) — the canonical bounded-disorder stream model. Arrival
  // is chunked into micro-batches of 1000; the watermark before batch
  // k = max event time of batches < k minus the 10-minute delay; a
  // row is kept iff ts >= watermark — bit-for-bit Spark's
  // stateful-operator late filter (ts_us >= wm_ms*1000 ⟺
  // floor-ms(ts) >= wm_ms), verified stream-vs-batch in
  // StreamingSemanticsSpec. All comparisons are epoch-millis longs —
  // the precision both engines floor to identically from the ns
  // fixture (unix_millis / epoch_ms). The watermark frame is tiny
  // (one row per 1000 events), so its window sort is negligible and
  // the join back to events broadcasts; the arrival rank is the one
  // global sort, over (tms, id) longs only.
  q("q52_watermark_late_drop",
    s"""WITH ${arrivalCtes()}
      |SELECT event_id, tms AS ts_ms FROM k
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    StreamingQueries.watermarkLateDrop(Tables.events(s, d))
      .orderBy(col("event_id"))
  }

  // ---------------------------------------------------------------- S-5
  // Streaming dropDuplicates under a watermark as a batch twin: same
  // simulated arrival as q52; each dedup key (user_id, event_type)
  // emits once, in its first non-late batch. Key + emitting batch are
  // deterministic even when a key's duplicates share a micro-batch;
  // the StreamingSemanticsSpec twin test replays the same batches
  // through a real dropDuplicates and matches keys AND emitting
  // batches.
  q("q53_streaming_dedup_twin",
    s"""WITH ${arrivalCtes("user_id", "event_type")}
      |SELECT user_id, event_type,
      |  min(batch) AS first_batch, count(*) AS n_arrivals
      |FROM k GROUP BY 1, 2
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    StreamingQueries.streamingDedupTwin(Tables.events(s, d))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ---------------------------------------------------------------- S-7
  // Stream-static enrichment as a batch twin: the non-late arrival
  // stream (q52's filter) joined per micro-batch against the static
  // customer dimension, aggregated per (batch, market segment) — the
  // canonical "enrich micro-batches against a broadcast dim" shape.
  // Stream-static joins have identical per-row semantics in batch
  // (StreamingSemanticsSpec covers the streaming operator); this row
  // puts the composed late-filter → enrich → aggregate pipeline on
  // the driver's oracle surface. The dim join broadcasts.
  q("q56_stream_static_enrich",
    s"""WITH ${arrivalCtes("user_id")}
      |SELECT k.batch AS batch, c.c_mktsegment AS segment,
      |  count(*) AS n, count(DISTINCT k.user_id) AS n_users
      |FROM k JOIN customer c ON k.user_id = c.c_custkey
      |GROUP BY 1, 2 ORDER BY batch, segment""".stripMargin) { (s, d) =>
    val events = Tables.events(s, d)
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    lateFiltered(events)
      .join(events.select(col("event_id"), col("user_id")), "event_id")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("batch"), col("segment"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("batch"), col("segment"))
  }

  // ---------------------------------------------------------------- S-6
  // Cursor create/reset state machine as a batch twin: observations
  // are synthesized deterministically from `events` (key =
  // (event_type, user_id%4, 'sub-'||user_id%3); read position =
  // coarse buckets of event time, so consecutive observations of a
  // key genuinely repeat positions and exercise the skip branch;
  // dstHasActive and the translated dst position are functions of the
  // position, so tied arrivals stay order-insensitive). The Spark
  // side runs the REAL CursorSync.decidePure fold per key
  // (flatMapGroups — the same core the streaming
  // flatMapGroupsWithState driver calls); the oracle replays it as
  // window/lag SQL, exact because the fold's remembered position
  // always equals the previous observation's position: first
  // sighting → create, moved → reset unless the destination owns the
  // cursor (state still advances), unchanged → nothing.
  q("q59_cursor_actions",
    """WITH o AS (SELECT event_type AS topic,
      |    CAST(user_id % 4 AS INT) AS part,
      |    'sub-' || CAST(user_id % 3 AS VARCHAR) AS cursor, ts,
      |    epoch_ms(ts) // 600000 AS rl,
      |    (epoch_ms(ts) // 60000) % 10 AS re
      |  FROM events),
      |l AS (SELECT *, lag(rl) OVER w AS pl, lag(re) OVER w AS pe
      |  FROM o WINDOW w AS (PARTITION BY topic, part, cursor ORDER BY ts, rl, re)),
      |a AS (SELECT topic, part, cursor, ts, rl, re,
      |    CASE WHEN pl IS NULL THEN 'create'
      |         WHEN (rl != pl OR re != pe) AND NOT (re % 3 = 0) THEN 'reset'
      |         END AS action
      |  FROM l),
      |e AS (SELECT topic, part, cursor, rl, re, action,
      |    row_number() OVER (PARTITION BY topic, part, cursor ORDER BY ts, rl, re) AS ord
      |  FROM a WHERE action IS NOT NULL)
      |SELECT topic, part, cursor, CAST(ord AS BIGINT) AS ord, action,
      |  CASE WHEN rl % 5 = 0 THEN NULL ELSE rl + 1000 END AS dst_ledger,
      |  CASE WHEN rl % 5 = 0 THEN NULL ELSE re * 10 END AS dst_entry
      |FROM e ORDER BY topic, part, cursor, ord""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.{CursorSync, TranslatedCursorStat}
    val stats = Tables.events(s, d)
      .select(
        col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        concat(lit("sub-"), (col("user_id") % 3).cast("string")).as("cursor"),
        expr("unix_millis(ts) div 600000").as("readLedger"),
        expr("(unix_millis(ts) div 60000) % 10").as("readEntry"),
        col("ts").as("observedTs"))
      .withColumn("dstLedger",
        when(col("readLedger") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("readLedger") + 1000))
      .withColumn("dstEntry",
        when(col("readLedger") % 5 === 0, lit(null).cast("long"))
          .otherwise(col("readEntry") * 10))
      .withColumn("dstHasActive", col("readEntry") % 3 === 0)
      .as[TranslatedCursorStat]
    CursorSync.batchActions(stats)
      .orderBy(col("topic"), col("part"), col("cursor"), col("ord"))
  }

  // ---------------------------------------------------------------- U-2
  // The typed-Aggregator surface on the oracle gate: the sparse offset
  // sampler (A16, reference PulsarPartitionSyncWorker.java:236-239 /
  // SparseMap.java:55-62) run as a real UDAF over the events stream —
  // at most one src→dst mapping per (topic, partition, minute), the
  // FIRST by (tsMillis, srcLedger, srcEntry). The oracle is the exact
  // R-15 window reformulation (row_number over the minute bucket), so
  // the hash-match pins the Aggregator's zero/reduce/merge/finish —
  // including merge commutativity, since local[32] merges partial
  // buffers in arbitrary partition order.
  q("q250_sparse_sampler",
    """WITH o AS (SELECT event_type AS topic,
      |    CAST(user_id % 4 AS INT) AS part,
      |    epoch_ms(ts) AS ts_ms,
      |    event_id // 100 AS src_ledger, event_id % 100 AS src_entry,
      |    event_id // 100 + 5000 AS dst_ledger,
      |    (event_id % 100) * 7 % 100 AS dst_entry
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY topic, part, ts_ms // 60000
      |    ORDER BY ts_ms, src_ledger, src_entry) AS rn FROM o)
      |SELECT topic, part, ts_ms, src_ledger, src_entry,
      |  dst_ledger, dst_entry
      |FROM r WHERE rn = 1 ORDER BY topic, part, ts_ms""".stripMargin) { (s, d) =>
    import s.implicits._
    val sampler = udaf(graft.functions.SparseSamplerAgg)
    Tables.events(s, d)
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("part"),
        expr("unix_millis(ts)").as("tsMillis"),
        expr("event_id div 100").as("srcLedger"),
        (col("event_id") % 100).as("srcEntry"),
        (expr("event_id div 100") + 5000).as("dstLedger"),
        ((col("event_id") % 100) * 7 % 100).as("dstEntry"))
      .groupBy(col("topic"), col("part"))
      .agg(sampler(col("tsMillis"), col("srcLedger"), col("srcEntry"),
        col("dstLedger"), col("dstEntry")).as("out"))
      .select(col("topic"), col("part"),
        explode(col("out.samples")).as("smp"))
      .select(col("topic"), col("part"),
        col("smp.tsMillis").as("ts_ms"),
        col("smp.srcLedger").as("src_ledger"),
        col("smp.srcEntry").as("src_entry"),
        col("smp.dstLedger").as("dst_ledger"),
        col("smp.dstEntry").as("dst_entry"))
      .orderBy(col("topic"), col("part"), col("ts_ms"))
  }

  // ----------------------------------------------------------- A17→A19
  // The reference's actual cursor-translation FLOW as one oracle-gated
  // query: build the sparse index from recorded src→dst mappings
  // (A16, retention + first-per-minute), floor-translate every cursor
  // observation through it (A17, PulsarPartitionSyncWorker.java:
  // 211-218; no-floor ⇒ NULL dst, the fixed SparseMap NPE), then fold
  // the create/reset/skip decision table over the translated stats in
  // observed order (A19, :149-209). q17/q59 pin the pieces; this pins
  // their COMPOSITION — late/out-of-order observations translate
  // against the index and still fold in observedTs order.
  q("q251_cursor_translate",
    """WITH om AS (SELECT event_type AS topic,
      |    CAST(user_id % 4 AS INT) AS part,
      |    epoch_ms(ts) AS rts, event_id // 100 AS sl, event_id % 100 AS se,
      |    event_id // 100 + 5000 AS dl, (event_id % 100) * 7 % 100 AS de
      |  FROM events WHERE event_id % 3 = 0),
      |mx AS (SELECT topic, part, max(rts) AS mxts FROM om GROUP BY 1, 2),
      |ret AS (SELECT om.* FROM om JOIN mx USING (topic, part)
      |  WHERE rts >= mxts - 28800 * 60000),
      |sp AS (SELECT *, row_number() OVER (
      |    PARTITION BY topic, part, rts // 60000
      |    ORDER BY rts, sl, se) AS rn FROM ret),
      |idx AS (SELECT topic, part, sl, se, dl, de FROM sp WHERE rn = 1),
      |cs AS (SELECT event_type AS topic, CAST(user_id % 4 AS INT) AS part,
      |    'sub-' || CAST(user_id % 2 AS VARCHAR) AS cursor,
      |    event_id // 100 AS rl, event_id % 100 AS re,
      |    (event_id % 11 = 0) AS act, epoch_ms(ts) AS ots
      |  FROM events WHERE event_id % 3 = 1),
      |un AS (SELECT topic, part, sl * 100 + se AS pos, 0 AS side,
      |    dl AS dl_i, de AS de_i, NULL AS cursor, NULL::BIGINT AS rl,
      |    NULL::BIGINT AS re, NULL::BOOLEAN AS act, NULL::BIGINT AS ots
      |  FROM idx
      |  UNION ALL
      |  SELECT topic, part, rl * 100 + re AS pos, 1 AS side,
      |    NULL, NULL, cursor, rl, re, act, ots
      |  FROM cs),
      |w AS (SELECT *,
      |    last_value(dl_i IGNORE NULLS) OVER fl AS dl,
      |    last_value(de_i IGNORE NULLS) OVER fl AS de
      |  FROM un WINDOW fl AS (PARTITION BY topic, part
      |    ORDER BY pos, side
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tr AS (SELECT topic, part, cursor, rl, re, act, ots, dl, de
      |  FROM w WHERE side = 1),
      |l AS (SELECT *, lag(rl) OVER w AS pl, lag(re) OVER w AS pe
      |  FROM tr WINDOW w AS (PARTITION BY topic, part, cursor
      |    ORDER BY ots, rl, re)),
      |a AS (SELECT topic, part, cursor, ots, rl, re, dl, de,
      |    CASE WHEN pl IS NULL THEN 'create'
      |         WHEN (rl != pl OR re != pe) AND NOT act THEN 'reset'
      |         END AS action
      |  FROM l),
      |e AS (SELECT topic, part, cursor, dl, de, action,
      |    row_number() OVER (PARTITION BY topic, part, cursor
      |      ORDER BY ots, rl, re) AS ord
      |  FROM a WHERE action IS NOT NULL)
      |SELECT topic, part, cursor, CAST(ord AS BIGINT) AS ord, action,
      |  dl AS dst_ledger, de AS dst_entry
      |FROM e ORDER BY topic, part, cursor, ord""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.streaming.{CursorSync, OffsetIndex, TranslatedCursorStat}
    val ev = Tables.events(s, d)
    val offsetMap = ev.filter(col("event_id") % 3 === 0)
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        timestamp_millis(expr("unix_millis(ts)")).as("recordedTs"),
        expr("event_id div 100").as("srcLedger"),
        (col("event_id") % 100).as("srcEntry"),
        (expr("event_id div 100") + 5000).as("dstLedger"),
        ((col("event_id") % 100) * 7 % 100).as("dstEntry"))
    val stats = ev.filter(col("event_id") % 3 === 1)
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        concat(lit("sub-"), (col("user_id") % 2).cast("string")).as("cursor"),
        expr("event_id div 100").as("readLedger"),
        (col("event_id") % 100).as("readEntry"),
        (col("event_id") % 11 === 0).as("dstHasActive"),
        timestamp_millis(expr("unix_millis(ts)")).as("observedTs"))
    val index = OffsetIndex.sparseSample(offsetMap, retentionMinutes = 28800)
    val translated = OffsetIndex.translate(stats, index)
      .select(col("topic"), col("partition"), col("cursor"),
        col("readLedger"), col("readEntry"),
        col("dstLedger"), col("dstEntry"),
        col("dstHasActive"), col("observedTs"))
      .as[TranslatedCursorStat]
    CursorSync.batchActions(translated)
      .orderBy(col("topic"), col("part"), col("cursor"), col("ord"))
  }

  // ------------------------------------------------------------- A15/A16
  // The replication LAG report (SyncPipeline.lagReport — the monitoring
  // surface the reference never had) on the oracle gate, q251-style:
  // a deterministic events-derived feed plays the source message log
  // (topic, partition, ledger, entry) and the mirror's offset map (a
  // subset: every 5th message undelivered, partition 3 not mirrored at
  // all — so the backlog arithmetic, the left-join zero-fill AND the
  // null mirrored frontier all bite in the gated rows). The oracle
  // reformulates the lexicographic (ledger, entry) struct-max as a
  // row_number frontier pick.
  q("q264_lag_report",
    """WITH sm AS (SELECT event_type AS topic,
      |    CAST(user_id % 4 AS INT) AS part,
      |    event_id // 100 AS l, event_id % 100 AS e, event_id
      |  FROM events),
      |om AS (SELECT * FROM sm WHERE event_id % 5 <> 0 AND part <> 3),
      |sa AS (SELECT topic, part, count(*) AS src_messages
      |  FROM sm GROUP BY 1, 2),
      |sf AS (SELECT topic, part, l, e FROM (SELECT topic, part, l, e,
      |    row_number() OVER (PARTITION BY topic, part
      |      ORDER BY l DESC, e DESC) AS rn FROM sm) WHERE rn = 1),
      |ma AS (SELECT topic, part, count(*) AS mirrored
      |  FROM om GROUP BY 1, 2),
      |mf AS (SELECT topic, part, l, e FROM (SELECT topic, part, l, e,
      |    row_number() OVER (PARTITION BY topic, part
      |      ORDER BY l DESC, e DESC) AS rn FROM om) WHERE rn = 1)
      |SELECT sa.topic, sa.part, sa.src_messages,
      |  coalesce(ma.mirrored, 0) AS mirrored,
      |  sa.src_messages - coalesce(ma.mirrored, 0) AS backlog,
      |  sf.l AS src_frontier_ledger, sf.e AS src_frontier_entry,
      |  mf.l AS mirrored_frontier_ledger, mf.e AS mirrored_frontier_entry
      |FROM sa JOIN sf USING (topic, part)
      |LEFT JOIN ma USING (topic, part)
      |LEFT JOIN mf USING (topic, part)
      |ORDER BY topic, part""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val src = ev.select(col("event_type").as("topic"),
      (col("user_id") % 4).cast("int").as("partition"),
      expr("event_id div 100").as("ledgerId"),
      (col("event_id") % 100).as("entryId"))
    val offsetMap = ev
      .filter(col("event_id") % 5 =!= 0 && col("user_id") % 4 =!= 3)
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        expr("event_id div 100").as("srcLedger"),
        (col("event_id") % 100).as("srcEntry"))
    graft.streaming.SyncPipeline.lagReport(src, offsetMap)
      .withColumnRenamed("partition", "part")
      .orderBy(col("topic"), col("part"))
  }

  // ------------------------------------------------------------ S-8/S-9
  // The END-TO-END mirror on the oracle gate (the last two
  // spec-gated §2B IDs): the deployed mirror topology
  // (MessageMirror.start → `pulsar-envelope` scan → projection →
  // per-partition ordered publish in the reading task → idempotent
  // InMemoryCluster sink + A15 offset recorder) runs over a
  // deterministic events-derived feed seeded into an InMemoryBroker,
  // with Trigger.AvailableNow (S-9) — and then runs a SECOND tick from a
  // fresh checkpoint, i.e. a full at-least-once replay of every
  // message. The gated rows are the destination cluster's final state
  // joined with the recorded src→dst offset map, so the oracle
  // hash-match proves, in one artifact: (a) the mirrored set is
  // exactly the fed prefix (ack-after-write — a message is in the
  // offset map iff its publish succeeded); (b) the projection rules
  // crossed the wire (null key passthrough, eventTime=0-means-absent);
  // (c) destination MessageIds are the per-(topic, partition)
  // arrival-order sequence the reference's broker would assign —
  // dst_entry = the (ledger, entry) rank, which only holds if the
  // per-partition ordered publish actually ordered; and (d) the
  // replay tick changed NOTHING (a non-idempotent sink or recorder
  // would double entries or reassign ids and break the hash).
  //
  // Scale note: the distributed data path is the envelope scan +
  // projection + per-partition publish loop, one task per packed
  // input partition and no shuffle — at deployment the source is a
  // Pulsar reader, the sink a Pulsar producer per executor, and
  // nothing returns to the driver. The JVM-wide InMemoryBroker and
  // InMemoryCluster (valid under local[*]) are the verification
  // surface standing in for the two brokers, exactly like q60's
  // registry; the seeding job and the driver-side materialization
  // below touch the TEST DOUBLES, not the pipeline. The feed subsets
  // events (event_id % 4 = 1) to keep the doubles' footprint
  // deck-safe.
  q("q271_mirror_e2e",
    """WITH f AS (SELECT event_type AS topic,
      |    CAST(user_id % 4 AS INT) AS part,
      |    event_id // 100 AS l, event_id % 100 AS e,
      |    'v-' || CAST(event_id AS VARCHAR) AS value_str,
      |    CASE WHEN event_id % 7 = 0 THEN NULL
      |         ELSE 'k-' || CAST(user_id AS VARCHAR) END AS key,
      |    CASE WHEN event_id % 5 = 0 THEN NULL
      |         ELSE epoch_ms(ts) END AS event_time_ms,
      |    epoch_ms(ts) AS publish_time_ms,
      |    event_type AS prop_src
      |  FROM events WHERE event_id % 4 = 1),
      |r AS (SELECT *, row_number() OVER (PARTITION BY topic, part
      |        ORDER BY l, e) - 1 AS dst_entry FROM f)
      |SELECT topic, part, l AS src_ledger, e AS src_entry,
      |  CAST(1000 + part AS BIGINT) AS dst_ledger, dst_entry,
      |  value_str, key, event_time_ms, publish_time_ms, prop_src
      |FROM r ORDER BY topic, part, src_ledger, src_entry""".stripMargin) {
    (s, d) =>
    import graft.sources.{EnvelopeBrokerRegistry, InMemoryBroker}
    import graft.streaming.{InMemoryCluster, InMemoryOffsetRecorder,
      MessageMirror, RawMessage}
    import s.implicits._
    val feed = Tables.events(s, d)
      .filter(col("event_id") % 4 === 1)
      .select(
        lit("tn").as("tenant"), lit("ns").as("namespace"),
        col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        expr("event_id div 100").as("ledgerId"),
        (col("event_id") % 100).as("entryId"),
        encode(concat(lit("v-"), col("event_id").cast("string")), "UTF-8")
          .as("value"),
        when(col("event_id") % 7 === 0, lit(null))
          .otherwise(concat(lit("k-"), col("user_id").cast("string")))
          .cast("string").as("key"),
        when(col("event_id") % 5 === 0, lit(0L))
          .otherwise(unix_millis(col("ts"))).as("eventTimeMillis"),
        unix_millis(col("ts")).as("publishTimeMillis"),
        map(lit("src"), col("event_type")).as("properties"))
      .as[RawMessage]
    // one fixed name: each run replaces the previous run's broker
    val broker = "graft-q271"
    EnvelopeBrokerRegistry.register(broker, new InMemoryBroker)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_q271_").toString
    val name = s"q271-${java.util.UUID.randomUUID()}"
    val sink = new InMemoryCluster(name)
    val rec = new InMemoryOffsetRecorder(name)
    // try/finally (r16 ADVICE): a failing tick or dst-map lookup must
    // not leak the scratch dir or the JVM-wide cluster/recorder stores
    // for this UUID across bench reps in the same JVM
    val rows = try {
      // seeded before the first tick => AvailableNow plans the whole
      // feed as ONE micro-batch, so the per-(topic, partition) arrival
      // sequence is the (ledger, entry) rank the oracle replays
      feed.foreachPartition { (ms: Iterator[RawMessage]) =>
        val b = EnvelopeBrokerRegistry.get(broker).asInstanceOf[InMemoryBroker]
        ms.foreach(b.append)
      }
      def tick(cp: String): Unit =
        MessageMirror.start(s, broker, sink, s"$scratch/$cp",
            offsets = Some(rec))
          .start().awaitTermination()
      tick("cp1")
      tick("cp2") // fresh checkpoint: full replay — must change nothing
      val dst = rec.mappings
        .map(m => ((m.topic, m.partition, m.srcLedger, m.srcEntry),
          (m.dstLedger, m.dstEntry))).toMap
      sink.messages.map { m =>
        val (dl, de) = dst((m.topic, m.partition, m.ledgerId, m.entryId))
        (m.topic, m.partition, m.ledgerId, m.entryId, dl, de,
          new String(m.value, java.nio.charset.StandardCharsets.UTF_8),
          m.key.orNull, m.eventTime.map(_.getTime), m.publishTime.getTime,
          m.properties.get("src").orNull)
      }
    } finally {
      sink.clear(); rec.clear()
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(scratch))
    }
    rows.toDF("topic", "part", "src_ledger", "src_entry",
        "dst_ledger", "dst_entry", "value_str", "key",
        "event_time_ms", "publish_time_ms", "prop_src")
      .orderBy(col("topic"), col("part"),
        col("src_ledger"), col("src_entry"))
  }

  // ---------------------------------------------------------------- S-1
  // The DSv2 connector on the oracle surface: a deterministic
  // formula-seeded broker (2 topics x 2 partitions x 1200 messages)
  // is read through `spark.read.format("pulsar-envelope")` — the
  // connector's REAL batch planning (each (topic, partition) read
  // begin→latest by one reader) and row encoding are in the
  // gated plan (PlanSpec asserts the BatchScan) — and aggregated per
  // (topic, partition, ledger). The oracle rebuilds the same message
  // universe with generate_series. Payload length, nullable keys, and
  // the eventTime=0-means-absent rule all cross the wire.
  /** The q60 broker seed — also used by PlanSpec. Registration is
    * idempotent (same name, same deterministic content); the JVM-wide
    * registry stands in for a live transport's connection options
    * (valid under local[*]; SURVEY §7.5).
    */
  def registerQ60Broker(): String = {
    val broker = new graft.sources.InMemoryBroker
    for {
      topic <- Seq("alpha", "beta")
      part <- 0 to 1
      i <- 0 until 1200
    } broker.append(graft.streaming.RawMessage(
      tenant = "t0", namespace = "ns0", topic = topic, partition = part,
      ledgerId = i / 100L, entryId = i % 100L,
      value = Array.fill[Byte](i % 7)(1),
      key = if (i % 13 == 0) null else s"k${i % 17}",
      eventTimeMillis = if (i % 5 == 0) 0L else 1700000000000L + i * 1000L,
      publishTimeMillis = 1700000000000L + i * 1000L,
      properties = Map.empty))
    graft.sources.EnvelopeBrokerRegistry.register("graft-q60", broker)
    "graft-q60"
  }

  q("q60_envelope_scan",
    """WITH i AS (SELECT unnest(generate_series(0, 1199)) AS i),
      |t AS (SELECT unnest(['alpha', 'beta']) AS topic),
      |p AS (SELECT unnest([0, 1]) AS part),
      |m AS (SELECT topic, part, i // 100 AS ledger, i % 100 AS entry,
      |        CASE WHEN i % 13 = 0 THEN NULL ELSE 'k' || CAST(i % 17 AS VARCHAR) END AS key,
      |        i % 7 AS plen,
      |        CASE WHEN i % 5 = 0 THEN 0 ELSE 1700000000000 + i * 1000 END AS et
      |      FROM t CROSS JOIN p CROSS JOIN i)
      |SELECT topic, CAST(part AS INT) AS part, CAST(ledger AS BIGINT) AS ledger,
      |  count(*) AS n,
      |  CAST(min(entry) AS BIGINT) AS entry_min,
      |  CAST(max(entry) AS BIGINT) AS entry_max,
      |  count(key) AS n_keyed,
      |  CAST(sum(plen) AS BIGINT) AS payload_bytes,
      |  CAST(sum(CASE WHEN et != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_event_ts
      |FROM m GROUP BY 1, 2, 3
      |ORDER BY topic, part, ledger""".stripMargin) { (s, _) =>
    val name = registerQ60Broker()
    s.read.format("pulsar-envelope").option("broker", name).load()
      .groupBy(col("topic"), col("partition").as("part"),
        col("ledgerId").as("ledger"))
      .agg(count(lit(1)).as("n"),
        min(col("entryId")).as("entry_min"),
        max(col("entryId")).as("entry_max"),
        count(col("key")).as("n_keyed"),
        sum(length(col("value"))).cast("long").as("payload_bytes"),
        sum(when(col("eventTimeMillis") =!= 0, 1).otherwise(0)).cast("long")
          .as("n_event_ts"))
      .orderBy(col("topic"), col("part"), col("ledger"))
  }

  // ---------------------------------------------------------------- S-3
  // Session windows per user (10 min gap). Oracle = gaps-and-islands:
  // a session breaks when the gap to the previous event is >= the gap
  // duration (Spark merges events with ts < current session end =
  // last ts + gap).
  q("q40_session_window",
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts >= lag(ts) OVER w + INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS grp
      |  FROM x)
      |SELECT user_id, epoch_ms(min(ts)) AS sstart_ms,
      |  epoch_ms(max(ts) + INTERVAL 10 MINUTE) AS send_ms, count(*) AS n
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id, sstart_ms""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("sstart_ms"),
        unix_millis(col("session_window.end")).as("send_ms"),
        col("n"))
      .orderBy(col("user_id"), col("sstart_ms"))
  }

  // ------------------------------------------------------------- S-10
  // Stream-stream interval join as a batch twin: click→purchase
  // attribution within 60 minutes per user. The gated frame floors ts
  // to epoch-millis FIRST (timestamp_millis∘unix_millis) so the range
  // boundary compares identically to the oracle's epoch_ms arithmetic
  // — the ns fixture could otherwise admit a pair on one engine and
  // not the other at the exact +60 min edge. Stream==batch equality
  // (with real watermarks and state eviction) is proven in
  // StreamingSemanticsSpec over MemoryStream feeds.
  // S-10 left-outer variant: every click, with its conversion when
  // one landed inside the hour and NULLs otherwise — the attrition
  // report. At streaming runtime the null-extended rows emit only on
  // watermark-driven state eviction (StreamingSemanticsSpec); the
  // batch twin is the plain filtered LEFT JOIN. NULLS FIRST pinned on
  // both engines (DuckDB defaults NULLS LAST for ASC, Spark FIRST).
  q("q104_interval_join_outer",
    """WITH a AS (SELECT * FROM events WHERE event_type = 'click'),
      |     b AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT a.user_id AS user_id, a.event_id AS lead_id,
      |  b.event_id AS follow_id,
      |  epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
      |FROM a LEFT JOIN b ON a.user_id = b.user_id
      | AND epoch_ms(b.ts) > epoch_ms(a.ts)
      | AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 3600000
      |ORDER BY lead_id, follow_id NULLS FIRST""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    StreamingQueries.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts", lagMinutes = 60,
        joinType = "left_outer")
      .orderBy(col("lead_id"), col("follow_id").asc_nulls_first)
  }

  q("q99_interval_join",
    """SELECT a.user_id AS user_id, a.event_id AS lead_id,
      |  b.event_id AS follow_id,
      |  epoch_ms(b.ts) - epoch_ms(a.ts) AS lag_ms
      |FROM events a JOIN events b ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND epoch_ms(b.ts) > epoch_ms(a.ts)
      | AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 3600000
      |ORDER BY lead_id, follow_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    StreamingQueries.intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "event_id", "ts", lagMinutes = 60)
      .orderBy(col("lead_id"), col("follow_id"))
  }
}
