package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** Cursor (subscription) translation — SURVEY §2A A15–A19, §3.3.
  *
  * The reference keeps a two-tier src→dst MessageId index (dense
  * 1-minute cache + sparse ≥1-sample/minute skip-list with 1 h
  * retention, `PulsarPartitionSyncWorker.java:71-85,236-240`,
  * `SparseMap.java`) and translates observed cursor positions with a
  * floor lookup, then creates/resets destination subscriptions.
  *
  * Spark mapping: the index is a DataFrame maintained by
  * [[OffsetIndex.sparseSample]]; translation is the as-of join
  * ([[OffsetIndex.translate]], no-floor ⇒ null — fixing the
  * reference's NPE, `SparseMap.java:57`); the create/reset/skip
  * decision is a per-key state machine ([[CursorSync.decidePure]]),
  * folded tick by tick by [[SyncPipeline.syncCursors]] and over a whole
  * observation set by [[CursorSync.batchActions]].
  */
object OffsetIndex {

  /** A16: keep the FIRST mapping per (topic, partition, minute), and
    * expire entries older than `retentionMinutes` relative to the
    * newest sample of their partition (the reference evicts on put
    * against wall-clock; event-time-relative keeps tests
    * deterministic). Tie-break inside a minute: smallest
    * (srcLedger, srcEntry).
    */
  def sparseSample(offsetMap: DataFrame, retentionMinutes: Int = 60): DataFrame =
    firstPerMinute(retained(offsetMap, retentionMinutes))

  /** The rows of `offsetMap` within `retentionMinutes` of the newest
    * sample of their (topic, partition) — the one retention rule both
    * translation tiers share.
    */
  private def retained(offsetMap: DataFrame, retentionMinutes: Int): DataFrame =
    offsetMap
      .withColumn("__maxTs",
        max(col("recordedTs")).over(Window.partitionBy(col("topic"), col("partition"))))
      .filter(col("recordedTs") >= col("__maxTs") - expr(s"INTERVAL $retentionMinutes MINUTE"))
      .drop("__maxTs")

  /** Each (topic, partition, minute)'s first mapping. Applied AFTER
    * retention: the other order silently drops a whole minute whose
    * first sample is just outside retention even though later samples
    * in that minute are inside it.
    */
  private def firstPerMinute(rows: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("topic"), col("partition"), date_trunc("minute", col("recordedTs")))
      .orderBy(col("recordedTs"), col("srcLedger"), col("srcEntry"))
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A17: translate each cursor observation to the greatest indexed
    * mapping with (srcLedger, srcEntry) <= read position, per
    * (topic, partition). Adds nullable dstLedger/dstEntry.
    */
  def translate(cursorStats: DataFrame, index: DataFrame): DataFrame = {
    val probe = cursorStats.withColumn("__pos",
      struct(col("readLedger").as("l"), col("readEntry").as("e")))
    val build = index.select(col("topic"), col("partition"),
      struct(col("srcLedger").as("l"), col("srcEntry").as("e")).as("__pos"),
      col("dstLedger"), col("dstEntry"))
    AsOfJoin.floorJoin(probe, build,
        keys = Seq("topic", "partition"),
        probeTs = "__pos", buildTs = "__pos",
        payload = Seq("dstLedger", "dstEntry"))
      .drop("__pos")
  }

  /** Two-tier translation, matching the reference's lookup order
    * (`PulsarPartitionSyncWorker.java:211-218`): an EXACT hit against
    * the retained offset map first (the reference's dense 1-minute
    * `messageIdMap` cache — here every mapping within retention, a
    * superset of the reference's TTL'd tier), falling back to the
    * sparse floor sample (the first-per-minute rows of that same
    * retained map) only when the cursor sits on a message the map
    * never recorded. Without the dense tier, a cursor at a
    * just-copied message resolves to its minute's FIRST sample — up to
    * a minute early, extra redelivery after subscription create/reset.
    *
    * Both tiers are equi/as-of joins over the tiny cursor-stat probe
    * side; the offset map is the build side in both.
    */
  def translateTwoTier(
      cursorStats: DataFrame,
      offsetMap: DataFrame,
      retentionMinutes: Int = 60): DataFrame = {
    // one retention rule for both tiers: the reference TTLs its dense
    // cache at 1 minute purely for heap reasons
    // (PulsarPartitionSyncWorker.java:71-72); here the bound exists so
    // neither tier's build side can grow with total stream history
    val kept = retained(offsetMap, retentionMinutes)
    val sparse = translate(cursorStats, firstPerMinute(kept)).alias("s")
    val dense = kept
      .select(col("topic"), col("partition"),
        col("srcLedger"), col("srcEntry"),
        col("dstLedger").as("__denseL"), col("dstEntry").as("__denseE"))
      .alias("d")
    sparse.join(dense,
        col("s.topic") === col("d.topic")
          && col("s.partition") === col("d.partition")
          && col("s.readLedger") === col("d.srcLedger")
          && col("s.readEntry") === col("d.srcEntry"), "left")
      .select(col("s.topic"), col("s.partition"), col("s.cursor"),
        col("s.readLedger"), col("s.readEntry"),
        coalesce(col("d.__denseL"), col("s.dstLedger")).as("dstLedger"),
        coalesce(col("d.__denseE"), col("s.dstEntry")).as("dstEntry"),
        col("s.observedTs"))
  }
}

/** Translated cursor observation: src read position + (nullable)
  * translated dst position + whether dst already has an active
  * consumer on this cursor (the reference leaves those alone,
  * `PulsarPartitionSyncWorker.java:190-193`).
  */
case class TranslatedCursorStat(
    topic: String,
    partition: Int,
    cursor: String,
    readLedger: Long,
    readEntry: Long,
    dstLedger: Option[Long],
    dstEntry: Option[Long],
    dstHasActive: Boolean,
    observedTs: java.sql.Timestamp)

/** Emitted action; `action` ∈ create | reset. Unchanged positions emit
  * nothing (the reference's skip, `:177-179`).
  */
case class CursorAction(
    topic: String,
    partition: Int,
    cursor: String,
    action: String,
    dstLedger: Option[Long],
    dstEntry: Option[Long])

/** Last mirrored src position per (topic, partition, cursor). */
case class CursorState(srcLedger: Long, srcEntry: Long)

object CursorSync {

  /** A19 state machine, one key = (topic, partition, cursor): fold a
    * batch of observations, in observedTs order, over the last mirrored
    * position `last0`:
    *   - first sighting → `create` at the translated position;
    *   - same src position as last mirrored → no output;
    *   - moved → `reset`, unless the destination already has an active
    *     consumer on the cursor (it owns it now — skip).
    * Returns the emitted actions and the new last position. Shared by
    * the per-tick fold ([[SyncPipeline.syncCursors]]) and
    * [[batchActions]].
    */
  def decidePure(
      key: (String, Int, String),
      last0: Option[CursorState],
      stats: Seq[TranslatedCursorStat]): (Seq[CursorAction], Option[CursorState]) = {
    val (topic, partition, cursor) = key
    val out = Seq.newBuilder[CursorAction]
    var last = last0
    stats.sortBy(s => (s.observedTs.getTime, s.readLedger, s.readEntry))
      .foreach { s =>
        val pos = CursorState(s.readLedger, s.readEntry)
        if (last.isEmpty) {
          out += CursorAction(topic, partition, cursor, "create", s.dstLedger, s.dstEntry)
          last = Some(pos)
        } else if (last.get != pos) {
          if (!s.dstHasActive) {
            out += CursorAction(topic, partition, cursor, "reset", s.dstLedger, s.dstEntry)
          }
          last = Some(pos)
        } // unchanged → skip
      }
    (out.result(), last)
  }

  /** Every key's full observation set folds through [[decidePure]]
    * from empty state (one logical micro-batch), with a per-key 1-based
    * `ord` stamping each emitted action's fold position — the
    * deterministic relation q59's DuckDB oracle replays as window/lag
    * SQL (the fold's `last` always equals the PREVIOUS observation's
    * position, so lag() is an exact reformulation). One shuffle on the
    * state key; per-key state is a single position.
    */
  def batchActions(stats: Dataset[TranslatedCursorStat]): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    stats.groupByKey(s => (s.topic, s.partition, s.cursor))
      .flatMapGroups { (key: (String, Int, String), it: Iterator[TranslatedCursorStat]) =>
        val (actions, _) = decidePure(key, None, it.toSeq)
        actions.iterator.zipWithIndex.map { case (a, i) =>
          (a.topic, a.partition, a.cursor, (i + 1).toLong,
            a.action, a.dstLedger, a.dstEntry)
        }
      }.toDF("topic", "part", "cursor", "ord", "action", "dst_ledger", "dst_entry")
  }
}
