package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (delta) near-dup dedup: a persisted fingerprint index
  * plus an `append(delta)` that folds new documents into the mined
  * pair list and cluster labels WITHOUT re-touching old corpus text —
  * the batch twin of the streaming near-dup query (q70) and the
  * operational shape the reference itself has (its sync ticks are
  * incremental and idempotent: re-scans diff against what exists,
  * `PulsarTenantSyncManager.java:56-58`, conflict-as-success
  * `:76-85`). At 100 TB nobody re-mines the corpus per snapshot; the
  * index turns per-tick cost from O(corpus text) into O(delta text +
  * index IO).
  *
  * Index layout (parquet under one directory):
  *   - `docs`      (doc)                 — every indexed id;
  *                  append-only (rotation hardlinks old files)
  *   - `shingles`  (doc, blk, shingle) PARTITIONED BY sbkt =
  *                  hash-bucket(shingle) — the int64-hashed distinct
  *                  shingle frame ([[Dedup.shingleFrame]]) laid out as
  *                  an INVERTED index: every holder of a shingle lives
  *                  in that shingle's bucket directory, so a lookup or
  *                  candidate join keyed on a delta's shingles
  *                  statically prunes to the delta's buckets instead
  *                  of scanning the corpus frame. ~8-byte keys,
  *                  columnar — re-reading this is the "no text rescan"
  *                  guarantee; append-only like `docs` (delta rows
  *                  land as new files in their buckets; no bucket ever
  *                  rewrites)
  *   - `hot`       (blk, shingle)        — shingles whose document
  *                  frequency exceeds the cap (near-empty by
  *                  construction); fresh tiny write per tick
  *   - `sizes`     (doc, sz) PARTITIONED BY bkt = hash-bucket(doc) —
  *                  each doc's SURVIVING (non-hot) shingle count, the
  *                  Jaccard denominator; delta docs append as new
  *                  files, only buckets holding a cap-crossing-
  *                  affected doc rewrite
  *   - `pairs`     (id_a, id_b, jaccard) PARTITIONED BY
  *                  bkt = hash-bucket(id_a) — mined pairs so far; an
  *                  append rewrites ONLY buckets holding a dropped
  *                  pair — newly mined pairs append as new files into
  *                  their buckets ([[IndexRotation.rotateBucketed]])
  *   - `labels`    (doc, cluster) PARTITIONED BY bkt =
  *                  hash-bucket(cluster) — components so far; an
  *                  append rewrites only buckets holding a touched
  *                  cluster — newborn-cluster rows append
  *   - `meta`      (version, n, threshold, max_df, num_buckets,
  *                  num_shingle_buckets) — config fingerprint;
  *                  `append` refuses an index whose schema version it
  *                  does not understand
  *
  * The `hot`/`sizes` stats frames (index v3) are what make a ROUTINE
  * tick corpus-shuffle-free: without them every append re-aggregated
  * the full (doc, blk, shingle) frame twice — groupBy(blk, shingle)
  * for the DF cap and groupBy(doc) for set sizes — shuffling the
  * whole index through two exchanges per tick. With them, a routine
  * delta (keys under the broadcast ceiling, no cap crossings) pays
  * delta-sized aggregates plus pure columnar SCANS of the index:
  * old-side DFs for the delta's keys come from one scan with the
  * delta keys broadcast, and the candidate join streams the index
  * against the broadcast restrict side. Oversized deltas size-route
  * back to the full-aggregate plan (same exchanges round 6 paid every
  * tick) — correct at any scale, never broadcast-bound.
  *
  * EXACTNESS: `append` produces byte-identical pairs/labels to a full
  * re-mine of old ∪ delta (q75's oracle asserts it end-to-end):
  *
  *   - Pair mining is restricted to pairs with an endpoint in
  *     `delta ∪ affectedOld`, where `affectedOld` = old docs holding a
  *     shingle whose document frequency crossed the hot-shingle cap
  *     because of the delta (DF only grows on append). Old pairs with
  *     neither endpoint affected are carried over verbatim: neither
  *     their surviving shingle sets nor sizes can have changed — a
  *     shared shingle that crossed the cap would make both endpoints
  *     affected. Affected pairs are re-derived from the INDEX (the
  *     shingle frame), not from text.
  *   - Label folding re-runs pointer-jumped connected components only
  *     over TOUCHED components (old components holding an affected
  *     doc, a re-mined pair endpoint, or a dropped-pair endpoint, plus
  *     all delta docs); untouched components keep their labels. No
  *     edge can cross out of the touched set: an old pair's endpoints
  *     share a component, and every new pair's endpoints are touched
  *     by construction.
  *
  * Scale shape: a routine append is ONE delta-text shingling pass,
  * TWO columnar index scans (the old-DF lookup for the delta's keys;
  * the candidate join streaming the index against the broadcast
  * restrict side) with ZERO corpus-keyed shuffles, a CC loop over the
  * touched subgraph only, and delta-sized write IO (rotation
  * hardlinks untouched files/buckets; inserts append without
  * rewriting — [[IndexRotation]]). Both scans PRUNE to the delta's
  * shingle buckets: the `shingles` frame is partitioned by
  * hash-bucket(shingle), every join in the tick is keyed on the
  * delta's own shingles, and a shingle's holders all live in its
  * bucket — so the per-tick read is ~(delta's distinct shingles /
  * num_shingle_buckets) of the index, not all of it. The bucket
  * count auto-sizes from the corpus at build time
  * ([[autoShingleBuckets]]: ~250k index rows per bucket, 16..4096)
  * and persists in meta; a deployment wanting finer pruning (a
  * 10⁹-doc corpus with tiny deltas may want 2^16) passes
  * `numShingleBuckets` explicitly. The only full-frame scan left is
  * the RARE
  * cap-crossing path, which must fetch affected OLD docs' rows by
  * doc id (the layout is inverted by shingle, not doc). Compact the
  * index periodically in multi-append deployments ([[compact]]).
  */
object IncrementalDedup {

  private val SchemaVersion = 4

  /** Bucket count for the partitioned pairs/labels frames. Fixed at
    * build time and persisted in meta (appends must reproduce the
    * same bucket assignment). 64 keeps directories filesystem-sane
    * while a routine delta touches only a handful.
    */
  private val DefaultNumBuckets = 64

  /** Auto-sized bucket count for the shingle-partitioned inverted
    * index (the [[graft.operators.Similarity.autoCells]] discipline):
    * ~`targetBucketRows` index rows per bucket, floored at 16 so tiny
    * corpora keep some pruning granularity, capped at 4096 so build
    * writes and tick hardlink carries stay filesystem-sane (a
    * deployment wanting finer pruning passes `numShingleBuckets`
    * explicitly). A FIXED count is wrong at both ends: 256 buckets
    * cost 256 small-file writes per toy-scale tick (measured 2×
    * q75/q80 wall time at sf0.1), while a 10⁹-doc corpus wants far
    * more than 256 for the delta-bucket pruning to bite.
    */
  private[operators] def autoShingleBuckets(
      indexRows: Long,
      targetBucketRows: Long = 250000L): Int =
    math.max(16L, math.min(4096L,
      (indexRows + targetBucketRows - 1) / targetBucketRows)).toInt

  /** Size router for the per-tick broadcast joins: a side at or under
    * this many rows (16-24-byte keys → tens of MB serialized) is
    * broadcast so the corpus side streams through a scan; above it
    * the append falls back to the shuffle plans, which are correct at
    * any scale.
    */
  private val MaxBroadcastRows = 1000000L

  // explicit schemas for the bucketed frames: a partitionBy write of
  // an empty frame (tiny corpus with zero near-dup pairs) emits zero
  // files, so reads must not depend on inference
  private def pairsSchema(idT: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idT),
      org.apache.spark.sql.types.StructField("id_b", idT),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.IntegerType)))

  private def labelsSchema(idT: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc", idT),
      org.apache.spark.sql.types.StructField("cluster", idT),
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.IntegerType)))

  private def hotSchema(blkT: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("blk", blkT),
      org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.LongType)))

  private def sizesSchema(idT: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc", idT),
      org.apache.spark.sql.types.StructField("sz",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bkt",
        org.apache.spark.sql.types.IntegerType)))

  private def shinglesSchema(idT: org.apache.spark.sql.types.DataType,
      blkT: org.apache.spark.sql.types.DataType) =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc", idT),
      org.apache.spark.sql.types.StructField("blk", blkT),
      org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sbkt",
        org.apache.spark.sql.types.IntegerType)))

  /** The inverted layout's bucket of a shingle value. */
  private def sbktOf(numShingleBuckets: Int) =
    IndexRotation.bucketOf(col("shingle"), numShingleBuckets)

  /** The tick's index read: the persisted shingle frame restricted to
    * `sbkts` — a filter on the native PARTITION column, so the scan
    * statically prunes to those bucket directories (asserted with scan
    * metrics in IncrementalDedupSpec; recomputing the bucket from the
    * shingle value would shadow the partition column and force a full
    * read). Both per-tick index joins go through here.
    */
  private[graft] def prunedShingleScan(
      spark: SparkSession, dir: String,
      idT: org.apache.spark.sql.types.DataType,
      blkT: org.apache.spark.sql.types.DataType,
      sbkts: Seq[Int]): DataFrame =
    spark.read.schema(shinglesSchema(idT, blkT)).parquet(dir)
      .filter(col("sbkt").isin(sbkts: _*))
      .select(col("doc"), col("blk"), col("shingle"))

  /** Everything an append produces: the updated label/pair frames
    * (backed by `outDir` parquet), the touched-cluster ids — the
    * subset a survivor recompute actually needs to revisit — and the
    * recomputed label rows themselves (exactly the rows NOT carried
    * over: members of touched old clusters plus delta-born clusters;
    * an untouched cluster's id can never collide with these, so
    * downstream consumers can recompute per-cluster aggregates from
    * this frame alone).
    *
    * The labels ROTATION (the tick's final corpus-bucket write) runs
    * concurrently: consumers that only need `touchedClusters` /
    * `recomputedLabels` — the curation tick's survivor recompute —
    * proceed while it lands; touching `labels` (or [[awaitWrites]])
    * awaits it. Callers must ensure the await happens before anything
    * re-reads or re-rotates `outDir` (q75 reads `labels`; the curation
    * tick calls [[awaitWrites]] after its decisions rotation).
    */
  final class Appended(
      labelsF: scala.concurrent.Future[DataFrame],
      val pairs: DataFrame,
      val touchedClusters: DataFrame,
      val recomputedLabels: DataFrame) {
    /** The rotated labels frame — awaits the concurrent write. */
    lazy val labels: DataFrame = Overlap.await(labelsF)
    /** Await every still-outstanding index write of this tick. */
    def awaitWrites(): Unit = { labels; () }
  }

  /** Mine `docs` from scratch and persist the fingerprint index under
    * `dir`. The initial pairs/labels are exactly
    * [[Dedup.ngramJaccardPairs]] + [[Dedup.clusters]] over `docs`.
    * Document ids must be non-null and unique (the delta-append
    * disjointness contract needs identity).
    */
  def buildIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Int,
      dir: String,
      numShingleBuckets: Int = 0): Unit = {
    val spark = docs.sparkSession
    val idT = docs.schema(idCol).dataType
    val blkT = docs.schema(blockCol).dataType
    docs.filter(col(idCol).isNotNull).select(col(idCol).as("doc"))
      .write.mode("overwrite").parquet(s"$dir/docs")
    val shingleFrame = Dedup.shingleFrame(docs, idCol, textCol, blockCol, n)
    // 0 = auto-size from the corpus ([[autoShingleBuckets]]); the
    // count is one extra shingling pass paid ONCE at build time —
    // appends read the persisted choice from meta
    val sbuckets =
      if (numShingleBuckets > 0) numShingleBuckets
      else autoShingleBuckets(shingleFrame.count())
    // inverted layout: one exchange on the shingle bucket buys one
    // file per bucket and static pruning for every later delta tick
    shingleFrame
      .withColumn("sbkt", sbktOf(sbuckets))
      .repartition(col("sbkt"))
      .write.partitionBy("sbkt").mode("overwrite").parquet(s"$dir/shingles")
    // mine from the WRITTEN index, not the in-memory plan: one
    // shingling pass total, and the persisted frame is proven to be
    // what mining consumes (no drift between index and result)
    val sh = spark.read.schema(shinglesSchema(idT, blkT))
      .parquet(s"$dir/shingles")
      .select(col("doc"), col("blk"), col("shingle"))
    // the stats frames pay their two full-frame aggregates ONCE, here
    // at build time — every later append maintains them with
    // delta-sized work and feeds the miner from them
    sh.groupBy(col("blk"), col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxShingleDocFreq)
      .select(col("blk"), col("shingle"))
      .write.mode("overwrite").parquet(s"$dir/hot")
    val hot = spark.read.schema(hotSchema(blkT)).parquet(s"$dir/hot")
    sh.join(hot, Seq("blk", "shingle"), "left_anti")
      .groupBy(col("doc")).agg(count(lit(1)).as("sz"))
      .withColumn("bkt", IndexRotation.bucketOf(col("doc"), DefaultNumBuckets))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/sizes")
    val sizes = spark.read.schema(sizesSchema(idT)).parquet(s"$dir/sizes")
      .select(col("doc"), col("sz"))
    // repartition by bkt: one file per bucket, not tasks × buckets
    Dedup.pairsFromShingles(sh, threshold, maxShingleDocFreq,
        precomputedHot = Some(hot), precomputedSizes = Some(sizes))
      .withColumn("bkt", IndexRotation.bucketOf(col("id_a"), DefaultNumBuckets))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/pairs")
    val pairs = spark.read.schema(pairsSchema(idT)).parquet(s"$dir/pairs")
      .select(col("id_a"), col("id_b"), col("jaccard"))
    Dedup.clusters(spark.read.parquet(s"$dir/docs"), "doc", pairs)
      .withColumn("bkt", IndexRotation.bucketOf(col("cluster"), DefaultNumBuckets))
      .repartition(col("bkt"))
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/labels")
    writeMeta(spark, dir, n, threshold, maxShingleDocFreq, DefaultNumBuckets,
      sbuckets)
  }

  /** Fold `delta` into the index at `indexDir`, writing the updated
    * index to `outDir` (callers rotate directories between ticks; an
    * in-place overwrite would race its own readers). Returns the
    * updated labels/pairs plus the touched-cluster set. Delta ids must
    * be disjoint from the indexed ids — checked, fails loudly.
    */
  def append(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      indexDir: String,
      outDir: String,
      maxDriverFold: Long = MaxBroadcastRows): Appended = {
    val spark = delta.sparkSession
    val (n, threshold, maxDf, numBuckets, numShingleBuckets) =
      readMeta(spark, indexDir)

    val idT = delta.schema(idCol).dataType
    val blkT = delta.schema(blockCol).dataType
    // each index-frame open fires a driver-side partition-discovery
    // pass (a parallel LISTING JOB once the bucket-dir count crosses
    // spark.sql.sources.parallelPartitionDiscovery.threshold) — the
    // opens are independent of each other, so they run concurrently
    // instead of as five serialized listing jobs (guide §2.6)
    val docsOldF = Overlap.future { spark.read.parquet(s"$indexDir/docs") }
    // the P-variants keep the PARTITION column (sbkt for the inverted
    // shingle frame, bkt for the id-bucketed frames): filters on it
    // statically prune to the touched bucket directories
    val shOldPF = Overlap.future {
      spark.read.schema(shinglesSchema(idT, blkT))
        .parquet(s"$indexDir/shingles")
    }
    val pairsOldPF = Overlap.future {
      spark.read.schema(pairsSchema(idT)).parquet(s"$indexDir/pairs")
    }
    val labelsOldPF = Overlap.future {
      spark.read.schema(labelsSchema(idT)).parquet(s"$indexDir/labels")
    }
    // the old hot list's COUNT rides along: hot is distinct and a
    // newly-hot shingle was by definition not previously hot, so the
    // post-tick hot size is nHotOld + nNewlyHot — no union count job
    val hotOldF = Overlap.future {
      val h = spark.read.schema(hotSchema(blkT)).parquet(s"$indexDir/hot")
      (h, h.count())
    }
    // sizes count rides along too: it routes the mine's sizes-join
    // broadcast (the logical old∪delta union below has no file stats,
    // so Catalyst would silently demote the join to sort-merge)
    val sizesOldPF = Overlap.future {
      val s = spark.read.schema(sizesSchema(idT)).parquet(s"$indexDir/sizes")
      (s, s.count())
    }
    val docsOld = Overlap.await(docsOldF)
    val shOldP = Overlap.await(shOldPF)
    val shOld = shOldP.select(col("doc"), col("blk"), col("shingle"))
    val pairsOldP = Overlap.await(pairsOldPF)
    val pairsOld = pairsOldP.select(col("id_a"), col("id_b"), col("jaccard"))
    val labelsOldP = Overlap.await(labelsOldPF)
    val labelsOld = labelsOldP.select(col("doc"), col("cluster"))
    val (hotOld, nHotOld) = Overlap.await(hotOldF)
    val (sizesOldP, nSizesOld) = Overlap.await(sizesOldPF)

    val deltaDocs = delta.filter(col(idCol).isNotNull)
      .select(col(idCol).as("doc"))
    // the disjointness check runs CONCURRENTLY with the delta
    // shingling (independent inputs) and is awaited before the first
    // index write — a tick is dozens of fixed delta-sized jobs whose
    // scheduler overhead, not work, dominates at bench scale, so
    // independent jobs overlap (round-14 q80 gate task; r18 extends
    // the discipline through the whole chain via [[Overlap]])
    val overlapF = Overlap.future {
      docsOld.join(deltaDocs, "doc").limit(1).count()
    }

    // ONE text-shingling pass — over the delta only; persisted (with
    // its bucket column) because the index write, the DF aggregate and
    // the bucket-pruning filters below all read it. persist + the sbkt
    // aggregate below materialize it in ONE job (the checkpoint-then-
    // aggregate version paid a separate materialization barrier)
    val shDelta = Dedup.shingleFrame(delta, idCol, textCol, blockCol, n)
      .withColumn("sbkt", sbktOf(numShingleBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shDeltaCore = shDelta.select(col("doc"), col("blk"), col("shingle"))
    // the delta's shingle buckets — every per-tick index read below is
    // keyed on the delta's own shingles, so these buckets are all it
    // can touch (≤ numShingleBuckets ints on the driver). ONE pass
    // over the persisted frame yields both the bucket list and the
    // delta shingle count the mine router needs later.
    val sbktCounts = shDelta.groupBy(col("sbkt"))
      .agg(count(lit(1)).as("__c")).collect()
    val deltaSbkts = sbktCounts.map(_.getInt(0)).toSeq
    val nDeltaSh = sbktCounts.map(_.getLong(1)).sum
    require(Overlap.await(overlapF) == 0,
      "delta ids must be disjoint from the indexed corpus " +
        "(append is insert-only; re-ingesting a doc would double-count " +
        "its shingles)")
    // the shingle frame is append-only AND bucketed: untouched bucket
    // dirs hardlink over, delta rows land as new files in theirs.
    // The two rotations touch disjoint directories — run them
    // concurrently, awaited before the index scans below read outDir.
    val shingleRotF = Overlap.future {
      IndexRotation.rotateBucketed(spark,
        s"$indexDir/shingles", s"$outDir/shingles", Seq.empty, shDelta,
        partCol = "sbkt")
    }
    val docsRotF = Overlap.future {
      IndexRotation.rotateAppendOnly(spark,
        s"$indexDir/docs", s"$outDir/docs", deltaDocs)
    }

    // shingles whose DF crossed the cap BECAUSE of the delta: their
    // old holders' surviving sets (and set sizes) changed, so every
    // pair touching those docs must be re-derived from the index.
    // Routine path (delta keys under the broadcast ceiling): old DFs
    // for exactly the delta's keys come from ONE index scan PRUNED to
    // the delta's shingle buckets (the keys are delta shingles, and a
    // shingle's rows live only in its bucket) with the keys broadcast
    // — no corpus-keyed exchange, no full-frame read. Oversized
    // deltas fall back to the round-6 origin-tagged full aggregate
    // (one full shuffle; correct at any scale).
    // persisted but NOT counted: the broadcast route needs only an
    // upper bound on the key count, and distinct delta keys <= delta
    // shingle rows — nDeltaSh is already known from the one sbkt pass,
    // so the count job this frame used to pay is gone; the cache fills
    // inside the first job that reads it (the newly-hot count below)
    val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val deltaCounts = shDelta.groupBy(col("blk"), col("shingle"))
      .agg(count(lit(1)).as("__cd")).persist(storage)
    val newlyHot = (if (nDeltaSh <= MaxBroadcastRows) {
      val dfOldForDelta =
        prunedShingleScan(spark, s"$indexDir/shingles", idT, blkT, deltaSbkts)
        .join(broadcast(deltaCounts.select(col("blk"), col("shingle"))),
          Seq("blk", "shingle"))
        .groupBy(col("blk"), col("shingle"))
        .agg(count(lit(1)).as("__cold"))
      deltaCounts.join(dfOldForDelta, Seq("blk", "shingle"), "left")
        .filter(coalesce(col("__cold"), lit(0L)) <= maxDf &&
          coalesce(col("__cold"), lit(0L)) + col("__cd") > maxDf)
        .select(col("blk"), col("shingle"))
    } else {
      shOld.withColumn("__new", lit(0L))
        .unionByName(shDeltaCore.withColumn("__new", lit(1L)))
        .groupBy(col("blk"), col("shingle"))
        .agg(count(lit(1)).as("__c"), sum(col("__new")).as("__cnew"))
        .filter(col("__c") > maxDf && col("__c") - col("__cnew") <= maxDf)
        .select(col("blk"), col("shingle"))
    }).persist(storage)
    val nNewlyHot = newlyHot.count()
    // hot over old ∪ delta = persisted hot ∪ newly-hot: DF only grows
    // on append, so no old hot shingle ever cools — and the union's
    // size is the SUM of the disjoint parts (counted concurrently at
    // tick open), not a third count job. NOT persisted: its parts are
    // a small parquet scan and an already-counted cache, while a cache
    // of the union is first read by overlapped consumers — whichever
    // plans before the other's job built it schedules its own cache
    // job, so the tick's job count varied run to run
    val hotAll = hotOld.unionByName(newlyHot)
    val nHotAll = nHotOld + nNewlyHot
    // outDir/hot is only read by the NEXT tick — the write overlaps
    // everything below
    val hotWriteF = Overlap.future {
      hotAll.write.mode("overwrite").parquet(s"$outDir/hot")
    }
    val hotB = if (nHotAll <= MaxBroadcastRows) broadcast(hotAll) else hotAll

    // cap-crossing fallout: old holders of a newly-hot shingle, with
    // each doc's newly-hot holding count (= its sizes adjustment).
    // The routine tick has none and skips the index scan outright;
    // when it fires, newly-hot shingles are delta shingles, so the
    // scan still prunes to the delta's buckets.
    val affectedCnts = (if (nNewlyHot == 0L)
        // the routine tick: build the empty frame directly — zero jobs
        // (a limit(0)-plan checkpoint still scheduled one)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc", idT),
            org.apache.spark.sql.types.StructField("__nhot",
              org.apache.spark.sql.types.LongType))))
      else {
        val nh = if (nNewlyHot <= MaxBroadcastRows) broadcast(newlyHot)
          else newlyHot
        prunedShingleScan(spark, s"$indexDir/shingles", idT, blkT, deltaSbkts)
          .join(nh, Seq("blk", "shingle"))
          .groupBy(col("doc")).agg(count(lit(1)).as("__nhot"))
          .localCheckpoint(true)
      })
    val affectedOld = affectedCnts.select(col("doc"))

    // restrict is materialized once: it seeds the candidate join, two
    // anti-joins and the touched-component expansion below. Its
    // materialization and the sizes rotation below are independent
    // (the mine needs both) — they run concurrently. persist+count
    // (not checkpoint): ONE job materializes the frame AND returns the
    // size the driver fold route gates on
    val restrictF = Overlap.future {
      val r = affectedOld.unionByName(deltaDocs).distinct().persist(storage)
      (r, r.count())
    }

    // sizes maintenance: delta docs' surviving sizes are inserts; only
    // cap-crossing-affected docs' rows change (size drops by the
    // newly-hot holding count; a row hitting zero is dropped — the
    // frame holds docs with at least one surviving shingle). Routine
    // ticks rewrite ZERO buckets: the delta's rows append as new
    // files into hardlinked bucket dirs.
    val bktOfDoc = IndexRotation.bucketOf(col("doc"), numBuckets)
    val deltaSizes = shDelta.join(hotB, Seq("blk", "shingle"), "left_anti")
      .groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val touchedSizeBkts =
      if (nNewlyHot == 0L) Seq.empty[Int]
      else affectedCnts.select(bktOfDoc.as("bkt")).distinct()
        .collect().map(_.getInt(0)).toSeq
    val sizesAdjusted = sizesOldP
      .filter(col("bkt").isin(touchedSizeBkts: _*))
      .join(affectedCnts, Seq("doc"), "left")
      .select(col("doc"),
        (col("sz") - coalesce(col("__nhot"), lit(0L))).as("sz"), col("bkt"))
      .filter(col("sz") > 0)
    val sizesNewF = Overlap.future {
      IndexRotation.rotateBucketed(spark,
          s"$indexDir/sizes", s"$outDir/sizes", touchedSizeBkts,
          sizesAdjusted.unionByName(deltaSizes.withColumn("bkt", bktOfDoc)))
        .select(col("doc"), col("sz"))
    }
    val (restrict, nRestrict) = Overlap.await(restrictF)

    // the restrict side's surviving shingles: the delta's come from
    // the checkpointed delta frame (no index scan); only the rare
    // cap-crossing path pays a scan for the affected docs' rows —
    // and that one IS a full-frame scan (the fetch is by doc id,
    // which the shingle-inverted layout cannot prune)
    val restrictShRaw =
      if (nNewlyHot == 0L) shDeltaCore
      else {
        val af = if (affectedCnts.count() <= MaxBroadcastRows)
          broadcast(affectedOld) else affectedOld
        shDeltaCore.unionByName(shOld.join(af, Seq("doc"), "left_semi"))
      }
    val restrictSh = restrictShRaw.join(hotB, Seq("blk", "shingle"), "left_anti")

    // the candidate join's index side prunes to the buckets holding
    // the restrict side's shingles — every candidate pair shares one
    // of those shingles, and ALL of a shingle's holders live in its
    // bucket, so the pruned scan sees every candidate. On a routine
    // tick that set is the delta's own buckets (no extra job); the
    // cap-crossing path derives it from the restrict frame
    val candSbkts =
      if (nNewlyHot == 0L) deltaSbkts
      else restrictSh.select(sbktOf(numShingleBuckets).as("sbkt"))
        .distinct().collect().map(_.getInt(0)).toSeq
    // the candidate side reads the LOGICAL old∪delta union — the
    // pruned OLD index scan plus the checkpointed delta frame — not
    // the rotated outDir read-back, so the shingle rotation WRITE is
    // off the mine's critical path entirely (awaited with the other
    // writes at the end). Every holder of a restrict-side shingle is
    // still seen: old holders live in the pruned buckets (a shingle's
    // rows all live in its bucket) and the delta's rows are all
    // present — delta rows outside candSbkts can never share a
    // restrict-side shingle (same shingle ⇒ same bucket), so they
    // simply never match.
    val shCand = prunedShingleScan(spark, s"$indexDir/shingles", idT, blkT,
        candSbkts)
      .unionByName(shDeltaCore)
    // same for sizes: the mine joins the LOGICAL union (untouched old
    // buckets ∪ adjusted rows ∪ delta sizes) while the rotation write
    // proceeds concurrently — pre-r18 the mine waited for the sizes
    // write and re-read the rotated parquet (measured ~1.1 s of the
    // tick's critical path at sf0.1). The union has no file stats, so
    // the broadcast the rotated read used to get from its parquet
    // sizes is size-routed EXPLICITLY: old count (taken concurrently
    // at tick open) + the delta-shingle upper bound on delta docs;
    // larger corpora keep the shuffle plan, exactly as the rotated
    // read would at that scale
    val sizesLogical0 = sizesOldP
      .filter(!col("bkt").isin(touchedSizeBkts: _*))
      .select(col("doc"), col("sz"))
      .unionByName(sizesAdjusted.select(col("doc"), col("sz")))
      .unionByName(deltaSizes)
    val sizesLogical =
      if (nSizesOld + nDeltaSh <= MaxBroadcastRows) broadcast(sizesLogical0)
      else sizesLogical0

    // the restricted mine is materialized ONCE — it feeds both the
    // pairs write and the touched-component seed below (an earlier
    // revision derived them independently and mined twice). Fed from
    // the PERSISTED stats (hot list, logical sizes), with the
    // bucket-pruned index side streaming against the broadcast
    // restrict side on a routine tick, the mine has no corpus-keyed
    // exchange AND no full-index read left.
    // persist+count (one job each, counts returned for the fold
    // router) instead of localCheckpoint-then-ladder: a limit+1
    // collect off a checkpoint pays executeTake's progressive
    // partition ladder — several mini-jobs per frame — while a plain
    // collect bounded by an already-known count is ONE job
    val minedF = Overlap.future {
      val m = Dedup.pairsFromShinglesRestricted(
          shCand, restrict, threshold, maxDf,
          precomputedHot = Some(hotAll),
          precomputedSizes = Some(sizesLogical),
          precomputedRestrictShingles = Some(restrictSh),
          broadcastRestrict = nNewlyHot == 0L && nDeltaSh <= MaxBroadcastRows)
        .persist(storage)
      (m, m.count())
    }
    // dropped = old pairs with EITHER endpoint restricted (exactly the
    // complement of the kept set), carrying the STORED bkt — the pair
    // frame's rewrite key, = bucket(id_a) by construction. Needs only
    // the old index + restrict, so it materializes CONCURRENTLY with
    // the mine; the rewrite-bucket listing and the touched-seed arms
    // all read this one materialization (pre-r18 each recomputed the
    // two pairsOld semi-join scans).
    val droppedF = Overlap.future {
      val d = pairsOldP
        .join(restrict.select(col("doc").as("id_a")), Seq("id_a"), "left_semi")
        .unionByName(pairsOldP
          .join(restrict.select(col("doc").as("id_b")), Seq("id_b"), "left_semi"))
        .select(col("id_a"), col("id_b"), col("bkt"))
        .persist(storage)
      val n = d.count()
      // the pair frame's rewrite buckets come straight off this
      // materialization (still inside the future, overlapped with the
      // mine) — the pairs rotation below must not wait for the fold
      val bkts = d.select(col("bkt")).distinct().collect()
        .map(_.getInt(0)).toSeq
      (d, n, bkts)
    }
    val (minedM, nMined) = Overlap.await(minedF)
    val (dropped, nDropped, touchedPairBkts) = Overlap.await(droppedF)

    val bktOfA = IndexRotation.bucketOf(col("id_a"), numBuckets)
    val bktOfC = IndexRotation.bucketOf(col("cluster"), numBuckets)

    // the pairs rotation and the meta write depend only on the mined/
    // dropped frames — they start BEFORE the label fold and overlap it
    val pairsReplacement = pairsOldP
      .filter(col("bkt").isin(touchedPairBkts: _*))
      .join(restrict.select(col("doc").as("id_a")), Seq("id_a"), "left_anti")
      .join(restrict.select(col("doc").as("id_b")), Seq("id_b"), "left_anti")
      .unionByName(minedM.withColumn("bkt", bktOfA))
    val pairsF = Overlap.future {
      IndexRotation.rotateBucketed(spark,
          s"$indexDir/pairs", s"$outDir/pairs", touchedPairBkts,
          pairsReplacement)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    val metaF = Overlap.future {
      writeMeta(spark, outDir, n, threshold, maxDf, numBuckets,
        numShingleBuckets)
    }

    // the touched-component fold: the driver route (three bounded
    // collects + one union-find, local-relation outputs) when the tick
    // collects within `maxDriverFold`; the distributed chain otherwise
    val (touchedClusters, subLabels, touchedLabelBkts) =
      foldOnDriver(spark, idT, numBuckets, labelsOldP, pairsOldP,
        restrict, nRestrict, minedM, nMined, dropped, nDropped,
        maxDriverFold).getOrElse {
        // distributed path (oversized tick / unsupported key type)
        val keptOld = pairsOld
          .join(restrict.select(col("doc").as("id_a")), Seq("id_a"), "left_anti")
          .join(restrict.select(col("doc").as("id_b")), Seq("id_b"), "left_anti")
          .select(col("id_a"), col("id_b"), col("jaccard"))
        // touched components: restricted docs, endpoints of every
        // re-mined pair (a delta doc can pair with ANY old doc), and
        // endpoints of every dropped old pair (a drop can split a
        // component)
        val touchedSeed = restrict
          .unionByName(minedM.select(col("id_a").as("doc")))
          .unionByName(minedM.select(col("id_b").as("doc")))
          .unionByName(dropped.select(col("id_a").as("doc")))
          .unionByName(dropped.select(col("id_b").as("doc")))
          .distinct()
        val tc = labelsOld
          .join(touchedSeed, labelsOld("doc") === touchedSeed("doc"), "left_semi")
          .select(col("cluster")).distinct()
          .localCheckpoint(true)
        val touchedOldDocs = labelsOld
          .join(tc, Seq("cluster"), "left_semi")
          .select(col("doc"))
        val subDocs = touchedOldDocs.unionByName(deltaDocs)
        // a kept pair's endpoints share an old component, so one
        // endpoint's membership decides the pair's
        val subPairs = keptOld
          .join(touchedOldDocs.select(col("doc").as("id_a")), Seq("id_a"),
            "left_semi")
          .unionByName(minedM)
        // materialized once: the CC result feeds both the
        // touched-bucket listing and the labels write
        val sub = foldLabels(spark, subDocs, subPairs)
          .select(col("doc"), col("cluster")).localCheckpoint(true)
        val lBkts = tc.select(bktOfC.as("bkt")).distinct().collect()
          .map(_.getInt(0)).toSeq
        (tc, sub, lBkts)
      }

    // both frames rotate copy-free, and only DELETIONS force a bucket
    // rewrite: a pair bucket rewrites iff it holds a dropped pair
    // (keyed by its stored id_a); a label bucket rewrites iff it holds
    // a touched cluster. Newly mined pairs and recomputed/newborn
    // label rows are pure INSERTS — they append as new files into
    // whatever bucket they hash to, hardlinked or rewritten
    // ([[IndexRotation.rotateBucketed]]'s insert path) — so a routine
    // merge-free tick rewrites zero pair buckets.
    // replacement content scans ONLY the touched bucket directories:
    // the filter is on the native partition column (recomputing bkt
    // from id_a/cluster would shadow it and force a full scan)
    val labelsReplacement = labelsOldP
      .filter(col("bkt").isin(touchedLabelBkts: _*))
      .join(touchedClusters, Seq("cluster"), "left_anti")
      .unionByName(subLabels.withColumn("bkt", bktOfC))
    // the labels rotation — the tick's last corpus-bucket write — runs
    // as a future the RETURNED Appended awaits lazily: the curation
    // tick's survivor recompute (which needs only touchedClusters +
    // recomputedLabels) overlaps it. Its replacement reads only the
    // old index + fold outputs (local relations / checkpoints), never
    // the persisted scratch frames unpersisted below.
    val labelsRotF = Overlap.future {
      IndexRotation.rotateBucketed(spark,
          s"$indexDir/labels", s"$outDir/labels", touchedLabelBkts,
          labelsReplacement)
        .select(col("doc"), col("cluster"))
    }
    val pairsNew = Overlap.await(pairsF)
    Overlap.await(metaF)
    Overlap.await(hotWriteF)
    Overlap.await(shingleRotF)
    Overlap.await(docsRotF)
    Overlap.await(sizesNewF)
    // internal scratch frames: release the cache (non-blocking); the
    // returned frames read outDir parquet, their own checkpoints, or
    // driver-local relations
    shDelta.unpersist(false)
    deltaCounts.unpersist(false)
    newlyHot.unpersist(false)
    restrict.unpersist(false)
    minedM.unpersist(false)
    dropped.unpersist(false)

    new Appended(
      labelsF = labelsRotF,
      pairs = pairsNew,
      touchedClusters = touchedClusters,
      recomputedLabels = subLabels)
  }

  /** Connected components over the touched subgraph — delegates to
    * [[Dedup.clusters]], whose own size router solves subgraphs that
    * collect within `maxDriverEdges` DIRECTED edges with one driver
    * union-find and runs the distributed pointer-jumping loop above
    * it (route equality spec-pinned on random graphs). Kept as the
    * distributed-fallback fold and the spec's routing seam; the
    * routine tick skips it entirely via [[foldOnDriver]].
    */
  private[operators] def foldLabels(
      spark: SparkSession,
      subDocs: DataFrame,
      subPairs: DataFrame,
      maxDriverEdges: Long = MaxBroadcastRows): DataFrame =
    Dedup.clusters(subDocs, "doc", subPairs, maxDriverEdges = maxDriverEdges)

  /** The r18 barrier collapse for the routine tick's label fold: when
    * the per-tick mined/dropped/restrict frames and the touched
    * clusters' membership all collect within `maxDriverFold` rows, the
    * touched-component labeling that previously took four serialized
    * distributed materializations (touched-cluster checkpoint, rewrite-
    * bucket collect, subgraph limit-collect inside the CC route, label
    * join-back checkpoint) happens as three bounded collects — seed
    * clusters (one labels scan), members (a bucket-PRUNED labels
    * scan), kept-old touched pairs (a bucket-PRUNED pairs scan) — and
    * one driver union-find; every output is a LOCAL relation, so the
    * label write and every downstream consumer (the curation tick's
    * survivor recompute) joins against a broadcast instead of a
    * checkpointed frame.
    *
    * EXACTNESS: identical fixed point to the distributed chain —
    * members∪restrict = subDocs (affected old docs' clusters are
    * touched, so they are members; delta ids are in restrict), the
    * kept-pair scan keyed on id_a sees every subgraph pair (a kept
    * pair's endpoints share an old component), and
    * [[Dedup.unionFindMinLabels]] uses the same ordering as
    * least()/min(). Spec-pinned against the distributed route.
    *
    * Returns (touchedClusters, subLabels, touchedLabelBkts), or None →
    * run the distributed path (collect overflow, unsupported key type,
    * null endpoints). String keys gate 4× tighter (unbounded per-row
    * bytes); caps beyond Int range are clamped.
    */
  private def foldOnDriver(
      spark: SparkSession,
      idT: org.apache.spark.sql.types.DataType,
      numBuckets: Int,
      labelsOldP: DataFrame,
      pairsOldP: DataFrame,
      restrict: DataFrame,
      nRestrict: Long,
      minedM: DataFrame,
      nMined: Long,
      dropped: DataFrame,
      nDropped: Long,
      maxDriverFold: Long):
      Option[(DataFrame, DataFrame, Seq[Int])] = {
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    if (maxDriverFold <= 0) return None
    val ordOpt = Dedup.ccKeyOrdering(idT)
    if (ordOpt.isEmpty) return None
    val ord = ordOpt.get
    val cap0 = if (idT == StringType) maxDriverFold / 4 else maxDriverFold
    val cap = math.max(1L, math.min(cap0, (Int.MaxValue - 2).toLong)).toInt
    // the router's inputs were counted during materialization — an
    // oversized tick exits here before shipping a single row
    if (nRestrict + nMined + nDropped > cap) return None
    def localIds(name: String, vals: Iterable[Any]): DataFrame = {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](vals.size)
      vals.foreach(v => rows.add(org.apache.spark.sql.Row(v)))
      spark.createDataFrame(rows, StructType(Seq(StructField(name, idT))))
    }

    // ONE tagged-union collect fetches all three frames (cached, size
    // known) — a plain collect, not three executeTake ladders
    val nullId = lit(null).cast(idT)
    val nullK = lit(null).cast(IntegerType)
    val fetched = minedM
      .select(lit(0).as("t"), col("id_a").as("a"), col("id_b").as("b"),
        nullK.as("k"))
      .unionByName(dropped.select(lit(1).as("t"), col("id_a").as("a"),
        col("id_b").as("b"), col("bkt").as("k")))
      .unionByName(restrict.select(lit(2).as("t"), col("doc").as("a"),
        nullId.as("b"), nullK.as("k")))
      .collect()
    val minedRows = fetched.filter(_.getInt(0) == 0)
    val droppedRows = fetched.filter(_.getInt(0) == 1)
    val restrictRows = fetched.filter(_.getInt(0) == 2)
    if (restrictRows.exists(_.isNullAt(1))) return None

    val seed = new java.util.LinkedHashSet[Any]()
    restrictRows.foreach(r => seed.add(r.get(1)))
    minedRows.foreach { r => seed.add(r.get(1)); seed.add(r.get(2)) }
    droppedRows.foreach { r => seed.add(r.get(1)); seed.add(r.get(2)) }
    import scala.jdk.CollectionConverters._

    // J1: touched clusters with their STORED label bucket — one
    // labels scan against the broadcast seed. ≤ |seed| matched rows,
    // so the collect is bounded WITHOUT a distinct exchange (the
    // dedupe is driver-side)
    val tcPairs = labelsOldP
      .join(broadcast(localIds("doc", seed.asScala)), Seq("doc"), "left_semi")
      .select(col("cluster"), col("bkt")).collect()
      .map(r => (r.get(0), r.getInt(1))).distinct
    val touchedLabelBkts = tcPairs.map(_._2).distinct.toSeq
    val tcRows = tcPairs
    val touchedClusters = localIds("cluster", tcPairs.map(_._1).toSeq)

    // size-guarded full collect: count during materialization (one
    // job), bail on overflow, then a plain bounded collect off the
    // cache — cheaper than executeTake's progressive partition ladder
    def boundedCollect(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
      val m = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (m.count() > cap) None else Some(m.collect())
      } finally { m.unpersist(false); () }
    }

    // J2: the touched clusters' members — statically PRUNED to the
    // touched label-bucket dirs, with each member's PAIR-frame bucket
    // computed in-plan (the driver must not re-derive xxhash64)
    val memberRowsOpt = if (tcRows.isEmpty)
        Some(Array.empty[org.apache.spark.sql.Row])
      else boundedCollect(labelsOldP
        .filter(col("bkt").isin(touchedLabelBkts: _*))
        .join(broadcast(touchedClusters), Seq("cluster"), "left_semi")
        .select(col("doc"),
          IndexRotation.bucketOf(col("doc"), numBuckets).as("__pbkt")))
    if (memberRowsOpt.isEmpty) return None
    val memberRows = memberRowsOpt.get

    // J3: kept-old pairs with a touched id_a endpoint — pruned to the
    // members' pair buckets; keyed on id_a only (a kept pair's
    // endpoints share an old component, so one membership decides)
    val memberPBkts = memberRows.map(_.getInt(1)).distinct.toSeq
    val keptRowsOpt = if (memberRows.isEmpty)
        Some(Array.empty[org.apache.spark.sql.Row])
      else boundedCollect(pairsOldP
        .filter(col("bkt").isin(memberPBkts: _*))
        .join(broadcast(localIds("id_a", memberRows.map(_.get(0)).toSeq)),
          Seq("id_a"), "left_semi")
        .select(col("id_a"), col("id_b")))
    if (keptRowsOpt.isEmpty) return None
    val keptRows = keptRowsOpt.get

    // driver union-find over kept-touched ∪ mined edges; the kept set
    // excludes pairs with a restricted endpoint (= keptOld semantics)
    val restrictSet = new java.util.HashSet[Any]()
    restrictRows.foreach(r => restrictSet.add(r.get(1)))
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    keptRows.foreach { r =>
      if (!restrictSet.contains(r.get(0)) && !restrictSet.contains(r.get(1)))
        edges += ((r.get(0), r.get(1)))
    }
    minedRows.foreach(r => edges += ((r.get(1), r.get(2))))
    val label = Dedup.unionFindMinLabels(edges, ord)

    // subDocs = members ∪ restrict; nodes in no edge label themselves
    val nodes = new java.util.LinkedHashSet[Any]()
    memberRows.foreach(r => nodes.add(r.get(0)))
    restrictRows.foreach(r => nodes.add(r.get(1)))
    val subRows = new java.util.ArrayList[org.apache.spark.sql.Row](nodes.size)
    nodes.forEach { d =>
      subRows.add(org.apache.spark.sql.Row(d, label.getOrDefault(d, d))); ()
    }
    val subLabels = spark.createDataFrame(subRows, StructType(Seq(
      StructField("doc", idT), StructField("cluster", idT))))
    Some((touchedClusters, subLabels, touchedLabelBkts))
  }

  /** Compact the index at `indexDir` into `outDir`: every frame
    * rewritten to its canonical file count (one file per bucket for
    * pairs/labels; session parallelism for docs/shingles). Row
    * content, layout contract and meta are unchanged — run this
    * periodically between append ticks once the per-tick delta files
    * accumulate (each append adds one file per touched bucket plus
    * one delta file to each append-only frame).
    */
  def compact(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    val (n, threshold, maxDf, numBuckets, numShingleBuckets) =
      readMeta(spark, indexDir)
    val idT = spark.read.parquet(s"$indexDir/docs").schema("doc").dataType
    val blkT = spark.read.parquet(s"$indexDir/shingles")
      .schema("blk").dataType
    IndexRotation.compactFrame(spark, s"$indexDir/docs", s"$outDir/docs",
      None, None)
    IndexRotation.compactFrame(spark, s"$indexDir/shingles",
      s"$outDir/shingles", Some(shinglesSchema(idT, blkT)), Some("sbkt"))
    IndexRotation.compactFrame(spark, s"$indexDir/hot", s"$outDir/hot",
      Some(hotSchema(blkT)), None)
    IndexRotation.compactFrame(spark, s"$indexDir/sizes", s"$outDir/sizes",
      Some(sizesSchema(idT)), Some("bkt"))
    IndexRotation.compactFrame(spark, s"$indexDir/pairs", s"$outDir/pairs",
      Some(pairsSchema(idT)), Some("bkt"))
    IndexRotation.compactFrame(spark, s"$indexDir/labels", s"$outDir/labels",
      Some(labelsSchema(idT)), Some("bkt"))
    writeMeta(spark, outDir, n, threshold, maxDf, numBuckets,
      numShingleBuckets)
  }

  private def writeMeta(spark: SparkSession, dir: String, n: Int,
      threshold: Double, maxDf: Int, numBuckets: Int,
      numShingleBuckets: Int): Unit = {
    import spark.implicits._
    Seq((SchemaVersion, n, threshold, maxDf, numBuckets, numShingleBuckets))
      .toDF("version", "n", "threshold", "max_df", "num_buckets",
        "num_shingle_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  private def readMeta(spark: SparkSession,
      dir: String): (Int, Double, Int, Int, Int) = {
    val m = spark.read.parquet(s"$dir/meta").collect()
    require(m.length == 1, s"corrupt index meta at $dir/meta")
    val r = m(0)
    val ver = r.getAs[Int]("version")
    require(ver == SchemaVersion,
      s"index at $dir has schema version $ver; this build understands " +
        s"$SchemaVersion — rebuild the index")
    (r.getAs[Int]("n"), r.getAs[Double]("threshold"), r.getAs[Int]("max_df"),
      r.getAs[Int]("num_buckets"), r.getAs[Int]("num_shingle_buckets"))
  }
}
