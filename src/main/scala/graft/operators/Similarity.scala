package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Similarity search over embedding columns (SURVEY §2B R-20).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k; O(probes × corpus). The
  *     correctness baseline; at 100 TB only viable for small probe
  *     sets with a broadcast probe side.
  *   - [[signBucketTopK]]: LSH-bucketed ANN — probe only compares
  *     against corpus vectors in its sign-bit bucket; the bucket join
  *     is an equi-join, so the work is corpus/2^bits per probe instead
  *     of the full corpus.
  *
  * Cosine values are rounded to 6 decimals BEFORE ranking so that
  * neighbor order is deterministic across engines (1e-16 dot-product
  * noise must not flip ranks); ties break on neighbor id.
  */
object Similarity {

  private[operators] def ranked(
      pairs: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** Cosine rounded to 6 decimals via the codegen'd
    * [[graft.plans.FloatVecDot]] expression (bit-identical to the
    * higher-order-function formulation, ~10x faster per pair).
    */
  private[operators] def cos6(spark: org.apache.spark.sql.SparkSession,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    val dot = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      graft.plans.FloatVecDot.vecDot(spark, x, y)
    val c = dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  }

  /** Hard-negative mining for contrastive training (the in-batch /
    * ANN-mined negatives recipe, e.g. DPR, Karpukhin et al. 2020):
    * for each probe, the top-k most-similar corpus vectors whose
    * LABEL differs — the negatives that actually move a contrastive
    * loss, as opposed to random negatives the model already separates.
    *
    * Same scale shape as [[bruteForceTopK]] (broadcast probes, one
    * corpus scan, per-probe TakeOrdered-sized windows); the label
    * inequality filters BEFORE ranking so true-class neighbors never
    * occupy top-k slots. For corpora past the brute-force gate,
    * compose with the IVF cells instead (q106's knnGraph discipline)
    * — the filter commutes with cell blocking.
    */
  def hardNegatives(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      col(labelCol).as("__pl"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("__cl"))
    val pairs = c.crossJoin(broadcast(p))
      .where(!(col("__pl") <=> col("__cl")))
      .select(col("probe_id"), col("neighbor_id"),
        cos6(probes.sparkSession, col("pv"), col("cv")).as("cos"))
    ranked(pairs, k)
  }

  /** Exact top-k neighbors of each probe within the corpus. */
  def bruteForceTopK(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // probe side is small by contract — broadcast it so the corpus
    // scan streams once with no shuffle.
    val pairs = c.crossJoin(broadcast(p))
      .select(col("probe_id"), col("neighbor_id"),
        cos6(probes.sparkSession, col("pv"), col("cv")).as("cos"))
    ranked(pairs, k)
  }

  /** All-pairs cosine >= threshold (near-dup detection), auto-routed
    * by estimated corpus BYTES (rows × dims × 4):
    *
    *   - under `maxBroadcastBytes` (default 1 GiB) →
    *     [[broadcastAllPairsCosine]]: EXACT, collect + broadcast +
    *     tight JVM loops — fine for a dimension/probe table, the
    *     scale-killer for a 100 TB corpus.
    *   - larger → [[cellPairsCosine]]: SemDeDup-style cell-bounded
    *     pair mining — the candidate join is an equi-join on the
    *     nearest-centroid cell, occupancy held ~constant by
    *     [[autoCells]], so the pass stays LINEAR as the corpus grows.
    *     APPROXIMATE: cross-cell pairs are missed. The sign-hash
    *     alternatives were built and MEASURED first (BASELINE.md
    *     r16): single-table 8-bit recalled ~2.5% of threshold-0.4
    *     pairs (the textbook (1−θ/π)^bits collision rate), and the
    *     8-table OR variant, ~8× the recall at deck10, went
    *     QUADRATIC at deck30 (fixed bucket count ⇒ occupancy grows
    *     with the corpus) — 160 s vs the exact arm's 28.5 s. Both
    *     remain available ([[bucketedPairsCosine]] /
    *     [[bucketedPairsCosineMulti]], oracle-gated as q272/q273)
    *     for the high-cosine regime they suit.
    *
    * The gate is bytes, not rows: a row cap alone would let a 4M-row
    * corpus of 768-dim embeddings (~12 GB) through a gate sized for
    * 64-dim vectors. The probe reads ONE row for the dimension, then
    * counts at most one row past the derived row cap — never the
    * whole corpus.
    *
    * `centroids` is the deployment-scale passthrough for the routed
    * arm (r16 ADVICE): auto mode derives smallest-id centroids with a
    * driver collect sized N/100 — right for ≤ ~10⁶ rows, wrong for a
    * corpus whose cell count itself is driver-hostile. Pass
    * [[trainIvfCentroids]] output (or a persisted index's centroid
    * frame) and the routed arm ships YOUR cells instead of deriving
    * any; the exact arm ignores it (it has no cells).
    */
  def allPairsCosine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBroadcastBytes: Long = 1L << 30,
      centroids: Option[Seq[(Int, Array[Float])]] = None): DataFrame = {
    // measurement knob (r15 VERDICT #2): every test fixture sits far
    // under the byte gate, so the ROUTED arm the 100 TB story depends
    // on never engaged in a deck sweep. Overriding the gate (e.g. =0)
    // forces the bucketed arm at any scale so its wall time and recall
    // can be measured against the exact arm on the same deck
    // (BASELINE.md round-16 row); unset, the router is unchanged.
    // Parsed defensively (r16 ADVICE): a malformed value in a
    // deployment env must not throw from library routing code, and a
    // PRESENT value is warned about — it overrides the caller's
    // explicit byte budget by design (bench knob), but silently is
    // how a stray deployment var flips every call to the approximate
    // arm with no trace.
    val gateBytes = sys.env.get("GRAFT_SIM_MAX_BROADCAST_BYTES") match {
      case Some(s) => s.toLongOption match {
        case Some(v) =>
          System.err.println(
            s"[graft] GRAFT_SIM_MAX_BROADCAST_BYTES=$v overrides " +
              s"maxBroadcastBytes=$maxBroadcastBytes for this router call")
          v
        case None =>
          System.err.println(
            s"[graft] ignoring malformed GRAFT_SIM_MAX_BROADCAST_BYTES='$s'")
          maxBroadcastBytes
      }
      case None => maxBroadcastBytes
    }
    // dimension probe skips null vectors (a null head row must not
    // NPE the router before either path runs)
    val sample = emb.select(col(vecCol)).filter(col(vecCol).isNotNull).head(1)
    if (sample.isEmpty)
      return broadcastAllPairsCosine(emb, idCol, vecCol, threshold) // no vectors
    val dims = math.max(1, sample(0).getSeq[Float](0).size)
    val maxRows = gateBytes / (4L * dims)
    val probeLimit = // +1 may overflow for huge budgets — clamp first
      if (maxRows >= Int.MaxValue.toLong) Int.MaxValue
      else (maxRows + 1).toInt
    val small = emb.limit(probeLimit).count() <= maxRows
    if (small) broadcastAllPairsCosine(emb, idCol, vecCol, threshold)
    else {
      // the routed arm TRAINS its cells when the caller supplies none
      // (BASELINE.md, "Routed-arm recall on clusterable data"): untrained
      // smallest-id centroids recalled only 0.12–0.17 of planted
      // mid-cosine structure at θ=0.4–0.6, while 5-round Lloyd
      // centroids recalled 0.86–0.96 — k-means locality is what
      // keeps a semantic cluster inside one cell, and SemDeDup
      // itself trains k-means. Training is a handful of linear
      // scans, one-time per corpus; callers with a persisted index
      // pass its centroids and skip it.
      val cs = centroids.getOrElse {
        val cells = autoCells(emb.count())
        require(cells <= AutoCellCap,
          s"auto centroid training would collect $cells cells to the " +
            s"driver (cap $AutoCellCap) — pass trainIvfCentroids " +
            "output via `centroids`, or mine pairs from a persisted " +
            "SimilarityIndex.buildIvf assignment")
        trainIvfCentroids(emb, idCol, vecCol, cells)
          .zipWithIndex.map { case (v, i) => (i, v) }
      }
      cellPairsCosine(emb, idCol, vecCol, threshold,
        numCells = cs.size, centroids = Some(cs))
    }
  }

  /** Rank-1 cell ASSIGNMENT for float centroids: the
    * [[graft.plans.NearestCellExpr]] argmin kernel when cell ids are
    * the contiguous 0..C-1 (every built index and
    * [[smallestIdCentroids]] satisfy this), else the general
    * [[cellRank]] struct-sort slice. Same arithmetic and tie-break
    * bit-for-bit (spec-asserted); the kernel turns the per-row
    * O(C log C) struct sort into one O(C) primitive loop — the
    * difference between 23 s and ~3 s at the 30× fixture's 600
    * auto-sized cells.
    */
  private[operators] def cellAssign(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Array[Float])],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sorted = cents.sortBy(_._1)
    if (sorted.map(_._1) == (0 until sorted.size))
      graft.plans.NearestCellExpr.nearestCell(spark, v,
        typedlit(sorted.map(_._2.toSeq)))
    else
      element_at(cellRank(spark, cents, v), 1).getField("cell")
  }

  /** SemDeDup's own cell-count recipe: enough cells that the EXPECTED
    * cell holds ~`targetCellSize` vectors, floored at `minCells` so a
    * tiny corpus still partitions. Abbas et al. 2023 size k so
    * clusters stay small enough that the within-cluster pair pass is
    * cheap (they used 50k clusters for ~10⁹ docs ⇒ ~20k per cluster
    * at web scale; we default far smaller because the within-cell
    * pass here is exact all-pairs, O(cellSize²) per cell). With this
    * sizing the total pair count is ~N × targetCellSize / 2 — LINEAR
    * in the corpus, the property a fixed cell count loses.
    */
  def autoCells(
      corpusRows: Long,
      targetCellSize: Int = 100,
      minCells: Int = 8): Int = {
    require(targetCellSize > 0 && minCells > 0,
      "targetCellSize and minCells must be positive")
    val needed = (corpusRows + targetCellSize - 1) / targetCellSize
    math.max(minCells.toLong, needed).min(Int.MaxValue.toLong).toInt
  }

  /** SemDeDup-style semantic dedup over an embedding column: the
    * corpus partitions into IVF cells (deterministic smallest-id
    * centroids by default, or caller-trained k-means), pairwise
    * 6-dp cosines are computed WITHIN each cell only, and every
    * vector with a smaller-id neighbor at or above `threshold` in
    * its cell is marked a duplicate — one survivor per semantic
    * duplicate group per cell. Public basis: SemDeDup (Abbas et al.
    * 2023, arXiv:2303.09540), which prunes semantic duplicates
    * inside k-means clusters of embeddings.
    *
    * Output: (idCol, cell, keep) — every input row preserved, keep =
    * no smaller-id in-cell neighbor at >= threshold (the same
    * smallest-id survivor convention as [[Dedup.clusters]]).
    *
    * Scale shape: the pair join is an equi-join on `cell`, so
    * candidate pairs are bounded per cell (~(N/numCells)² per cell,
    * never a global all-pairs) and the shuffle key is the cell id.
    * At corpus scale: size numCells so cells fit comfortably in a
    * task (SemDeDup used 50k clusters for 10⁹ docs), train centroids
    * with [[trainIvfCentroids]], and persist the assignment with
    * [[SimilarityIndex.buildIvf]] so re-dedup ticks skip
    * re-assignment. Cross-cell duplicate pairs are missed by design —
    * the SemDeDup recall trade that makes the operation sub-quadratic.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      threshold: Double,
      centroids: Option[Seq[(Int, Array[Float])]] = None): DataFrame = {
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(
      smallestIdCentroids(corpus, idCol, vecCol, numCells))
    require(cents.nonEmpty, "cannot dedup against zero cells")
    val assigned = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      cellAssign(spark, cents, col(vecCol)).as("cell"))
    val x = assigned
      .select(col("vec_id").as("xid"), col("v").as("xv"), col("cell"))
    val y = assigned
      .select(col("vec_id").as("yid"), col("v").as("yv"), col("cell"))
    val dups = x.join(y, "cell")
      .filter(col("yid") < col("xid"))
      .select(col("xid"),
        cos6(spark, col("xv"), col("yv")).as("cos"))
      .filter(col("cos") >= lit(threshold))
      .select(col("xid").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.select(col("vec_id"), col("cell"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id").as(idCol), col("cell"),
        coalesce(col("__dup"), lit(false)).as("__d"))
      .withColumn("keep", !col("__d")).drop("__d")
  }

  /** Cell-bounded all-pairs cosine — the pair-mining core of
    * [[semanticDedup]] exposed as a pair frame, and the ROUTED arm of
    * [[allPairsCosine]] (r16). Vectors are assigned to their nearest
    * of `numCells` centroids (deterministic smallest-id centroids by
    * default — the oracle-reproducible q84 convention — or
    * caller-trained k-means via `centroids`); 6-dp cosines are
    * computed within each cell only.
    *
    * Why this is the scale arm (BASELINE.md r16 measurements): a
    * sign-bucket family at FIXED bits has a fixed bucket count, so
    * occupancy — and per-bucket quadratic work — grows linearly with
    * the corpus: the 8-table arm measured 7.0 s at deck10 but 160 s
    * at deck30, WORSE than the exact arm's 28.5 s, while recalling
    * ≤25% of threshold pairs. Cells sized by [[autoCells]] keep
    * occupancy ~constant (~100 rows/cell), so the within-cell pass
    * stays ~N·occupancy/2 = LINEAR, and k-means locality recalls far
    * more mid-cosine neighbors than sign-pattern equality.
    *
    * At deployment scale: pass [[trainIvfCentroids]] output (or mine
    * pairs from a persisted [[SimilarityIndex.buildIvf]] assignment)
    * — the auto mode ships smallest-id centroids as expression
    * literals, the right shape for ≤ ~10⁴ cells, not for a 10⁹-row
    * corpus's 10⁷. That bound is ENFORCED (r16 ADVICE): auto mode
    * above [[AutoCellCap]] cells fails loudly instead of collecting
    * a driver-hostile centroid set — exactly the no-driver-
    * materialization property the byte router exists to protect.
    */
  val AutoCellCap = 10000

  def cellPairsCosine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 0,
      centroids: Option[Seq[(Int, Array[Float])]] = None): DataFrame = {
    val spark = emb.sparkSession
    val cells = if (numCells > 0) numCells else autoCells(emb.count())
    require(centroids.nonEmpty || cells <= AutoCellCap,
      s"auto centroid derivation would collect $cells cells to the " +
        s"driver (cap $AutoCellCap) — pass trainIvfCentroids output " +
        "via `centroids`, or mine pairs from a persisted " +
        "SimilarityIndex.buildIvf assignment")
    val cents = centroids.getOrElse(
      smallestIdCentroids(emb, idCol, vecCol, cells))
    require(cents.nonEmpty, "cannot mine pairs against zero cells")
    val assigned = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      cellAssign(spark, cents, col(vecCol)).as("cell"))
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("cell"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("cell"))
    a.join(b, "cell")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cos6(spark, col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Johnson-Lindenstrauss random projection (q110): project each
    * embedding onto `outDims` md5-derived ±1 directions (Achlioptas
    * 2003's database-friendly sign matrix), scaled by 1/√outDims —
    * the cheap dimensionality cut that preserves pairwise distances
    * within (1±ε) and feeds faster downstream ANN/clustering.
    *
    * The sign matrix is derived at build time from
    * `md5("rp<j>_<i>")` parity — no RNG state, so the DuckDB oracle
    * re-derives the identical matrix from the same md5 arithmetic.
    * Each output component is one codegen [[graft.plans.FloatVecDot]]
    * against a literal direction (row-local; the operator adds no
    * shuffle at all). Components are emitted as FIXED-POINT 1e-6
    * units (`y_micro`: array<long>, value = micro/1e6) — rounding
    * happens once, on the double dot product, so the portable form
    * is exact on both engines instead of trusting double→string
    * formatting.
    */
  def randomProject(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      outDims: Int,
      inDims: Int): DataFrame = {
    require(outDims > 0 && inDims > 0, "dims must be positive")
    val spark = corpus.sparkSession
    val scale = math.sqrt(outDims.toDouble)
    val comps = (0 until outDims).map { j =>
      val signs = Array.tabulate(inDims) { i =>
        if ((graft.functions.PortableHash.md5Long60Jvm(
          s"rp${j}_${i}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          & 1L) == 1L) 1.0f else -1.0f
      }
      floor(graft.plans.FloatVecDot.vecDot(spark, col(vecCol),
          typedLit(signs.toSeq)) / lit(scale) * lit(1e6) + lit(0.5))
        .cast("long")
    }
    corpus.select(col(idCol).as("vec_id"), array(comps: _*).as("y_micro"))
  }

  /** kNN-graph construction (q106): every vector's top-k nearest
    * neighbors by 6-dp cosine, candidates bounded to the vector's IVF
    * cell — the adjacency-list input to graph clustering, SemDeDup's
    * within-cluster pruning, and link-based quality propagation.
    *
    * Scale shape: the candidate set is a cell equi-join (Σ|cell|²
    * pairs with autoCells targeting ~100 rows/cell — never the global
    * N² cross join), and the per-vector rank is a window keyed on the
    * source id, so the ranking shuffle moves the candidate frame, not
    * the corpus. Cell-boundary misses are the standard IVF recall
    * trade; a multi-probe variant drops in by unioning assignments
    * over the top-p cells before the same join (the oracle replays
    * the single-probe contract exactly). Vectors in a cell smaller
    * than k+1 return the neighbors that exist — rank stays dense.
    *
    * `nprobe` > 1 is the recall dial: the SOURCE side probes its
    * `nprobe` nearest cells (neighbors still sit in their single home
    * cell, so no candidate pair is produced twice) — at
    * `nprobe == numCells` the graph equals exact brute-force top-k
    * (spec-asserted). Candidate volume scales linearly in nprobe.
    */
  def knnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      k: Int,
      centroids: Option[Seq[(Int, Array[Float])]] = None,
      nprobe: Int = 1): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val spark = corpus.sparkSession
    val cents = centroids.getOrElse(
      smallestIdCentroids(corpus, idCol, vecCol, numCells))
    require(cents.nonEmpty, "cannot build a kNN graph over zero cells")
    val assigned = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      cellAssign(spark, cents, col(vecCol)).as("cell"))
    val x =
      if (nprobe <= 1)
        assigned.select(col("vec_id").as("xid"), col("v").as("xv"), col("cell"))
      else
        corpus.select(col(idCol).as("xid"), col(vecCol).as("xv"),
          explode(transform(
            slice(cellRank(spark, cents, col(vecCol)), 1, nprobe),
            s => s.getField("cell"))).as("cell"))
    val y = assigned
      .select(col("vec_id").as("yid"), col("v").as("yv"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("xid"))
      .orderBy(col("cos").desc, col("yid"))
    x.join(y, "cell")
      .filter(col("xid") =!= col("yid"))
      .select(col("xid"), col("yid"), cos6(spark, col("xv"), col("yv")).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("xid").as("vec_id"), col("rnk"),
        col("yid").as("neighbor_id"), col("cos"))
  }

  /** Exact all-pairs cosine >= threshold over a SMALL corpus. The
    * corpus is collected and broadcast as primitive float arrays and
    * each task scans its probe slice with tight JVM loops — the same
    * left-to-right double summation as [[VectorFns.dot]], so values
    * are bit-identical to the expression/oracle formulation, but
    * ~50x faster than interpreted higher-order functions on the
    * crossJoin (benched at sf0.1).
    *
    * Scale contract: the broadcast side must fit an executor (~1 GB ≈
    * 4M × 64-dim floats) — enforced by [[allPairsCosine]]'s router;
    * call this directly only when the corpus is known small.
    */
  def broadcastAllPairsCosine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    val corpus = rows.collect().sortBy(_._1)
    val ids = corpus.map(_._1)
    val vecs = corpus.map(_._2)
    val norms = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((ids, vecs, norms))
    rows.mapPartitions { it =>
      val (cIds, cVecs, cNorms) = bc.value
      it.flatMap { case (ida, va) =>
        var na = 0.0; var i = 0
        while (i < va.length) { na += va(i).toDouble * va(i).toDouble; i += 1 }
        na = math.sqrt(na)
        // only pairs with the broadcast id strictly greater: each pair
        // is produced exactly once, by its smaller-id owner
        val from = java.util.Arrays.binarySearch(cIds, ida) match {
          case neg if neg < 0 => -neg - 1
          case idx => idx + 1
        }
        (from until cIds.length).iterator.flatMap { j =>
          val vb = cVecs(j)
          var dot = 0.0; var k = 0
          val n = math.min(va.length, vb.length)
          while (k < n) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
          val cos = math.floor(dot / (na * cNorms(j)) * 1e6 + 0.5) / 1e6
          if (cos >= threshold) Some((ida, cIds(j), cos)) else None
        }
      }
    }.toDF("id_a", "id_b", "cos")
  }

  /** Blocked all-pairs cosine: pairs are only formed inside equal
    * sign-bit buckets of the first `bits` dimensions, so the candidate
    * join is a bucket equi-join — per-bucket work is ~(n/2^bits)²
    * instead of n², with no driver-side materialization. Same output
    * schema and same 6-decimal rounding as
    * [[broadcastAllPairsCosine]]; misses cross-bucket pairs by design
    * (the recall/scale tradeoff of every LSH near-dup pipeline).
    */
  def bucketedPairsCosine(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFns.signBucket(col(vecCol), bits).as("bucket"))
    val a = e.alias("a")
    val b = e.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cos6(emb.sparkSession, col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Multi-table blocked all-pairs cosine — the ROUTED arm of
    * [[allPairsCosine]] (r16): `tables` independent sign-bucket hash
    * tables over DISJOINT dimension slices (table t buckets on sign
    * bits of dims [t·bits+1 .. (t+1)·bits], exactly q63's
    * [[VectorFns.signBucketAt]] family), a pair is a candidate when it
    * shares a bucket in ANY table. Measured on the deck fixtures
    * (BASELINE.md round 16): the single-table arm's recall at the
    * q36 threshold regime is ~2.5% — OR-banding L=8 disjoint slices
    * multiplies recall ~(1-(1-p)^L)/p ≈ 8× at the same equi-join
    * shape and still misses mid-cosine pairs by LSH design (a
    * cos≈0.45 pair is NOT "near" under any locality-sensitive family;
    * mid-threshold SEMANTIC similarity at scale belongs to the
    * cell-bounded [[semanticDedup]] design, which bounds the pair
    * search by k-means locality instead of hash collisions).
    *
    * Scale shape: the per-table candidate join is a (tbl, bucket)
    * equi-join — fully distributed, no driver materialization; the
    * DISTINCT collapses multi-table hits BEFORE the cosine join-back,
    * so each surviving candidate pays the dot product once. Work is
    * L × the single-table arm's candidates plus one dedup exchange —
    * linear in corpus size at fixed bucket occupancy.
    */
  def bucketedPairsCosineMulti(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8,
      tables: Int = 0): DataFrame = {
    val sample = emb.select(col(vecCol)).filter(col(vecCol).isNotNull).head(1)
    if (sample.isEmpty)
      return bucketedPairsCosine(emb, idCol, vecCol, threshold, bits)
    val dims = math.max(1, sample(0).getSeq[Float](0).size)
    // auto: every full disjoint slice, capped at 8 tables (beyond
    // that the candidate unions outgrow the recall gain on any
    // realistic dim count)
    val l = if (tables > 0) tables
      else math.max(1, math.min(8, dims / bits))
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val bucketed = (0 until l).map { t =>
      e.select(col("id"), lit(t).as("tbl"),
        VectorFns.signBucketAt(col("v"), lit(t * bits), bits).as("bucket"))
    }.reduce(_ unionByName _)
    val a = bucketed.alias("a")
    val b = bucketed.alias("b")
    val cand = a.join(b,
        col("a.tbl") === col("b.tbl") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cos6(emb.sparkSession, col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Nearest-centroid ranking column: distance structs (1-cos asc,
    * cell asc) sorted by array_sort's natural struct ordering — no
    * negation, so -0.0 never enters the comparison. Centroids ship as
    * array literals, so ranking is ONE codegen'd scan — no join
    * against a centroid table. 6-decimal-rounded cosines keep the
    * ranking deterministic and engine-portable (same rule the DuckDB
    * oracle applies).
    */
  private[operators] def cellRank(
      spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Array[Float])],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_sort(array(cents.map { case (i, cv) =>
      struct((lit(1.0) - cos6(spark, v, typedlit(cv))).as("d"),
        lit(i).as("cell"))
    }: _*))

  /** The `numCells` smallest-id corpus vectors — the deterministic,
    * oracle-reproducible stand-in for a k-means pass (q46's mode).
    */
  private[operators] def smallestIdCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      numCells: Int): Seq[(Int, Array[Float])] =
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(col("id"))
      .limit(numCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
      .toSeq

  /** Double-precision 6-dp cosine for DERIVED vectors (trained
    * centroids): the mean values are exact 6-dp doubles, and squeezing
    * them through float literals would perturb the rounded cosine at
    * the 1e-6 quantum — precisely the boundary the DuckDB oracle
    * compares at. Corpus floats cast to double exactly, so this is
    * bit-compatible with the oracle's `x::DOUBLE` arithmetic; the
    * aggregate HOF folds in index order like the oracle's unnest sum.
    */
  private[operators] def cos6D(
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    val dot = (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    val c = dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
  }

  /** [[cellRank]] over double-precision centroid literals — the
    * training-loop twin (see [[cos6D]] for why floats won't do).
    */
  private[operators] def cellRankD(
      cents: Seq[(Int, Array[Double])],
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_sort(array(cents.map { case (i, cv) =>
      struct((lit(1.0) - cos6D(v, typedlit(cv))).as("d"),
        lit(i).as("cell"))
    }: _*))

  /** Deterministic Lloyd k-means over the embedding column, expressed
    * as DataFrame aggregates — the trained upgrade over the
    * smallest-id stand-in when recall on real distributions matters.
    *
    *   - init: the `numCells` smallest-id vectors (seed-free, stable);
    *   - assign: nearest centroid under the SAME 6-decimal-rounded
    *     cosine ranking the IVF probe uses, in DOUBLE precision
    *     throughout ([[cos6D]]) so the q88 oracle reproduces every
    *     round bit-for-bit;
    *   - update: per-(cell, dimension) mean via posexplode + one hash
    *     aggregate (map-side combined, one shuffle of numCells x dims
    *     groups), rounded to 6 decimals. The rounding CONFINES
    *     summation-order sensitivity rather than eliminating it:
    *     avg() is a partial-aggregated double sum whose addition order
    *     varies with partitioning, so a mean landing within ~1e-6 of
    *     a rounding boundary can still flip its last digit across
    *     layouts (exact determinism would need a fixed-point integer
    *     sum). In practice a 1-ulp centroid wobble moves no
    *     assignment that isn't already a coin flip. Empty cells keep
    *     their previous centroid;
    *   - canonicalize: centroids sorted lexicographically by value
    *     and renumbered, so the output is insensitive to init order.
    *
    * Per round: one codegen'd assignment scan + one aggregate; the
    * only driver materialization is numCells x dims means (tiny by
    * construction). Centroid count, not corpus size, bounds every
    * collected row — the 100 TB shape.
    */
  def trainIvfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      lloydRounds: Int = 5): Seq[Array[Float]] =
    trainIvfCentroidsD(corpus, idCol, vecCol, numCells, lloydRounds)
      .map(_.map(_.toFloat))

  /** The exact (double) centroids [[trainIvfCentroids]] floats for
    * [[ivfTopK]] — kept separate because the training values ARE 6-dp
    * doubles and the oracle compares them at full precision (q88).
    */
  def trainIvfCentroidsD(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      lloydRounds: Int = 5): Seq[Array[Double]] = {
    var cents: Seq[(Int, Array[Double])] =
      smallestIdCentroids(corpus, idCol, vecCol, numCells)
        .map { case (i, a) => (i, a.map(_.toDouble)) }
    var round = 0
    while (round < lloydRounds) {
      // assignment via the codegen double-kernel when cell ids are the
      // contiguous 0..C-1 (init and every round preserve this), else
      // the general struct-sort — same arithmetic and tie-break
      // bit-for-bit (spec-asserted, like the float twin in
      // [[cellAssign]]). The struct-sort formulation at autoCells
      // counts (600+ cells) fell out of whole-stage codegen and
      // measured ~30 s/round on a 26k-row corpus; the kernel is one
      // tight loop (r17, for the router's training default).
      val sorted = cents.sortBy(_._1)
      val assignCol =
        if (sorted.map(_._1) == (0 until sorted.size))
          graft.plans.NearestCellDExpr.nearestCellD(corpus.sparkSession,
            col("v"), typedlit(sorted.map(_._2.toSeq)))
        else element_at(cellRankD(cents, col("v")), 1).getField("cell")
      val means = corpus.select(col(vecCol).as("v"))
        .select(assignCol.as("cell"), col("v"))
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg((floor(avg(col("col").cast("double")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.map { case (i, old) =>
        byCell.get(i) match {
          case Some(rows) =>
            val m = old.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            (i, m)
          case None => (i, old) // empty cell keeps its centroid
        }
      }
      round += 1
    }
    import scala.math.Ordering.Implicits._
    cents.map(_._2).sortBy(_.toSeq)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into
    * `numCells` Voronoi cells by nearest centroid; each probe searches
    * only its `nprobe` nearest cells. The cell join is an equi-join on
    * the cell id, so per-probe work is ~nprobe/numCells of the corpus
    * — the standard IVF scale shape.
    *
    * Default centroids are the smallest-id stand-in
    * ([[smallestIdCentroids]] — deterministic and oracle-reproducible,
    * q46's mode); pass `centroids = Some(trainIvfCentroids(...))` for
    * data-distribution-aware cells. Either way centroids are driver
    * literals (numCells vectors, tiny by construction), so corpus
    * assignment and probe cell-ranking are ONE codegen'd scan each —
    * no join against a centroid table, no shuffle beyond the final
    * cell equi-join (the plan shape is identical in both modes,
    * asserted in PlanSpec/DedupSimilaritySpec).
    */
  def ivfTopK(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      nprobe: Int,
      k: Int,
      centroids: Option[Seq[Array[Float]]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= numCells, "need 1 <= nprobe <= numCells")
    val spark = probes.sparkSession
    val cents: Seq[(Int, Array[Float])] = centroids match {
      case Some(cs) =>
        require(cs.size == numCells,
          s"got ${cs.size} centroids for numCells=$numCells")
        cs.zipWithIndex.map { case (v, i) => (i, v) }
      case None => smallestIdCentroids(corpus, idCol, vecCol, numCells)
    }
    val assigned = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      cellAssign(spark, cents, col(vecCol)).as("cell"))
    val probeCells = probes.select(
      col(idCol).as("probe_id"), col(vecCol).as("pv"),
      explode(transform(slice(cellRank(spark, cents, col(vecCol)), 1, nprobe),
        s => s.getField("cell"))).as("cell"))
    val pairs = assigned.join(broadcast(probeCells), "cell")
      .select(col("probe_id"), col("neighbor_id"),
        cos6(spark, col("pv"), col("cv")).as("cos"))
    ranked(pairs, k)
  }

  /** ANN: compare only within equal sign-bit buckets of the first
    * `bits` dimensions. Probes whose bucket has no corpus vector get
    * no rows (documented recall/latency tradeoff).
    */
  def signBucketTopK(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      VectorFns.signBucket(col(vecCol), bits).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorFns.signBucket(col(vecCol), bits).as("bucket"))
    val pairs = c.join(broadcast(p), "bucket")
      .select(col("probe_id"), col("neighbor_id"),
        cos6(probes.sparkSession, col("pv"), col("cv")).as("cos"))
    ranked(pairs, k)
  }

  /** Multi-table sign-bucket ANN: `tables` independent hash tables,
    * table t bucketing on the DISJOINT dimension slice
    * [t*bits+1 .. (t+1)*bits]. A probe/neighbor pair is a candidate
    * when they share a bucket in ANY table, so a near-neighbor whose
    * vector flips one sign bit inside one table's slice — invisible to
    * [[signBucketTopK]]'s single table — is still caught by every
    * table whose slice the perturbation missed: P(miss) drops from
    * p to p^L for independent slices (the standard L-table LSH recall
    * amplification).
    *
    * Plan shape: both sides explode to `tables` rows (one bucket key
    * per table), the candidate join is an equi-join on
    * (table, bucket) with the probe side broadcast, and the up-to-L
    * duplicate candidate copies are deduped AFTER scoring (the
    * 6-decimal cosine is deterministic, so the copies are identical
    * rows and one `distinct` collapses them) — the same
    * score-then-dedup trick as the MinHash band join. Corpus-side
    * cost is `tables` rows per vector through one exchange; no
    * cartesian anywhere.
    */
  def multiTableSignBucketTopK(
      probes: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int,
      tables: Int,
      k: Int): DataFrame = {
    require(tables >= 1, "need at least one table")
    // Tables whose bit-slice falls past the vector's end would hash every
    // row to the same (empty) bucket — silently turning that table's
    // candidate join into probe×corpus. Skip them (symmetrically on both
    // sides), so only tables with a full `bits`-wide slice contribute.
    def keyed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        explode(transform(sequence(lit(0), lit(tables - 1)),
          t => struct(t.as("tbl"),
            VectorFns.signBucketAt(col(vecCol), t * lit(bits), bits)
              .as("bkt")))).as("tb"))
        .select(col(idAs), col(vecAs),
          col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
        .where(size(col(vecAs)) >= (col("tbl") + lit(1)) * lit(bits))
    val p = keyed(probes, "probe_id", "pv")
    val c = keyed(corpus, "neighbor_id", "cv")
    val pairs = c.join(broadcast(p), Seq("tbl", "bkt"))
      .select(col("probe_id"), col("neighbor_id"),
        cos6(probes.sparkSession, col("pv"), col("cv")).as("cos"))
      .distinct()
    ranked(pairs, k)
  }

  /** Per-cell SIMPLIFIED SILHOUETTE over a centroid partition — the
    * clustering-quality audit for every IVF/SemDeDup layout in this
    * file: for each vector, a = cosine distance to its nearest
    * centroid (its cell), b = distance to the second-nearest, and
    * s = (b − a) / max(a, b) ∈ [0, 1] (1 = deep inside its cell,
    * 0 = on a cell boundary — exactly the vectors SemDeDup's
    * cell-bounded pair pass can mis-bucket). Centroid-based a/b is
    * the standard linear-time simplification of full silhouette
    * (which needs all-pairs); it is the member the 100 TB path can
    * afford.
    *
    * Scale shape: ONE row-local scan (the [[cellRank]] struct sort
    * against numCells literal centroids — no join, codegen-friendly)
    * + one cell-keyed aggregate. Nothing quadratic, nothing
    * collected beyond the centroid frame.
    *
    * Float portability: per-centroid distances are d = 1 − cos6
    * (exact doubles on 6dp cosines), the ratio is 6dp-rounded before
    * the mean (q137 discipline), ties in the cell ranking break on
    * the smaller cell id. Output: (cell, n_vectors, mean_sil) —
    * empty cells are absent, like every cell-keyed aggregate here.
    */
  def cellSilhouette(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int): DataFrame = {
    require(numCells >= 2, "silhouette needs at least 2 cells")
    val spark = corpus.sparkSession
    val cents = smallestIdCentroids(corpus, idCol, vecCol, numCells)
    val rk = cellRank(spark, cents, col(vecCol))
    val a = element_at(col("__rk"), 1).getField("d")
    val b = element_at(col("__rk"), 2).getField("d")
    corpus
      .select(col(idCol), rk.as("__rk"))
      .select(col(idCol),
        element_at(col("__rk"), 1).getField("cell").as("cell"),
        when(greatest(a, b) === 0.0, lit(0.0))
          .otherwise(pr6s((b - a) / greatest(a, b))).as("__s"))
      // the mean runs over INTEGER MICRO-UNITS of the 6dp scores: an
      // integer sum is order-independent, where avg() over the 6dp
      // doubles flipped the final rounding by one ulp between runs
      // (Spark's partition add order is schedule-dependent)
      .select(col("cell"),
        floor(col("__s") * lit(1e6) + lit(0.5)).cast("long").as("__si"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__si")).as("__sm"))
      .select(col("cell"), col("n_vectors"),
        (floor(col("__sm").cast("double") / col("n_vectors").cast("double")
          + lit(0.5)) / lit(1e6)).as("mean_sil"))
  }

  private def pr6s(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** ANN recall audit: per probe, the fraction of the EXACT top-k
    * the approximate detector recovered — the q170 LSH-recall idea
    * pointed at the ANN family (run the brute-force baseline on a
    * probe sample, score the index against it; the number that says
    * whether nprobe/numCells are tuned or lying). Both inputs carry
    * (probe, neighbor, rank) as [[bruteForceTopK]]/[[ivfTopK]] emit
    * them.
    *
    * Exactness: hit counts are exact integers; each probe's recall
    * micro-snaps before the int64 mean (the q231 MRR discipline).
    * Probes the approximate side missed entirely still read recall 0
    * (left join from the exact side — the baseline defines the probe
    * universe).
    *
    * Output: per probe (probe_id, n_exact, n_hit, recall6) + the
    * constant mean_recall6; callers order.
    */
  def annRecallAudit(
      exact: DataFrame,
      approx: DataFrame,
      probeCol: String,
      neighborCol: String,
      rankCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ex = exact.filter(col(rankCol) <= k)
      .select(col(probeCol).as("__p"), col(neighborCol).as("__n"))
    val ap = approx.filter(col(rankCol) <= k)
      .select(col(probeCol).as("__p"), col(neighborCol).as("__n"))
    val nEx = ex.groupBy(col("__p")).agg(count(lit(1)).as("n_exact"))
    val hits = ex.join(ap, Seq("__p", "__n"))
      .groupBy(col("__p")).agg(count(lit(1)).as("__h"))
    val per = nEx.join(hits, Seq("__p"), "left")
      .select(col("__p"), col("n_exact"),
        coalesce(col("__h"), lit(0L)).as("n_hit"))
      .withColumn("__rm",
        floor(col("n_hit").cast("double") / col("n_exact").cast("double")
          * lit(1e6) + lit(0.5)).cast("long"))
      .localCheckpoint(true) // probe-sized; read twice
    val tot = per.agg(count(lit(1)).as("__np"),
      coalesce(sum(col("__rm")), lit(0L)).as("__srm"))
    per.crossJoin(broadcast(tot))
      .select(col("__p").as(probeCol), col("n_exact"), col("n_hit"),
        (col("__rm").cast("double") / lit(1e6)).as("recall6"),
        when(col("__np") > 0,
          floor(col("__srm").cast("double") / col("__np").cast("double")
            + lit(0.5)) / lit(1e6))
          .otherwise(lit(null).cast("double")).as("mean_recall6"))
  }
}
