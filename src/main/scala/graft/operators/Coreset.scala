package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
  * traversal — the 2-approximation for the k-center objective, and
  * the standard diversity-driven data-selection baseline: pick the
  * point farthest from everything chosen so far, k times).
  *
  * Each round is ONE codegen'd corpus scan — the running min-distance
  * column is folded with the latest center's literal vector (squared
  * L2 as one [[graft.plans.DoubleVecSqDist]] loop, no join) — followed by ONE
  * max-of-struct aggregate (map-side combined) to find the farthest
  * point. k rounds ⇒ k scans + k dims-sized driver collects; nothing
  * is quadratic in the corpus and no all-pairs distance matrix ever
  * exists. This is the exact greedy algorithm, not a sample-based
  * approximation.
  *
  * Float portability (q88 discipline): distances in double, 6dp-
  * rounded BEFORE the argmax so a relational oracle replays every
  * selection; ties broken on the smaller id via max(struct(d, -id)).
  */
object Coreset {

  private def pr6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Squared L2 against a literal center — one codegen'd primitive
    * loop ([[graft.plans.DoubleVecSqDist]]; same index-order
    * summation as the 64-term `element_at` chain it replaced, so
    * every 6dp-rounded selection is bit-identical). The chain form
    * was the q162/q137 fixed-cost root cause: each greedy round's
    * action re-walked genCode over a few-hundred-node tree and
    * re-compiled it in janino, ~2.5 s of driver time PER JOB at
    * dim=64 (BASELINE.md, "Round 15: the correctness-gate rescue,
    * deck30, and the drift post-mortem").
    */
  private def sqDist(spark: org.apache.spark.sql.SparkSession,
      vecCol: Column, center: Array[Double]): Column =
    graft.plans.VecDistExprs.vecSqDistD(spark, vecCol, lit(center))

  /** Greedily select `k` centers. Output: (ord int 1-based selection
    * order, idCol, dist2 double = the 6dp-rounded squared distance to
    * the previously-selected set at selection time; 0.0 for the
    * seed). Seed = the smallest id (deterministic, oracle-stable).
    */
  def kCenterSelect(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = emb.sparkSession
    // vector column normalized to array<double> up front so float-
    // AND double-typed embeddings both work (everything downstream
    // reads Double)
    val base = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val n = base.count()
    require(n >= 1, "kCenterSelect needs a non-empty corpus")
    require(k <= n,
      s"kCenterSelect: k=$k exceeds the corpus row count $n")

    def vecOf(id: Long): Array[Double] =
      base.where(col("id") === id).head().getSeq[Double](1).toArray

    val seed = base.agg(min(col("id"))).head().getLong(0)
    var chosen = List((1, seed, 0.0))
    // carry the winner's VECTOR inside the argmax struct so each
    // round is exactly one scan — no separate fetch of the winner row
    // (the vector never decides the max: (d, -id) is already total)
    var centerVec = vecOf(seed)
    // running min over rounds, rebuilt as a min() chain of the k-1
    // literal-center distance terms — each round's frame is still one
    // scan; the chain depth is k, a constant
    var distCols: List[Array[Double]] = List(centerVec)
    var round = 2
    while (round <= k) {
      val d: Column = pr6(distCols.map(c => sqDist(spark, col("v"), c))
        .reduceLeft(least(_, _)))
      val top = base.where(!col("id").isin(chosen.map(_._2): _*))
        .agg(max(struct(d.as("d"), (-col("id")).as("nid"),
          col("v").as("v"))).as("m"))
        .head().getStruct(0)
      val (dist, id) = (top.getDouble(0), -top.getLong(1))
      chosen = (round, id, dist) :: chosen
      centerVec = top.getSeq[Double](2).toArray
      distCols = centerVec :: distCols
      round += 1
    }
    import spark.implicits._
    chosen.reverse.toDF("ord", idCol, "dist2")
  }

  /** 6dp-rounded cosine against a literal vector (norm precomputed):
    * codegen'd loop dot ([[graft.plans.DoubleVecDot]]) — index-order
    * summation, bit-identical to the replaced term chain (see
    * [[sqDist]] for why the chain form had to go).
    */
  private def cosLit(spark: org.apache.spark.sql.SparkSession,
      vecCol: Column, normCol: Column, c: Array[Double]): Column = {
    val cn = math.sqrt(c.map(x => x * x).sum)
    pr6(graft.plans.VecDistExprs.vecDotD(spark, vecCol, lit(c)) /
      (normCol * lit(cn)))
  }

  /** Greedy MAXIMAL MARGINAL RELEVANCE selection (Carbonell &
    * Goldstein 1998) — the diversity-aware complement of plain top-k
    * retrieval, and the standard "relevant but not redundant"
    * data-selection recipe: round r picks
    * argmax[ λ·cos(q, d) − (1−λ)·max_{s∈chosen} cos(d, s) ].
    *
    * Same scale shape as [[kCenterSelect]]: the query relevance is ONE
    * precomputed column; each round folds the latest pick's literal
    * vector into a running max-similarity column (index-order chain,
    * no join) and takes ONE max-of-struct aggregate. k scans, nothing
    * quadratic, no similarity matrix.
    *
    * Float portability: every pairwise cosine is 6dp-rounded BEFORE
    * the greatest()/argmax (the q137 discipline), so the oracle
    * replays every pick; ties on the smaller id. Zero-norm vectors are
    * excluded (cosine undefined). Output: (ord 1-based, idCol, score
    * double = the 6dp MMR objective at selection time; round 1 has an
    * empty chosen set, so its score is pure relevance λ·qcos).
    */
  def mmrSelect(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long,
      k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val spark = emb.sparkSession
    val all = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val qRow = all.where(col("id") === queryId).head()
    val qVec = qRow.getSeq[Double](1).toArray
    require(qVec.exists(_ != 0.0), s"query vector $queryId has zero norm")
    // materialize (id, v, norm, query-relevance) ONCE — the relevance
    // column is round-invariant, and without truncation every round's
    // scan would re-fold it (plus the norm) from the source; with it
    // each round folds only its redundancy terms. localCheckpoint =
    // the Dedup.Stage lineage-truncation discipline.
    val base = all.where(col("id") =!= queryId)
      // ‖v‖ = √(v·v): (vᵢ−0)² and vᵢ·vᵢ are the same IEEE doubles,
      // so this matches the old zeros-vector sqDist bit-for-bit
      .withColumn("__n",
        sqrt(graft.plans.VecDistExprs.vecDotD(spark, col("v"), col("v"))))
      .where(col("__n") > 0)
      .withColumn("__qcos", cosLit(spark, col("v"), col("__n"), qVec))
      .localCheckpoint()
    val n = base.count()
    require(k <= n, s"mmrSelect: k=$k exceeds the candidate count $n")

    var chosen = List.empty[(Int, Long, Double)]
    var simCols = List.empty[Array[Double]] // chosen vectors, literal
    var round = 1
    while (round <= k) {
      val redundancy: Column =
        if (simCols.isEmpty) lit(0.0)
        else simCols.map(c => cosLit(spark, col("v"), col("__n"), c))
          .reduceLeft(greatest(_, _))
      val score = pr6(lit(lambda) * col("__qcos") -
        lit(1.0 - lambda) * redundancy)
      val top = base.where(!col("id").isin(chosen.map(_._2): _*))
        .agg(max(struct(score.as("s"), (-col("id")).as("nid"),
          col("v").as("v"))).as("m"))
        .head().getStruct(0)
      chosen = (round, -top.getLong(1), top.getDouble(0)) :: chosen
      simCols = top.getSeq[Double](2).toArray :: simCols
      round += 1
    }
    import spark.implicits._
    chosen.reverse.toDF("ord", idCol, "score")
  }
}
