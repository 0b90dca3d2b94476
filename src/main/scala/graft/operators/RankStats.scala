package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType, ShortType}

/** Rank-based evaluation and concentration statistics: tie-corrected
  * ROC-AUC (the Mann-Whitney rank-sum identity), Spearman rank
  * correlation, and the Gini concentration index — the evaluation
  * layer a curation pipeline runs over its own scorers (is the
  * quality model's ORDERING any good, not just its calibration —
  * q183's bins ask the latter) and over its corpus shape (how
  * concentrated is the length/token mass).
  *
  * Determinism discipline: every statistic here is a pure function of
  * RANKS, and ranks are integers — so all cross-row aggregates are
  * exact integer sums (order-independent in any engine, any partition
  * layout), and floats appear only in the final row-local division,
  * 6dp-rounded. Ties take AVERAGE ranks; to keep averages integral
  * the machinery works in DOUBLED ranks (`2·rank`, so a tie-group
  * average `below + (cnt+1)/2` becomes the integer
  * `2·below + cnt + 1`).
  *
  * Scale shape: per ranked column, ONE hash aggregate to the
  * distinct-value frame, one range-partitioned prefix sum over that
  * frame ([[ScaleOps.prefixSumByRange]] — never a single-task
  * window), and (where per-row ranks are needed) one equi-join back
  * on the value. Nothing quadratic, no corpus-sized window, no
  * driver-side data.
  */
object RankStats {

  private def pr6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Exact ROC-AUC of `scoreCol` against boolean `labelCol` via the
    * rank-sum identity with the standard tie correction (tied scores
    * get average ranks, i.e. a tied positive/negative pair counts
    * 1/2):
    *
    *   AUC = (R₁ − n₁(n₁+1)/2) / (n₀·n₁),  R₁ = Σ ranks of positives
    *
    * carried in doubled-rank integers: `u2 = 2·R₁ − n₁(n₁+1) = 2·U₁`
    * and `auc = u2 / (2·n₀·n₁)`. Null scores/labels are excluded;
    * a one-class input yields NULL auc (the q135-family
    * zero-denominator convention) with the counts still reported.
    *
    * The integer path holds exactly while 2·R₁ ≤ 2n² stays inside
    * int64 — n up to ~2.1e9 rows; beyond that, pre-aggregate or
    * switch the two sums to decimal.
    *
    * Scale shape: one hash aggregate to the distinct-score frame
    * (n_s, p_s per score), one range-partitioned prefix sum over it,
    * one combinable final aggregate. The corpus is never joined back
    * — only per-GROUP counts matter for AUC.
    *
    * Output: ONE row (n_pos, n_neg, u2, auc6).
    */
  def rocAuc(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val base = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("__sc"),
        col(labelCol).cast("boolean").as("__y"))
    val g = base.groupBy(col("__sc"))
      .agg(count(lit(1)).as("__n_s"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p_s"))
    val r = ScaleOps.prefixSumByRange(g, Seq("__sc"), col("__n_s"), "__below")
    r.agg(
        coalesce(sum(col("__p_s")), lit(0L)).as("__np"),
        coalesce(sum(col("__n_s") - col("__p_s")), lit(0L)).as("__nn"),
        coalesce(sum(col("__p_s") *
          (lit(2L) * col("__below") + col("__n_s") + lit(1L))), lit(0L))
          .as("__s2r"))
      .select(col("__np").as("n_pos"), col("__nn").as("n_neg"),
        (col("__s2r") - col("__np") * (col("__np") + lit(1L))).as("u2"),
        when(col("__np") > 0 && col("__nn") > 0,
          pr6((col("__s2r") - col("__np") * (col("__np") + lit(1L)))
            .cast("double") /
            (lit(2e0) * col("__np").cast("double") *
              col("__nn").cast("double"))))
          .otherwise(lit(null).cast("double")).as("auc6"))
  }

  /** Precision–recall curve at every distinct score threshold, plus
    * step-function average precision — the evaluation twin of
    * [[rocAuc]] for IMBALANCED labels, where ROC's false-positive
    * rate hides a flood of false positives behind a huge negative
    * class (Davis & Goadrich 2006). Threshold semantics: a row is
    * predicted positive when `score >= s`, one curve row per
    * distinct score, descending (the first row is the strictest
    * cut).
    *
    * AP is the usual step sum AP = Σ_s (Δtp_s / n_pos) · prec_s over
    * thresholds in descending-score order, where Δtp_s = positives
    * exactly AT score s — so each term is a pure function of that
    * threshold's counters and the sum is order-free. Each term is
    * snapped to the 1e-6 grid FIRST (`floor(term·1e6 + 0.5)` on a
    * double built from exact int64 counters — IEEE multiply/divide
    * on identical inputs, bit-identical in any engine) and the terms
    * accumulate as an exact int64 micro sum; ap6 = that sum / 1e6.
    * The per-term snap makes the statistic deterministic at any
    * partition order and any scale, at the price of ≤ 5e-7·|curve|
    * absolute bias vs the unsnapped AP — the [[GraphOps.pageRank]]
    * per-iteration-rounding trade.
    *
    * Scale shape: ONE hash aggregate to the distinct-score frame,
    * ONE range-partitioned prefix sum over it (both cumulative
    * counters ride a single packed long, the [[ksTest]] idiom —
    * exact under 2³¹ rows per class), one broadcast of the 1-row
    * totals, one combinable micro-sum aggregate. The corpus is never
    * joined back; nothing is corpus-sized after the first aggregate.
    *
    * Output: (score, tp, fp, prec6, rec6, ap6) — ap6 constant across
    * rows; NULL when there are no positives. Callers order by score.
    */
  def prCurve(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val base = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(scoreCol).as("__sc"),
        col(labelCol).cast("boolean").as("__y"))
    val K = 1L << 31
    val g = base.groupBy(col("__sc"))
      .agg(count(lit(1)).as("__n_s"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p_s"))
      .withColumn("__pk", col("__n_s") * lit(K) + col("__p_s"))
    val p = ScaleOps.prefixSumByRange(g, Seq("__sc"), col("__pk"), "__bp",
      targetPartBytes = 1L << 20)
    val tot = g.agg(coalesce(sum(col("__p_s")), lit(0L)).as("__np"),
      coalesce(sum(col("__n_s")), lit(0L)).as("__nt"))
    // counts strictly below s → counts at-or-above s by complement
    val curve = p.crossJoin(broadcast(tot))
      .withColumn("__tp", col("__np") - col("__bp").bitwiseAND(lit(K - 1L)))
      .withColumn("__pp", col("__nt") - shiftright(col("__bp"), 31))
      .withColumn("__term",
        when(col("__np") > 0,
          floor(col("__p_s").cast("double") * col("__tp").cast("double") *
            lit(1e6) /
            (col("__pp").cast("double") * col("__np").cast("double")) +
            lit(0.5)).cast("long"))
          .otherwise(lit(0L)))
      .localCheckpoint(true)
    val ap = curve.agg(coalesce(sum(col("__term")), lit(0L)).as("__apm"),
      max(col("__np")).as("__np2"))
      .select(when(col("__np2") > 0,
        col("__apm").cast("double") / lit(1e6))
        .otherwise(lit(null).cast("double")).as("ap6"))
    curve.crossJoin(broadcast(ap))
      .select(col("__sc").as("score"), col("__tp").as("tp"),
        (col("__pp") - col("__tp")).as("fp"),
        pr6(col("__tp").cast("double") / col("__pp").cast("double"))
          .as("prec6"),
        when(col("__np") > 0,
          pr6(col("__tp").cast("double") / col("__np").cast("double")))
          .otherwise(lit(null).cast("double")).as("rec6"),
        col("ap6"))
  }

  /** Spearman rank correlation for every pair in `cols` (upper
    * triangle, `cols` order) — Pearson over doubled average ranks.
    * Listwise deletion (rows with a null in ANY column are excluded,
    * q172's convention) so all columns rank the same row set.
    *
    * All rank sums/squares/cross-products accumulate in
    * decimal(38,0) — exact at any row count and partition order
    * (doubles would lose order-independence past 2^53; int64 products
    * overflow near 2e9 rows) — and are cast to double only inside the
    * final row-local correlation formula, 6dp-rounded. Zero-variance
    * (constant) columns read NULL rho.
    *
    * Columns must be NUMERIC (values ride a double melt column whose
    * ordering must match the raw column's and whose mapping must stay
    * injective — exact for int/decimal(≤15 digits)/float inputs, the
    * Spearman use case).
    *
    * Scale shape: the k columns MELT into one stacked (column-index,
    * value) frame, so there is ONE distinct-value aggregate and ONE
    * range-partitioned prefix sum for all k columns together (each
    * column contributes exactly n rows after listwise deletion, so
    * per-column `below` = global prefix − ci·n) — not k copies of the
    * prefix machinery. The join-back is a MEASURED hybrid: each
    * column's rank map (a filter of the one checkpointed prefix
    * output) joins the wide clean frame, EXPLICITLY broadcast when
    * the map is catalog-sized (≤ 64k distinct values — the broadcast
    * joins fuse into one codegen stage over the corpus, zero
    * shuffles) and a shuffle join only for corpus-cardinality
    * columns; ONE combinable O(k²)-wide aggregate finishes. The
    * alternative the melt suggests — join the stacked map once onto
    * the (rowid, ci, v) melt and pivot ranks back by rowid — was
    * built and measured at 2× this plan's time (sf0.1, r14): it
    * re-shuffles n·k rows TWICE (join + rowid pivot) where this plan
    * shuffles n rows per corpus-sized column and zero for the rest.
    * Cardinalities come from a k-row collect off the checkpointed
    * prefix output, so the broadcast/shuffle routing is driver-cheap
    * at any scale.
    *
    * Output: (col_a, col_b, rho6) for i < j in `cols` order.
    */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "spearmanMatrix needs at least 2 columns")
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      val ok = dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
            DoubleType => true
        case d: DecimalType => d.precision <= 15
        case _ => false
      }
      require(ok, s"spearmanMatrix: column $c has type $dt; values must " +
        "map injectively onto the double melt column (int/float/double/" +
        "long within ±2^53/decimal precision <= 15)")
    }
    val longCols = cols.filter(c => df.schema(c).dataType == LongType)
    val clean = df
      .filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .select(cols.map(c => col(c)): _*)
    // long-column injectivity bounds need an EXACT pre-pass (a long
    // beyond ±2^53 silently collapses distinct values to one rank
    // after the cast("double") melt, and post-cast bounds have a
    // one-ulp blind spot at exactly 2^53); the pass is paid only when
    // a long column is present — int/float/double/decimal(≤15) inputs
    // skip the extra corpus scan entirely (n comes from the prefix
    // probe below).
    if (longCols.nonEmpty) {
      val boundAggs = longCols.flatMap(c => Seq(min(col(c)), max(col(c))))
      val nrow = clean.agg(count(lit(1)), boundAggs: _*).head()
      if (nrow.getLong(0) > 0) longCols.zipWithIndex.foreach {
        case (c, i) =>
          val lo = nrow.getLong(1 + 2 * i)
          val hi = nrow.getLong(2 + 2 * i)
          require(lo >= -(1L << 53) && hi <= (1L << 53),
            s"spearmanMatrix: long column $c has values outside ±2^53 " +
              s"([$lo, $hi]) — not exactly representable in the double melt")
      }
    }
    val melted = clean.select(explode(array(
        cols.zipWithIndex.map { case (c, i) =>
          struct(lit(i).as("ci"), col(c).cast("double").as("v")) }: _*))
        .as("__e"))
      .select(col("__e.ci").as("__ci"), col("__e.v").as("__v"))
    val g = melted.groupBy(col("__ci"), col("__v"))
      .agg(count(lit(1)).as("__n_s"))
    val pref = ScaleOps.prefixSumByRange(
      g, Seq("__ci", "__v"), col("__n_s"), "__gp")
    // one k-row collect off the CHECKPOINTED prefix output yields BOTH
    // n (each column melts exactly n rows after listwise deletion) and
    // the per-column rank-map cardinality that routes each join below
    val probe = pref.groupBy(col("__ci"))
      .agg(count(lit(1)).as("__m"), sum(col("__n_s")).as("__cn"))
      .collect()
    val card = probe.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = if (probe.isEmpty) 0L else probe.map(_.getLong(2)).max
    // doubled average rank: 2·below + cnt + 1, below = prefix − ci·n;
    // aggregate aliases are INDEX-keyed (q172's underscore-collision
    // lesson)
    val rk = pref.select(col("__ci"), col("__v"),
      (lit(2L) * (col("__gp") - col("__ci").cast("long") * lit(n)) +
        col("__n_s") + lit(1L)).as("__r2"))
    val ranked = cols.zipWithIndex.foldLeft(clean) { case (acc, (c, i)) =>
      val m0 = rk.filter(col("__ci") === lit(i))
        .select(col("__v").as(s"__vv_$i"), col("__r2").as(s"__r2_$i"))
      val m = if (card.getOrElse(i, 0L) <= 65536L) broadcast(m0) else m0
      acc.join(m, acc(c).cast("double") === col(s"__vv_$i"))
        .drop(s"__vv_$i")
    }
    val dec = "decimal(38,0)"
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (i, j)
    val aggCols = count(lit(1)).as("__n") +:
      (cols.indices.flatMap(i => Seq(
        sum(col(s"__r2_$i").cast(dec)).as(s"__s_$i"),
        sum(col(s"__r2_$i").cast(dec) * col(s"__r2_$i").cast(dec))
          .as(s"__ss_$i"))) ++
        pairs.map { case (i, j) =>
          sum(col(s"__r2_$i").cast(dec) * col(s"__r2_$j").cast(dec))
            .as(s"__sp_${i}_$j")
        })
    val one = ranked.agg(aggCols.head, aggCols.tail: _*)
    def rhoExpr(i: Int, j: Int): Column = {
      val n = col("__n").cast("double")
      val va = n * col(s"__ss_$i").cast("double") -
        col(s"__s_$i").cast("double") * col(s"__s_$i").cast("double")
      val vb = n * col(s"__ss_$j").cast("double") -
        col(s"__s_$j").cast("double") * col(s"__s_$j").cast("double")
      val cov = n * col(s"__sp_${i}_$j").cast("double") -
        col(s"__s_$i").cast("double") * col(s"__s_$j").cast("double")
      when(va > 0 && vb > 0, pr6(cov / sqrt(va * vb)))
        .otherwise(lit(null).cast("double"))
    }
    val stacked = pairs.map { case (i, j) =>
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        rhoExpr(i, j).as("rho6"))
    }
    one.select(explode(array(stacked: _*)).as("__p"))
      .select(col("__p.col_a"), col("__p.col_b"), col("__p.rho6"))
  }

  /** Gini concentration of non-negative `valueCol` mass across rows
    * (0 = uniform, →1 = one row holds everything), by the sorted-rank
    * identity
    *
    *   G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n        (xᵢ ascending, i 1-based)
    *
    * which is invariant to tie order (equal x swap freely), so the
    * (value, id) total order exists purely to make the prefix sum
    * deterministic. The top-decile share (mass held by the
    * ⌊n/10⌋ largest rows) rides along — the headline a corpus-health
    * report prints next to G.
    *
    * Σ i·x accumulates in decimal(38,0) (i ≤ n makes the product
    * overflow int64 past ~2e9·value rows); Σx stays int64. Floats
    * appear only in the final one-row division, 6dp-rounded.
    *
    * Scale shape: one range-partitioned prefix sum over the (value,
    * id) projection, one count action to fix n (metadata-sized), one
    * combinable aggregate.
    *
    * Output: ONE row (n_rows, total, gini6, top_decile_share6).
    */
  def giniConcentration(
      df: DataFrame,
      idCol: String,
      valueCol: String): DataFrame = {
    val v = df.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(valueCol).cast("long").as("__x"))
    val ranked = ScaleOps.prefixSumByRange(
      v, Seq("__x", idCol), lit(1L), "__r0")
    val n = ranked.count()
    require(n > 0, "giniConcentration needs a non-empty input")
    val cut = n - n / 10 // rows ranked above this are the top decile
    val nd = lit(n).cast("double")
    ranked
      .agg(
        sum(col("__x")).as("__sx"),
        sum((col("__r0") + lit(1L)).cast("decimal(38,0)") *
          col("__x").cast("decimal(38,0)")).as("__six"),
        sum(when(col("__r0") + lit(1L) > cut, col("__x")).otherwise(0L))
          .as("__topx"))
      .select(lit(n).as("n_rows"), col("__sx").as("total"),
        pr6(lit(2e0) * col("__six").cast("double") /
            (nd * col("__sx").cast("double")) -
          (nd + lit(1e0)) / nd).as("gini6"),
        pr6(col("__topx").cast("double") / col("__sx").cast("double"))
          .as("top_decile_share6"))
  }

  /** Two-sample Kolmogorov–Smirnov distance between `valueCol`'s
    * distributions in `a` and `b`: D = max |F_a(v) − F_b(v)| over the
    * merged support, with the asymptotic α = 0.05 critical value
    * c·√((n_a+n_b)/(n_a·n_b)), c = 1.358 — the
    * did-the-distribution-actually-shift test behind drift alerts
    * (q171 reports mean/null/range deltas; KS catches shape changes
    * those miss entirely).
    *
    * Exactness: the maximized quantity is carried as the INTEGER
    * |c_a·n_b − c_b·n_a| (cumulative counts cross-multiplied instead
    * of divided), so D's numerator is an exact integer max — no float
    * enters until the final one-row division, and `significant`
    * compares the 6dp-ROUNDED D against the 6dp-rounded critical
    * value (the q85 pred discipline). The cross-products stay inside
    * int64 while n_a·n_b < 2^63 (~3e9 rows a side).
    *
    * Scale shape: one union + one distinct-value hash aggregate, then
    * ONE range-partitioned prefix sum over the distinct-value frame —
    * both sides' cumulatives ride a single packed long
    * (`c_a·2³¹ + c_b`; exact while each side stays under 2³¹ rows,
    * decoded by shift/mask), with the range partitions sized for the
    * narrow (value, counters) projection — and one max aggregate.
    * Nothing row-quadratic, no single-task window.
    *
    * Output: ONE row (n_a, n_b, d_num, d6, crit6, significant);
    * NULL d/crit/significant when either side is empty.
    */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val u = a.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("__v"), lit(1L).as("__s1"), lit(0L).as("__s2"))
      .unionByName(b.filter(col(valueCol).isNotNull)
        .select(col(valueCol).as("__v"), lit(0L).as("__s1"),
          lit(1L).as("__s2")))
    val K = 1L << 31
    val g = u.groupBy(col("__v"))
      .agg(sum(col("__s1")).as("__c1"), sum(col("__s2")).as("__c2"))
      .withColumn("__pk", col("__c1") * lit(K) + col("__c2"))
    val p = ScaleOps.prefixSumByRange(g, Seq("__v"), col("__pk"), "__bp",
      targetPartBytes = 1L << 20)
    val tot = g.agg(coalesce(sum(col("__c1")), lit(0L)).as("__n1"),
      coalesce(sum(col("__c2")), lit(0L)).as("__n2"))
    val dmax = p.crossJoin(broadcast(tot))
      .select(abs(
        (shiftright(col("__bp"), 31) + col("__c1")) * col("__n2") -
          (col("__bp").bitwiseAND(lit(K - 1L)) + col("__c2")) * col("__n1"))
        .as("__dn"))
      .agg(coalesce(max(col("__dn")), lit(0L)).as("d_num"))
      .crossJoin(broadcast(tot))
    val n1d = col("__n1").cast("double")
    val n2d = col("__n2").cast("double")
    val ok = col("__n1") > 0 && col("__n2") > 0
    val d6 = pr6(col("d_num").cast("double") / (n1d * n2d))
    val crit6 = pr6(lit(1.358) * sqrt((n1d + n2d) / (n1d * n2d)))
    dmax.select(col("__n1").as("n_a"), col("__n2").as("n_b"),
      col("d_num"),
      when(ok, d6).otherwise(lit(null).cast("double")).as("d6"),
      when(ok, crit6).otherwise(lit(null).cast("double")).as("crit6"),
      when(ok, d6 > crit6).otherwise(lit(null).cast("boolean"))
        .as("significant"))
  }

  /** Pareto/ABC classification: items ranked by a micro-unit value,
    * each stamped with its INCLUSIVE cumulative share of the total
    * and the classic inventory class — A while the running share
    * stays ≤ `aCut`, B while ≤ `bCut`, else C (defaults 80/95;
    * Pareto 1896 by way of every ops textbook). The "which 20% of
    * parts carry 80% of revenue" readout, and the long-tail cut
    * behind corpus-pruning decisions.
    *
    * Exactness: values arrive as int64 micro units, the running
    * cumulative is a range-partitioned prefix sum of exact integers,
    * and both class thresholds compare integer cross-products
    * (cum·100 ≤ cut·total — no float ever decides a class) carried
    * in decimal(38,0), so the products hold at any total the int64
    * micro sums themselves can reach (a long cross-product overflows
    * at ~9e16 micro total — the 10× deck already crosses it). Only
    * the reported share is a double, 6dp-snapped.
    *
    * Ties rank under the (value DESC, id ASC) total order, so equal
    * values cannot float between classes across runs.
    *
    * Scale shape: one key aggregate to the item frame, ONE
    * range-partitioned prefix sum over it ([[ScaleOps.prefixSumByRange]]
    * — never a single-task window), one broadcast 1-row total.
    *
    * Output: (idCol, value6, cum_share6, abc_class); callers order.
    */
  def paretoAbc(
      items: DataFrame,
      idCol: String,
      microCol: String,
      aCut: Int = 80,
      bCut: Int = 95): DataFrame = {
    require(0 < aCut && aCut <= bCut && bCut <= 100,
      s"need 0 < aCut <= bCut <= 100, got $aCut/$bCut")
    val base = items.select(col(idCol).as("__id"),
      col(microCol).cast("long").as("__v"),
      (-col(microCol).cast("long")).as("__nv"))
    val p = ScaleOps.prefixSumByRange(base, Seq("__nv", "__id"),
      col("__v"), "__before", targetPartBytes = 1L << 20)
    val tot = p.agg(coalesce(sum(col("__v")), lit(0L)).as("__tot"))
    p.crossJoin(broadcast(tot))
      .withColumn("__cum", col("__before") + col("__v"))
      .select(col("__id").as(idCol),
        (col("__v").cast("double") / lit(1e6)).as("value6"),
        when(col("__tot") > 0,
          pr6(col("__cum").cast("double") / col("__tot").cast("double")))
          .otherwise(lit(null).cast("double")).as("cum_share6"),
        when(col("__tot") > 0, {
          val cumD = col("__cum").cast("decimal(38,0)")
          val totD = col("__tot").cast("decimal(38,0)")
          when(cumD * lit(100) <= lit(aCut) * totD, "A")
            .when(cumD * lit(100) <= lit(bCut) * totD, "B")
            .otherwise("C")
        }).otherwise(lit(null).cast("string")).as("abc_class"))
  }

  /** Exact WEIGHTED quantiles per group: the smallest value whose
    * inclusive cumulative weight reaches p% of the group's total —
    * "the median TOKEN lives in a doc of length X", which the
    * count-weighted quantiles (q159/q216) cannot say when weights
    * skew (a handful of huge docs can carry most of the token mass).
    *
    * Pure integer arithmetic end to end: the cumulative is an exact
    * prefix sum of int64 weights under the (value, id) total order,
    * the threshold compare is the cross-product cum·100 ≥ p·W (no
    * float, no interpolation — the answer is a raw input value), and
    * ties/zero-weight rows resolve identically in any engine because
    * the selection is min(value | inclusive-cum ≥ threshold). The
    * cross-product rides decimal(38,0) (HUGEINT in the oracle) — the
    * same overflow class [[paretoAbc]] hit on the 10× deck, closed
    * the same way, so no W < ~9e16 caveat survives.
    *
    * Scale shape: ONE range-partitioned prefix pass over
    * (group, value, id) ([[ScaleOps.prefixSumByRange]] — the q214
    * shared-pass idiom: per-group cum = global prefix minus the
    * group's first prefix), one group-grain offset/total aggregate,
    * one combinable min-per-percentile aggregate, then a row-local
    * stack to long format. No per-group window task, nothing
    * value-buffering.
    *
    * Output: (keyCol, pct, value, w_total), one row per
    * (group, pct); callers order.
    */
  def groupedWeightedQuantiles(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      idCol: String,
      weightCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1,100], got $pcts")
    val base = df.select(col(keyCol).as("__k"),
      col(valueCol).cast("long").as("__v"), col(idCol).as("__id"),
      col(weightCol).cast("long").as("__w"))
    val p = ScaleOps.prefixSumByRange(base, Seq("__k", "__v", "__id"),
      col("__w"), "__wb", targetPartBytes = 1L << 20)
    val g = p.groupBy(col("__k"))
      .agg(min(col("__wb")).as("__off"), sum(col("__w")).as("w_total"))
    val cum = p.join(g, Seq("__k"))
      .withColumn("__cum", col("__wb") - col("__off") + col("__w"))
    val dec = "decimal(38,0)"
    val aggs = pcts.map { pc =>
      min(when(col("__cum").cast(dec) * lit(100L) >=
          lit(pc.toLong) * col("w_total").cast(dec),
        col("__v"))).as(s"__q$pc")
    }
    val picks = cum.groupBy(col("__k"), col("w_total"))
      .agg(aggs.head, aggs.tail: _*)
    picks.select(col("__k"), col("w_total"),
      explode(array(pcts.map(pc =>
        struct(lit(pc).as("pct"), col(s"__q$pc").as("value"))): _*))
        .as("__e"))
      .select(col("__k").as(keyCol), col("__e.pct").as("pct"),
        col("__e.value").as("value"), col("w_total"))
  }

  /** Decile lift/gains table: rows ranked by score DESCENDING are
    * cut into `bins` EQUAL-COUNT bins (integer rank cuts — the q183
    * discipline, no percentile floats), and each bin reads its
    * positive rate, the CUMULATIVE capture rate (share of all
    * positives found so far — the gains curve), and lift vs the base
    * rate — the campaign-targeting readout next to [[prCurve]]'s
    * threshold view: "mail the top 2 deciles, catch X% of buyers at
    * Y× random".
    *
    * Exactness: ranks come from ONE range-partitioned prefix sum
    * under the (score DESC, id) total order — on the RAW score column
    * (any orderable numeric, the [[prCurve]] convention; no silent
    * integer cast); bin = rank·bins div n is exact integer
    * arithmetic; counts are exact; the three ratios are row-local
    * doubles, 6dp-snapped. The cumulative runs on the bins-sized
    * frame (a bounded window — the vocab-rank carve-out).
    *
    * Output: (bin 0-based, n, n_pos, pos_rate6, capture6, lift6);
    * lift/pos_rate NULL for an empty input, lift NULL when there are
    * no positives. Callers order by bin.
    */
  def liftTable(
      scored: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    import org.apache.spark.sql.expressions.Window
    val base = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("__id"),
        (-col(scoreCol)).as("__ns"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__y"))
    val p = ScaleOps.prefixSumByRange(base, Seq("__ns", "__id"),
      lit(1L), "__rb", targetPartBytes = 1L << 20)
    val tot = p.agg(count(lit(1)).as("__n"),
      coalesce(sum(col("__y")), lit(0L)).as("__pos"))
    val g = p.crossJoin(broadcast(tot))
      .withColumn("bin", expr(s"(__rb * $bins) div __n"))
      .groupBy(col("bin"), col("__n"), col("__pos"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.withColumn("__cp", sum(col("n_pos")).over(w))
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    val baseRate = col("__pos").cast("double") / col("__n").cast("double")
    cum.select(col("bin"), col("n"), col("n_pos"),
      pr6(rate).as("pos_rate6"),
      when(col("__pos") > 0,
        pr6(col("__cp").cast("double") / col("__pos").cast("double")))
        .otherwise(lit(null).cast("double")).as("capture6"),
      when(col("__pos") > 0, pr6(rate / baseRate))
        .otherwise(lit(null).cast("double")).as("lift6"))
  }

  /** Knee point of the descending cumulative-value curve: the rank
    * maximizing the curve's height ABOVE the (0,0)→(n,total) chord —
    * the Kneedle-family "diminishing returns start here" readout
    * (Satopää et al. 2011) that turns [[paretoAbc]]'s fixed 80/95
    * cuts into a data-chosen one ("keep the head above the knee").
    *
    * Exactness: the argmax criterion cum_i·n − i·total is an exact
    * decimal(38,0) cross-product — no float ever picks the knee; ties
    * break to the SMALLEST rank. Only the reported share/distance are
    * doubles, 6dp-snapped.
    *
    * Scale shape: one key aggregate to the item frame, two
    * range-partitioned prefix passes over it (value cumulative +
    * rank — both item-frame-sized), one broadcast total, one
    * max-struct aggregate. No global window, nothing quadratic.
    *
    * Output: ONE row (knee_rank, knee_id, cum_share6, dist6); empty
    * on an empty or zero-total input.
    */
  def kneePoint(
      items: DataFrame,
      idCol: String,
      microCol: String): DataFrame = {
    val base = items.select(col(idCol).as("__id"),
      col(microCol).cast("long").as("__v"),
      (-col(microCol).cast("long")).as("__nv"))
    val p1 = ScaleOps.prefixSumByRange(base, Seq("__nv", "__id"),
      col("__v"), "__cb", targetPartBytes = 1L << 20)
    val p2 = ScaleOps.prefixSumByRange(p1, Seq("__nv", "__id"),
      lit(1L), "__ib", targetPartBytes = 1L << 20)
    val tot = p2.agg(coalesce(sum(col("__v")), lit(0L)).as("__tot"),
      count(lit(1)).as("__n"))
    val scored = p2.crossJoin(broadcast(tot))
      .filter(col("__tot") > 0)
      .withColumn("__cum", col("__cb") + col("__v"))
      .withColumn("__i", col("__ib") + lit(1L))
      .withColumn("__score",
        col("__cum").cast("decimal(38,0)") * col("__n") -
          col("__i").cast("decimal(38,0)") * col("__tot"))
    val top = scored.agg(max(struct(col("__score"),
      (-col("__i")).as("__ti"), col("__i"), col("__id"), col("__cum"),
      col("__tot"), col("__n"))).as("__mx"))
      .filter(col("__mx").isNotNull)
    top.select(col("__mx.__i").as("knee_rank"),
      col("__mx.__id").as("knee_id"),
      pr6(col("__mx.__cum").cast("double") /
        col("__mx.__tot").cast("double")).as("cum_share6"),
      pr6(col("__mx.__cum").cast("double") /
        col("__mx.__tot").cast("double") -
        col("__mx.__i").cast("double") / col("__mx.__n").cast("double"))
        .as("dist6"))
  }

  /** Per-key robust outlier profile: median / MAD (median absolute
    * deviation, scaled by 1.4826 ≈ 1/Φ⁻¹(3/4) to be σ-consistent)
    * and the count of points beyond `k` robust sigmas — the outlier
    * detector that, unlike the rolling z-score (q121), a single
    * wild point cannot poison, because medians don't chase it.
    *
    * Exactness: both medians are SELECTED order statistics (the
    * LOWER median, rank (n+1) div 2 under the (value, tie) total
    * order) — never averaged, so they are raw input values and
    * bit-identical in any engine; the only arithmetic is |x − med|
    * and the threshold product, and the outlier compare runs on
    * 6dp-ROUNDED deviation vs 6dp-rounded threshold (the q85 pred
    * discipline).
    *
    * Scale shape: ONE key exchange carries everything — both rank
    * passes are windows over the same key partitioning (a re-sort
    * within partitions, no second shuffle) and the final rollup
    * groups on the same key. Per-key state never leaves the
    * executor.
    *
    * Output: (keyCol, n, median, mad, n_outliers), one row per key.
    */
  def robustOutliers(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      tieCol: String,
      k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val wVal = Window.partitionBy(col(keyCol))
      .orderBy(col("__x"), col(tieCol))
    val wAll = Window.partitionBy(col(keyCol))
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(tieCol),
        col(valueCol).cast("double").as("__x"))
      .withColumn("__rn", row_number().over(wVal))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__m", expr("(__n + 1L) div 2L"))
      .withColumn("__med",
        max(when(col("__rn") === col("__m"), col("__x"))).over(wAll))
      .withColumn("__dev", abs(col("__x") - col("__med")))
    val wDev = Window.partitionBy(col(keyCol))
      .orderBy(col("__dev"), col(tieCol))
    val withMad = ranked
      .withColumn("__rn2", row_number().over(wDev))
      .withColumn("__mad",
        max(when(col("__rn2") === col("__m"), col("__dev"))).over(wAll))
    withMad
      .groupBy(col(keyCol))
      .agg(max(col("__n")).as("n"), max(col("__med")).as("median"),
        max(col("__mad")).as("mad"),
        sum(when(pr6(col("__dev")) >
          pr6(lit(k) * lit(1.4826) * col("__mad")), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Poisson(1) CDF in integer micro-units — the deterministic
    * resampling weights' inverse-CDF thresholds (u < cdf(k) → weight
    * k; the ≥6 tail, mass 6e-5, caps at 6). Hard literals so engine
    * and oracle compare the SAME integers.
    */
  private[graft] val PoissonCdfMicro: Seq[Long] =
    Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L)

  /** Poisson-bootstrap confidence interval for the mean of
    * `valueCol` (integer-valued; pre-snap doubles to micro-units) —
    * the one-pass, per-row-independent bootstrap used at data scale
    * (each replicate reweights every row by an independent
    * Poisson(1) count, the large-n limit of multinomial resampling),
    * where classic resampling would need n draws per replicate.
    * Replicate weights are md5-uniform inverse-CDF draws
    * ([[PoissonCdfMicro]]) keyed by (id, replicate) — fully
    * deterministic, so the oracle replays every weight.
    *
    * Replicate sums are exact integer aggregates; replicate means
    * are identical doubles in both engines, so sorting and selecting
    * the 2.5%/97.5% order statistics is deterministic. Output
    * rounding only at the end.
    *
    * Scale shape: the b-way row expansion feeds a b-group hash
    * aggregate — map-side combine collapses each task to ≤ b rows
    * before the shuffle, so the exchange carries b·tasks rows
    * however large the corpus; the CI selection runs on b values.
    *
    * Output: ONE row (n, b, mean6, ci_lo6, ci_hi6).
    */
  def poissonBootstrapMean(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      b: Int = 64): DataFrame = {
    require(b >= 4 && b <= 1024, s"replicates must be in [4, 1024], got $b")
    val x = df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(valueCol).cast("long").as("__x"))
    val rep = x.select(col("__id"), col("__x"),
      explode(array((0 until b).map(j => lit(j.toLong)): _*)).as("__j"))
    val u = graft.functions.PortableHash.md5Long60(
      concat(col("__id"), lit(":"), col("__j").cast("string"))) %
      lit(1000000L)
    val w = PoissonCdfMicro.zipWithIndex.reverse
      .foldLeft(lit(6L)) { case (acc, (t, k)) =>
        when(u < lit(t), lit(k.toLong)).otherwise(acc)
      }
    val means = rep
      .withColumn("__w", w)
      .groupBy(col("__j"))
      .agg(sum(col("__w") * col("__x")).as("__swx"),
        sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .select((col("__swx").cast("double") / col("__sw").cast("double"))
        .as("__mu"))
    val ci = means.agg(sort_array(collect_list(col("__mu"))).as("__l"))
    val base = x.agg(count(lit(1)).as("__n"), sum(col("__x")).as("__sx"))
    val il = b * 25 / 1000 + 1  // 1-based order-statistic indices
    val iu = b * 975 / 1000 + 1
    ci.crossJoin(base).select(
      col("__n").as("n"), lit(b.toLong).as("b"),
      pr6(col("__sx").cast("double") / col("__n").cast("double"))
        .as("mean6"),
      pr6(element_at(col("__l"), il)).as("ci_lo6"),
      pr6(element_at(col("__l"), iu)).as("ci_hi6"))
  }

  /** Wald's sequential probability ratio test (SPRT, Wald 1945) over
    * an ORDERED Bernoulli trial stream: H₀: p = p0 vs H₁: p = p1,
    * stop the first time the log-likelihood ratio leaves
    * (ln(β/(1−α)), ln((1−β)/α)) — the always-valid sequential
    * readout that, unlike the fixed-horizon z test (q189), you may
    * peek at after every trial.
    *
    * Because trials are Bernoulli, LLRₜ = s·A + (t−s)·B where s =
    * successes so far and A/B are the per-outcome log terms — so ONE
    * range-partitioned prefix sum over the packed long `2³¹ + x`
    * (the q192 packing; trial count in the high bits, successes in
    * the low) carries the whole trajectory, and A/B/thresholds are
    * integer micro-unit constants, making every crossing compare
    * exact integer arithmetic.
    *
    * Output: ONE row (n_trials, n_success, up_idx, dn_idx, decision,
    * final_llr6) — `up_idx`/`dn_idx` the first 1-based trial index
    * crossing the H₁/H₀ bound (NULL if never), decision the EARLIER
    * crossing or 'continue'.
    */
  def sprt(
      trials: DataFrame,
      orderCols: Seq[String],
      xCol: String,
      p0: Double,
      p1: Double,
      alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct interior p0/p1, got $p0/$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need interior alpha/beta, got $alpha/$beta")
    def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong
    val aTerm = micro(math.log(p1 / p0))            // x = 1 term
    val bTerm = micro(math.log((1 - p1) / (1 - p0))) // x = 0 term
    val up = micro(math.log((1 - beta) / alpha))
    val dn = micro(math.log(beta / (1 - alpha)))
    val K = 1L << 31
    val t = trials.select(
      (orderCols.map(col) :+
        (lit(K) + col(xCol).cast("long")).as("__pk")): _*)
    val p = ScaleOps.prefixSumByRange(t, orderCols, col("__pk"), "__bp",
      targetPartBytes = 1L << 20)
    val llr = p.select(
      (shiftright(col("__bp"), 31) + lit(1L)).as("__i"),
      (col("__bp").bitwiseAND(lit(K - 1L)) +
        col("__pk").bitwiseAND(lit(K - 1L))).as("__s"))
      .select(col("__i"),
        (col("__s") * lit(aTerm) + (col("__i") - col("__s")) * lit(bTerm))
          .as("__llr"), col("__s"))
    val agg = llr.agg(
      coalesce(count(lit(1)), lit(0L)).as("n_trials"),
      coalesce(max(col("__s")), lit(0L)).as("n_success"),
      min(when(col("__llr") >= up, col("__i"))).as("up_idx"),
      min(when(col("__llr") <= dn, col("__i"))).as("dn_idx"))
    agg.select(col("n_trials"), col("n_success"), col("up_idx"),
      col("dn_idx"),
      when(col("up_idx").isNotNull &&
        (col("dn_idx").isNull || col("up_idx") < col("dn_idx")),
        lit("accept_h1"))
        .when(col("dn_idx").isNotNull, lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"),
      ((col("n_success") * lit(aTerm) +
        (col("n_trials") - col("n_success")) * lit(bTerm)).cast("double") /
        lit(1e6)).as("final_llr6"))
  }

  /** Per-group winsorized mean over EXACT order statistics: clamp the
    * micro-unit outcome to its group's [p_lo, p_hi] percentile values
    * (ranks `ceil(pct·n/100)`, integer arithmetic — `0.05·n` in
    * floats rounds the rank UP on exact multiples) and report the
    * clamped mean next to the raw one — the robust experiment
    * readout: one whale in one arm moves a raw revenue mean
    * arbitrarily, it moves the winsorized mean by at most the clamp
    * width.
    *
    * Scale shape: one (group, value) hash aggregate, ONE
    * range-partitioned prefix sum over the whole distinct frame
    * ordered by (group, value) — per-group ranks are the global
    * prefix minus the group's offset (its min prefix), so ANY number
    * of groups shares one pass, no per-group window, no per-group
    * job. Order statistics and the clamped sum are then joins
    * against the group-sized stats frame; all sums exact int64
    * micro.
    *
    * Output per group: (groupCol, n, mean6, lo6, hi6,
    * winsorized_mean6), NULL means on empty groups can't occur (a
    * group exists only via its rows).
    */
  /** Shared per-group rank machinery: (group, value) counts with the
    * per-group EXCLUSIVE prefix (`__below`) derived from ONE global
    * range-partitioned prefix sum (per-group rank = global prefix −
    * the group's offset — any number of groups in one pass). Also
    * carries per-group `__n` and the micro sum `__s`. Used by
    * [[winsorizedMeans]] and [[groupedExactQuantiles]].
    */
  private def rankedCounts(
      df: DataFrame,
      groupCol: String,
      microCol: String): (DataFrame, DataFrame) = {
    val counts = df
      .select(col(groupCol).as("__g"), col(microCol).cast("long")
        .as("__v"))
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c"))
    val pfx = ScaleOps.prefixSumByRange(counts, Seq("__g", "__v"),
      col("__c"), "__gb")
    val offs = pfx.groupBy(col("__g")).agg(min(col("__gb")).as("__off"),
      sum(col("__c")).as("__n"), sum(col("__v") * col("__c")).as("__s"))
    val ranked = pfx.join(broadcast(offs), Seq("__g"))
      .select(col("__g"), col("__v"), col("__c"),
        (col("__gb") - col("__off")).as("__below"), col("__n"))
    (ranked, offs)
  }

  /** Per-group EXACT quantiles at integer percent points: the value
    * at rank ceil(pct·n/100) (integer arithmetic — see
    * [[winsorizedMeans]] on why a float 0.05·n is wrong). One shared
    * range-partitioned prefix pass for every group; the probe is a
    * group×pct-sized aggregate.
    *
    * Output: (groupCol, pct, q6 — the order statistic in original
    * units), ordered by caller.
    */
  def groupedExactQuantiles(
      df: DataFrame,
      groupCol: String,
      microCol: String,
      pcts: Seq[Int]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => 0 < p && p <= 100),
      s"pcts must lie in (0, 100], got $pcts")
    val (ranked, _) = rankedCounts(df, groupCol, microCol)
    val spark = df.sparkSession
    import spark.implicits._
    val probe = pcts.toDF("pct")
    ranked.crossJoin(broadcast(probe))
      .filter(col("__below") + col("__c") >=
        floor((col("__n") * col("pct").cast("long") + lit(99L)) /
          lit(100L)).cast("long"))
      .groupBy(col("__g"), col("pct"))
      .agg(min(col("__v")).as("__q"))
      .select(col("__g").as(groupCol), col("pct"),
        (col("__q").cast("double") / lit(1e6)).as("q6"))
  }

  def winsorizedMeans(
      df: DataFrame,
      groupCol: String,
      microCol: String,
      pctLo: Int = 5,
      pctHi: Int = 95): DataFrame = {
    require(0 < pctLo && pctLo < pctHi && pctHi <= 100,
      s"need 0 < pctLo < pctHi <= 100, got ($pctLo, $pctHi)")
    val (ranked, offs) = rankedCounts(df, groupCol, microCol)
    val kLo = (col("__n") * lit(pctLo.toLong) + lit(99L)) / lit(100L)
    val kHi = (col("__n") * lit(pctHi.toLong) + lit(99L)) / lit(100L)
    // integer division: Column./ on longs is a double divide — the
    // floor-cast is exact (operands < 2^53)
    val stats = ranked
      .select(col("__g"), col("__v"),
        (col("__below") + col("__c")).as("__cum"),
        floor(kLo).cast("long").as("__kLo"),
        floor(kHi).cast("long").as("__kHi"))
      .groupBy(col("__g"))
      .agg(min(when(col("__cum") >= col("__kLo"), col("__v")))
          .as("__lo"),
        min(when(col("__cum") >= col("__kHi"), col("__v"))).as("__hi"))
    val clamped = ranked.join(broadcast(stats), Seq("__g"))
      .select(col("__g"),
        (when(col("__v") < col("__lo"), col("__lo"))
          .when(col("__v") > col("__hi"), col("__hi"))
          .otherwise(col("__v")) * col("__c")).as("__wc"))
      .groupBy(col("__g")).agg(sum(col("__wc")).as("__ws"))
    offs.join(stats, Seq("__g")).join(clamped, Seq("__g"))
      .select(col("__g").as(groupCol), col("__n").as("n"),
        pr6(col("__s").cast("double") / lit(1e6) /
          col("__n").cast("double")).as("mean6"),
        (col("__lo").cast("double") / lit(1e6)).as("lo6"),
        (col("__hi").cast("double") / lit(1e6)).as("hi6"),
        pr6(col("__ws").cast("double") / lit(1e6) /
          col("__n").cast("double")).as("winsorized_mean6"))
  }
}
