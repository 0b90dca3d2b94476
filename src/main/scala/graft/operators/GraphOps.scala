package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over mined pair frames (SURVEY R-19 terminal
  * steps): PageRank-style score propagation — the published recipe
  * behind host/document importance weighting in web-corpus curation
  * (Common Crawl host ranks; Brin & Page 1998), here run over any
  * undirected pair frame such as the staged near-dup graph.
  */
object GraphOps {

  /** The size-routing gate shared by every iterative operator here
    * (r17; the [[graft.operators.Similarity]] byte-gate discipline):
    * per-round score/frontier/label frames are node-sized, their row
    * counts are known EXACTLY (each round materializes through an
    * eager localCheckpoint, and the loops already count or can count
    * them once), and checkpointed frames read as size-unknown to
    * Catalyst — so the planner can never choose the broadcast join
    * itself. At or under this many rows the node-sized side is
    * explicitly broadcast and the EDGE frame streams with zero
    * per-round exchanges; above it the shuffle plans are unchanged
    * (correct at any scale). Results are identical either way — the
    * joins are exact.
    *
    * The `streamRows >= rows` condition keeps the router honest on
    * TINY-edge graphs (measured r17: the near-dup graph under
    * q184_kcore has ~1/4 as many edges as nodes, and per-round
    * broadcast builds cost MORE than the small shuffles they
    * replace — +29% isolated): broadcasting the node side only pays
    * when the streaming side is at least as large as what would be
    * broadcast.
    */
  private val MaxBroadcastRows = 1000000L

  private def routed(df: DataFrame, rows: Long, streamRows: Long): DataFrame =
    if (rows <= MaxBroadcastRows && streamRows >= rows) broadcast(df) else df

  /** PageRank over an undirected pair frame. `pairs` carries one row
    * per undirected edge (idA, idB); each edge contributes in both
    * directions. `nodes` fixes the universe (isolated nodes keep the
    * teleport mass `(1-damping)/N`).
    *
    * Determinism contract (oracle-replayable, q111): every iteration
    * rounds to 6 decimals with the portable `floor(x*1e6+0.5)/1e6`,
    * so float summation order cannot drift ACROSS iterations; the
    * update is the plain power step
    * `pr' = (1-d)/N + d * Σ_in pr/deg` with NO dangling-mass
    * redistribution (documented simplification — dangling rank
    * teleports implicitly, exactly what the unrolled SQL replays).
    * The teleport term is COMPUTED as `1.0 - damping` on the engine
    * side, so the oracle must write the same subtraction — `(1.0 -
    * 0.85)`, never the parsed literal `0.15`, whose double bits
    * differ from the subtraction's by one ulp (the bm25
    * literal-discipline rule, applied in the other direction).
    *
    * Scale shape: per iteration one edge-keyed join (rank onto edge
    * sources — the shuffle moves the edge frame, partitioned by a
    * growing key), one destination-keyed aggregate, one node-keyed
    * left join; each round is eagerly localCheckpoint'ed so the plan
    * stays iteration-deep, not lineage-deep (the [[Dedup.clusters]]
    * discipline).
    */
  def pageRank(
      nodes: DataFrame,
      pairs: DataFrame,
      idCol: String,
      idACol: String,
      idBCol: String,
      iterations: Int,
      damping: Double): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val ids = nodes.select(col(idCol).as("id"))
    val edges = pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val n = ids.count()
    require(n > 0, "pageRank needs a non-empty node frame")
    val edgeN = edges.count()
    var pr = ids.withColumn("pr", r6(lit(1.0) / lit(n.toDouble)))
      .localCheckpoint(true)
    var i = 0
    while (i < iterations) {
      // rank and degree frames are node-sized (n known exactly) —
      // size-routed broadcast lets the edge frame stream per round
      val contrib = edges
        .join(routed(pr.withColumnRenamed("id", "src"), n, edgeN), "src")
        .join(routed(deg, n, edgeN), "src")
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("__in"))
      val stepped = ids
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .withColumn("pr",
          r6(lit((1.0 - damping)) / lit(n.toDouble) +
            lit(damping) * coalesce(col("__in"), lit(0.0))))
        .drop("__in")
        .localCheckpoint(true)
      pr = stepped
      i += 1
    }
    pr.select(col("id").as(idCol), col("pr"))
  }

  /** Triangle count + global clustering coefficient over an
    * undirected pair frame — the third classic next to connected
    * components ([[Dedup.clusters]]) and [[pageRank]]: how CLIQUEY is
    * the near-dup graph (a high coefficient says the pair miner is
    * finding genuine duplicate clusters; a low one says scattered
    * coincidental overlaps).
    *
    * Counting uses the oriented-edge join (node order IS the
    * orientation): with every edge stored a < b, a triangle a<b<c is
    * counted EXACTLY once by joining (a,b) ⋈ (b,c) ⋈ (a,c) — the
    * standard distributed formulation, two equi-joins, no explosion
    * beyond the wedge count. Wedges (open + closed paths of length 2)
    * come from the degree frame as Σ deg·(deg−1)/2 — integer-exact.
    * Global clustering coefficient = 3·triangles / wedges (0 when
    * the graph has no wedges), rounded at 6dp.
    *
    * Output: one row (n_triangles, n_wedges, global_cc).
    *
    * Scale note: the first join keys on the shared node b — its
    * output is the closed-wedge candidate set, bounded by Σ deg(v)²;
    * for graphs with power-law hubs the published mitigation
    * (degree-ordered orientation: point each edge from the
    * lower-degree endpoint) drops in by re-orienting `pairs` before
    * the joins — near-dup graphs (small cliques) don't need it.
    */
  /** HITS hubs & authorities (Kleinberg 1999) over a BIPARTITE/
    * directed edge frame — on a purchase graph, authority(item) =
    * Σ hub(buyers) and hub(buyer) = Σ authority(items): the mutual
    * reinforcement that plain degree can't see (an item bought by
    * ten strong hubs outranks one bought by twenty drive-bys).
    *
    * Determinism discipline: scores live as INTEGER MICRO longs
    * (1e6 = 1.0) — every Σ over edges is an exact int64 sum, and
    * the per-round normalization divides by the round's MAX (the
    * standard max-norm HITS variant; max is order-free where an L2
    * norm would sum floats) in one row-local double op, re-snapped
    * to micro. Partition order can never move a score.
    *
    * Scale shape per round: two edge-keyed hash aggregates
    * (map-side combined) + two 1-row max aggregates broadcast back.
    * Edges are deduplicated first (multiplicity is intentional
    * weight otherwise — callers pick by pre-aggregating). The
    * per-round score joins are SIZE-ROUTED (r17, the byte-gate
    * discipline): a node side at or under `maxBroadcastRows` rows —
    * known exactly from a one-time count of the checkpointed node
    * frames — broadcasts its score/raw frame, so the edge frame
    * STREAMS through every round with zero edge exchanges (checked-
    * pointed frames read as size-unknown, so Catalyst can never make
    * this call itself); larger graphs keep the shuffle plan, correct
    * at any scale. `nodesDistinct = true` lets callers whose node
    * frames are primary keys skip the two defensive distincts (one
    * exchange each).
    */
  def hits(
      srcNodes: DataFrame,
      dstNodes: DataFrame,
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int,
      nodesDistinct: Boolean = false,
      maxBroadcastRows: Long = 1000000L): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def nodeFrame(nodes: DataFrame, c: String, as: String): DataFrame = {
      val proj = nodes.select(col(c).as(as))
      (if (nodesDistinct) proj else proj.distinct()).localCheckpoint(true)
    }
    // edge and node frames are independent job graphs — materialize
    // them concurrently (the shared [[Overlap]] discipline: dedicated
    // pool, never the global ForkJoin pool) instead of three serial
    // jobs
    val eF = Overlap.future {
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
        .distinct().localCheckpoint(true)
    }
    val srcsF = Overlap.future { nodeFrame(srcNodes, srcCol, "__s") }
    val dstsF = Overlap.future { nodeFrame(dstNodes, dstCol, "__d") }
    val e = Overlap.await(eF)
    val srcs = Overlap.await(srcsF)
    val dsts = Overlap.await(dstsF)
    // exact counts off the checkpointed frames (cheap) route the
    // per-round joins: ≤ maxBroadcastRows node rows AND an edge frame
    // at least that large → broadcast the score side, stream the edges
    val nSrc = srcs.count()
    val nDst = dsts.count()
    val eN = e.count()
    def routed(df: DataFrame, rows: Long, streamRows: Long): DataFrame =
      if (rows <= maxBroadcastRows && streamRows >= rows) broadcast(df)
      else df
    def renorm(df: DataFrame, idCol: String, raw: String): DataFrame = {
      val mx = df.agg(max(col(raw)).as("__mx"))
      df.crossJoin(broadcast(mx))
        .select(col(idCol),
          when(col("__mx") > 0L,
            floor(col(raw).cast("double") / col("__mx").cast("double") *
              lit(1e6) + lit(0.5)).cast("long"))
            .otherwise(lit(0L)).as("__score"))
    }
    var hub = srcs.withColumn("__score", lit(1000000L))
      .localCheckpoint(true)
    var auth = dsts.withColumn("__score", lit(0L))
    var i = 0
    while (i < rounds) {
      val aRaw = e.join(
          routed(hub.withColumnRenamed("__s", "__js"), nSrc, eN),
          col("__js") === col("__s"))
        .groupBy(col("__d")).agg(sum(col("__score")).as("__raw"))
      auth = renorm(
        dsts.join(aRaw, Seq("__d"), "left")
          .select(col("__d"), coalesce(col("__raw"), lit(0L)).as("__raw")),
        "__d", "__raw").localCheckpoint(true)
      val hRaw = e.join(
          routed(auth.withColumnRenamed("__d", "__jd"), nDst, eN),
          col("__jd") === col("__d"))
        .groupBy(col("__s")).agg(sum(col("__score")).as("__raw"))
      hub = renorm(
        srcs.join(hRaw, Seq("__s"), "left")
          .select(col("__s"), coalesce(col("__raw"), lit(0L)).as("__raw")),
        "__s", "__raw").localCheckpoint(true)
      i += 1
    }
    val hubs = hub.select(col("__s").as(srcCol),
      (col("__score").cast("double") / lit(1e6)).as("hub6"))
    val auths = auth.select(col("__d").as(dstCol),
      (col("__score").cast("double") / lit(1e6)).as("authority6"))
    (hubs, auths)
  }

  def triangleStats(
      pairs: DataFrame,
      idACol: String,
      idBCol: String): DataFrame = {
    val e = pairs.select(col(idACol).as("a"), col(idBCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
    val tri = e.alias("ab")
      .join(e.alias("bc"), col("ab.b") === col("bc.a"))
      .join(e.alias("ac"),
        col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      coalesce(sum(col("d") * (col("d") - 1) / lit(2)), lit(0L))
        .cast("long").as("n_wedges"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          floor(lit(3.0) * col("n_triangles") / col("n_wedges") * lit(1e6)
            + lit(0.5)) / lit(1e6))
          .otherwise(lit(0.0)).as("global_cc"))
  }

  /** k-core peeling over an undirected pair frame (Seidman 1983; the
    * graph-density audit next to [[triangleStats]]): each round
    * removes every node whose degree WITHIN the surviving subgraph is
    * below `k`, for `rounds` rounds — the bounded-round prefix of the
    * fixed-point k-core (full convergence needs ≤ diameter rounds;
    * near-dup clique graphs converge in 1–2). Nodes left standing are
    * the dense cores the near-dup miner's clusters should look like;
    * a graph that peels to nothing at k=2 is all scattered pairs.
    *
    * Deterministic: degrees are integer counts, no tie-breaks needed
    * (removal is a pure threshold). Per round one alive-filtered edge
    * semi-join + one degree aggregate + one node left-join, each
    * round localCheckpoint'ed ([[pageRank]]'s discipline). The oracle
    * unrolls the rounds as CTEs.
    *
    * Output: (idCol, in_core) for every node — isolated nodes read
    * false from round 1.
    */
  /** Link prediction over an undirected pair frame: every
    * NON-adjacent node pair at distance 2 scored by common-neighbor
    * count and the resource-allocation index Σ_{w∈Γ(u)∩Γ(v)} 1/deg(w)
    * (Zhou, Lü & Zhang 2009) — RA rather than Adamic–Adar's
    * 1/ln(deg) deliberately: the house oracle discipline avoids
    * cross-engine `ln`, and RA dominates AA on dedup-style graphs in
    * the published benchmarks. The "which docs are about to become
    * duplicates" / "which nodes the next edge joins" readout over
    * the mined near-dup graph.
    *
    * Determinism: each common neighbor contributes the MICRO-SNAPPED
    * term floor(1e6/deg + 0.5) and the pair's score is the exact
    * int64 sum of those — order-free at any partition layout (the
    * prCurve per-term-snap discipline); ra6 = sum/1e6.
    *
    * Scale shape: wedge enumeration keyed on the intermediary w —
    * one degree aggregate, one groupBy(w) into maxDeg-bounded sorted
    * neighbor arrays, a row-local double explode of the i<j pairs
    * (Σ deg(w)² rows over KEPT intermediaries), one (u,v) aggregate,
    * one anti-join against the edge set. `maxDeg` drops hub
    * intermediaries BEFORE the join (default 64), bounding the
    * expansion at maxDeg·|E| rows however the degree distribution
    * skews; the dropped terms are RA's smallest (1/deg ≤ 1/maxDeg),
    * the standard hub cut in the link-prediction literature. Set it
    * to the corpus's honest hub threshold, not ∞.
    *
    * Output: (id_a, id_b, cn, ra6) with id_a < id_b, one row per
    * candidate non-edge with ≥1 kept common neighbor; callers order.
    */
  def linkPredict(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      maxDeg: Int = 64,
      pairsNormalized: Boolean = false): DataFrame = {
    require(maxDeg >= 1, s"maxDeg must be >= 1, got $maxDeg")
    // the sorted-array i<j enumeration below equals the old
    // __ua < __ub filter only for types where sort_array's order and
    // `<` agree on every value — integral/string ids. DoubleType ids
    // containing NaN would diverge (sort_array places NaN last; `<`
    // drops NaN comparisons), so refuse them outright.
    Seq(idACol, idBCol).foreach { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType |
            org.apache.spark.sql.types.FloatType =>
          throw new IllegalArgumentException(
            s"linkPredict requires integral or string node ids; '$c' is " +
              s"${pairs.schema(c).dataType.simpleString} (NaN breaks the " +
              "sorted-array pair enumeration)")
        case _ => ()
      }
    }
    // pairsNormalized = true: the caller guarantees a distinct
    // undirected edge list with no self-loops (the mined co-purchase
    // memo is exactly that) — skip the defensive normalize+distinct
    // exchange. The least/greatest projection stays (orientation).
    val edRaw = pairs.filter(col(idACol) =!= col(idBCol))
      .select(least(col(idACol), col(idBCol)).as("__a"),
        greatest(col(idACol), col(idBCol)).as("__b"))
    val ed = (if (pairsNormalized) edRaw else edRaw.distinct())
      .localCheckpoint(true) // feeds adjacency twice + the anti-join
    val adj = ed.select(col("__a").as("__w"), col("__b").as("__u"))
      .unionByName(ed.select(col("__b").as("__w"), col("__a").as("__u")))
    val deg = adj.groupBy(col("__w")).agg(count(lit(1)).as("__dw"))
    val kept = adj.join(deg, Seq("__w")).filter(col("__dw") <= maxDeg)
    // wedge mine via per-intermediary ADJACENCY ARRAYS: group w's kept
    // neighbors into one sorted array (bounded by maxDeg) and emit the
    // i<j pairs with a double explode — ONE exchange of `kept` and no
    // sort-merge join, versus the previous self-join's two shuffles +
    // sort (an identical-projection self-join to force ReuseExchange
    // was tried first — column pruning re-projects the RA-term-free
    // side, exchanges stop canonicalizing equal, it bought nothing;
    // the array mine measured −47% on the q224 shape, equality
    // asserted; BASELINE.md, "Post-close addendum 2: q224 wedge mine
    // self-join → adjacency arrays"). Neighbor lists are duplicate-free
    // (ed is distinct + oriented) so sorted i<j enumeration equals the
    // __ua < __ub filter exactly — array_sort and `<` share Spark's
    // ordering for longs and strings alike. The self-join's `kept`
    // checkpoint is gone too: the frame now has ONE consumer.
    val wedges = kept.groupBy(col("__w"), col("__dw"))
      .agg(sort_array(collect_list(col("__u"))).as("__ns"))
      .select(col("__dw"), col("__ns"),
        posexplode(col("__ns")).as(Seq("__i", "__ua")))
      .select(col("__ua"),
        explode(slice(col("__ns"), col("__i") + lit(2),
          size(col("__ns")) - col("__i") - lit(1))).as("__ub"),
        col("__dw"))
    val cand = wedges.groupBy(col("__ua"), col("__ub"))
      .agg(count(lit(1)).as("cn"),
        sum(floor(lit(1e6) / col("__dw").cast("double") + lit(0.5))
          .cast("long")).as("__ram"))
    cand.join(ed,
        cand("__ua") === ed("__a") && cand("__ub") === ed("__b"),
        "left_anti")
      .select(col("__ua").as("id_a"), col("__ub").as("id_b"), col("cn"),
        (col("__ram").cast("double") / lit(1e6)).as("ra6"))
  }

  /** Multi-source BFS hop distances over an undirected pair frame:
    * every node reachable from ANY seed within `maxHops` hops reads
    * the exact hop count of its NEAREST seed (seeds read 0, even
    * isolated ones). The reachability/radius probe over mined
    * graphs — "how much of the corpus is within k hops of the
    * flagged set".
    *
    * Pure integer set algebra — no floats anywhere, so nothing needs
    * snapping and any engine replays it exactly.
    *
    * Scale shape: per hop, ONE equi-join of the CURRENT FRONTIER
    * onto the adjacency frame (shuffle keyed on node id, frontier-
    * sized left side) + one anti-join against the settled set; each
    * round is localCheckpoint'ed so the plan stays hop-deep, not
    * lineage-deep (the [[pageRank]] discipline). An empty frontier
    * short-circuits the remaining rounds (driver reads one count per
    * hop — scalar, the allowed kind). Hop count is bounded by
    * `maxHops`, so the worst case is maxHops frontier joins — BFS's
    * irreducible depth; Σ frontier sizes ≤ |V|, so total join work
    * is O(|E|) per sweep however the rounds split it.
    *
    * Output: (id, hops) for settled nodes, hops ∈ [0, maxHops];
    * callers order.
    */
  def bfsHops(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16,
      s"maxHops must be in [0,16], got $maxHops")
    val adj = pairs.filter(col(idACol) =!= col(idBCol))
      .select(col(idACol).as("__w"), col(idBCol).as("__u"))
      .unionByName(pairs.filter(col(idACol) =!= col(idBCol))
        .select(col(idBCol).as("__w"), col(idACol).as("__u")))
      .distinct()
      .localCheckpoint(true) // probed once per hop
    var dist = seeds.select(col(seedCol).as("id")).distinct()
      .withColumn("hops", lit(0L))
      .localCheckpoint(true)
    var frontier = dist
    var hop = 1L
    // the loop already counts the frontier per hop (the short-circuit
    // scalar) — those exact counts also size-route the per-hop joins:
    // a node-sized frontier/settled set broadcasts, the adjacency
    // frame streams with zero per-hop exchanges
    var frontierN = frontier.count()
    var settledN = frontierN
    val adjN = adj.count()
    var live = frontierN > 0
    while (hop <= maxHops && live) {
      val fresh = routed(frontier, frontierN, adjN)
        .join(adj, col("id") === col("__w"))
        .select(col("__u").as("id")).distinct()
        // adjN is the (conservative) proxy for the fresh frame's size
        .join(routed(dist.select("id"), settledN, adjN),
          Seq("id"), "left_anti")
        .withColumn("hops", lit(hop))
        .localCheckpoint(true)
      frontierN = fresh.count()
      live = frontierN > 0
      if (live) {
        dist = dist.unionByName(fresh).localCheckpoint(true)
        settledN += frontierN
        frontier = fresh
      }
      hop += 1
    }
    dist
  }

  /** Newman modularity of a NODE-LABEL partition over an undirected
    * pair frame: Q = Σ_c (in_c/m − (deg_c/2m)²) (Newman & Girvan
    * 2004) — here used as a data-quality readout, not a community
    * detector: label the near-dup graph's nodes by their `source`
    * (or lang, or license) and Q says whether duplication stays
    * INSIDE sources (Q near its partition maximum) or leaks across
    * them (Q ≈ 0 — the contamination smell worth chasing).
    *
    * Determinism: in_c, deg_c, m are exact integer aggregates; each
    * community's term snaps to the 1e-6 grid before the final int64
    * sum (the [[linkPredict]] per-term discipline), so Q is
    * partition-order-free. Unlabeled endpoints (no row in `labels`)
    * drop with their incident edges' label pairings — supply total
    * labels if that matters.
    *
    * Scale shape: one distinct over edges, two label equi-joins
    * (labels broadcast when dimension-sized), two community-grain
    * aggregates, one 1-row total. Nothing quadratic.
    *
    * Output: one row per community (community, in_edges, deg_sum,
    * term6) + the constant modularity6; callers order.
    */
  def modularity(
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      labels: DataFrame,
      labelIdCol: String,
      labelCol: String): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val ed = pairs.filter(col(idACol) =!= col(idBCol))
      .select(least(col(idACol), col(idBCol)).as("__a"),
        greatest(col(idACol), col(idBCol)).as("__b"))
      .distinct()
      .localCheckpoint(true)
    val lab = labels.select(col(labelIdCol).as("__id"),
      col(labelCol).as("__c")).localCheckpoint(true)
    val tot = ed.agg(count(lit(1)).as("__m"))
    val withLabels = ed
      .join(lab.select(col("__id").as("__a"), col("__c").as("__ca")),
        Seq("__a"))
      .join(lab.select(col("__id").as("__b"), col("__c").as("__cb")),
        Seq("__b"))
    val inC = withLabels.filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("in_edges"))
    val degC = ed.select(col("__a").as("__id"))
      .unionByName(ed.select(col("__b").as("__id")))
      .join(lab, Seq("__id"))
      .groupBy(col("__c").as("community"))
      .agg(count(lit(1)).as("deg_sum"))
    val mD = col("__m").cast("double")
    val dd = col("deg_sum").cast("double") / (lit(2.0) * mD)
    val terms = degC.join(inC, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        col("deg_sum"))
      .crossJoin(broadcast(tot))
      .withColumn("__tm",
        when(col("__m") > 0,
          floor((col("in_edges").cast("double") / mD - dd * dd) *
            lit(1e6) + lit(0.5)).cast("long"))
          .otherwise(lit(0L)))
      .localCheckpoint(true)
    val q = terms.agg(coalesce(sum(col("__tm")), lit(0L)).as("__qm"))
      .select((col("__qm").cast("double") / lit(1e6)).as("modularity6"))
    terms.crossJoin(broadcast(q))
      .select(col("community"), col("in_edges"), col("deg_sum"),
        (col("__tm").cast("double") / lit(1e6)).as("term6"),
        col("modularity6"))
  }

  def kCore(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .localCheckpoint(true)
    var alive = nodes.select(col(idCol).as("id")).localCheckpoint(true)
    // alive only shrinks, so ONE up-front count routes every round:
    // a node-sized alive set broadcasts into the semi-joins and the
    // edge frame streams per round
    val nAlive = alive.count()
    val edgeN = edges.count()
    var i = 0
    while (i < rounds) {
      val aliveEdges = edges
        .join(routed(alive.select(col("id").as("src")), nAlive, edgeN),
          Seq("src"), "left_semi")
        .join(routed(alive.select(col("id").as("dst")), nAlive, edgeN),
          Seq("dst"), "left_semi")
      val deg = aliveEdges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("__deg"))
      alive = alive.join(deg, Seq("id"), "left")
        .filter(coalesce(col("__deg"), lit(0L)) >= k)
        .select(col("id"))
        .localCheckpoint(true)
      i += 1
    }
    nodes.select(col(idCol))
      .join(alive.select(col("id").as(idCol)).withColumn("__in", lit(true)),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__in"), lit(false)).as("in_core"))
  }

  /** Semi-supervised label propagation over an undirected pair frame
    * (Zhu & Ghahramani 2002 lineage, the FROZEN-ONCE-ASSIGNED
    * deterministic variant): seed nodes carry labels; each round,
    * every still-unlabeled node adjacent to at least one labeled node
    * takes the MAJORITY label of its labeled neighbors, ties broken by
    * the lexicographically smaller label. Assigned labels never change
    * (seeds included) — the monotone frontier makes every round a
    * deterministic integer vote the oracle unrolls as CTEs, where the
    * classic re-votable variant oscillates on bipartite structures.
    * This is the label-spreading recipe curation pipelines use to
    * extend sparse quality/topic annotations across a near-dup or
    * similarity graph.
    *
    * Scale shape ([[pageRank]]'s): per round one edge-keyed join onto
    * the CURRENT labeled set (frontier-sized, shrinking as the graph
    * saturates), one destination-keyed count aggregate, one
    * WindowGroupLimit-able rank, one node-keyed left join; each round
    * localCheckpoints so the plan stays round-deep. Rounds needed =
    * graph diameter from the seed set, typically ≤ a handful on
    * near-dup clusters.
    *
    * Output: (idCol, labelCol) — null label = unreachable from any
    * seed within `rounds`.
    */
  def labelPropagation(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      idACol: String,
      idBCol: String,
      seeds: DataFrame,
      seedIdCol: String,
      labelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))
      .orderBy(col("votes").desc, col("lbl"))
    val edges = pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .unionByName(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .localCheckpoint(true)
    var lab = nodes.select(col(idCol).as("id"))
      .join(seeds.select(col(seedIdCol).as("id"), col(labelCol).as("lbl")),
        Seq("id"), "left")
      .localCheckpoint(true)
    // lab is one row per node in every round — one count routes the
    // per-round joins (labeled subset ≤ node count)
    val nLab = lab.count()
    val edgeN = edges.count()
    var i = 0
    while (i < rounds) {
      val votes = edges
        .join(routed(lab.filter(col("lbl").isNotNull)
          .select(col("id").as("src"), col("lbl")), nLab, edgeN), "src")
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("votes"))
      val winner = votes
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("dst").as("id"), col("lbl").as("__new"))
      lab = lab.join(winner, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("__new")).as("lbl"))
        .localCheckpoint(true)
      i += 1
    }
    lab.select(col("id").as(idCol), col("lbl").as(labelCol))
  }
}
