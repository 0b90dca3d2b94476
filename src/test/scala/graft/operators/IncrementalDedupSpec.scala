package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSuiteBase, Tables}

/** The incremental index's whole value is an EXACTNESS claim:
  * append(delta) over a persisted index must reproduce a full re-mine
  * of old ∪ delta bit-for-bit — pairs and labels — while never
  * touching old corpus text. Each test attacks one leg of that claim.
  */
class IncrementalDedupSpec extends SparkSuiteBase {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), round(col("jaccard"), 9).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def labelMap(df: org.apache.spark.sql.DataFrame,
      idName: String = "doc"): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long](idName) -> r.getAs[Long]("cluster")).toMap

  test("append(delta) equals a full re-mine on the sf0.001 corpus") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val dir = tmpDir("incdedup-eq")

    IncrementalDedup.buildIndex(old, "doc_id", "text", "lang",
      n = 3, threshold = 0.8, maxShingleDocFreq = 1000, dir = s"$dir/base")
    val appended = IncrementalDedup.append(delta, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")

    val fullPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang",
      n = 3, threshold = 0.8)
    assert(pairSet(appended.pairs) == pairSet(fullPairs),
      "incremental pair list diverges from the full re-mine")

    val fullLabels = Dedup.clusters(docs, "doc_id", fullPairs)
    assert(labelMap(appended.labels) == labelMap(fullLabels, "doc_id"),
      "incremental labels diverge from the full re-mine")
  }

  test("append never needs the old corpus text (source deleted)") {
    import spark.implicits._
    val olds = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon eta", "en"),
      (3L, "one two three four five six", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = tmpDir("incdedup-del")
    // the old corpus lives ONLY in this parquet dir
    val oldPath = s"$dir/old-corpus"
    olds.write.parquet(oldPath)
    IncrementalDedup.buildIndex(spark.read.parquet(oldPath),
      "doc_id", "text", "lang", n = 3, threshold = 0.5,
      maxShingleDocFreq = 1000, dir = s"$dir/base")

    // destroy the old text: if append rescans it, it CANNOT succeed
    val p = new org.apache.hadoop.fs.Path(oldPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    val delta = Seq(
      (10L, "alpha beta gamma delta epsilon theta", "en"),
      (11L, "seven eight nine ten eleven twelve", "en"))
      .toDF("doc_id", "text", "lang")
    val appended = IncrementalDedup.append(delta, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")
    val labels = labelMap(appended.labels)
    // docs 1, 2 and 10 share 4-of-6 shingle overlap → one cluster
    // labeled by the min id; 3 and 11 are singletons
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(10L) == 1L)
    assert(labels(3L) == 3L && labels(11L) == 11L)
  }

  test("delta pushing a shingle over the DF cap re-scores old pairs exactly") {
    import spark.implicits._
    // 'x y z' appears in old docs 1 and 2 (df=2, at the cap): it
    // counts toward their intersection before the append. The delta
    // doc 10 also holds it, pushing df to 3 > cap=2 — a full re-mine
    // drops that shingle from EVERYONE's surviving set, changing the
    // old×old pair (1,2)'s score. append must reproduce that.
    def doc(extra: String) = s"x y z $extra"
    val olds = Seq(
      (1L, doc("a b c d e"), "en"),
      (2L, doc("a b c d f"), "en"))
      .toDF("doc_id", "text", "lang")
    val delta = Seq((10L, doc("q r s t u"), "en")).toDF("doc_id", "text", "lang")
    val full = olds.unionByName(delta)
    val dir = tmpDir("incdedup-cap")
    val (n, th, cap) = (3, 0.1, 2)

    IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
      n, th, cap, s"$dir/base")
    val appended = IncrementalDedup.append(delta, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")
    val fullPairs = Dedup.ngramJaccardPairs(full, "doc_id", "text", "lang",
      n, th, cap)
    assert(pairSet(appended.pairs) == pairSet(fullPairs),
      "cap-crossing fallout not re-scored")
    // and the index really saw the change: before the append, (1,2)
    // scored WITH the 'x y z' shingles; after, without them
    val basePairs = pairSet(spark.read.parquet(s"$dir/base/pairs"))
    val outPairs = pairSet(appended.pairs)
    val before = basePairs.find(p => p._1 == 1L && p._2 == 2L).map(_._3)
    val after = outPairs.find(p => p._1 == 1L && p._2 == 2L).map(_._3)
    assert(before.isDefined && after.isDefined && before != after,
      s"expected (1,2) to re-score: before=$before after=$after")

    val fullLabels = Dedup.clusters(full, "doc_id", fullPairs)
    assert(labelMap(appended.labels) == labelMap(fullLabels, "doc_id"))
  }

  test("chained appends maintain the stats frames exactly (v3)") {
    import spark.implicits._
    // Three ticks over a persisted index, the LAST one crossing the DF
    // cap. The hot/sizes stats frames are maintained incrementally —
    // an error there is invisible on the tick that makes it and only
    // corrupts the NEXT append, which is exactly what a single-append
    // test cannot see. After the chain, pairs/labels must equal a full
    // re-mine AND the persisted stats must equal a from-scratch build.
    def doc(id: Long, words: String) = (id, words, "en")
    val olds = Seq(
      doc(1L, "x y z a b c d e"),
      doc(2L, "x y z a b c d f"),
      doc(3L, "one two three four five six")).toDF("doc_id", "text", "lang")
    val d1 = Seq(
      doc(10L, "a b c d e g h i"),
      doc(11L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text", "lang")
    val d2 = Seq(
      doc(20L, "one two three four five seven"),
      doc(21L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text", "lang")
    // 'x y z' df: old=2 (docs 1,2) == cap; d3's doc 30 pushes it to 3
    val d3 = Seq(
      doc(30L, "x y z q r s t u"),
      doc(31L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text", "lang")
    val full = olds.unionByName(d1).unionByName(d2).unionByName(d3)
    val dir = tmpDir("incdedup-chain")
    val (n, th, cap) = (3, 0.1, 2)

    IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
      n, th, cap, s"$dir/base")
    IncrementalDedup.append(d1, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/t1")
    IncrementalDedup.append(d2, "doc_id", "text", "lang",
      s"$dir/t1", s"$dir/t2")
    val out = IncrementalDedup.append(d3, "doc_id", "text", "lang",
      s"$dir/t2", s"$dir/t3")

    val fullPairs = Dedup.ngramJaccardPairs(full, "doc_id", "text", "lang",
      n, th, cap)
    assert(pairSet(out.pairs) == pairSet(fullPairs),
      "chained appends diverge from the full re-mine")
    assert(labelMap(out.labels) ==
      labelMap(Dedup.clusters(full, "doc_id", fullPairs), "doc_id"))

    // persisted stats must equal a from-scratch index of the full
    // corpus — these feed every FUTURE append
    IncrementalDedup.buildIndex(full, "doc_id", "text", "lang",
      n, th, cap, s"$dir/scratch")
    def hotSet(d: String) = spark.read.parquet(s"$d/hot")
      .collect().map(r => (r.get(0), r.getLong(1))).toSet
    def sizeMap(d: String) = spark.read.parquet(s"$d/sizes")
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("sz")).toMap
    assert(hotSet(s"$dir/t3") == hotSet(s"$dir/scratch"),
      "maintained hot list diverges from a from-scratch build")
    assert(sizeMap(s"$dir/t3") == sizeMap(s"$dir/scratch"),
      "maintained sizes diverge from a from-scratch build")
  }

  test("driver fold route equals the distributed fold at append level") {
    // the r18 foldOnDriver route must produce the same pairs, labels,
    // touched clusters and recomputed labels as the distributed chain
    // — exercised on a routine tick AND a cap-crossing tick (the two
    // branch shapes); maxDriverFold = 0 forces the distributed path
    import spark.implicits._
    def doc(id: Long, words: String) = (id, words, "en")
    val olds = Seq(
      doc(1L, "x y z a b c d e"),
      doc(2L, "x y z a b c d f"),
      doc(3L, "one two three four five six"),
      doc(4L, "one two three four five seven")).toDF("doc_id", "text", "lang")
    for ((delta, tag) <- Seq(
        // routine: disjoint content, no cap crossing
        (Seq(doc(10L, "a b c d e g h i"),
          doc(11L, "seven eight nine ten eleven twelve")), "routine"),
        // cap-crossing: doc 30 pushes 'x y z' (df=2=cap) over the cap
        (Seq(doc(30L, "x y z q r s t u"),
          doc(31L, "one two three four five eight")), "crossing"))) {
      val dir = tmpDir(s"incdedup-foldroute-$tag")
      val deltaDf = delta.toDF("doc_id", "text", "lang")
      IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
        3, 0.1, 2, s"$dir/base")
      val routed = IncrementalDedup.append(deltaDf, "doc_id", "text",
        "lang", s"$dir/base", s"$dir/routed")
      val dist = IncrementalDedup.append(deltaDf, "doc_id", "text",
        "lang", s"$dir/base", s"$dir/dist", maxDriverFold = 0L)
      assert(pairSet(routed.pairs) == pairSet(dist.pairs), s"$tag pairs")
      assert(labelMap(routed.labels) == labelMap(dist.labels), s"$tag labels")
      assert(routed.touchedClusters.collect().map(_.getLong(0)).toSet ==
        dist.touchedClusters.collect().map(_.getLong(0)).toSet,
        s"$tag touched clusters")
      assert(labelMap(routed.recomputedLabels) ==
        labelMap(dist.recomputedLabels), s"$tag recomputed labels")
    }
  }

  test("driver union-find route equals the distributed CC loop") {
    import spark.implicits._
    // random sparse graph with chains, cliques and singletons — the
    // driver route (edges <= threshold) and the distributed
    // pointer-jumping loop must assign identical min-labels
    val rnd = new scala.util.Random(23)
    val docs = (1L to 300L).toDF("doc")
    val edges = (1 to 250).map { _ =>
      val a = 1L + rnd.nextInt(300); val b = 1L + rnd.nextInt(300)
      (math.min(a, b), math.max(a, b), 0.9)
    }.filter(e => e._1 != e._2).distinct.toDF("id_a", "id_b", "jaccard")
    val driver = IncrementalDedup.foldLabels(spark, docs, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = IncrementalDedup.foldLabels(spark, docs, edges,
        maxDriverEdges = 0L) // force the distributed loop
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver == dist, "the two CC routes disagree")
  }

  test("an empty delta append is a no-op tick") {
    import spark.implicits._
    val olds = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en"),
      (2L, "alpha beta gamma delta epsilon eta", "en"))
      .toDF("doc_id", "text", "lang")
    val dir = tmpDir("incdedup-empty")
    IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
      3, 0.5, 1000, s"$dir/base")
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val out = IncrementalDedup.append(empty, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")
    assert(labelMap(out.labels) ==
      labelMap(spark.read.parquet(s"$dir/base/labels")))
    assert(pairSet(out.pairs) ==
      pairSet(spark.read.parquet(s"$dir/base/pairs")))
  }

  test("rotation carries untouched index files by hardlink, not copy") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val dir = tmpDir("incdedup-link")
    IncrementalDedup.buildIndex(old, "doc_id", "text", "lang",
      n = 3, threshold = 0.8, maxShingleDocFreq = 1000, dir = s"$dir/base")
    IncrementalDedup.append(delta, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")

    // every pre-existing shingle/doc part-file appears in the rotated
    // dir as the SAME inode — the bytes were never read or rewritten
    for (frame <- Seq("shingles", "docs")) {
      val base = HardlinkProbe.dataFiles(s"$dir/base/$frame")
      val out = HardlinkProbe.dataFiles(s"$dir/out/$frame")
      assert(base.nonEmpty)
      base.foreach { case (rel, ino) =>
        assert(out.get(rel).contains(ino),
          s"$frame/$rel was rewritten instead of hardlinked")
      }
      // and the delta contributed new part-files on top
      assert(out.size > base.size, s"$frame gained no delta files")
    }
    // bucketed frames: any carried file is a hardlink (same inode) —
    // a same-named file with a different inode would mean a copy
    for (frame <- Seq("pairs", "labels", "sizes")) {
      val base = HardlinkProbe.dataFiles(s"$dir/base/$frame")
      val out = HardlinkProbe.dataFiles(s"$dir/out/$frame")
      base.foreach { case (rel, ino) =>
        out.get(rel).foreach(o =>
          assert(o == ino, s"$frame/$rel was copied, not hardlinked"))
      }
    }
    // a routine tick (disjoint ids, no cap crossing) DROPS no old pair
    // and changes no old doc's size, so newly mined pairs and delta
    // sizes are pure inserts: EVERY pre-existing part-file must carry
    // — zero bucket rewrites, not merely "some hardlinks"
    for (frame <- Seq("pairs", "sizes")) {
      val base = HardlinkProbe.dataFiles(s"$dir/base/$frame")
      val out = HardlinkProbe.dataFiles(s"$dir/out/$frame")
      assert(base.nonEmpty)
      base.foreach { case (rel, ino) =>
        assert(out.get(rel).contains(ino),
          s"$frame/$rel was rewritten on a routine insert-only tick")
      }
    }
    // labels: the sf0.001 corpus has far more untouched clusters than
    // touched ones, so most bucket dirs must carry over untouched
    val baseLabels = HardlinkProbe.dataFiles(s"$dir/base/labels")
    val outLabels = HardlinkProbe.dataFiles(s"$dir/out/labels")
    val carried = baseLabels.count { case (rel, ino) =>
      outLabels.get(rel).contains(ino)
    }
    assert(carried > 0, "every labels bucket was rewritten — the " +
      "touched-bucket restriction is not pruning")
  }

  test("inverted shingle layout: per-tick scans prune to the delta's buckets") {
    import spark.implicits._
    // enough distinct shingles to populate most of the 256 bucket dirs
    val rnd = new scala.util.Random(7)
    val words = (0 until 4000).map(i => s"w$i")
    val olds = (1L to 300L).map { i =>
      (i, Seq.fill(30)(words(rnd.nextInt(words.size))).mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val dir = tmpDir("incdedup-prune")
    // explicit 256 buckets: the default auto-sizes DOWN for a corpus
    // this small, and this test needs a populated bucket space to
    // prove the pruned-scan shape
    IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
      3, 0.8, 1000, s"$dir/base", numShingleBuckets = 256)
    val bucketDirs = new java.io.File(s"$dir/base/shingles").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("sbkt="))
    assert(bucketDirs > 100,
      s"corpus should populate most bucket dirs, got $bucketDirs")

    // the tick's index-read shape (the SAME function append calls)
    // must read ONLY the requested bucket partitions — this is the
    // static pruning that turns the old full-frame scan into a
    // delta-bucket-sized one
    val scan = IncrementalDedup.prunedShingleScan(spark,
      s"$dir/base/shingles", org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.StringType, Seq(3, 7, 11))
    scan.collect() // materialize so scan metrics are populated
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case q: QueryStageExec => scans(q.plan)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case r: ReusedExchangeExec => scans(r.child)
    }.flatten
    val s = scans(scan.queryExecution.executedPlan)
    assert(s.nonEmpty, s"no file scan in:\n${scan.queryExecution.executedPlan}")
    val partsRead = s.head.metrics("numPartitions").value
    assert(partsRead <= 3,
      s"3-bucket filter must read at most 3 partitions, read $partsRead")

    // and a routine 1-doc append through that shape still equals the
    // full re-mine (the pruned scan sees every candidate, because all
    // holders of a delta shingle live in the delta's buckets)
    val delta = Seq((1000L,
      (1 to 30).map(i => words(rnd.nextInt(words.size))).mkString(" "),
      "en")).toDF("doc_id", "text", "lang")
    val out = IncrementalDedup.append(delta, "doc_id", "text", "lang",
      s"$dir/base", s"$dir/out")
    val full = olds.unionByName(delta)
    val fullPairs = Dedup.ngramJaccardPairs(full, "doc_id", "text", "lang",
      3, 0.8, 1000)
    assert(pairSet(out.pairs) == pairSet(fullPairs))
    assert(labelMap(out.labels) ==
      labelMap(Dedup.clusters(full, "doc_id", fullPairs), "doc_id"))
  }

  test("append refuses overlapping delta ids and wrong meta version") {
    import spark.implicits._
    val olds = Seq((1L, "a b c d e", "en")).toDF("doc_id", "text", "lang")
    val dir = tmpDir("incdedup-guard")
    IncrementalDedup.buildIndex(olds, "doc_id", "text", "lang",
      3, 0.8, 1000, s"$dir/base")
    val dup = Seq((1L, "a b c d e", "en")).toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.append(dup, "doc_id", "text", "lang",
        s"$dir/base", s"$dir/out")
    }
    assert(e.getMessage.contains("disjoint"))

    // corrupt the version: a future-schema index must fail loudly
    Seq((99, 3, 0.8, 1000)).toDF("version", "n", "threshold", "max_df")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/base/meta")
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.append(
        Seq((2L, "f g h i j", "en")).toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", s"$dir/base", s"$dir/out")
    }
    assert(e2.getMessage.contains("schema version"))
  }

  test("tick job count is deterministic and pinned (structural regression flag)") {
    // r17 VERDICT #8: wall-time noise can hide a structural tick
    // regression (a reintroduced materialization barrier shows up as
    // extra Spark jobs long before it shows up over bench noise), but
    // the job count of an identical append is deterministic. Two
    // identical ticks must submit the SAME number of jobs, and that
    // number is pinned with a small headroom band — a future change
    // that grows the tick by >20% jobs must come re-justify here.
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val dir = tmpDir("incdedup-jobcount")
    IncrementalDedup.buildIndex(old, "doc_id", "text", "lang",
      n = 3, threshold = 0.8, maxShingleDocFreq = 1000, dir = s"$dir/base")

    // each tick runs under its own job group and counts only that
    // group's jobs (overlapped work carries the group through Overlap),
    // after a listener-bus drain — a straggler job from an earlier
    // action or another thread can never shift the count
    def tickJobs(out: String, group: String): Int =
      graft.TinyAppendBench.timed(spark.sparkContext, group) {
        IncrementalDedup.append(delta, "doc_id", "text", "lang",
            s"$dir/base", out).labels
          .write.format("noop").mode("overwrite").save()
      }.jobs.size

    val first = tickJobs(s"$dir/out1", "incdedup-jobcount-1")
    val second = tickJobs(s"$dir/out2", "incdedup-jobcount-2")
    assert(first == second,
      s"tick job count is nondeterministic: $first vs $second")
    // pinned at the r18 close (post barrier-collapse): measured value
    // recorded in OPTIMIZATION_r18.md; the band allows fixture-free
    // Spark-version drift but flags a structural barrier regression
    val pinned = IncrementalDedupSpec.PinnedTickJobs
    assert(second <= (pinned * 1.2).toInt && second >= (pinned * 0.5).toInt,
      s"tick submitted $second jobs; pinned $pinned (±band) — a " +
        "structural job-count change must re-justify the pin")
  }
}

object IncrementalDedupSpec {
  /** sf0.001 20%-delta append tick job count at the r18 close
    * (local[4], AQE defaults). Re-pin deliberately when the tick's
    * job structure changes; never loosen to paper over a regression.
    */
  val PinnedTickJobs = 79 // measured at the r18 close (two equal reps)
}
