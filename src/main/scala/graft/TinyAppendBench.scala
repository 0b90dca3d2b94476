package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** The incremental-index tick instrument: a SMALL delta tick (1% of
  * the corpus) against a large persisted index — the deployment shape
  * the incremental indexes exist for (q75/q80's 20% fixture delta
  * measures the degenerate everything-touched case). For each of the
  * dedup, curation, chunk, ANN and IVF-PQ indexes it prints three
  * routine ticks' append seconds (`TINY_<FAMILY>_APPEND_SECS`), then
  * the last tick's job timeline: every Spark job submitted under that
  * tick's job group with its start offset, duration and call site,
  * and the sum of job durations against wall time (a sum above wall
  * is overlap; gaps are driver work and planning).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<deck dir> bin/run-main.sh graft.TinyAppendBench
  */
object TinyAppendBench {

  /** One Spark job of a tick; `startSecs` is measured from the tick's
    * start, and a job the tick left running has no `secs`.
    */
  final case class TickJob(id: Int, startSecs: Double, secs: Option[Double],
      site: String)

  final case class TickTimeline(wallSecs: Double, jobs: Seq[TickJob]) {
    def report(label: String): Seq[String] = {
      val sum = jobs.flatMap(_.secs).sum
      f"== $label: wall $wallSecs%.2f s, ${jobs.size} jobs" +:
        jobs.map { j =>
          val dur = j.secs.fold("running")(s => f"$s%7.3f s")
          f"  job ${j.id}%4d  @${j.startSecs}%6.2f  $dur  ${j.site}"
        } :+
        f"  sum of job durations $sum%.2f s vs wall $wallSecs%.2f s"
    }
  }

  /** Runs `body` under job group `group` and returns its wall time and
    * the jobs submitted under that group — work overlapped through
    * [[operators.Overlap]] carries the group; jobs of other threads
    * or earlier actions never count. The listener bus is drained
    * before reading, so every job of the body has been delivered.
    */
  private[graft] def timed(sc: SparkContext, group: String)(
      body: => Unit): TickTimeline = {
    val starts = new ConcurrentHashMap[Int, (Long, String)]
    val ends = new ConcurrentHashMap[Int, Long]
    val sqlSites = new ConcurrentHashMap[Long, String]
    val listener = new SparkListener {
      // AQE submits most stage jobs from Spark's own threads, so a
      // stage name rarely names a graft line; the job's SQL execution
      // does — its description is its action's call site while no job
      // description is set
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqlSites.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group) {
          val execId = js.properties.getProperty("spark.sql.execution.id")
          val site = Option(execId).flatMap(id => Option(sqlSites.get(id.toLong)))
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("(no stages)")
          starts.put(js.jobId, (js.time, site))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (starts.containsKey(je.jobId)) ends.put(je.jobId, je.time)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, null)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      body
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      val jobs = starts.asScala.toSeq.map { case (id, (startMs, site)) =>
        TickJob(id, (startMs - t0Ms) / 1e3,
          Option(ends.get(id)).map(endMs => (endMs - startMs) / 1e3), site)
      }.sortBy(j => (j.startSecs, j.id))
      TickTimeline(wall, jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ScaleFixture.verifyManifest(sfDir) // refuse stale decks (r16 VERDICT #5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter(pmod(col("doc_id"), lit(100)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(100)) === 0)
    val root = java.nio.file.Files.createTempDirectory("tiny-append").toString

    // three routine ticks of one index family: their seconds, then the
    // last tick's job timeline
    def ticks(family: String)(tick: Int => Unit): Unit = {
      val runs = (1 to 3).map(i =>
        timed(spark.sparkContext, s"tiny-$family-$i")(tick(i)))
      println(f"TINY_${family.toUpperCase}_APPEND_SECS " +
        runs.map(r => f"${r.wallSecs}%.2f").mkString(","))
      runs.last.report(s"$family tick 3 (job group tiny-$family-3)")
        .foreach(println)
    }

    operators.IncrementalDedup.buildIndex(base, "doc_id", "text", "lang",
      n = 3, threshold = 0.8, maxShingleDocFreq = 1000, dir = s"$root/d0")
    ticks("dedup") { i =>
      val a = operators.IncrementalDedup.append(delta, "doc_id", "text",
        "lang", s"$root/d0", s"$root/d$i-out")
      a.labels.write.format("noop").mode("overwrite").save()
    }

    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val eval = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val cbase = train.filter(pmod(col("doc_id"), lit(100)) =!= 10)
    val cdelta = train.filter(pmod(col("doc_id"), lit(100)) === 10)
    operators.IncrementalCuration.buildIndex(cbase, eval, "doc_id", "text",
      "lang", Seq("the", "a"), dir = s"$root/c0")
    ticks("curation") { i =>
      val d = operators.IncrementalCuration.append(cdelta, "doc_id", "text",
        "lang", s"$root/c0", s"$root/c$i-out")
      d.write.format("noop").mode("overwrite").save()
    }

    // chunk-index twin: the id-TOP 1% as the delta (the chunk index
    // contracts id-monotone appends — the crawl-append shape)
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val kCut = maxId - (maxId / 100).max(1L)
    operators.IncrementalChunkDedup.buildIndex(
      docs.filter(col("doc_id") <= kCut), "doc_id", "text", 3, s"$root/k0")
    ticks("chunk") { i =>
      val a = operators.IncrementalChunkDedup.append(
        docs.filter(col("doc_id") > kCut), "doc_id", "text",
        s"$root/k0", s"$root/k$i-out")
      a.outputs.write.format("noop").mode("overwrite").save()
    }

    // ANN twin: a 1% vector delta against a persisted IVF index —
    // the StreamingAnnMaintainer tick's cost shape (assign against
    // frozen centroids + hardlink rotation + delta-cell file appends)
    val emb = Tables.embeddings(spark, sfDir)
    val ebase = emb.filter(pmod(col("vec_id"), lit(100)) =!= 0)
    val edelta = emb.filter(pmod(col("vec_id"), lit(100)) === 0)
    val cells = operators.Similarity.autoCells(ebase.count())
    operators.SimilarityIndex.buildIvf(ebase, "vec_id", "embedding",
      cells, s"$root/a0")
    ticks("ann") { i =>
      operators.SimilarityIndex.appendIvf(edelta, "vec_id", "embedding",
        s"$root/a0", s"$root/a$i-out")
    }

    // IVF-PQ twin: the same 1% vector delta against the persisted
    // PQ index — encode against frozen codebooks + assign against
    // frozen centroids in one scan, then the same rotation
    operators.SimilarityIndex.buildIvfPq(ebase, "vec_id", "embedding",
      cells, numSub = 4, numCentroids = 16, dir = s"$root/p0")
    ticks("pq") { i =>
      operators.SimilarityIndex.appendIvfPq(edelta, "vec_id", "embedding",
        s"$root/p0", s"$root/p$i-out")
    }
    spark.stop()
  }
}
