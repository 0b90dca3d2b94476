package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{FileCluster, FileOffsetRecorder, SyncConfig, SyncPipeline}

/** Deployable replication entry point — the role of the reference's
  * `bin/pulsar-sync:21` + `PulsarSyncStarter.java:26-33`, except this
  * one actually starts the pipeline (the reference's starter
  * constructs a `PulsarSync` and never calls anything on it; its
  * README documents behavior the binary cannot exhibit). Config comes
  * from flags with `GRAFT_SYNC_*` env fallbacks, mirroring the
  * reference's env-driven `SyncConfigUtil`.
  *
  * {{{
  *   sbt "runMain graft.SyncMain --src /data/srcCluster --dst /data/dstCluster --once"
  * }}}
  *
  * Flags (env fallback in parens):
  *   --src DIR            source cluster root (GRAFT_SYNC_SRC), required
  *   --dst DIR            destination cluster root (GRAFT_SYNC_DST), required
  *   --checkpoint DIR     stream checkpoints (GRAFT_SYNC_CHECKPOINT;
  *                        default DST/_checkpoints)
  *   --subscription NAME  mirror subscription (GRAFT_SYNC_SUBSCRIPTION;
  *                        default graft-sync — the reference's default
  *                        subscription name semantics)
  *   --auto-update L,L    comma list of tenant|namespace|topic|
  *                        partition|subscription (GRAFT_SYNC_AUTO_UPDATE)
  *   --once               drain-and-exit: one metadata tick, an
  *                        AvailableNow mirror, one cursor tick — the
  *                        batch/backfill mode
  *   --metadata-period-ms / --partition-period-ms / --cursor-period-ms
  *                        continuous-mode cadences; defaults 180000 /
  *                        60000 / 10000 — the reference's 3 min
  *                        (PulsarTenantSyncManager.java:58), 1 min
  *                        (PulsarPartitionedTopicSyncWorker.java:58),
  *                        10 s (PulsarPartitionSyncWorker.java:92)
  *   --cluster-name NAME  destination cluster id stamped into created
  *                        tenants' allowedClusters (default dst-cluster)
  *
  * Transport: roots are [[graft.streaming.FileCluster]] directories
  * (the durable offline backend). A live Pulsar deployment swaps the
  * cluster construction for the pulsar-client binding (see
  * `src/live-pulsar/` and the EnvelopeBrokerTCK contract); everything
  * from SyncPipeline down is transport-agnostic.
  *
  * Checkpoints: the mirror's stream writes its offset and commit logs
  * through [[graft.streaming.CheckpointFileManager]] (java.nio on
  * `file:` paths, no Hadoop `LocalFs` forks per write).
  * `MessageMirror.start` sets Spark's
  * `spark.sql.streaming.checkpointFileManagerClass` on the session
  * when it is unset, so any session that starts a mirror gets it, and
  * a value set here (`--conf` or `SparkSession.builder`) wins.
  */
object SyncMain {

  private[graft] case class Args(
      src: String,
      dst: String,
      checkpoint: String,
      subscription: String,
      autoUpdate: Set[String],
      once: Boolean,
      metadataPeriodMs: Long,
      partitionPeriodMs: Long,
      cursorPeriodMs: Long,
      clusterName: String)

  private def env(k: String): Option[String] = sys.env.get(k).filter(_.nonEmpty)

  private[graft] def parse(argv: Array[String]): Args = {
    val flags = scala.collection.mutable.Map.empty[String, String]
    var once = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--once" => once = true; i += 1
        case f if f.startsWith("--") && i + 1 < argv.length =>
          flags(f.drop(2)) = argv(i + 1); i += 2
        case other =>
          throw new IllegalArgumentException(s"unrecognized argument: $other")
      }
    }
    def opt(flag: String, envKey: String): Option[String] =
      flags.get(flag).orElse(env(envKey))
    def req(flag: String, envKey: String): String =
      opt(flag, envKey).getOrElse(throw new IllegalArgumentException(
        s"--$flag (or $$$envKey) is required"))
    val dst = req("dst", "GRAFT_SYNC_DST")
    val auto = opt("auto-update", "GRAFT_SYNC_AUTO_UPDATE")
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val known = Set("tenant", "namespace", "topic", "partition", "subscription")
    val unknown = auto -- known
    require(unknown.isEmpty,
      s"unknown --auto-update levels: ${unknown.mkString(",")} (known: ${known.mkString("|")})")
    Args(
      src = req("src", "GRAFT_SYNC_SRC"),
      dst = dst,
      checkpoint = opt("checkpoint", "GRAFT_SYNC_CHECKPOINT")
        .getOrElse(s"$dst/_checkpoints"),
      subscription = opt("subscription", "GRAFT_SYNC_SUBSCRIPTION")
        .getOrElse("graft-sync"),
      autoUpdate = auto,
      once = once || env("GRAFT_SYNC_ONCE").contains("1"),
      metadataPeriodMs = opt("metadata-period-ms", "GRAFT_SYNC_METADATA_PERIOD_MS")
        .map(_.toLong).getOrElse(3 * 60 * 1000L),
      partitionPeriodMs = opt("partition-period-ms", "GRAFT_SYNC_PARTITION_PERIOD_MS")
        .map(_.toLong).getOrElse(60 * 1000L),
      cursorPeriodMs = opt("cursor-period-ms", "GRAFT_SYNC_CURSOR_PERIOD_MS")
        .map(_.toLong).getOrElse(10 * 1000L),
      clusterName = opt("cluster-name", "GRAFT_SYNC_CLUSTER_NAME")
        .getOrElse("dst-cluster"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-sync")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = run(spark, a)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Wire clusters + pipeline and run to completion (`--once`) or
    * until interrupted (continuous). Returns a process exit code.
    * Factored from `main` so the E2E spec drives the real composition
    * without forking a JVM.
    */
  private[graft] def run(spark: SparkSession, a: Args): Int = {
    val src = new FileCluster(spark, a.src)
    val dst = new FileCluster(spark, a.dst, a.clusterName)
    val conf = SyncConfig(
      subscriptionName = a.subscription,
      autoUpdateTenant = a.autoUpdate("tenant"),
      autoUpdateNamespace = a.autoUpdate("namespace"),
      autoUpdateTopic = a.autoUpdate("topic"),
      autoUpdatePartition = a.autoUpdate("partition"),
      autoUpdateSubscription = a.autoUpdate("subscription"))
    val pipe = new SyncPipeline(spark, src, dst, conf)
    val recorder = FileOffsetRecorder(s"${a.dst}/offsetmap")

    if (a.once) {
      // backfill mode: metadata → drain the mirror → translate cursors,
      // each step once, then exit — the scriptable shape (and the E2E
      // assertion surface)
      val (t, n, tp) = pipe.tickMetadata()
      System.err.println(s"[graft-sync] metadata tick: +$t tenants, +$n namespaces, +$tp topics")
      val sup = pipe.superviseMirror(a.checkpoint,
        trigger = Trigger.AvailableNow(),
        offsets = Some(recorder),
        maxRestarts = 3)
      val drained = sup.awaitTerminated(10 * 60 * 1000L)
      sup.close()
      if (!drained) {
        System.err.println("[graft-sync] mirror failed to drain within 10 min")
        return 2
      }
      sup.lastError.foreach { e =>
        System.err.println(s"[graft-sync] mirror gave up after ${sup.restarts} restarts: $e")
        return 3
      }
      val actions = pipe.syncCursors(recorder.toDF(spark))
      System.err.println(s"[graft-sync] cursor tick: ${actions.size} actions")
      0
    } else {
      // continuous mode: supervised mirror on a processing-time
      // trigger + the reference's per-level cadences; runs until
      // SIGTERM/SIGINT (shutdown hook closes both handles)
      val sup = pipe.superviseMirror(a.checkpoint,
        trigger = Trigger.ProcessingTime(math.min(a.cursorPeriodMs, 10000L)),
        offsets = Some(recorder))
      val ticker = pipe.runContinuous(
        a.metadataPeriodMs, a.partitionPeriodMs, a.cursorPeriodMs,
        offsetMap = Some(() => recorder.toDF(spark)))
      val stop = new java.util.concurrent.CountDownLatch(1)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try ticker.close() catch { case _: Exception => () }
        try sup.close() catch { case _: Exception => () }
        stop.countDown()
      }))
      System.err.println("[graft-sync] continuous sync running; SIGTERM to stop")
      stop.await()
      0
    }
  }
}
