package graft.replbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.sources.{EnvelopeBrokerRegistry, FileBroker}
import graft.streaming._

/** One source partition: its place in the tree and how many messages
  * it holds before the timed region.
  */
final case class Part(tenant: String, namespace: String, topic: String,
    partition: Int, depth: Int, ledgerSize: Int, index: Int) {
  def key: (String, Int) = (topic, partition)
}

/** A generated source cluster. Everything in it derives from `seed`;
  * the pipeline sees only the files [[Topology.seed]] writes.
  */
final case class Topology(seed: Long, parts: Seq[Part], payloadMean: Int,
    keyShare: Double, propShare: Double, cursors: Seq[(Part, Int, String)]) {

  /** The i-th message of `p` is a pure function of (seed, p, i). */
  def message(p: Part, i: Int): RawMessage = {
    val r = new Random(seed * 1000003L + p.index * 7919L + i)
    val size = math.max(16, (payloadMean * (0.5 + r.nextDouble())).toInt)
    val value = new Array[Byte](size)
    r.nextBytes(value)
    val key = if (r.nextDouble() < keyShare) s"k${r.nextInt(1000)}" else null
    val props =
      if (r.nextDouble() < propShare)
        (0 until 1 + r.nextInt(3)).map(j => s"h$j" -> s"v${r.nextInt(100)}").toMap
      else Map.empty[String, String]
    val eventTime = if (r.nextBoolean()) 1700000000000L + i * 10L else 0L
    RawMessage(p.tenant, p.namespace, p.topic, p.partition,
      id(p, i)._1, id(p, i)._2, value, key, eventTime,
      1700000000000L + i * 10L + 5L, props)
  }

  def id(p: Part, i: Int): (Long, Long) =
    (100L + i / p.ledgerSize, (i % p.ledgerSize).toLong)

  def total: Long = parts.map(_.depth.toLong).sum

  /** Write metadata, messages and cursor observations under `root`. */
  def seed(spark: SparkSession, root: String): FileCluster = {
    val src = new FileCluster(spark, root, "src-cluster")
    src.createTenants(parts.map(_.tenant).distinct
      .map(t => TenantRow(t, Seq("src-cluster"))))
    src.createNamespaces(parts.map(p => (p.tenant, p.namespace)).distinct
      .map { case (t, n) => NamespaceRow(t, n, """{"retention_minutes":60}""") })
    src.createTopics(parts.groupBy(p => (p.tenant, p.namespace, p.topic)).toSeq
      .map { case ((t, n, tp), ps) =>
        TopicRow(t, n, tp, partitioned = true, ps.size, Map("owner" -> t)) })
    val broker = new FileBroker(s"$root/messages")
    val pool = Executors.newFixedThreadPool(4)
    try {
      parts.map(p => pool.submit(new Runnable {
        override def run(): Unit = (0 until p.depth).foreach(i => broker.append(message(p, i)))
      })).foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
    cursors.foreach { case (p, i, name) =>
      val (l, e) = id(p, i)
      src.observeCursor(CursorStat(p.topic, p.partition, name, l, e,
        new Timestamp(1700000000000L + i * 10L)))
    }
    src
  }
}

object Topology {

  /** `tenants` × `nsPerTenant` namespaces × `topicsPerNs` topics ×
    * `partsPerTopic` partitions, depth `depth` ± `depthJitter`.
    */
  def generate(seed: Long, tenants: Int, nsPerTenant: Int, topicsPerNs: Int,
      partsPerTopic: Int, depth: Int, depthJitter: Double, payloadMean: Int,
      nCursors: Int): Topology = {
    val r = new Random(seed)
    val keyShare = 0.2 + 0.4 * r.nextDouble()
    val propShare = 0.2 + 0.4 * r.nextDouble()
    val tag = r.alphanumeric.take(4).mkString.toLowerCase
    val parts = for {
      t <- 0 until tenants
      n <- 0 until nsPerTenant
      tp <- 0 until topicsPerNs
      p <- 0 until partsPerTopic
    } yield {
      val d = math.max(1, (depth * (1 + depthJitter * (2 * r.nextDouble() - 1))).round.toInt)
      Part(s"tenant-$t", s"ns-$n", s"t$t-n$n-topic$tp-$tag", p, d, 500 + r.nextInt(1000),
        ((t * nsPerTenant + n) * topicsPerNs + tp) * partsPerTopic + p)
    }
    val cursors = (0 until nCursors).map { c =>
      val p = parts(r.nextInt(parts.size))
      (p, r.nextInt(p.depth), s"sub-$c")
    }
    Topology(seed, parts, payloadMean, keyShare, propShare, cursors)
  }
}

/** Fresh, per-run roots for one replication topology. */
final case class Roots(src: String, dst: String, ckpt: String)

object Roots {
  def fresh(base: Path, label: String): Roots = {
    val d = Files.createDirectories(base.resolve(label))
    Roots(d.resolve("src").toString, d.resolve("dst").toString,
      d.resolve("ckpt").toString)
  }
}

/** The pipeline composed as `SyncMain.run` composes it, with every layer
  * behind its traced wrapper.
  */
final class Wired(spark: SparkSession, roots: Roots, conf: SyncConfig,
    delayNanos: Long) {
  val src = new FileCluster(spark, roots.src, "src-cluster")
  EnvelopeBrokerRegistry.register(src.brokerName,
    new TracedBroker(new FileBroker(s"${roots.src}/messages")))
  val dstCluster = new FileCluster(spark, roots.dst, "dst-cluster")
  val pipe = new TracedPipeline(spark, src, new TracedDestination(dstCluster, delayNanos), conf)
  val recorder = TracedRecorder(FileOffsetRecorder(s"${roots.dst}/offsetmap"))
}

/** Ticks in flight on the ticker thread, so a run ends only after they do. */
object Inflight {
  val n = new AtomicInteger()
  def apply[T](body: => T): T = { n.incrementAndGet(); try body finally n.decrementAndGet() }
}
