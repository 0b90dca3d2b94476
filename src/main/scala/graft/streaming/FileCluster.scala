package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{EnvelopeBrokerRegistry, FileBroker}
import graft.sources.DurableFiles.{createFile, dec, decProps, enc, encProps}

/** Durable file-backed cluster — the deployable offline backend for
  * [[graft.SyncMain]], playing BOTH roles of the reference's two
  * `PulsarHandle`s (`PulsarSync.java:39-43` builds an admin+client
  * pair per side): read it as a [[SourceCluster]], write it as a
  * [[DestinationCluster]]. A directory IS a cluster:
  *
  * {{{
  * root/
  *   tenants/<b64(tenant)>                      allowedClusters, b64 csv
  *   namespaces/<b64(tenant)>__<b64(ns)>        policiesJson
  *   topics/<b64(t)>__<b64(ns)>__<b64(topic)>   partitioned\npartitions\nprops
  *   partitions/<topic key>__<index>            physicalTopic
  *   schemas/<topic key>__<version>             schemaType\nschemaJson
  *   cursors/<b64(topic)>__<part>__<b64(cur)>   readLedger\nreadEntry\nobservedMs
  *   active-cursors/<same key>                  presence = live consumer
  *   dst-cursors/<same key>                     applied action\nledger\nentry
  *   messages/                                  [[FileBroker]] root
  *   assignments/<b64(topic)>__<part>/<l>-<e>   dstLedger\ndstEntry
  * }}}
  *
  * Every create is ATOMIC and NON-REPLACING
  * ([[graft.sources.DurableFiles.createFile]]) — conflict-as-success,
  * the reference's swallowed `ConflictException`
  * (`PulsarTenantSyncManager.java:79`) — so
  * re-ticks, concurrent tickers, and replayed epochs are all no-ops.
  * Metadata listings are driver-side directory scans (metadata-sized
  * by contract, guarded by `SyncConfig.maxMetadataRows` downstream);
  * the data plane goes through the `pulsar-envelope` DSv2 source over
  * the registered [[FileBroker]], so the mirror reads it exactly as a
  * live transport would.
  */
class FileCluster(
    spark: SparkSession,
    rootDir: String,
    clusterName: String = "dst-cluster")
    extends SourceCluster with DestinationCluster {
  import FileCluster._

  private val root: Path = {
    val p = Paths.get(rootDir).toAbsolutePath.normalize()
    Files.createDirectories(p)
    p
  }

  /** Broker registry name — stable per root, so re-instantiating the
    * cluster re-binds the same durable message log.
    */
  val brokerName: String = s"file:$root/messages"
  EnvelopeBrokerRegistry.register(brokerName,
    new FileBroker(root.resolve("messages").toString))

  private def dir(name: String): Path = {
    val d = root.resolve(name)
    Files.createDirectories(d)
    d
  }

  // ---- SourceCluster ----

  override def tenants: DataFrame =
    toDF(listFiles(dir("tenants")).map { case (name, body) =>
      TenantRow(dec(name), splitCsv(body).map(dec))
    })

  override def namespaces: DataFrame =
    toDF(listFiles(dir("namespaces")).map { case (name, body) =>
      val Array(t, ns) = name.split("__", 2)
      NamespaceRow(dec(t), dec(ns), body)
    })

  override def topics: DataFrame =
    toDF(listFiles(dir("topics")).map { case (name, body) =>
      val Array(t, ns, topic) = name.split("__", 3)
      val lines = body.split("\n", -1)
      TopicRow(dec(t), dec(ns), dec(topic),
        lines(0).toBoolean, lines(1).toInt, decProps(lines(2)))
    })

  /** Streaming frame over the durable broker (Earliest position) —
    * the reference's `SubscriptionInitialPosition.Earliest`
    * (`PulsarPartitionSyncWorker.java:111`).
    */
  override def messages: DataFrame =
    spark.readStream.format("pulsar-envelope")
      .option("broker", brokerName).load()

  override def cursorStats: DataFrame =
    toDF(listFiles(dir("cursors")).map { case (name, body) =>
      val Array(topic, part, cursor) = name.split("__", 3)
      val lines = body.split("\n", -1)
      CursorStat(dec(topic), part.toInt, dec(cursor),
        lines(0).toLong, lines(1).toLong,
        new java.sql.Timestamp(lines(2).toLong))
    })

  override def schemas: Option[DataFrame] =
    Some(toDF(listFiles(dir("schemas")).map { case (name, body) =>
      val Array(t, ns, topic, version) = name.split("__", 4)
      val lines = body.split("\n", 2)
      SchemaRow(dec(t), dec(ns), dec(topic), version.toInt,
        lines(0), lines(1))
    }))

  // ---- DestinationCluster ----

  override def clusters: Seq[String] = Seq(clusterName)

  override def createTenants(rows: Seq[TenantRow]): Unit =
    rows.foreach(r => createFile(dir("tenants"), enc(r.tenant),
      r.allowedClusters.map(enc).mkString(",").getBytes(UTF_8)))

  override def createNamespaces(rows: Seq[NamespaceRow]): Unit =
    rows.foreach(r => createFile(dir("namespaces"),
      s"${enc(r.tenant)}__${enc(r.namespace)}", r.policiesJson.getBytes(UTF_8)))

  override def createTopics(rows: Seq[TopicRow]): Unit =
    rows.foreach(r => createFile(dir("topics"),
      s"${enc(r.tenant)}__${enc(r.namespace)}__${enc(r.topic)}",
      s"${r.partitioned}\n${r.partitions}\n${encProps(r.properties)}"
        .getBytes(UTF_8)))

  override def createPartitions(rows: Seq[PartitionRow]): Unit =
    rows.foreach(r => createFile(dir("partitions"),
      s"${enc(r.tenant)}__${enc(r.namespace)}__${enc(r.topic)}__${r.partitionIndex}",
      r.physicalTopic.getBytes(UTF_8)))

  override def createSchemas(rows: Seq[SchemaRow]): Unit =
    rows.foreach(r => createFile(dir("schemas"),
      s"${enc(r.tenant)}__${enc(r.namespace)}__${enc(r.topic)}__${r.version}",
      s"${r.schemaType}\n${r.schemaJson}".getBytes(UTF_8)))

  override def sink: DestinationSink = FileClusterSink(root.toString)

  override def hasActiveCursor(topic: String, partition: Int,
      cursor: String): Boolean =
    Files.exists(dir("active-cursors")
      .resolve(s"${enc(topic)}__${partition}__${enc(cursor)}"))

  override def applyCursorAction(action: CursorAction): Unit = {
    // cursor state REPLACES (a reset moves the position) — the one
    // deliberately non-idempotent-by-creation write; last action wins,
    // exactly the reference's resetCursor semantics
    val f = dir("dst-cursors").resolve(
      s"${enc(action.topic)}__${action.partition}__${enc(action.cursor)}")
    Files.write(f,
      s"${action.action}\n${action.dstLedger.getOrElse(-1L)}\n${action.dstEntry.getOrElse(-1L)}"
        .getBytes(UTF_8))
    ()
  }

  // ---- seeding helpers (tests / demo topologies) ----

  def addMessages(msgs: RawMessage*): Unit = {
    val b = EnvelopeBrokerRegistry.get(brokerName)
      .asInstanceOf[FileBroker]
    msgs.foreach(b.append)
  }

  def observeCursor(stat: CursorStat): Unit = {
    val f = dir("cursors").resolve(
      s"${enc(stat.topic)}__${stat.partition}__${enc(stat.cursor)}")
    Files.write(f,
      s"${stat.readLedger}\n${stat.readEntry}\n${stat.observedTs.getTime}"
        .getBytes(UTF_8))
    ()
  }

  /** Applied dst-cursor positions, for inspection. */
  def dstCursors: Map[(String, Int, String), (String, Long, Long)] =
    listFiles(dir("dst-cursors")).map { case (name, body) =>
      val Array(topic, part, cursor) = name.split("__", 3)
      val lines = body.split("\n", -1)
      (dec(topic), part.toInt, dec(cursor)) ->
        (lines(0), lines(1).toLong, lines(2).toLong)
    }.toMap

  /** Mirrored messages on this cluster's broker, in MessageId order. */
  def mirroredMessages: Seq[RawMessage] = {
    val b = EnvelopeBrokerRegistry.get(brokerName)
    b.topicPartitions.flatMap { case (t, p) =>
      b.read(t, p, (0L, 0L), b.latest(t, p)).toSeq
    }
  }

  private def toDF[T <: Product : scala.reflect.runtime.universe.TypeTag](
      rows: Seq[T]): DataFrame =
    spark.createDataFrame(rows)
}

object FileCluster {
  private def splitCsv(s: String): Seq[String] =
    if (s.isEmpty) Seq.empty else s.split(",", -1).toSeq

  /** (fileName, body) pairs under `d`, name-sorted for deterministic
    * frames; in-flight temp files (dot-prefixed) skipped.
    */
  private[streaming] def listFiles(d: Path): Seq[(String, String)] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      val names =
        try s.iterator().asScala.map(_.getFileName.toString)
          .filterNot(_.startsWith(".")).toList.sorted
        finally s.close()
      names.map(n => n -> new String(Files.readAllBytes(d.resolve(n)), UTF_8))
    }
}

/** Executor-side publisher into a [[FileCluster]]'s broker. MessageId
  * idempotence (the [[DestinationSink]] contract) is carried by the
  * assignment file: the FIRST publish of a src MessageId atomically
  * creates `assignments/<topic>__<part>/<srcLedger>-<srcEntry>` with
  * the dst position it claimed; every replay reads the committed
  * assignment back and re-appends idempotently at the SAME dst id
  * (the broker append is itself a non-replacing create). Valid under
  * local[*] — executors share the filesystem, like the broker
  * registry itself; a multi-host deployment swaps in a live transport
  * binding (see EnvelopeSource's TCK contract).
  */
case class FileClusterSink(rootDir: String) extends DestinationSink {
  import FileCluster._

  @transient private lazy val root = Paths.get(rootDir)
  @transient private lazy val broker = new FileBroker(
    root.resolve("messages").toString)

  override def publish(msg: PulsarMessage): (Long, Long) = {
    val aDir = root.resolve("assignments")
      .resolve(s"${enc(msg.topic)}__${msg.partition}")
    Files.createDirectories(aDir)
    val aFile = aDir.resolve(s"${msg.ledgerId}-${msg.entryId}")
    val assigned: (Long, Long) =
      if (Files.exists(aFile)) readAssignment(aFile)
      else {
        // next dst entry = count of committed assignments in this
        // partition (monotonic; partition-serial by the mirror's
        // repartition discipline, so no same-partition race)
        val s = Files.list(aDir)
        val n = try s.iterator().asScala
          .count(p => !p.getFileName.toString.startsWith("."))
        finally s.close()
        createFile(aDir, aFile.getFileName.toString,
          s"${1000L + msg.partition}\n$n".getBytes(UTF_8))
        readAssignment(aFile) // re-read: a lost race returns the winner
      }
    broker.append(RawMessage(
      msg.tenant, msg.namespace, msg.topic, msg.partition,
      assigned._1, assigned._2, msg.value, msg.key.orNull,
      msg.eventTime.map(_.getTime).getOrElse(0L),
      msg.publishTime.getTime, msg.properties))
    assigned
  }

  private def readAssignment(f: Path): (Long, Long) = {
    val lines = new String(Files.readAllBytes(f), UTF_8).split("\n", -1)
    (lines(0).toLong, lines(1).toLong)
  }
}

/** Durable offset-map recorder: one file per src MessageId (A15/A16),
  * first record wins — replayed epochs re-record the same mapping
  * harmlessly. `toDF` feeds [[OffsetIndex.translateTwoTier]] each
  * cursor tick.
  */
case class FileOffsetRecorder(rootDir: String) extends OffsetRecorder {
  import FileCluster._

  @transient private lazy val dir = {
    val d = Paths.get(rootDir)
    Files.createDirectories(d)
    d
  }

  override def record(m: OffsetMapping): Unit = {
    val pDir = dir.resolve(s"${enc(m.topic)}__${m.partition}")
    Files.createDirectories(pDir)
    createFile(pDir, s"${m.srcLedger}-${m.srcEntry}",
      s"${m.dstLedger}\n${m.dstEntry}\n${m.recordedTs.getTime}".getBytes(UTF_8))
  }

  def mappings: Seq[OffsetMapping] = {
    val partDirs =
      if (!Files.isDirectory(dir)) Seq.empty[Path]
      else {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(Files.isDirectory(_)).toList
        finally s.close()
      }
    partDirs.flatMap { pd =>
      val Array(topic, part) = pd.getFileName.toString.split("__", 2)
      listFiles(pd).map { case (name, body) =>
        val Array(l, e) = name.split("-", 2)
        val lines = body.split("\n", -1)
        OffsetMapping(dec(topic), part.toInt, l.toLong, e.toLong,
          lines(0).toLong, lines(1).toLong,
          new java.sql.Timestamp(lines(2).toLong))
      }
    }.sortBy(m => (m.topic, m.partition, m.srcLedger, m.srcEntry))
  }

  def toDF(spark: SparkSession): DataFrame =
    spark.createDataFrame(mappings)
}
