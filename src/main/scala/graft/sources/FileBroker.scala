package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import graft.streaming.RawMessage

/** Message codec shared by the durable [[FileBroker]] (one file per
  * message) and the test-side `SocketBroker` wire protocol (one frame
  * per message): base64 fields, one per line, fixed order — no JSON
  * library dependency, arbitrary topic names and binary payloads
  * safe.
  */
private[sources] object RawMessageCodec {
  import DurableFiles.{dec, decProps, enc, encProps}

  def serialize(m: RawMessage): Array[Byte] = {
    val b64 = Base64.getEncoder
    Seq(
      enc(m.tenant), enc(m.namespace), enc(m.topic), m.partition.toString,
      m.ledgerId.toString, m.entryId.toString,
      b64.encodeToString(m.value),
      if (m.key == null) "-" else "k" + enc(m.key),
      m.eventTimeMillis.toString, m.publishTimeMillis.toString,
      encProps(m.properties)
    ).mkString("\n").getBytes(UTF_8)
  }

  def deserialize(bytes: Array[Byte]): RawMessage = {
    val f = new String(bytes, UTF_8).split("\n", -1)
    RawMessage(dec(f(0)), dec(f(1)), dec(f(2)), f(3).toInt,
      f(4).toLong, f(5).toLong,
      Base64.getDecoder.decode(f(6)),
      if (f(7) == "-") null else dec(f(7).substring(1)),
      f(8).toLong, f(9).toLong, decProps(f(10)))
  }
}

/** Durable file-backed transport: one file per message under
  * `root/<topic-b64url>__<partition>/<ledgerId>-<entryId>`, written
  * atomically (temp file + non-replacing move). The SECOND
  * [[EnvelopeBroker]] implementation — it exists to prove the
  * [[EnvelopeBrokerTCK]] contract is implementation-agnostic (the
  * drop-in path a live Pulsar binding follows), and to give the
  * offline harness a transport that survives JVM restarts, which the
  * in-memory broker cannot.
  *
  * Contract mapping:
  *   - ORDER/RANGE/REPLAY: reads list the partition directory, parse
  *     positions from file names, filter to [from, until) and sort —
  *     files are immutable once moved into place, so reads are
  *     side-effect-free and stable.
  *   - IDEMPOTENCE: the atomic move REFUSES to replace an existing
  *     target — first append wins, replays are no-ops, and a reader
  *     never observes a half-written file.
  *
  * Local[*] scope like the registry itself: executors resolve the
  * broker by name from [[EnvelopeBrokerRegistry]] and share the
  * filesystem. Messages are [[RawMessageCodec]] bytes; names and
  * creates follow [[DurableFiles]].
  */
class FileBroker(rootDir: String) extends EnvelopeBroker with WritableEnvelopeBroker {
  import DurableFiles.{dec, enc, listNames}

  private val root: Path = {
    val p = Paths.get(rootDir)
    Files.createDirectories(p)
    p
  }

  private def partDir(topic: String, partition: Int): Path =
    root.resolve(s"${enc(topic)}__$partition")

  override def append(m: RawMessage): Unit = {
    val dir = partDir(m.topic, m.partition)
    Files.createDirectories(dir)
    DurableFiles.createFile(dir, s"${m.ledgerId}-${m.entryId}",
      RawMessageCodec.serialize(m))
  }

  // Foreign directories under the root (tooling leftovers, editors) must
  // not break discovery: skip any name whose suffix isn't numeric or whose
  // prefix isn't valid base64 instead of throwing for the whole broker.
  override def topicPartitions: Seq[(String, Int)] =
    listNames(root)
      .filter(n => Files.isDirectory(root.resolve(n)))
      .flatMap { n =>
        val i = n.lastIndexOf("__")
        if (i < 0) None
        else for {
          part <- n.substring(i + 2).toIntOption
          topic <- scala.util.Try(dec(n.substring(0, i))).toOption
        } yield (topic, part)
      }.sorted

  private def listPositions(topic: String, partition: Int): Seq[(Long, Long)] =
    listNames(partDir(topic, partition))
      .flatMap { n =>
        n.split("-", 2) match {
          case Array(l, e) =>
            for (ll <- l.toLongOption; ee <- e.toLongOption) yield (ll, ee)
          case _ => None
        }
      }.sorted

  override def read(topic: String, partition: Int,
      from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] = {
    val ord = Ordering[(Long, Long)]
    listPositions(topic, partition).iterator
      .filter(p => ord.lteq(from, p) && ord.lt(p, until))
      .map { case (l, e) =>
        RawMessageCodec.deserialize(
          Files.readAllBytes(partDir(topic, partition).resolve(s"$l-$e")))
      }
  }

  override def latest(topic: String, partition: Int): (Long, Long) = {
    val ps = listPositions(topic, partition)
    if (ps.isEmpty) (0L, 0L) else { val (l, e) = ps.last; (l, e + 1) }
  }
}
