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
  * atomically (temp file + non-replacing link), the temp file taken
  * from the root's [[FilePool]]. The SECOND
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
  import DurableFiles.{dec, enc, ensureDir, link, listNames}

  private val root: Path = {
    val p = Paths.get(rootDir)
    Files.createDirectories(p)
    p
  }
  private val pool = DurableFiles.pool(root)

  private def partDir(topic: String, partition: Int): Path =
    root.resolve(s"${enc(topic)}__$partition")

  override def append(m: RawMessage): Unit =
    DurableFiles.createFile(pool, ensureDir(partDir(m.topic, m.partition)),
      s"${m.ledgerId}-${m.entryId}", RawMessageCodec.serialize(m))

  /** Appends `m` and names the same file `claim` too: one inode, one
    * write of the message bytes. `claim` lies in another directory of
    * this root's filesystem, and its directory must exist. The claim
    * is linked first, without replacing, so of racing or replayed
    * calls with one `claim` the first wins; the message name second.
    *
    * Returns the position the claim holds: `m`'s when this call made
    * the claim. When the claim existed already, `m`'s position is
    * ignored: the claim's is returned, and its message is linked from
    * the claim if it is missing (a writer that died between the two
    * links). A claim made before claims held the message is two lines,
    * `ledgerId\nentryId`; its message is appended from `m`'s fields at
    * that position.
    */
  def appendClaimed(m: RawMessage, claim: Path): (Long, Long) = {
    val dir = ensureDir(partDir(m.topic, m.partition))
    def named(l: Long, e: Long): Path = dir.resolve(s"$l-$e")
    val claimed = !Files.exists(claim) && {
      val tmp = pool.take(dir)
      try {
        Files.write(tmp, RawMessageCodec.serialize(m))
        link(tmp, claim) && { link(tmp, named(m.ledgerId, m.entryId)); true }
      } finally Files.deleteIfExists(tmp)
    }
    if (claimed) (m.ledgerId, m.entryId)
    else {
      val bytes = Files.readAllBytes(claim)
      val f = new String(bytes, UTF_8).split("\n", -1)
      if (f.length == 2) {
        val (l, e) = (f(0).toLong, f(1).toLong)
        append(m.copy(ledgerId = l, entryId = e))
        (l, e)
      } else {
        // the claim is the message, and holds its position
        val c = RawMessageCodec.deserialize(bytes)
        val (l, e) = (c.ledgerId, c.entryId)
        if (!Files.exists(named(l, e))) link(claim, named(l, e))
        (l, e)
      }
    }
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
