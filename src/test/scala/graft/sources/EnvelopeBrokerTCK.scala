package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.RawMessage

/** Broker-contract conformance kit (TCK): the guarantees every
  * [[EnvelopeBroker]] + [[WritableEnvelopeBroker]] implementation must
  * honor for the replication pipeline to be correct. The DSv2
  * connector's offsets and the mirror's effectively-once upgrade each
  * lean on a specific clause:
  *
  *   1. ORDER   — `read` yields (ledgerId, entryId)-ascending rows;
  *                per-partition order is the reference's consumer
  *                contract (PulsarPartitionSyncWorker.java:95-124) and
  *                what makes cursor translation meaningful.
  *   2. RANGE   — `read(from, until)` is from-INclusive,
  *                until-EXclusive; `latest` is the exclusive end.
  *                Micro-batch planning composes ranges from
  *                checkpointed offsets; an off-by-one here double-reads
  *                or drops a row at every batch boundary.
  *   3. REPLAY  — reading a range is side-effect-free and stable:
  *                the same range yields the same rows every time, and
  *                any split of a range concatenates to the whole. This
  *                is what makes a checkpointed offset restartable.
  *   4. IDEMPOTENCE — `append` dedups on MessageId
  *                (topic, partition, ledgerId, entryId): replayed
  *                streaming epochs re-append harmlessly (the
  *                at-least-once → effectively-once upgrade).
  *   5. DISCOVERY — `topicPartitions` lists every partition with data;
  *                `latest` never moves backwards as data arrives.
  *   6. CONCURRENCY — racing duplicate appends leave exactly one
  *                immutable row per MessageId (replayed epochs race
  *                live writers on a real transport).
  *
  * A live transport binding extends this suite with a `newBroker()`
  * that provisions its real backend; passing the TCK is the drop-in
  * criterion for swapping [[InMemoryBroker]] out. Keep the tests
  * transport-agnostic: only the trait's methods, no InMemoryBroker
  * internals. FOUR implementations instantiate it: in-memory (below),
  * file, socket, and the live Pulsar binding
  * (src/live-pulsar-test/.../PulsarBrokerTCKSpec.scala — compile-off;
  * its clause-by-clause mapping onto the reader/producer-dedup/admin
  * APIs is documented on PulsarEnvelopeBroker itself).
  */
trait EnvelopeBrokerTCK extends AnyFunSuite {

  /** A FRESH, EMPTY broker per call. */
  def newBroker(): EnvelopeBroker with WritableEnvelopeBroker

  /** Implementation name for test labels. */
  def brokerName: String

  private def msg(topic: String, part: Int, ledger: Long, entry: Long,
      payload: String = ""): RawMessage =
    RawMessage("t", "ns", topic, part, ledger, entry,
      (if (payload.isEmpty) s"$topic/$part/$ledger/$entry" else payload)
        .getBytes("UTF-8"),
      key = null, eventTimeMillis = 0L,
      publishTimeMillis = 1000L + entry, properties = Map.empty)

  private def positions(b: EnvelopeBroker, topic: String, part: Int,
      from: (Long, Long) = (0L, 0L),
      until: (Long, Long) = (Long.MaxValue, Long.MaxValue)): Seq[(Long, Long)] =
    b.read(topic, part, from, until).map(m => (m.ledgerId, m.entryId)).toSeq

  test(s"[$brokerName] ORDER: read yields (ledger, entry)-ascending rows") {
    val b = newBroker()
    // appended deliberately out of order — storage order must not leak
    b.append(msg("a", 0, 2, 0))
    b.append(msg("a", 0, 1, 5))
    b.append(msg("a", 0, 1, 2))
    b.append(msg("a", 0, 3, 1))
    val pos = positions(b, "a", 0)
    assert(pos == pos.sorted, s"out of order: $pos")
    assert(pos == Seq((1L, 2L), (1L, 5L), (2L, 0L), (3L, 1L)))
  }

  test(s"[$brokerName] RANGE: from inclusive, until exclusive; latest is the exclusive end") {
    val b = newBroker()
    (0L until 5L).foreach(e => b.append(msg("a", 0, 1, e)))
    assert(positions(b, "a", 0, from = (1L, 1L), until = (1L, 3L)) ==
      Seq((1L, 1L), (1L, 2L)))
    // empty / unknown partitions: latest is the zero position
    assert(b.latest("a", 1) == (0L, 0L))
    assert(b.latest("nope", 0) == (0L, 0L))
    val end = b.latest("a", 0)
    // reading to latest yields everything; latest itself is excluded
    assert(positions(b, "a", 0, until = end) ==
      (0L until 5L).map(e => (1L, e)))
    assert(positions(b, "a", 0, from = end).isEmpty,
      "nothing at or past the exclusive end")
  }

  test(s"[$brokerName] REPLAY: reads are side-effect-free and any split concatenates to the whole") {
    val b = newBroker()
    (0L until 10L).foreach(e => b.append(msg("a", 0, e / 4, e % 4)))
    val end = b.latest("a", 0)
    val whole = positions(b, "a", 0, until = end)
    // stable under re-read (a consuming cursor would fail this)
    assert(positions(b, "a", 0, until = end) == whole)
    assert(positions(b, "a", 0, until = end) == whole)
    // every midpoint (including the messages' own positions) splits
    // the range into two halves that concatenate exactly
    val mids = whole ++ Seq((0L, 2L), (1L, 0L), (2L, 3L), end)
    mids.foreach { mid =>
      val left = positions(b, "a", 0, until = mid)
      val right = positions(b, "a", 0, from = mid, until = end)
      assert(left ++ right == whole, s"split at $mid broke the range")
    }
  }

  test(s"[$brokerName] IDEMPOTENCE: duplicate MessageId appends collapse; first payload wins") {
    val b = newBroker()
    b.append(msg("a", 0, 1, 1, payload = "original"))
    b.append(msg("a", 0, 1, 1, payload = "replay"))
    b.append(msg("a", 0, 1, 1, payload = "replay-again"))
    val rows = b.read("a", 0, (0L, 0L), b.latest("a", 0)).toSeq
    assert(rows.size == 1, "MessageId dedup must collapse replays")
    assert(new String(rows.head.value, "UTF-8") == "original",
      "a replayed append must not overwrite the committed payload")
  }

  test(s"[$brokerName] CONCURRENCY: racing duplicate appends yield exactly one row per MessageId") {
    // replayed epochs race their re-appends against live writers on a
    // real transport; whatever interleaving occurs, the log must hold
    // exactly one immutable row per MessageId afterwards
    val b = newBroker()
    val positions = (0L until 50L).map(e => (e / 10, e % 10))
    // a bare Thread swallows its exception — capture them so a
    // transport hiccup fails THIS assertion loudly instead of reading
    // as an inexplicable missing row (the r11/r12 loaded-box flake)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { t =>
      new Thread(() =>
        try positions.foreach { case (l, e) =>
          b.append(msg("a", 0, l, e, payload = s"writer-$t"))
        } catch { case e: Throwable => failures.add(e); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(failures.isEmpty,
      s"appender thread failed: ${Option(failures.peek()).map(_.toString)}")
    val rows = b.read("a", 0, (0L, 0L), b.latest("a", 0)).toSeq
    assert(rows.map(m => (m.ledgerId, m.entryId)) == positions,
      "exactly one row per MessageId, in order")
    // every surviving payload is one of the attempts, not a mix
    rows.foreach { m =>
      val p = new String(m.value, "UTF-8")
      assert(p.startsWith("writer-"), s"corrupt payload: $p")
    }
  }

  test(s"[$brokerName] DISCOVERY: every appended partition is listed; latest is monotonic; partitions are isolated") {
    val b = newBroker()
    b.append(msg("a", 0, 1, 0))
    b.append(msg("a", 1, 1, 0))
    b.append(msg("b", 0, 1, 0))
    assert(b.topicPartitions.toSet == Set(("a", 0), ("a", 1), ("b", 0)))
    // isolation: partition (a,0) sees only its own rows
    assert(positions(b, "a", 0).size == 1)
    val before = b.latest("a", 0)
    b.append(msg("a", 0, 2, 0))
    val after = b.latest("a", 0)
    assert(Ordering[(Long, Long)].lt(before, after),
      "latest must advance when data arrives")
    // and other partitions' latest is untouched
    assert(b.latest("a", 1) == (1L, 1L))
  }
}

/** The in-memory reference transport must itself pass the contract it
  * defines — this is the suite a live Pulsar binding re-instantiates.
  */
class InMemoryBrokerTCKSpec extends EnvelopeBrokerTCK {
  override def newBroker(): EnvelopeBroker with WritableEnvelopeBroker =
    new InMemoryBroker
  override def brokerName: String = "InMemoryBroker"
}
