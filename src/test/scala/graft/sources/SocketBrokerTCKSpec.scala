package graft.sources

import java.io.IOException

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DestinationSink, MessageMirror, PulsarMessage, RawMessage}

/** The socket transport must pass the identical 6-clause contract the
  * in-memory and file brokers pass — every guarantee now crossing a
  * real TCP boundary with real frame serialization. Plus the two
  * things only a transport can get wrong: failure surfacing (dead
  * server → IOException, never a silent empty answer) and an
  * end-to-end mirror driven through sockets on BOTH sides.
  */
class SocketBrokerTCKSpec extends EnvelopeBrokerTCK
    with graft.SparkSuiteBase {

  private val servers =
    scala.collection.mutable.ArrayBuffer.empty[SocketBroker.Server]

  /** A port for the bounce tests that must survive a close→rebind on
    * the SAME number. An ephemeral (port-0) allocation is wrong for
    * that: after server1.close() the kernel may hand the number to any
    * OUTGOING connection on the box — Spark's own RPC/shuffle clients
    * churn ephemeral source ports constantly — and the rebind then
    * fails with BindException (observed as a load-correlated flake,
    * r15). Pick below the kernel's ip_local_port_range floor (32768),
    * PID-salted so concurrent test JVMs don't collide, and probe for a
    * free one.
    */
  private def bouncePort(): Int = {
    val base = 21000 + (ProcessHandle.current.pid % 5000).toInt
    (0 until 50).map(i => base + i * 37).collectFirst {
      case p if {
        val probe = new java.net.ServerSocket()
        try { probe.setReuseAddress(true)
          probe.bind(new java.net.InetSocketAddress(
            java.net.InetAddress.getLoopbackAddress, p)); true }
        catch { case _: IOException => false }
        finally probe.close()
      } => p
    }.getOrElse(fail("no free port in the bounce range"))
  }

  /** Bind on `port` with a short retry — absorbs the lingering-close
    * race between server1.close() and the same-port rebind.
    */
  private def bindSamePort(
      backend: EnvelopeBroker with WritableEnvelopeBroker,
      port: Int): SocketBroker.Server = {
    var last: Throwable = null
    (0 until 40).foreach { _ =>
      try return new SocketBroker.Server(backend, port)
      catch { case e: java.net.BindException =>
        last = e; Thread.sleep(250)
      }
    }
    throw last
  }

  /** Assert the dead-server contract with a bounded close-propagation
    * drain: Server.close() is not instantaneously visible to new
    * connects — on a loaded box the JDK listener teardown raced
    * in-flight accepts for several hundred ms, during which calls
    * still reached a live handler and returned CORRECT answers
    * (instrumented r15: `topicPartitions returned Vector((a,0))`,
    * `ss -tlnp` already empty). The CONTRACT is: an answer during the
    * drain must be RIGHT (never empty, never garbage — `check`), and
    * within the deadline every call must surface IOException.
    */
  private def expectDeadEventually[A](what: String)(f: => A)(
      check: A => Boolean): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (true) {
      try {
        val got = f
        assert(check(got),
          s"$what returned WRONG data $got from a closing server")
        if (System.nanoTime() > deadline)
          fail(s"$what still answering 10s after close()")
        Thread.sleep(100)
      } catch { case _: IOException => return }
    }
  }

  override def newBroker(): EnvelopeBroker with WritableEnvelopeBroker = {
    val server = new SocketBroker.Server(new InMemoryBroker)
    servers += server
    new SocketBroker.Client("127.0.0.1", server.boundPort)
  }

  override def brokerName: String = "SocketBroker"

  override def afterAll(): Unit = {
    servers.foreach(_.close())
    super.afterAll()
  }

  test("[SocketBroker] a dead server surfaces as IOException, not an empty answer") {
    val backend = new InMemoryBroker
    backend.append(RawMessage("t", "ns", "a", 0, 1L, 0L,
      "x".getBytes("UTF-8"), null, 0L, 100L, Map.empty))
    val server = new SocketBroker.Server(backend)
    val client = new SocketBroker.Client("127.0.0.1", server.boundPort)
    assert(client.topicPartitions == Seq(("a", 0)))
    server.close()
    expectDeadEventually("topicPartitions")(client.topicPartitions)(
      _ == Seq(("a", 0)))
    expectDeadEventually("latest")(client.latest("a", 0))(_ == ((1L, 1L)))
    intercept[IOException] {
      client.append(RawMessage("t", "ns", "a", 0, 1L, 1L,
        "y".getBytes("UTF-8"), null, 0L, 101L, Map.empty))
    }
  }

  test("[SocketBroker] mirror runs end to end with sockets on both sides") {
    // source cluster behind one server, destination behind another —
    // the replication path (DSv2 scan → micro-batch → idempotent
    // publish) crosses a process-style boundary in BOTH directions
    val srcBackend = new InMemoryBroker
    (0L until 12L).foreach { e =>
      srcBackend.append(RawMessage("t", "ns", "topic-α", (e % 2).toInt,
        e / 3, e % 3, s"payload-$e".getBytes("UTF-8"),
        if (e % 4 == 0) s"key-$e" else null,
        0L, 1000L + e, Map("src" -> "socket")))
    }
    val srcServer = new SocketBroker.Server(srcBackend)
    val dstBackend = new InMemoryBroker
    val dstServer = new SocketBroker.Server(dstBackend)
    try {
      EnvelopeBrokerRegistry.register("socket-e2e-src",
        new SocketBroker.Client("127.0.0.1", srcServer.boundPort))
      val sink = new SocketDestinationSink("127.0.0.1", dstServer.boundPort)
      val q = MessageMirror.start(spark, "socket-e2e-src", sink,
        tmpDir("socket-mirror-ckpt"), trigger = Trigger.AvailableNow()).start()
      assert(q.awaitTermination(600000L), "mirror drain timed out (loaded box?) — raise the wait, the plan did not fail")

      val got = dstBackend.topicPartitions.flatMap { case (t, p) =>
        dstBackend.read(t, p, (0L, 0L), dstBackend.latest(t, p))
      }
      assert(got.size == 12, s"mirrored ${got.size} of 12")
      val byId = got.map(m => (m.partition, m.ledgerId, m.entryId) ->
        new String(m.value, "UTF-8")).toMap
      (0L until 12L).foreach { e =>
        assert(byId(((e % 2).toInt, e / 3, e % 3)) == s"payload-$e")
      }
      // a replayed epoch (second run over the same source) re-appends
      // harmlessly: MessageId dedup holds across the wire
      val q2 = MessageMirror.start(spark, "socket-e2e-src", sink,
        tmpDir("socket-mirror-ckpt2"), trigger = Trigger.AvailableNow()).start()
      assert(q2.awaitTermination(600000L), "mirror drain timed out (loaded box?) — raise the wait, the plan did not fail")
      val again = dstBackend.topicPartitions.flatMap { case (t, p) =>
        dstBackend.read(t, p, (0L, 0L), dstBackend.latest(t, p))
      }
      assert(again.size == 12, "replay must not duplicate")
    } finally {
      srcServer.close()
      dstServer.close()
    }
  }

  test("[SocketBroker] a bounced server resumes reads from the caller's offset over the durable log") {
    // the reconnect clause: kill the server mid-consumption, restart
    // it on the SAME port over the SAME durable log — a reader that
    // tracked its own offset resumes exactly where it stopped, with
    // no duplicates and no silent gap
    val dir = java.nio.file.Files
      .createTempDirectory("socket-bounce-log").toString
    val backend = new FileBroker(dir)
    (0L until 5L).foreach { e =>
      backend.append(RawMessage("t", "ns", "a", 0, 1L, e,
        s"v$e".getBytes("UTF-8"), null, 0L, 100L + e, Map.empty))
    }
    val port = bouncePort()
    val server1 = bindSamePort(backend, port)
    val client = new SocketBroker.Client("127.0.0.1", port)
    val it = client.read("a", 0, (0L, 0L), client.latest("a", 0))
    val first2 = Seq(it.next(), it.next())
    assert(first2.map(_.entryId) == Seq(0L, 1L))
    it.asInstanceOf[AutoCloseable].close() // abandon mid-stream
    server1.close()
    // while the server is down: loud IOException, never empty answers
    // (answers inside the close-propagation drain must still be right)
    expectDeadEventually("latest")(client.latest("a", 0))(_ == ((1L, 5L)))
    val server2 = bindSamePort(new FileBroker(dir), port)
    try {
      // resume from the offset after the last consumed message
      val rest = client.read("a", 0,
        (1L, first2.last.entryId + 1), client.latest("a", 0)).toSeq
      assert(rest.map(_.entryId) == Seq(2L, 3L, 4L),
        "resumed read must yield exactly the unconsumed tail")
      // the bounced server keeps accepting appends + reads
      client.append(RawMessage("t", "ns", "a", 0, 1L, 5L,
        "v5".getBytes("UTF-8"), null, 0L, 105L, Map.empty))
      assert(client.latest("a", 0) == ((1L, 6L)))
    } finally server2.close()
  }

  test("[SocketBroker] mirror survives a source-server bounce between micro-batches") {
    // DSv2 micro-batch path over the socket transport with a mid-run
    // restart: run 1 mirrors the backlog, the server dies, new rows
    // land in the durable log, a NEW server binds the same port, and
    // run 2 (same checkpoint) mirrors exactly the new rows — offsets
    // come from the checkpoint, not server session state, and the
    // MessageId-idempotent sink admits no duplicates past the ack.
    val srcDir = java.nio.file.Files
      .createTempDirectory("socket-bounce-src").toString
    val srcBackend = new FileBroker(srcDir)
    (0L until 6L).foreach { e =>
      srcBackend.append(RawMessage("t", "ns", "topic-b", 0, 1L, e,
        s"payload-$e".getBytes("UTF-8"), null, 0L, 1000L + e, Map.empty))
    }
    val port = bouncePort()
    val server1 = bindSamePort(srcBackend, port)
    EnvelopeBrokerRegistry.register("socket-bounce-src",
      new SocketBroker.Client("127.0.0.1", port))
    val dstBackend = new InMemoryBroker
    val dstServer = new SocketBroker.Server(dstBackend)
    val sink = new SocketDestinationSink("127.0.0.1", dstServer.boundPort)
    val ckpt = java.nio.file.Files
      .createTempDirectory("socket-bounce-ckpt").toString
    try {
      val q1 = MessageMirror.start(spark, "socket-bounce-src", sink, ckpt,
        trigger = Trigger.AvailableNow()).start()
      assert(q1.awaitTermination(600000L),
        "mirror drain timed out (loaded box?) — raise the wait, the plan did not fail")
      def mirrored(): Seq[Long] = dstBackend.topicPartitions
        .flatMap { case (t, p) =>
          dstBackend.read(t, p, (0L, 0L), dstBackend.latest(t, p))
        }.map(_.entryId).sorted
      assert(mirrored() == (0L until 6L))
      server1.close()
      // rows arriving while the transport is down persist in the log
      (6L until 10L).foreach { e =>
        srcBackend.append(RawMessage("t", "ns", "topic-b", 0, 1L, e,
          s"payload-$e".getBytes("UTF-8"), null, 0L, 1000L + e, Map.empty))
      }
      val server2 = bindSamePort(new FileBroker(srcDir), port)
      try {
        val q2 = MessageMirror.start(spark, "socket-bounce-src", sink, ckpt,
          trigger = Trigger.AvailableNow()).start()
        assert(q2.awaitTermination(600000L), "mirror drain timed out (loaded box?) — raise the wait, the plan did not fail")
        assert(mirrored() == (0L until 10L),
          "post-bounce run must deliver exactly the new rows once")
      } finally server2.close()
    } finally dstServer.close()
  }

  test("[SocketBroker] connection lost before the first frame is a loud IOException") {
    // a server that accepts, reads the request, then closes without
    // writing: the client's FIRST readInt hits EOF — it must close its
    // socket and surface the same wrapped IOException as a mid-stream
    // drop, not a raw EOFException with the socket leaked
    val fake = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      try {
        val s = fake.accept()
        new java.io.DataInputStream(s.getInputStream).readUTF()
        s.close()
      } catch { case _: IOException => () }
    })
    t.setDaemon(true)
    t.start()
    try {
      val client = new SocketBroker.Client("127.0.0.1", fake.getLocalPort)
      val e = intercept[IOException] {
        client.read("a", 0, (0L, 0L), (1L, 0L))
      }
      assert(e.getMessage.contains("before first frame"))
    } finally fake.close()
  }

  test("[SocketBroker] an abandoned read stream closes cleanly and the server keeps serving") {
    val backend = new InMemoryBroker
    (0L until 5L).foreach { e =>
      backend.append(RawMessage("t", "ns", "a", 0, 1L, e,
        s"v$e".getBytes("UTF-8"), null, 0L, 100L + e, Map.empty))
    }
    val server = new SocketBroker.Server(backend)
    try {
      val client = new SocketBroker.Client("127.0.0.1", server.boundPort)
      val it = client.read("a", 0, (0L, 0L), client.latest("a", 0))
      assert(it.hasNext)
      it.next()
      // abandon after one frame: close() releases the connection...
      it.asInstanceOf[AutoCloseable].close()
      // ...and the closed iterator reads as exhausted, not as a
      // read-from-closed-socket error
      assert(!it.hasNext)
      // the server still serves fresh requests on new connections
      val all = client.read("a", 0, (0L, 0L), client.latest("a", 0)).toSeq
      assert(all.size == 5)
      assert(client.latest("a", 0) == ((1L, 5L)))
    } finally server.close()
  }
}

/** The full deployment stack — TCP transport over DURABLE storage —
  * must pass the same contract: wire serialization on top of
  * FileBroker's atomic-move idempotence, composed. This is the
  * closest offline shape to a live binding (a network hop in front of
  * a persistent log).
  */
class SocketOverFileBrokerTCKSpec extends EnvelopeBrokerTCK
    with org.scalatest.BeforeAndAfterAll {
  private val servers =
    scala.collection.mutable.ArrayBuffer.empty[SocketBroker.Server]

  override def newBroker(): EnvelopeBroker with WritableEnvelopeBroker = {
    val dir = java.nio.file.Files
      .createTempDirectory("socket-file-broker").toString
    val server = new SocketBroker.Server(new FileBroker(dir))
    servers += server
    new SocketBroker.Client("127.0.0.1", server.boundPort)
  }

  override def brokerName: String = "SocketBroker(FileBroker)"

  override protected def afterAll(): Unit = {
    servers.foreach(_.close())
    super.afterAll()
  }
}

/** Mirror sink publishing through the socket client; destination
  * MessageId = source MessageId (the broker append is idempotent on
  * it, which is exactly the effectively-once contract the mirror
  * needs from a destination).
  */
class SocketDestinationSink(host: String, port: Int) extends DestinationSink {
  private val client = new SocketBroker.Client(host, port)
  override def publish(msg: PulsarMessage): (Long, Long) = {
    client.append(RawMessage(msg.tenant, msg.namespace, msg.topic,
      msg.partition, msg.ledgerId, msg.entryId, msg.value,
      msg.key.orNull, msg.eventTime.map(_.getTime).getOrElse(0L),
      msg.publishTime.getTime, msg.properties))
    (msg.ledgerId, msg.entryId)
  }
}
