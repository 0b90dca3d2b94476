package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetAddress, ServerSocket, Socket}

import graft.streaming.RawMessage

/** Process-boundary broker transport: a TCP server fronting any
  * [[EnvelopeBroker]] backend, and a client implementing the same
  * trait over the wire. This is the last offline-feasible step toward
  * a live Pulsar binding: every TCK guarantee now survives REAL
  * serialization ([[RawMessageCodec]] frames), connection lifecycle
  * and failure (an operation against a dead server raises
  * `IOException`, never a silent wrong answer), and backpressure
  * (streamed reads ride TCP flow control — the server writes no
  * faster than the client consumes, so a slow reader never forces the
  * server to buffer a partition in memory).
  *
  * Wire protocol — one request per connection (no pipelining state to
  * corrupt; a connection is cheap on localhost and maps 1:1 to how a
  * real binding would pool):
  *
  *   request  = UTF command line, fields space-separated, topic
  *              base64url-encoded; APPEND is followed by one frame
  *   frame    = int32 byte length + [[RawMessageCodec]] bytes
  *   response = TOPICS: int32 n, then n x (UTF topic-b64, int32 part)
  *              READ:   frames until an int32 -1 sentinel
  *              LATEST: int64 ledger, int64 entry
  *              ADVANCE: int64 ledger, int64 entry, int64 skipped
  *              APPEND: UTF "OK"
  *
  * Server errors close the connection (the client surfaces
  * IOException); the protocol never sends a partial frame — length
  * prefixes are written before payloads from a single handler thread
  * per connection.
  */
object SocketBroker {

  import DurableFiles.{dec, enc}

  /** Serve `backend` on `port` (0 = ephemeral). Thread-per-connection:
    * the TCK's racing appenders each hold their own connection, and a
    * blocked (backpressured) read stream never stalls other clients.
    */
  final class Server(
      backend: EnvelopeBroker with WritableEnvelopeBroker,
      port: Int = 0) extends AutoCloseable {

    // bound manually so SO_REUSEADDR is set BEFORE bind: a bounced
    // server (restart on the same port — the reconnect TCK clause)
    // must not fail on a lingering TIME_WAIT socket
    private val server = {
      val s = new ServerSocket()
      s.setReuseAddress(true)
      s.bind(new java.net.InetSocketAddress(
        InetAddress.getLoopbackAddress, port), 64)
      s
    }
    @volatile private var closed = false

    def boundPort: Int = server.getLocalPort

    private val acceptor = new Thread(() => {
      while (!closed) {
        try {
          val sock = server.accept()
          val t = new Thread(() => handle(sock))
          t.setDaemon(true)
          t.start()
        } catch {
          case _: IOException if closed => () // server socket closed
          case _: IOException => ()
        }
      }
    }, s"socket-broker-acceptor-${server.getLocalPort}")
    acceptor.setDaemon(true)
    acceptor.start()

    private def handle(sock: Socket): Unit = {
      try {
        val in = new DataInputStream(sock.getInputStream)
        val out = new DataOutputStream(sock.getOutputStream)
        val parts = in.readUTF().split(" ")
        parts(0) match {
          case "TOPICS" =>
            val tps = backend.topicPartitions
            out.writeInt(tps.size)
            tps.foreach { case (t, p) =>
              out.writeUTF(enc(t)); out.writeInt(p)
            }
          case "READ" =>
            val it = backend.read(dec(parts(1)), parts(2).toInt,
              (parts(3).toLong, parts(4).toLong),
              (parts(5).toLong, parts(6).toLong))
            // frame-at-a-time: each write blocks on the socket buffer,
            // so TCP flow control paces the backend iterator (the
            // backpressure clause — nothing is pre-buffered)
            it.foreach { m =>
              val bytes = RawMessageCodec.serialize(m)
              out.writeInt(bytes.length)
              out.write(bytes)
            }
            out.writeInt(-1)
          case "LATEST" =>
            val (l, e) = backend.latest(dec(parts(1)), parts(2).toInt)
            out.writeLong(l); out.writeLong(e)
          case "ADVANCE" =>
            val ((l, e), n) = backend.advance(dec(parts(1)),
              parts(2).toInt, (parts(3).toLong, parts(4).toLong),
              (parts(5).toLong, parts(6).toLong), parts(7).toLong)
            out.writeLong(l); out.writeLong(e); out.writeLong(n)
          case "APPEND" =>
            val len = in.readInt()
            val bytes = new Array[Byte](len)
            in.readFully(bytes)
            backend.append(RawMessageCodec.deserialize(bytes))
            out.writeUTF("OK")
          case other =>
            throw new IOException(s"unknown command: $other")
        }
        out.flush()
      } catch {
        // NonFatal ONLY: swallowing InterruptedException/OOM here would
        // hide genuine failures, and an unlogged backend error (e.g. a
        // failed append) would leave the client with an undiagnosable
        // EOF — log before dropping the connection. Fatal errors
        // propagate and kill the daemon handler thread loudly.
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[socket-broker] dropping connection after ${e.getClass.getName}: ${e.getMessage}")
      } finally {
        try sock.close() catch { case _: IOException => () }
      }
    }

    override def close(): Unit = {
      closed = true
      try server.close() catch { case _: IOException => () }
    }
  }

  /** Client side: an [[EnvelopeBroker]] whose every call crosses the
    * wire. Serializable (holds only host + port), so Spark tasks and
    * foreachBatch closures can carry it to executors — each call opens
    * its own connection, so concurrent tasks never share socket state.
    */
  final class Client(host: String, port: Int)
      extends EnvelopeBroker with WritableEnvelopeBroker with Serializable {

    // bounded retry on the CONNECT phase only: before the request is
    // written, retrying is unconditionally safe (no protocol state),
    // and a saturated accept queue under load can transiently reject
    // (RST) a connection that succeeds 50 ms later. Once a request has
    // been sent, failures surface immediately — a mid-protocol retry
    // could double-execute a command. A genuinely dead server still
    // reads as IOException in well under a second (4 attempts,
    // 50/100/200 ms backoff).
    private def connect(): (Socket, DataInputStream, DataOutputStream) = {
      var attempt = 0
      var delayMs = 50L
      while (true) {
        try {
          val sock = new Socket(host, port)
          // Linux TCP SELF-CONNECT guard: a loopback connect to a port
          // in the ephemeral range with no listener can be satisfied by
          // simultaneous-open against ITSELF (kernel picks the
          // destination port as the source port) — the socket then
          // reads back its own request bytes as the "reply", i.e. a
          // dead server answers with garbage instead of IOException.
          // Treat it as the connection failure it is.
          if (sock.getLocalPort == sock.getPort &&
              sock.getLocalAddress == sock.getInetAddress) {
            sock.close()
            throw new IOException(
              s"self-connect to $host:$port (no listener)")
          }
          sock.setTcpNoDelay(true)
          if (sys.env.contains("GRAFT_SOCKET_TRACE"))
            System.err.println(s"[socket-trace] connected $host:$port " +
              s"local=${sock.getLocalAddress}:${sock.getLocalPort} " +
              s"remote=${sock.getInetAddress}:${sock.getPort} attempt=$attempt")
          return (sock, new DataInputStream(sock.getInputStream),
            new DataOutputStream(sock.getOutputStream))
        } catch {
          case e: IOException =>
            attempt += 1
            if (attempt >= 4) throw e
            Thread.sleep(delayMs)
            delayMs *= 2
        }
      }
      throw new IllegalStateException("unreachable")
    }

    override def topicPartitions: Seq[(String, Int)] = {
      val (sock, in, out) = connect()
      try {
        out.writeUTF("TOPICS"); out.flush()
        val n = in.readInt()
        (0 until n).map(_ => (dec(in.readUTF()), in.readInt()))
      } finally sock.close()
    }

    override def read(topic: String, partition: Int,
        from: (Long, Long), until: (Long, Long)): Iterator[RawMessage] = {
      val (sock, in, out) = connect()
      out.writeUTF(s"READ ${enc(topic)} $partition " +
        s"${from._1} ${from._2} ${until._1} ${until._2}")
      out.flush()
      // lazy frame iterator: the socket stays open while the caller
      // consumes — the flow-control window IS the buffer. A dropped
      // connection ANYWHERE (including before the first frame) closes
      // the socket and raises IOException (transport failure must
      // never read as a short-but-valid range). The iterator is also
      // AutoCloseable so a caller that abandons the stream early can
      // release the connection instead of leaving the server handler
      // blocked on write.
      new Iterator[RawMessage] with AutoCloseable {
        private var open = true
        private var nextLen =
          try in.readInt()
          catch {
            case e: EOFException =>
              close()
              throw new IOException("connection lost before first frame", e)
          }
        override def hasNext: Boolean = {
          if (nextLen < 0) close()
          open && nextLen >= 0
        }
        override def next(): RawMessage = {
          if (!hasNext) throw new NoSuchElementException
          val bytes = new Array[Byte](nextLen)
          try {
            in.readFully(bytes)
            nextLen = in.readInt()
          } catch {
            case e: EOFException =>
              close()
              throw new IOException("connection lost mid-read", e)
          }
          RawMessageCodec.deserialize(bytes)
        }
        override def close(): Unit = {
          if (open) {
            open = false
            try sock.close() catch { case _: IOException => () }
          }
        }
      }
    }

    override def latest(topic: String, partition: Int): (Long, Long) = {
      val (sock, in, out) = connect()
      try {
        out.writeUTF(s"LATEST ${enc(topic)} $partition"); out.flush()
        (in.readLong(), in.readLong())
      } finally sock.close()
    }

    override def advance(topic: String, partition: Int,
        from: (Long, Long), until: (Long, Long),
        n: Long): ((Long, Long), Long) = {
      val (sock, in, out) = connect()
      try {
        out.writeUTF(s"ADVANCE ${enc(topic)} $partition " +
          s"${from._1} ${from._2} ${until._1} ${until._2} $n")
        out.flush()
        ((in.readLong(), in.readLong()), in.readLong())
      } finally sock.close()
    }

    override def append(m: RawMessage): Unit = {
      val (sock, in, out) = connect()
      try {
        out.writeUTF("APPEND")
        val bytes = RawMessageCodec.serialize(m)
        out.writeInt(bytes.length)
        out.write(bytes)
        out.flush()
        val ack = in.readUTF()
        if (ack != "OK") throw new IOException(s"append rejected: $ack")
      } finally sock.close()
    }
  }
}
