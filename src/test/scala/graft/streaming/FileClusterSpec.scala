package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSuiteBase
import graft.sources.DurableFiles.enc

/** [[FileCluster]]'s cursor files and its sink's claims. */
class FileClusterSpec extends SparkSuiteBase {

  test("cursor files are replaced atomically: every read during a rewrite loop parses") {
    val c = new FileCluster(spark, tmpDir("fc-cursors"), "c")
    c.observeCursor(CursorStat("tp", 0, "sub", 0L, 0L, new Timestamp(0L)))
    c.applyCursorAction(CursorAction("tp", 0, "sub", "create", Some(0L), Some(0L)))
    val stop = new AtomicBoolean()
    val writer = new Thread(() => {
      var i = 1L
      while (!stop.get) {
        c.observeCursor(CursorStat("tp", 0, "sub", i, i, new Timestamp(i)))
        c.applyCursorAction(CursorAction("tp", 0, "sub", "reset", Some(i), Some(i)))
        i += 1
      }
    })
    writer.start()
    var reads = 0
    try {
      val until = System.nanoTime() + 2L * 1000000000L
      while (System.nanoTime() < until) {
        val (_, l, e) = c.dstCursors(("tp", 0, "sub"))
        assert(l == e)
        val Array(stat) = c.cursorStats.collect()
        assert(stat.getAs[Long]("readLedger") == stat.getAs[Long]("readEntry"))
        reads += 1
      }
    } finally { stop.set(true); writer.join() }
    assert(reads > 0)
  }

  test("a replayed publish returns its claim's dst id and re-links a message lost between the links") {
    val root = Paths.get(tmpDir("fc-claims"))
    val c = new FileCluster(spark, root.toString, "c")
    def m(e: Long, v: String) = PulsarMessage("tn", "ns", "tp", 0, 7L, e,
      v.getBytes(UTF_8), None, None, new Timestamp(1000L + e), Map.empty)
    val sink = c.sink
    assert((0L until 3L).map(e => sink.publish(m(e, s"v$e"))) ==
      (0L until 3L).map(e => (1000L, e)))
    val claim = root.resolve(s"assignments/${enc("tp")}__0/7-1")
    val message = root.resolve(s"messages/${enc("tp")}__0/1000-1")
    // a writer that died after the claim, before the message name
    Files.delete(message)
    // a fresh sink replays (7, 1) with other bytes: the claim's dst id
    // and bytes win, and the message is the claim again
    assert(c.sink.publish(m(1L, "other")) == ((1000L, 1L)))
    assert(Files.getAttribute(message, "unix:ino") == Files.getAttribute(claim, "unix:ino"))
    assert(c.mirroredMessages.map(r => (r.entryId, new String(r.value, UTF_8))) ==
      Seq((0L, "v0"), (1L, "v1"), (2L, "v2")))
    // and the next new message still gets the next dst entry
    assert(c.sink.publish(m(3L, "v3")) == ((1000L, 3L)))
  }
}
