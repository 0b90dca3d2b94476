package graft.sources

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The pool of empty files a durable root's creates take their temp
  * files from.
  */
class FilePoolSpec extends AnyFunSuite {

  private def ino(p: Path): AnyRef = Files.getAttribute(p, "unix:ino")

  /** The regular files under `d`, recursively. */
  private def files(d: Path): Seq[Path] = {
    val s = Files.walk(d)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val until = System.nanoTime() + 20L * 1000000000L
    while (!cond) {
      assert(System.nanoTime() < until, s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  test("take hands out files made ahead while the pool holds any, and creates inline when it is empty") {
    val root = Files.createTempDirectory("file-pool")
    val d = Files.createDirectories(root.resolve("d"))
    val pool = new FilePool(root)
    Files.delete(pool.take(d)) // starts the refill thread
    eventually("the first fill")(pool.readyCount >= FilePool.Min)
    val ahead = files(root.resolve(".pool")).map(ino).toSet
    val inline0 = pool.inline
    val p = pool.take(d)
    assert(ahead.contains(ino(p)) && Files.size(p) == 0)
    assert(!p.startsWith(d) && files(d) == Seq.empty && pool.inline == inline0)
    Files.delete(p)
    // drained faster than it refills: the take falls back inline, in d
    var q = pool.take(d)
    var n = 1
    while (pool.inline == inline0 && n < 100000) { Files.delete(q); q = pool.take(d); n += 1 }
    assert(pool.inline > inline0 && q.getParent == d)
    assert(pool.made >= FilePool.Min)
  }

  test("a dead pool's empty files are adopted and its other files deleted; a live pool's are left alone") {
    val root = Files.createTempDirectory("file-pool-adopt")
    val base = root.resolve(".pool")
    val live = new FilePool(root)
    Files.delete(live.take(root))
    eventually("the live pool's fill")(live.readyCount >= FilePool.Min)
    val liveFiles = files(base).toSet
    // a pool whose JVM died: its lock is free, one file holds bytes
    val dead = Files.createDirectories(base.resolve("dead"))
    Files.createFile(base.resolve("dead.lock"))
    val empty = (0 until 3).map(i => ino(Files.createFile(dead.resolve(s"e$i")))).toSet
    Files.write(dead.resolve("full"), "bytes".getBytes("UTF-8"))
    // an empty file committed under a second name before the JVM died
    val committed = Files.createLink(root.resolve("committed"),
      Files.createFile(dead.resolve("linked")))

    val adopter = new FilePool(root)
    Files.delete(adopter.take(root))
    eventually("the adoption")(!Files.exists(dead))
    assert(!Files.exists(base.resolve("dead.lock")))
    val after = files(base)
    assert(empty.subsetOf(after.map(ino).toSet))
    assert(Files.exists(committed) && !after.map(ino).contains(ino(committed)))
    assert(after.forall(f => Files.size(f) == 0))
    assert(liveFiles.forall(Files.exists(_)))
  }
}
