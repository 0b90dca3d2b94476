package graft.sources

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, FileAlreadyExistsException, NoSuchFileException, Path,
  StandardCopyOption, StandardOpenOption}
import java.util.Base64
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The on-disk conventions shared by [[FileBroker]], the test-side
  * `SocketBroker` wire protocol and `graft.streaming.FileCluster`: one
  * name codec, one create discipline and one listing, so every file a
  * durable root holds is written and read back the same way.
  *
  * A create makes one inode, and making an inode is the expensive part
  * of a create (on a journaling filesystem, a few hundred µs of kernel
  * time, against tens of µs for a link, a rename or an append). So a
  * durable root's creates take their temp files from the root's
  * [[FilePool]] of empty files made ahead, and a create on the write
  * path only writes and links.
  */
private[graft] object DurableFiles {

  /** Unpadded base64url of the UTF-8 bytes: safe in file names and
    * in `__`/`,`/`:`-separated fields for any input string.
    */
  def enc(s: String): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes(UTF_8))
  def dec(s: String): String =
    new String(Base64.getUrlDecoder.decode(s), UTF_8)

  /** `k:v` pairs of [[enc]]oded strings, key-sorted, comma-joined. */
  def encProps(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => enc(k) + ":" + enc(v) }
      .mkString(",")
  def decProps(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else s.split(",", -1).map { kv =>
      val Array(k, v) = kv.split(":", 2)
      dec(k) -> dec(v)
    }.toMap

  private val pools = new ConcurrentHashMap[Path, FilePool]()

  /** The JVM's one [[FilePool]] for the durable root `root`. Its
    * refill thread starts on the first [[FilePool.take]], so a root
    * that is only read makes no pool.
    */
  def pool(root: Path): FilePool =
    pools.computeIfAbsent(root.toAbsolutePath.normalize, new FilePool(_))

  /** Atomic, non-replacing create of `d/name`: the first write wins
    * and a conflict is success, so replays and racing writers are
    * no-ops. `d` must exist and lie on `pool`'s filesystem; `body` is
    * built only when `d/name` does not exist yet. True when this call
    * created the file, false when it existed already or a racing
    * writer created it first.
    */
  def createFile(pool: FilePool, d: Path, name: String, body: => Array[Byte]): Boolean = {
    val target = d.resolve(name)
    !Files.exists(target) && {
      val tmp = pool.take(d)
      try Files.write(tmp, body)
      catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
      commit(tmp, target)
    }
  }

  /** Replaces `d/name` with `body` atomically, last writer wins: a
    * reader sees the old bytes or the new ones, never an empty or
    * partial file.
    */
  def replaceFile(d: Path, name: String, body: Array[Byte]): Unit = {
    val tmp = tempFile(d)
    try {
      Files.write(tmp, body)
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** `d`, created first when it is missing. */
  def ensureDir(d: Path): Path = {
    if (!Files.isDirectory(d)) Files.createDirectories(d)
    d
  }

  /** The names in directory `d` (none when it does not exist), sorted;
    * in-flight temp files (dot-prefixed, see [[tempFile]]) skipped.
    * `Files.list` holds a directory fd until closed — a directory
    * polled every micro-batch would leak fds without the try/finally.
    */
  def listNames(d: Path): Seq[String] =
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toList.sorted
      finally s.close()
    }

  /** A fresh temp file in `d`: dot-prefixed, so [[listNames]] skips it. */
  def tempFile(d: Path): Path = Files.createTempFile(d, ".w", ".tmp")

  /** Gives the fully written file `tmp` the further name `target` on
    * the same filesystem, atomically and without replacing; `tmp`
    * keeps its name. True when this call created `target`, false when
    * it existed already.
    */
  def link(tmp: Path, target: Path): Boolean =
    try {
      // atomic AND non-replacing: link(2) fails with EEXIST when the
      // target exists, so the FIRST create wins even under a race —
      // Files.move(ATOMIC_MOVE) maps to rename(2) on POSIX, which
      // silently REPLACES an existing target and would let a
      // replayed epoch overwrite a committed (possibly already-read)
      // file. Readers never see partials either way: the name
      // appears only fully written (dot-prefixed temps are skipped).
      Files.createLink(target, tmp); true
    } catch {
      case _: FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        // no hard links (exotic FS): a copy renamed into place, the
        // weaker create, non-replacing only without concurrent writers
        !Files.exists(target) && {
          val copy = tempFile(target.getParent)
          try {
            Files.copy(tmp, copy, StandardCopyOption.REPLACE_EXISTING)
            Files.move(copy, target, StandardCopyOption.ATOMIC_MOVE); true
          } catch { case _: FileAlreadyExistsException => false }
          finally Files.deleteIfExists(copy)
        }
    }

  /** [[link]] `tmp` to `target`, then delete `tmp`. */
  def commit(tmp: Path, target: Path): Boolean =
    try link(tmp, target) finally Files.deleteIfExists(tmp)
}

/** Empty files made ahead for the creates under one durable root, so
  * that a create links a file it did not have to make. Layout:
  *
  * {{{
  * root/.pool/<id>.lock    held (an OS file lock) while pool <id> lives
  * root/.pool/<id>/        pool <id>'s empty files
  * }}}
  *
  * `.pool` is dot-prefixed, so no listing of the root sees it. A
  * daemon thread, started by the first [[take]], keeps about twice the
  * largest number of takes seen in one second over the last ten
  * seconds ready, at least [[FilePool.Min]] and at most
  * [[FilePool.Cap]] files. When the pool is empty, or not set up yet,
  * [[take]] creates the file inline in the caller's directory, exactly
  * as without a pool: correctness never depends on it.
  *
  * A JVM that dies leaves its lock file and up to [[FilePool.Cap]]
  * files behind (a file it had taken may hold bytes, and may also be
  * linked under a committed name if it died between the link and the
  * delete). The OS releases the dead JVM's lock, so the next pool
  * set up on the same root, in any process, wins that lock: it adopts
  * the files that are empty and have no other name into its own
  * directory, deletes the rest (which only drops a name) and removes
  * the dead pool's directory and lock file. A live pool's lock cannot
  * be taken, so its files are never touched.
  */
private[graft] final class FilePool(root: Path) {
  import FilePool._

  private val base = root.resolve(".pool")
  private val id = java.util.UUID.randomUUID().toString
  private val dir = base.resolve(id)
  private val ready = new ConcurrentLinkedQueue[Path]()
  private val size = new AtomicInteger()
  // takes in the current one-second window
  private val taken = new AtomicInteger()
  private val madeAhead = new AtomicLong()
  private val madeInline = new AtomicLong()
  @volatile private var target = Min
  // referenced for the pool's lifetime: a collected channel closes its
  // fd, and closing the fd would release the lock
  @volatile private var lock: FileChannel = _

  private lazy val refiller: Thread = {
    val t = new Thread(() => refill(), s"graft-file-pool:$root")
    t.setDaemon(true)
    t.start()
    t
  }

  /** An empty file on `d`'s filesystem: one made ahead while the pool
    * holds any, else one created inline in `d`.
    */
  def take(d: Path): Path = {
    val t = refiller
    taken.incrementAndGet()
    val p = ready.poll()
    if (p != null) {
      if (size.decrementAndGet() < target / 2) LockSupport.unpark(t)
      p
    } else {
      LockSupport.unpark(t)
      madeInline.incrementAndGet()
      DurableFiles.tempFile(d)
    }
  }

  /** Files ready to take. */
  def readyCount: Int = size.get
  /** Files made ahead (adopted ones not counted). */
  def made: Long = madeAhead.get
  /** Files [[take]] created inline because the pool was empty. */
  def inline: Long = madeInline.get

  private def offer(p: Path): Unit = { ready.add(p); size.incrementAndGet() }

  private def refill(): Unit =
    try {
      Files.createDirectories(base)
      // held until the JVM exits: the lock is what marks this pool live.
      // Locked under a dot name and then renamed (the lock stays on the
      // inode), so no adopter ever finds this lock file unlocked.
      val lockFile = base.resolve(s"$id.lock")
      val unnamed = base.resolve(s".$id.lock")
      held.add(lockFile)
      lock = FileChannel.open(unnamed,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      lock.lock()
      Files.move(unnamed, lockFile, StandardCopyOption.ATOMIC_MOVE)
      Files.createDirectories(dir)
      DurableFiles.listNames(base).filter(_.endsWith(".lock"))
        .foreach(n => adopt(n.stripSuffix(".lock")))
      var windowStart = System.nanoTime()
      var peak = 0
      var peakAt = windowStart
      while (true) {
        val now = System.nanoTime()
        if (now - windowStart >= Second) {
          val n = taken.getAndSet(0)
          windowStart = now
          if (n >= peak || now - peakAt > PeakMemory) { peak = n; peakAt = now }
        }
        target = math.min(Cap, math.max(Min, 2 * math.max(peak, taken.get)))
        while (size.get < target) {
          offer(Files.createTempFile(dir, "", ""))
          madeAhead.incrementAndGet()
        }
        LockSupport.parkNanos(Period)
      }
    } catch {
      // the root is gone or unwritable: every take creates inline from
      // now on, as without a pool
      case NonFatal(_) => ()
    }

  /** Takes over the pool `other` if its owner is dead (see above). */
  private def adopt(other: String): Unit = {
    val lockFile = base.resolve(s"$other.lock")
    // this JVM's own pools are live; and closing a channel on a file
    // drops every lock the process holds on it, so never open theirs
    val ch = if (held.contains(lockFile)) None
      else try Some(FileChannel.open(lockFile, StandardOpenOption.WRITE))
      catch { case _: NoSuchFileException => None } // adopted meanwhile
    ch.foreach { c =>
      try {
        // another pool of this JVM on the same root is adopting it
        val won = try c.tryLock() != null
          catch { case _: OverlappingFileLockException => false }
        if (won) {
          val od = base.resolve(other)
          DurableFiles.listNames(od).map(od.resolve).foreach { f =>
            if (Files.size(f) == 0 && Files.getAttribute(f, "unix:nlink") == 1) {
              val mine = dir.resolve(f.getFileName)
              Files.move(f, mine)
              offer(mine)
            } else Files.delete(f)
          }
          Files.deleteIfExists(od)
          Files.deleteIfExists(lockFile)
        }
      } finally c.close()
    }
  }
}

private[graft] object FilePool {
  // the lock files of this JVM's pools
  private val held = ConcurrentHashMap.newKeySet[Path]()
  val Min = 16
  val Cap = 1024
  private val Period = 100L * 1000000L
  private val Second = 1000L * 1000000L
  private val PeakMemory = 10L * Second
}
