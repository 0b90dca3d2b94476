package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, FileAlreadyExistsException, Path, StandardCopyOption}
import java.util.Base64

import scala.jdk.CollectionConverters._

/** The on-disk conventions shared by [[FileBroker]], the test-side
  * `SocketBroker` wire protocol and `graft.streaming.FileCluster`: one
  * name codec, one create discipline and one listing, so every file a
  * durable root holds is written and read back the same way.
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

  /** Atomic, non-replacing create of `d/name`: the first write wins
    * and a conflict is success, so replays and racing writers are
    * no-ops. `d` must exist; `body` is built only when `d/name` does
    * not exist yet. True when this call created the file, false when
    * it existed already or a racing writer created it first.
    */
  def createFile(d: Path, name: String, body: => Array[Byte]): Boolean = {
    val target = d.resolve(name)
    !Files.exists(target) && {
      val tmp = tempFile(d)
      try Files.write(tmp, body)
      catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
      commit(tmp, target)
    }
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

  /** Give the fully written temp file `tmp` the name `target` in the
    * same directory, atomically and without replacing, then delete
    * `tmp`. True when this call created `target`, false when it
    * existed already.
    */
  def commit(tmp: Path, target: Path): Boolean =
    try {
      // atomic AND non-replacing: link(2) fails with EEXIST when the
      // target exists, so the FIRST create wins even under a race —
      // Files.move(ATOMIC_MOVE) maps to rename(2) on POSIX, which
      // silently REPLACES an existing target and would let a
      // replayed epoch overwrite a committed (possibly already-read)
      // file. Readers never see partials either way: the name
      // appears only fully written (dot-prefixed temps are skipped).
      try { Files.createLink(target, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hard links (exotic FS): fall back to the weaker
          // rename, non-replacing only without concurrent writers
          try { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
          catch { case _: FileAlreadyExistsException => false }
      }
    } finally Files.deleteIfExists(tmp)
}
