package graft.streaming

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

import graft.sources.DurableFiles

/** Spark's file-context checkpoint manager, except that an atomic
  * create on a `file:` path goes through java.nio. Spark writes every
  * offset-log and commit-log entry of a micro-batch with
  * `createAtomic`; through Hadoop's `LocalFs` without libhadoop, each
  * such write forks `chmod` and `readlink` processes (about 40 ms per
  * write, against well under 1 ms here), and the offset-log write
  * precedes every micro-batch.
  *
  * The semantics are Spark's: the file appears only fully written,
  * under its final name, and a non-replacing create never replaces.
  * The bytes go to a dot-prefixed temp file in the target directory,
  * which `close` commits with [[DurableFiles.commit]] (link, then
  * delete the temp); a target that exists already makes `close` throw
  * Hadoop's `FileAlreadyExistsException`, which `HDFSMetadataLog`
  * reads as a concurrent writer. With `overwriteIfPossible` the temp
  * file is moved over the target atomically, and a stale `.<name>.crc`
  * that `LocalFs` left beside the target is removed first, so that a
  * checksumming read never checks the new bytes against the old sum.
  * `cancel` deletes the temp file. Files written here carry no
  * `.crc`, which `LocalFs` reads accept, so a checkpoint moves
  * between this manager and Spark's default in either direction.
  *
  * Every other scheme, and every other operation, is the superclass's.
  * Spark picks the manager from the session configuration
  * `spark.sql.streaming.checkpointFileManagerClass`
  * ([[CheckpointFileManager.ConfKey]]), which [[MessageMirror.start]]
  * sets when it is unset.
  */
class CheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val qualified = fc.makeQualified(path)
    if (qualified.toUri.getScheme != "file") super.createAtomic(path, overwriteIfPossible)
    else {
      val target = Paths.get(qualified.toUri)
      val dir = Files.createDirectories(target.getParent)
      val tmp = DurableFiles.tempFile(dir)
      val out =
        try new BufferedOutputStream(Files.newOutputStream(tmp))
        catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
      new CheckpointFileManager.AtomicFile(out, tmp, target, overwriteIfPossible)
    }
  }
}

object CheckpointFileManager {

  /** The session setting through which Spark picks a checkpoint manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private class AtomicFile(
      out: OutputStream, tmp: NioPath, target: NioPath, replace: Boolean)
      extends CancellableFSDataOutputStream(out) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (replace) {
            Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else if (!DurableFiles.commit(tmp, target))
            throw new FileAlreadyExistsException(s"$target already exists")
        } finally Files.deleteIfExists(tmp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        Files.deleteIfExists(tmp)
      }
    }
  }
}
