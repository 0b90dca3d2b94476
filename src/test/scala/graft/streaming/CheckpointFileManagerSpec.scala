package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager => SparkCheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuiteBase
import graft.sources.{EnvelopeBrokerRegistry, InMemoryBroker}

/** The java.nio checkpoint manager keeps Spark's `createAtomic`
  * contract, and a checkpoint moves between it and Spark's default.
  */
class CheckpointFileManagerSpec extends SparkSuiteBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def ours(dir: String) = new CheckpointFileManager(new Path(s"file:$dir"), conf)
  private def sparks(dir: String) =
    new FileContextBasedCheckpointFileManager(new Path(s"file:$dir"), conf)

  private def write(fm: SparkCheckpointFileManager, p: Path, text: String,
      replace: Boolean): Unit = {
    val out = fm.createAtomic(p, replace)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: SparkCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("a non-replacing create over an existing file fails and keeps the old bytes") {
    val dir = tmpDir("cfm-keep")
    val fm = ours(dir)
    val p = new Path(s"file:$dir/0")
    write(fm, p, "old", replace = false)
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("new".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next: a no-op by now
    assert(read(fm, p) == "old")
    assert(names(dir) == Seq("0"))
  }

  test("nothing is visible before close, and cancel leaves neither target nor temp file") {
    val dir = tmpDir("cfm-cancel")
    val fm = ours(dir)
    val p = new Path(s"file:$dir/sub/1")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(!fm.exists(p))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(s"$dir/sub").isEmpty)
  }

  test("a replace moves the new bytes over the target and removes its stale .crc") {
    val dir = tmpDir("cfm-replace")
    val p = new Path(s"file:$dir/2")
    write(sparks(dir), p, "old bytes", replace = false)
    assert(names(dir) == Seq(".2.crc", "2"), "Spark's LocalFs write leaves a checksum")
    write(ours(dir), p, "new", replace = true)
    assert(names(dir) == Seq("2"))
    // a checksumming read through Spark's manager sees the new bytes
    assert(read(sparks(dir), p) == "new")
  }

  test("a query checkpointed under Spark's default manager restarts under this one, and back, without replay") {
    val name = s"cfm-restart-${java.util.UUID.randomUUID()}"
    val broker = new InMemoryBroker
    EnvelopeBrokerRegistry.register(name, broker)
    val ckpt = tmpDir("cfm-restart-ckpt")
    def msg(e: Long) = RawMessage("t", "ns", "c", 0, 1L, e, Array[Byte](1), null, 0L,
      1700000000000L + e, Map.empty)

    /** Entry ids one AvailableNow run reads, with `manager` as the
      * session's checkpoint manager (None: Spark's default).
      */
    def run(manager: Option[String]): Seq[Long] = {
      val before = spark.conf.getOption(CheckpointFileManager.ConfKey)
      manager match {
        case Some(c) => spark.conf.set(CheckpointFileManager.ConfKey, c)
        case None => spark.conf.unset(CheckpointFileManager.ConfKey)
      }
      try {
        val got = new ConcurrentLinkedQueue[Long]()
        spark.readStream.format("pulsar-envelope").option("broker", name).load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            b.select("entryId").collect().foreach(r => got.add(r.getLong(0))): Unit
          }
          .start().awaitTermination()
        got.asScala.toSeq.sorted
      } finally before match {
        case Some(v) => spark.conf.set(CheckpointFileManager.ConfKey, v)
        case None => spark.conf.unset(CheckpointFileManager.ConfKey)
      }
    }

    val nio = Some(classOf[CheckpointFileManager].getName)
    broker.add(msg(0), msg(1))
    assert(run(None) == Seq(0L, 1L))
    broker.add(msg(2))
    assert(run(nio) == Seq(2L))
    broker.add(msg(3))
    assert(run(None) == Seq(3L))
    assert(run(nio).isEmpty)
    // which manager wrote each offset-log entry: only LocalFs adds a .crc
    assert(names(s"$ckpt/offsets") == Seq(".0.crc", ".2.crc", "0", "1", "2"))
  }
}
