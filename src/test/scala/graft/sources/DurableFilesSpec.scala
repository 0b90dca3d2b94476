package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkSuiteBase
import graft.streaming.{FileCluster, RawMessage, TopicRow}

/** The durable roots' file names and bodies are a persisted format: a
  * root written by an earlier build must read back unchanged, so the
  * exact bytes are pinned here.
  */
class DurableFilesSpec extends SparkSuiteBase {

  private def body(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("message and metadata files keep their exact on-disk bytes") {
    val root = Files.createTempDirectory("durable-files")
    val m = RawMessage("acme", "prod", "tp/ü", 0, 5, 1, "a1".getBytes(UTF_8),
      "k1", 1700000001000L, 1700000060000L, Map("h" -> "v", "a" -> ""))
    val broker = new FileBroker(root.resolve("messages").toString)
    broker.append(m)
    val msgFile = root.resolve("messages/dHAvw7w__0/5-1")
    assert(body(msgFile) == "YWNtZQ\ncHJvZA\ndHAvw7w\n0\n5\n1\nYTE=\nkazE\n" +
      "1700000001000\n1700000060000\nYQ:,aA:dg")
    val back = broker.read("tp/ü", 0, (0L, 0L), (9L, 0L)).toSeq
    assert(back.map(r => (r.topic, r.key, r.properties, new String(r.value, UTF_8)))
      == Seq(("tp/ü", "k1", Map("h" -> "v", "a" -> ""), "a1")))

    // a replayed append never replaces the first write
    broker.append(m.copy(value = "other".getBytes(UTF_8)))
    assert(body(msgFile).contains("\nYTE=\n"))

    val cluster = new FileCluster(spark, root.toString)
    cluster.createTopics(Seq(TopicRow("acme", "prod", "tp/ü",
      partitioned = true, partitions = 2, Map("team" -> "data"))))
    assert(body(root.resolve("topics/YWNtZQ__cHJvZA__dHAvw7w")) ==
      "true\n2\ndGVhbQ:ZGF0YQ")
    assert(cluster.topics.collect().map(r =>
        (r.getAs[String]("topic"), r.getAs[Map[String, String]]("properties")))
      .toSeq == Seq(("tp/ü", Map("team" -> "data"))))
  }
}
