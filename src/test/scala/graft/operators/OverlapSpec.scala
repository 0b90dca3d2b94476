package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSuiteBase

class OverlapSpec extends SparkSuiteBase {

  test("overlapped jobs carry the submitter's job properties, not the pool thread's") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[(String, Option[String])]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val rdds = js.stageInfos.flatMap(_.rddInfos).map(_.name)
        rdds.find(_.startsWith("overlap-probe-")).foreach { probe =>
          groups.add(probe ->
            Option(js.properties).flatMap(p =>
              Option(p.getProperty("spark.jobGroup.id"))))
        }
      }
    }
    def probeJob(name: String): Thread = {
      sc.parallelize(1 to 4, 2).setName(name).count()
      Thread.currentThread()
    }
    sc.addSparkListener(listener)
    try {
      // group A creates (or reuses) a pool thread; wait until it idles
      // so the next submission is handed to that existing thread
      sc.setJobGroup("overlap-A", "overlap-A")
      val worker = Overlap.await(Overlap.future(probeJob("overlap-probe-A")))
      while (worker.getState != Thread.State.TIMED_WAITING) Thread.sleep(5)
      sc.setJobGroup("overlap-B", "overlap-B")
      Overlap.await(Overlap.future(probeJob("overlap-probe-B")))
      // a submitter without a group must not inherit a stale one
      sc.clearJobGroup()
      Overlap.await(Overlap.future(probeJob("overlap-probe-none")))
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(groups.asScala.toMap == Map(
      "overlap-probe-A" -> Some("overlap-A"),
      "overlap-probe-B" -> Some("overlap-B"),
      "overlap-probe-none" -> None))
  }
}
