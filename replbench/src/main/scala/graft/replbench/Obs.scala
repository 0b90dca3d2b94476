package graft.replbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

/** One recorded interval at a layer boundary. `parent` is 0 for a root
  * span; task-side spans get their parent assigned after the run by
  * interval containment (see [[Trace.selfTimes]]).
  */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, run: String)

/** JVM-wide observation state. Executors run in the driver JVM under
  * `local[n]`, so task-side wrappers and the driver share these
  * counters. Untraced runs only add to counters; spans are kept (in
  * memory, written when the run ends) only while `tracing` is set.
  */
object Obs {
  @volatile var tracing: Boolean = false
  @volatile var runId: String = ""

  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder()).add(v)

  def count(name: String): Long = {
    val a = counters.get(name)
    if (a == null) 0L else a.sum()
  }

  def ms(name: String): Double = count(name + ".ns") / 1e6

  def reset(): Unit = { counters.clear(); spans.clear() }

  /** Time `body` under `layer`: always `<layer>.calls` and `<layer>.ns`;
    * a span too when tracing. Nested calls on one thread link to their
    * caller's span.
    */
  def timed[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (!tracing) {
      try body
      finally { add(layer + ".ns", System.nanoTime() - t0); add(layer + ".calls", 1) }
    } else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        add(layer + ".ns", t1 - t0); add(layer + ".calls", 1)
        spans.add(Span(id, parent, layer, t0, t1, runId))
      }
    }
  }

  /** Record an interval observed after the fact (listener callbacks). */
  def span(name: String, startNs: Long, endNs: Long, parent: Long = 0L): Long = {
    val id = ids.incrementAndGet()
    if (tracing) spans.add(Span(id, parent, name, startNs, endNs, runId))
    id
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** Phase marks on stderr: where a run's set-up time goes. */
object Phase {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(name: String): Unit =
    System.err.println(f"[replbench] ${(System.currentTimeMillis() - t0) / 1e3}%7.2f s $name")
}

object Stats {
  /** Nearest-rank percentile; None unless at least 10 samples lie
    * beyond it, so a reported tail always rests on real samples.
    */
  def pctl(xs: Seq[Double], p: Double): Option[Double] = {
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val k = math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1))
      if (s.size - 1 - k < 10) None else Some(s(k))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(math.log).sum / xs.size)
}

/** Post-run span analysis: self time per layer (span duration minus
  * the part of it that child spans cover) and JSONL output.
  */
object Trace {

  private def covered(lo: Long, hi: Long, kids: Seq[Span]): Long = {
    var total = 0L
    var end = lo
    kids.map(k => (math.max(k.startNs, lo), math.min(k.endNs, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) { total += b - s; end = b }
      }
    total
  }

  /** Assign a containing parent to every root span from `childLayers`:
    * the innermost span of `parentLayers` whose interval holds its start.
    */
  def adopt(spans: Seq[Span], childLayers: Set[String],
      parentLayers: Set[String]): Seq[Span] = {
    val parents = spans.filter(s => parentLayers(s.name)).sortBy(_.startNs)
    spans.map { s =>
      if (s.parent != 0L || !childLayers(s.name)) s
      else parents.filter(p => p.startNs <= s.startNs && s.startNs <= p.endNs)
        .sortBy(p => p.endNs - p.startNs).headOption
        .map(p => s.copy(parent = p.id)).getOrElse(s)
    }
  }

  /** Self time in ms per layer name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Seq.empty)
        (s.endNs - s.startNs) - covered(s.startNs, s.endNs, kids)
      }.sum / 1e6
    }
  }

  def writeJsonl(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      val row = new java.util.LinkedHashMap[String, Any]()
      row.put("id", s.id); row.put("parent", s.parent); row.put("name", s.name)
      row.put("start_ns", s.startNs); row.put("end_ns", s.endNs); row.put("run", s.run)
      w.write(mapper.writeValueAsString(row))
      w.newLine()
    } finally w.close()
  }
}
