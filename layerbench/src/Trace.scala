package layerbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job tag: jobs, tasks, shuffle bytes
  * written and output bytes written. */
final class SparkCounts {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val outputBytes = new AtomicLong
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "output_bytes" -> outputBytes.get.toDouble)
}

/** Counts every job, task, shuffle byte and output byte by the job tag
  * the benchmark set around the layer call that launched it. Stages
  * inherit the tags of the job that submitted them, so a task is
  * charged through its stage id. */
final class TagListener extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, SparkCounts]()
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
  private val open = new AtomicLong

  private def tags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith(Tracer.TagPrefix)))
      .getOrElse(Nil)

  def counts(tag: String): SparkCounts =
    byTag.computeIfAbsent(tag, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    open.incrementAndGet()
    val ts = tags(e.properties)
    ts.foreach(t => counts(t).jobs.incrementAndGet())
    e.stageIds.foreach(id => stageTags.put(id, ts))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = open.decrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ts = Option(stageTags.get(e.stageId)).getOrElse(Nil)
    val m = Option(e.taskMetrics)
    ts.foreach { t =>
      val c = counts(t)
      c.tasks.incrementAndGet()
      m.foreach { tm =>
        c.shuffleBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        c.outputBytes.addAndGet(tm.outputMetrics.bytesWritten)
      }
    }
  }

  /** The listener bus is asynchronous: wait until every started job has
    * been seen to end and no event arrived for a short quiet period. */
  def drain(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (open.get > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

/** One recorded span: a call into a layer, timed on the calling thread. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Latency histogram for per-sample calls (writeBytes/readBytes), where a
  * span per call would cost more than the call: exact values are kept
  * in a growable primitive array and sorted once at the end. */
final class Hist {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def count: Int = n
  def values: Array[Long] = java.util.Arrays.copyOf(a, n)
  def pct(p: Double): Double = Stats.pct(values, p)
}

/** Spans and counters for one run. With tracing off every method is a
  * no-op apart from running the body, so untraced runs pay one branch
  * per layer call. */
final class Tracer(val on: Boolean, val runId: String, sc: SparkContext) {
  val listener: Option[TagListener] =
    if (on) { val l = new TagListener; sc.addSparkListener(l); Some(l) } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tagOfSpan = mutable.Map.empty[Long, String]
  private var nextId = 1L
  private var current = 0L

  /** Time `body` as a span of `layer`; Spark jobs it launches on this
    * thread (and on threads it creates) carry the span's job tag. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      val tag = s"${Tracer.TagPrefix}$layer-$id"
      sc.addJobTag(tag)
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current = parent
        sc.removeJobTag(tag)
        spans += Span(id, parent, layer, name, t0, t1)
        tagOfSpan(id) = tag
      }
    }

  def spanCount: Int = spans.size

  /** Self time per layer: a span's duration minus the part of it its
    * child spans cover (children run on the same thread, so they nest). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.durNs - childNs(s.id)).sum / 1e9
    }
  }

  /** Spark counts of a layer, summed over its outermost spans: a job is
    * tagged by every span open on its thread, so a nested span of the
    * same layer would count it twice. */
  def sparkByLayer(layer: String): Map[String, Double] = listener match {
    case None => Map.empty
    case Some(l) =>
      val layerOf = spans.map(s => s.id -> s.layer).toMap
      val own = spans.filter(s => s.layer == layer && !layerOf.get(s.parent).contains(layer))
        .map(s => l.counts(tagOfSpan(s.id)).toMap)
      Seq("jobs", "tasks", "shuffle_bytes", "output_bytes")
        .map(k => k -> own.map(_.getOrElse(k, 0.0)).sum).toMap
  }

  /** Write every span, with its Spark counts, as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    listener.foreach(_.drain())
    val sb = new StringBuilder
    spans.foreach { s =>
      val c = listener.map(_.counts(tagOfSpan(s.id)).toMap).getOrElse(Map.empty)
      sb ++= Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
        c.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Tracer {
  val TagPrefix = "layerbench-"
}

object Stats {
  /** Nearest-rank percentile of `a` (p in [0,1]); NaN when empty. */
  def pct(a: Array[Long], p: Double): Double = {
    if (a.isEmpty) Double.NaN
    else {
      val b = a.clone(); java.util.Arrays.sort(b)
      b(math.min(b.length - 1, math.max(0, math.ceil(p * b.length).toInt - 1))).toDouble
    }
  }
  def pctD(a: Seq[Double], p: Double): Double =
    if (a.isEmpty) Double.NaN
    else {
      val b = a.sorted
      b(math.min(b.length - 1, math.max(0, math.ceil(p * b.length).toInt - 1)))
    }
  def median(a: Seq[Double]): Double = {
    val b = a.sorted
    if (b.isEmpty) Double.NaN
    else if (b.size % 2 == 1) b(b.size / 2) else (b(b.size / 2 - 1) + b(b.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
