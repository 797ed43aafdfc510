package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Percentiles and medians over measured samples. */
object Stats {
  /** Nearest-rank percentile, `p` in [0, 100]; NaN on no samples. */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
}

/** Thread-safe growable sample buffer. */
final class Samples {
  private val q = new ConcurrentLinkedQueue[java.lang.Double]()
  def add(v: Double): Unit = { q.add(v); () }
  def values: Seq[Double] = q.asScala.map(_.doubleValue).toSeq
  def size: Int = q.size
}

/** Delivery latencies, each kept with its event's submission time. */
final class Latencies {
  private val q = new ConcurrentLinkedQueue[(Long, Double)]()
  /** An event received at `recvNs` after `ms` milliseconds. */
  def add(recvNs: Long, ms: Double): Unit = { q.add((recvNs - math.round(ms * 1e6), ms)); () }
  /** Latencies in order of receipt. */
  def values: Seq[Double] = q.asScala.map(_._2).toSeq

  /** The run's tail as the median of its windows' p99s. Events of one
    * micro-batch or one emitted batch share most of their latency, so a
    * whole-run p99 is set by the one or two slowest batches of the run;
    * the median over windows by a typical window's slowest events. */
  def windowedP99: Double = Stats.median(windowP99s)

  /** The samples in order of submission, cut into consecutive windows of
    * at least [[Latencies.MinWindow]] samples (so each p99 has 10 samples
    * beyond it) that never split events submitted together, as one
    * `emitAll` batch is; a short remainder joins the last window. */
  def windowP99s: Seq[Double] = {
    val windows = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[Double])
    var last = Long.MinValue
    q.asScala.toSeq.sortBy(_._1).foreach { case (submit, ms) =>
      if (windows.last.size >= Latencies.MinWindow && submit != last) windows += mutable.ArrayBuffer.empty
      windows.last += ms
      last = submit
    }
    if (windows.size > 1 && windows.last.size < Latencies.MinWindow) {
      val rest = windows.remove(windows.size - 1)
      windows.last ++= rest
    }
    windows.toSeq.map(Stats.pct(_, 99))
  }

  /** A note for the run's log: the whole-run p99 and each window's. */
  def note: String = {
    val w = windowP99s
    f"deliver p99 ${Stats.pct(values, 99)}%.0f ms over the run, ${w.size} windows: " +
      w.map(p => f"$p%.0f").mkString("/") + " ms"
  }
}

object Latencies {
  val MinWindow = 1000
}

/** In-memory spans. Disabled (the untraced run) every method is a
  * pass-through, so end-to-end numbers carry no tracing cost. Call
  * timings the metrics report are kept in [[Samples]] by the workloads,
  * over their timed phase only.
  *
  * A span is (id, parent, layer, name, start, end) in nanoseconds on the
  * `System.nanoTime` clock; the parent of a call span is the span open
  * on the calling thread. Spans rebuilt from listener events (micro-
  * batches, Spark jobs and stages) are added with an explicit parent. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        start: Long, end: Long, link: Long = -1L)
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = open.get.headOption.getOrElse(0L)

  /** Records `f` as one span of a call into `layer`. */
  def call[T](layer: String, name: String, link: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = current
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        spans.add(Span(id, parent, layer, name, t0, t1, link))
      }
    }

  /** Records a call into `layer` that ran over [t0, t1] on this thread,
    * for calls worth a span only once their result is known. */
  def record(layer: String, name: String, t0: Long, t1: Long, link: Long = -1L): Unit =
    add(Span(nextId(), current, layer, name, t0, t1, link))

  def add(s: Span): Unit = if (enabled) { spans.add(s); () }

  private val tags = new java.util.concurrent.ConcurrentHashMap[String, List[Long]]()
  /** Marks the span open on this thread as a possible parent of the
    * Spark jobs run under job group `key`. */
  def tag(key: String): Unit =
    if (enabled) { tags.merge(key, List(current), (a, b) => b ++ a); () }
  /** The innermost span tagged `key` that was open at `atNs`, or 0. */
  def parentFor(key: String, atNs: Long): Long = {
    val ids = Option(tags.get(key)).getOrElse(Nil).toSet
    if (ids.isEmpty) 0L
    else all.filter(s => ids(s.id) && s.start <= atNs && atNs <= s.end)
      .sortBy(-_.start).headOption.map(_.id).getOrElse(0L)
  }
  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time over [from, to]: each span's duration minus the
    * part covered by its children, clipped to the window, summed by
    * layer. Also returns the share of the window no span covers. */
  def selfTimes(from: Long, to: Long): (Map[String, Double], Double) = {
    def clip(s: Span) = (math.max(s.start, from), math.min(s.end, to))
    val all = this.all.filter(s => s.end > from && s.start < to)
    val children = all.groupBy(_.parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val (a, b) = clip(s)
      val covered = union(children.getOrElse(s.id, Nil).map(clip).map { case (x, y) =>
        (math.max(x, a), math.min(y, b)) })
      self(s.layer) += math.max(0L, (b - a) - covered) / 1e9
    }
    val uncovered = 1.0 - union(all.map(clip)).toDouble / math.max(1L, to - from)
    (self.toMap, uncovered)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Writes every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":"${Json.esc(s.layer)}",""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.start},"end_ns":${s.end},"link":${s.link}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def render(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s""""${esc(k.toString)}":${render(x)}""" }.mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => s""""${esc(s)}""""
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case null => "null"
    case other => s""""${esc(other.toString)}""""
  }
}

/** Process-level gauges read through the JVM's management beans. */
object Jvm {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def gc: (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3, bs.map(_.getCollectionCount).filter(_ >= 0).sum)
  }
  def usedHeapMb: Double = {
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
  /** Used heap after a full collection. */
  def retainedHeapMb: Double = {
    System.gc(); Thread.sleep(100); System.gc()
    usedHeapMb
  }
  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** Samples the used heap on a fixed cadence; the peak is `jvm.heap_peak_mb`. */
final class HeapSampler(periodMs: Long) extends AutoCloseable {
  @volatile private var peak = 0.0
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) { peak = math.max(peak, Jvm.usedHeapMb); Thread.sleep(periodMs) }
  }, "perfbench-heap")
  t.setDaemon(true); t.start()
  def peakMb: Double = math.max(peak, Jvm.usedHeapMb)
  def close(): Unit = { running = false; t.join() }
}
