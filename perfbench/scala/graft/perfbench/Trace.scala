package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer spans recorded around the benchmark's own calls into the
  * engine. Nothing here touches engine code: a span sets a Spark local
  * property (`perfbench.span`) on the calling thread, and a
  * benchmark-owned [[SparkListener]] charges every job, task and byte to
  * the span whose id its job carried. Filesystem operations are the
  * deltas of [[CountingLocalFileSystem]]'s call counters.
  *
  * Spans are kept in memory and aggregated once, at the end of the run.
  * With tracing off, [[span]] runs its body and records nothing.
  */
object Trace {

  val Prop = "perfbench.span"

  /** Counters one span instance collects. Times are epoch milliseconds
    * (job events carry epoch ms) refined by a nanosecond duration. */
  final class Span(val id: Long, val name: String, val parent: Long,
      val thread: Long, val concurrent: Boolean) {
    var startMs = 0.0
    var endMs = 0.0
    var fsGlobal = 0L  // ops by every thread during the span
    var fsThread = 0L  // ops issued on the span's own thread
  }

  /** Counters the listener charges to one span id (its own jobs only). */
  final class Own {
    val jobs = new LongAdder; val tasks = new LongAdder
    val cpuNs = new LongAdder; val shuffleBytes = new LongAdder
    val outBytes = new LongAdder
    val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]
  }

  @volatile private var recording = false
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val own = new ConcurrentHashMap[Long, Own]
  private val open = new ConcurrentHashMap[Long, Span]
  private var spark: SparkSession = _

  // whole-run Spark counters for the spark.* metrics, read at window edges
  val spillBytes = new LongAdder
  val failedTasks = new LongAdder

  /** Register the listener; call once, before the first traced call. */
  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(Listener)
  }

  def installed: Boolean = spark != null

  /** Start or stop charging spans. Spans opened while not recording run
    * untraced, so only the measured prefix of a run is attributed. */
  def setRecording(on: Boolean): Unit = {
    if (installed) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    recording = on
  }

  /** Run `body` as span `name`. The enclosing span is the one whose id
    * the thread's local property carries (Spark copies local properties
    * into threads a caller starts, such as `ModelGraph.run`'s pool).
    * `concurrent` marks a span that may run beside sibling spans (a model
    * inside `ModelGraph.run`): its fs_ops count only its own thread's
    * operations, and the remainder stays with the enclosing serial span. */
  def span[T](name: String, concurrent: Boolean = false)(body: => T): T = {
    if (!recording) return body
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    val parent = Option(prevProp).map(_.toLong).getOrElse(-1L)
    val rec = new Span(ids.incrementAndGet(), name, parent,
      Thread.currentThread().getId,
      concurrent || Option(open.get(parent)).exists(_.concurrent))
    open.put(rec.id, rec)
    sc.setLocalProperty(Prop, rec.id.toString)
    val (g0, t0) = fsOps()
    val wall0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val n1 = System.nanoTime()
      val (g1, t1) = fsOps()
      rec.startMs = wall0.toDouble
      rec.endMs = wall0 + (n1 - n0) / 1e6
      rec.fsGlobal = g1 - g0
      rec.fsThread = t1 - t0
      open.remove(rec.id)
      sc.setLocalProperty(Prop, prevProp)
      spans.add(rec)
    }
  }

  /** (all threads, this thread) filesystem calls so far. */
  private def fsOps(): (Long, Long) =
    (CountingLocalFileSystem.global, CountingLocalFileSystem.thread)

  /** Bytes written through Hadoop filesystems by every thread so far.
    * `getAllStatistics` is deprecated but is the one view that covers every
    * filesystem class; the global storage statistics keep one per scheme. */
  @annotation.nowarn("cat=deprecation")
  def fsBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  private object Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]
    private val jobSpan = new ConcurrentHashMap[Int, (Long, Double)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong)
      sid.foreach { id =>
        own.computeIfAbsent(id, _ => new Own).jobs.increment()
        jobSpan.put(e.jobId, (id, e.time.toDouble))
        e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, t0) =>
        own.get(id).jobIntervals.add((t0, e.time.toDouble))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (!e.taskInfo.successful) failedTasks.increment()
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val o = own.computeIfAbsent(id, _ => new Own)
        o.tasks.increment()
        if (m != null) {
          o.cpuNs.add(m.executorCpuTime)
          o.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          o.outBytes.add(m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  /** The nine counters of a span name, summed over its recorded instances. */
  final case class Totals(wall: Double, self: Double, driver: Double,
      jobs: Long, tasks: Long, cpu: Double, shuffle: Long, out: Long,
      fsOps: Long)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Aggregate every recorded span by name. Counters are inclusive: a
    * job charged to a child is also the parent's. Also writes one JSON
    * line per span instance to `out` (with its overlap with concurrent
    * siblings, whose fs_ops the enclosing serial span carries). */
  def totals(out: java.io.File): Map[String, Totals] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val all = spans.asScala.toSeq.sortBy(_.id)
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val w = new java.io.PrintWriter(out, "UTF-8")
    val perSpan = all.map { s =>
      val tree = subtree(s)
      val owns = tree.flatMap(t => Option(own.get(t.id)))
      val wall = (s.endMs - s.startMs) / 1e3
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val self = wall - covered(kids, s.startMs, s.endMs) / 1e3
      val jobIv = owns.flatMap(_.jobIntervals.asScala)
      val driver = wall - covered(jobIv, s.startMs, s.endMs) / 1e3
      val siblings = all.filter(o => o.id != s.id && o.parent == s.parent &&
        o.concurrent && s.concurrent)
      val overlap = covered(siblings.map(o => (o.startMs, o.endMs)),
        s.startMs, s.endMs) / 1e3
      val fs = if (s.concurrent) s.fsThread else s.fsGlobal
      val t = Totals(wall, self, driver, owns.map(_.jobs.sum).sum,
        owns.map(_.tasks.sum).sum, owns.map(_.cpuNs.sum).sum / 1e9,
        owns.map(_.shuffleBytes.sum).sum, owns.map(_.outBytes.sum).sum, fs)
      w.println(Json.write(Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "thread" -> s.thread,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> wall,
        "self_s" -> self, "driver_s" -> driver, "jobs" -> t.jobs,
        "tasks" -> t.tasks, "exec_cpu_s" -> t.cpu,
        "shuffle_bytes" -> t.shuffle, "out_bytes" -> t.out,
        "fs_ops" -> fs, "fs_ops_all_threads" -> s.fsGlobal,
        "concurrent" -> s.concurrent, "overlap_s" -> overlap)))
      s.name -> t
    }
    w.close()
    perSpan.groupBy(_._1).map { case (n, ts) =>
      n -> ts.map(_._2).reduce((a, b) => Totals(a.wall + b.wall,
        a.self + b.self, a.driver + b.driver, a.jobs + b.jobs,
        a.tasks + b.tasks, a.cpu + b.cpu, a.shuffle + b.shuffle,
        a.out + b.out, a.fsOps + b.fsOps))
    }
  }

  /** Counter names, in output order, for one span. */
  val CounterNames: Seq[String] = Seq("wall_s", "self_s", "driver_s", "jobs",
    "tasks", "exec_cpu_s", "shuffle_bytes", "out_bytes", "fs_ops")

  def counterValues(t: Totals): Seq[Double] = Seq(t.wall, t.self, t.driver,
    t.jobs.toDouble, t.tasks.toDouble, t.cpu, t.shuffle.toDouble,
    t.out.toDouble, t.fsOps.toDouble)

  /** JVM-wide garbage-collection seconds so far. */
  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0)
    .sum / 1e3
}
