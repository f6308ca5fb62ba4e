package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval of one request. `parent` is -1 for the request's
  * root span. Times are System.nanoTime values. */
final case class Span(id: Long, parent: Long, req: String, name: String,
                      start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder for the traced replay. Spans nest per thread:
  * a span opened while another is open on the same thread is its child.
  * Nothing is written until [[write]] runs at the end of the benchmark. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  /** ids of the spans open on this thread, innermost first */
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Time `f` as a span named `name` inside request `req`. */
  def span[T](req: String, name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val parent = stack.headOption.getOrElse(-1L)
    open.set(id :: stack)
    val t0 = System.nanoTime()
    try f
    finally {
      done.add(Span(id, parent, req, name, t0, System.nanoTime()))
      open.set(stack)
    }
  }

  /** Record an interval measured elsewhere (time accumulated inside a
    * row iterator) as a child of the innermost open span. */
  def record(req: String, name: String, start: Long, nanos: Long): Unit = {
    val parent = open.get().headOption.getOrElse(-1L)
    done.add(Span(ids.incrementAndGet(), parent, req, name, start, start + nanos))
  }

  def spans: Seq[Span] = done.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[")
      spans.sortBy(_.id).zipWithIndex.foreach { case (s, i) =>
        if (i > 0) w.write(",\n")
        w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${Json.str(s.req)},""" +
          s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
      }
      w.write("]\n")
    } finally w.close()
  }
}

/** Spark work per job group: the traced replay sets one job group per
  * request, so jobs, tasks, shuffle and spill attribute to the request
  * that caused them. */
final class JobCounter extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
  }
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Counts]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  private val tasksEnded = new AtomicLong

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        counts(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counts(g)
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def get(group: String): Option[Counts] = Option(byGroup.get(group))

  /** The listener bus delivers events asynchronously: wait until every
    * started job has ended and the task count stopped moving. */
  def settle(maxMillis: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMillis
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (started.get() != ended.get() || tasksEnded.get() != last)) {
      last = tasksEnded.get()
      Thread.sleep(200)
    }
  }
}

object Jvm {
  /** Accumulated collection time of every collector, in ms. */
  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Seconds since this JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def heapMaxMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)
}
