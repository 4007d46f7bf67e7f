package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** In-memory span recorder for the traced run. A span is (name, start,
  * end, parent, operation id); spans are appended in completion order and
  * written out once, when the run ends. Self time of a span is its
  * duration minus the union of its children's intervals (children of one
  * span never overlap here: the client is single-threaded). */
final class Spans {
  import Spans.Span
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var opId = 0L

  /** Root span of one operation; `name` is the operation type. */
  def op[A](name: String)(f: => A): A = { opId += 1; span(name)(f) }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      done += Span(id, name, opId, parent, t0, t1)
    }
  }

  def all: Seq[Span] = done.toSeq

  /** Self time in ms of every span, by id. */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    done.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Spans {
  final case class Span(id: Int, name: String, op: Long, parent: Int, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** Spark work counters, registered from outside the engine: jobs started,
  * tasks ended and summed task run time. Listener events arrive
  * asynchronously, so [[snapshot]] drains the listener bus first; a delta
  * between two snapshots is then exactly the work submitted in between. */
final class SparkWork(sc: SparkContext) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val taskMs = new AtomicLong
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
      ()
    }
  })

  def snapshot(): (Long, Long, Long) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    (jobs.get, tasks.get, taskMs.get)
  }
}

object Jvm {
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  def gcMs(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
