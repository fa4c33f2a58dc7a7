package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** A timed call into one layer. Spans of one request or phase share
  * `trace`; `parent` is 0 for a root. Times are `System.nanoTime`. */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    start: Long, end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ns: Long = end - start
}

/** In-memory span recorder. When disabled, `span` is a plain call. */
final class Tracer {
  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, trace, parent, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Seconds spent in spans named `name`. */
  def seconds(name: String): Double = all.filter(_.name == name).map(_.ns).sum / 1e9

  /** Per-layer self time in seconds: each span's duration minus the part
    * of it its children cover. */
  def selfSeconds: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k =>
          (math.max(k.start, s.start), math.min(k.end, s.end))).filter(i => i._1 < i._2)
          .sortBy(_._1)
        var covered = 0L; var hi = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a >= hi) { covered += b - a; hi = b }
          else if (b > hi) { covered += b - hi; hi = b }
        }
        (s.ns - covered) / 1e9
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark engine counts from a listener the benchmark registers. */
final class SparkCounters extends SparkListener {
  val jobs = new LongAdder
  val stages = new LongAdder
  val tasks = new LongAdder
  val executorRunMs = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val inputBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      executorRunMs.add(m.executorRunTime)
      shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.add(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(sc: SparkContext): Map[String, Long] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    Map("jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "executor_run_ms" -> executorRunMs.sum, "shuffle_write_bytes" -> shuffleWriteBytes.sum,
      "spill_bytes" -> spillBytes.sum, "input_bytes" -> inputBytes.sum)
  }
}

/** Process-wide file-system counts: Hadoop's byte statistics and the
  * call counts of [[CountingLocalFs]] (local executors share the JVM,
  * so task I/O is included). */
object FsCounters {
  def snapshot(): Map[String, Long] = {
    @annotation.nowarn("cat=deprecation")
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Map("opens" -> CountingLocalFs.opens.sum, "ops" -> CountingLocalFs.ops,
      "bytes_read" -> st.map(_.getBytesRead).sum,
      "bytes_written" -> st.map(_.getBytesWritten).sum)
  }
}

object Jvm {
  /** Live heap: heap in use right after a full collection. The second
    * collection runs after Spark's context cleaner has dropped the blocks
    * of RDDs the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The local file system with call counts: opens (each parquet footer
  * read is one), listings and status probes. Installed as `fs.file.impl`
  * in traced runs only. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.increment(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFs.lists.increment(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingLocalFs.stats.increment(); super.getFileStatus(f)
  }
}

object CountingLocalFs {
  val opens = new LongAdder
  val lists = new LongAdder
  val stats = new LongAdder
  /** Metadata and data operations: opens + listings + status probes. */
  def ops: Long = opens.sum + lists.sum + stats.sum
}
