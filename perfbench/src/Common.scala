package perfbench

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Raw measurements of one run, written as JSON for `run.py`, which
  * turns them into the reported metrics. Values are numbers, strings,
  * booleans, sequences of those, or nested records. */
final class Record {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def put(k: String, v: Any): this.type = { fields(k) = v; this }
  def sub(k: String): Record = fields.getOrElseUpdate(k, new Record).asInstanceOf[Record]
  def has(k: String): Boolean = fields.contains(k)
  def toJson: String = Record.json(this)
  private def entries = fields.iterator
}

object Record {
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def json(v: Any): String = v match {
    case r: Record => r.entries.map { case (k, x) => s"${str(k)}: ${json(x)}" }.mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Array[_] => xs.map(json).mkString("[", ", ", "]")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case null => "null"
    case other => str(other.toString)
  }
}

/** Failure accounting for the output checks: every check is one
  * attempted operation; a failed one also keeps a short reason. */
final class Checks {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val reasons = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
    ok
  }

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (reasons.size < 20) reasons.add(what)
  }

  def count(n: Long): Unit = attempted.addAndGet(n)

  def into(r: Record): Unit = {
    import scala.jdk.CollectionConverters._
    r.put("attempted", attempted.get).put("failed", failed.get)
      .put("failures", reasons.asScala.toSeq)
  }
}

object Time {
  def nanos[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }
}

/** Deterministic key material: SplitMix64 over (seed, stream, index). */
object Keys {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def at(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 31 + stream) + i)

  final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  }

  /** Zipf(s) over ranks 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** Task totals per traced operation from a listener the benchmark
  * registers itself. Each [[window]] is one traced operation; only jobs
  * submitted inside a window count (by the job's own submission time,
  * so jobs that pipeline code submits from pool threads count too),
  * which keeps set-up and output checks out. The totals are reported
  * divided by the number of windows, so a run that fits more
  * operations into its time does not report more work. GC time is the
  * JVM's own over the windows: executors share the JVM in local mode,
  * and tasks' GC times are whole milliseconds. */
final class StageTotals extends SparkListener {
  private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val cpuNs = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val schedMs = new AtomicLong
  private val shufW = new AtomicLong
  private val shufR = new AtomicLong
  private val spill = new AtomicLong
  private val stages = new AtomicLong
  private val ops = new AtomicLong
  @volatile private var lastEvent = System.nanoTime()
  @volatile private var windows = List.empty[(Long, Long)]

  def window[A](f: => A): A = {
    val t0 = System.currentTimeMillis()
    val gc0 = StageTotals.gcMillis()
    ops.incrementAndGet()
    windows = (t0, Long.MaxValue) :: windows
    try f finally {
      windows = (t0, System.currentTimeMillis()) :: windows.tail
      gcMs.addAndGet(StageTotals.gcMillis() - gc0)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    if (windows.exists { case (a, b) => e.time >= a && e.time <= b })
      e.stageIds.foreach(stageIds.add)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    if (stageIds.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      val total = e.taskInfo.finishTime - e.taskInfo.launchTime
      schedMs.addAndGet(math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime))
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()
  }

  /** the listener bus is asynchronous: wait until it has been quiet */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def into(r: Record): Unit = {
    drain()
    val n = math.max(1L, ops.get).toDouble
    r.put("exec.ops", ops.get)
      .put("exec.task_cpu_s", cpuNs.get / 1e9 / n)
      .put("exec.task_run_s", runMs.get / 1e3 / n)
      .put("exec.gc_s", gcMs.get / 1e3 / n)
      .put("exec.scheduler_delay_s", schedMs.get / 1e3 / n)
      .put("exec.shuffle_write_bytes", shufW.get / n)
      .put("exec.shuffle_read_bytes", shufR.get / n)
      .put("exec.spill_bytes", spill.get / n)
      .put("exec.stages", stages.get / n)
  }
}

object StageTotals {
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
