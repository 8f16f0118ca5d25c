package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** What every workload gets: the session, its inputs' seed, how long to
  * measure, whether this is the traced run, and where to put files. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dir: Path,
    rec: Record,
    checks: Checks,
    stages: StageTotals) {

  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong

  /** time `reps` independent set-ups; keep every one for the median */
  def setup[A](reps: Int)(f: Int => A): A = {
    val times = (0 until reps).map(i => Time.nanos(f(i)))
    rec.put("setup_s", times.map(_._2 / 1e9))
    log(s"set up ${reps}x: ${times.map(t => f"${t._2 / 1e9}%.3f").mkString(" ")} s")
    times.last._1
  }

  private var ops = 0
  private val traced = scala.collection.mutable.ArrayBuffer.empty[Boolean]

  /** Time one measured operation. In the traced run every other one
    * runs with the stage listener attached and counting, so the report
    * can state what tracing costs; the others run without it. */
  def timedOp(f: => Unit): Long = {
    val on = trace && ops % 2 == 1
    tracedOp(on)
    timed(on)(f)
  }

  /** record one measured operation and whether it was traced */
  def tracedOp(on: Boolean): Unit = { ops += 1; traced += on }

  def opTraced: Seq[Boolean] = traced.toSeq

  /** time `f`, with the stage listener attached and counting if `on` */
  def timed(on: Boolean)(f: => Unit): Long =
    if (!on) Time.nanos(f)._2
    else {
      spark.sparkContext.addSparkListener(stages)
      try Time.nanos(stages.window(f))._2
      finally { stages.drain(); spark.sparkContext.removeSparkListener(stages) }
    }

  private val born = System.nanoTime()
  def log(what: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $what")

  def scratch(name: String): Path = {
    val p = dir.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** One JVM runs one workload on `local[4]` and writes its raw
  * measurements to `<out>/raw.json`; `run.py` reports from them.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out> */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, out) = args
    val dir = Paths.get(out).toAbsolutePath
    Files.createDirectories(dir)
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new StageTotals
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, trace == "1", dir,
      new Record, new Checks, stages)
    ctx.rec.put("workload", workload)
    try {
      workload match {
        case "token_build" => TokenBuild.run(ctx)
        case "sbf_bulk" => SbfBulk.run(ctx)
        case "wire_mixed" => WireMixed.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (ctx.trace) stages.into(ctx.rec.sub("layers"))
      ctx.rec.put("op_traced", ctx.opTraced)
    } catch {
      case e: Throwable =>
        ctx.checks.fail(s"workload aborted: $e")
        e.printStackTrace()
    }
    ctx.log("done")
    ctx.checks.into(ctx.rec)
    Files.writeString(dir.resolve("raw.json"), ctx.rec.toJson)
    spark.stop()
  }
}
