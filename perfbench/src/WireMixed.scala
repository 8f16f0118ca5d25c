package perfbench

import graft.catalog.{CWireServer, SketchCatalog, WireTcpServer}
import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** `wire_mixed`: the daemon. 64 pre-filled filters (Zipf-sized, the
  * biggest past layer 0) behind `WireTcpServer(CWireServer(catalog))`
  * with background flush and cold sweeps on short intervals. Three
  * connections send the data commands (c/s/m/b) and a fourth the 1%
  * admin commands (info/list/flush), so a slow admin reply delays only
  * admin replies on the client side. Each rate of `Rates` is driven
  * open loop in turn, after a phase that drives one data connection
  * closed loop (it sends as soon as it has its reply) for the
  * throughput the server sustains per connection.
  *
  * Every request is written to `wire.bin` as (phase, op, due, sent,
  * done, lag) so `run.py` can time it from when it was due; `lag` is
  * how late the generator sent it after it could have. */
object WireMixed {
  val Conns = 4
  /** the last connection sends only admin commands */
  val AdminConn = Conns - 1
  val AdminShare = 0.01
  val Filters = 64
  val Rates = Seq(5000, 10000, 20000, 40000)
  /** filter f holds PrefillTop / (f+1)^1.1 keys; the first ones grow */
  val PrefillTop = 200000
  /** filters this big are pre-filled through the distributed `setKeys` */
  val DistributedPrefill = 50000
  /** Zipf exponent of filter popularity */
  val FilterSkew = 1.3
  /** phase number of the closed loop (the open-loop rates are 0..3) */
  val ClosedLoop = Rates.length
  /** share of the run each open-loop rate gets; the closed loop gets
    * the rest, the longest, because it sets the throughput figure */
  val RateShare = 0.1
  val SetupReps = 7

  def prefillSize(f: Int): Int = (PrefillTop / math.pow(f + 1, 1.1)).toInt
  def prefillKey(seed: Long, f: Int, j: Int): String =
    f"p$f-$j-${Keys.at(seed, f, j)}%016x"
  def name(f: Int): String = s"wf$f"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    // seven set-ups: they speed up until about the fourth, so the
    // median is a warm one
    val cat = ctx.setup(SetupReps) { rep =>
      val c = new SketchCatalog(spark, ctx.scratch(s"catalog$rep").toString)
      (0 until Filters).foreach { f =>
        c.create(name(f))
        val n = prefillSize(f)
        if (n >= DistributedPrefill) {
          val keys = spark.range(n).as[Long].map(j => prefillKey(seed, f, j.toInt)).toDF("key")
          // the traced run's exec figures: this workload's only Spark jobs
          ctx.timed(rep == SetupReps - 1 && ctx.trace)(c.setKeys(name(f), keys))
        } else (0 until n).foreach(j => c.setKeyLocal(name(f), prefillKey(ctx.seed, f, j)))
      }
      c.flush()
      c
    }
    cat.startBackground(flushIntervalMs = 1000, coldIntervalMs = 250)
    val wire = new CWireServer(cat)
    val server = new WireTcpServer(wire.interpret)
    val out = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(ctx.dir.resolve("wire.bin").toFile), 1 << 20))
    val fps = new AtomicLong
    val freshChecks = new AtomicLong
    try {
      val gens = (0 until Conns).map(c => new Gen(ctx, c, server.port, fps, freshChecks))
      // warm the JIT on a short closed-loop burst on the first connection
      runPhase(gens, out, phase = -1, rate = 0, seconds = 1.0, record = false)
      // the closed loop first: after the 40k rate, the sweeps' backlog
      // of dirty filters would slow it by a varying amount
      runPhase(gens, out, ClosedLoop, 0, ctx.seconds * (1 - RateShare * Rates.length), record = true)
      Rates.zipWithIndex.foreach { case (r, i) =>
        runPhase(gens, out, i, r, ctx.seconds * RateShare, record = true)
      }
      ctx.log("measured")
      gens.foreach(_.close())
    } finally {
      out.close()
      server.close()
      cat.stopBackground()
    }
    ctx.rec.put("unit", "ops").put("rates", Rates).put("conns", Conns)
      .put("phase_s", ctx.seconds * RateShare)
    ctx.rec.sub("named").put("check_fp_rate", fps.get.toDouble / math.max(1L, freshChecks.get))
    val counters = (0 until Filters).map(f => cat.info(name(f)).toOption.get.head())
    ctx.log("counters read")
    ctx.rec.sub("layers")
      .put("catalog.page_ins", counters.map(_.getAs[Long]("page_ins")).sum)
      .put("catalog.page_outs", counters.map(_.getAs[Long]("page_outs")).sum)
    if (ctx.trace) {
      val sample = (0 until Ladder.SampleKeys).map(j => prefillKey(ctx.seed, 0, j).getBytes(UTF_8)).toArray
      Ladder.run(ctx, sample, Ladder.Sbf, Some(cat))
    }
  }

  private def runPhase(gens: Seq[Gen], out: DataOutputStream, phase: Int, rate: Int,
                       seconds: Double, record: Boolean): Unit = {
    val start = System.nanoTime() + 2000000L
    val end = start + (seconds * 1e9).toLong
    val threads = gens.map { g =>
      val t = new Thread(() => g.drive(phase, rate, start, end), s"perfbench-gen${g.conn}")
      t.start(); t
    }
    threads.foreach(_.join())
    if (record) out.synchronized { gens.foreach(_.flushTo(out)) } else gens.foreach(_.discard())
  }

  /** One connection's generator with its own seeded op stream and its
    * own model of the keys it has had acknowledged. */
  private final class Gen(ctx: Ctx, val conn: Int, port: Int, fps: AtomicLong, fresh: AtomicLong) {
    private val client = new WireClient(port)
    private val rng = new Keys.Rng(Keys.at(ctx.seed, 1000 + conn, 0))
    private val zipf = new Keys.Zipf(Filters, FilterSkew)
    private val acked = Array.fill(Filters)(ArrayBuffer.empty[String])
    private var nextKey = 0L
    private var alive = true
    private val buf = ArrayBuffer.empty[Long]

    private def freshKey(): String = { nextKey += 1; f"w$conn-$nextKey-${Keys.at(ctx.seed, conn, nextKey)}%016x" }
    private def neverSet(): String = { nextKey += 1; f"n$conn-$nextKey-${Keys.at(ctx.seed, 77 + conn, nextKey)}%016x" }

    /** an acknowledged key of filter f, skewed to the oldest ones */
    private def knownKey(f: Int): String = {
      val own = acked(f)
      if (own.nonEmpty && rng.nextDouble() < 0.5) own((own.length * math.pow(rng.nextDouble(), 3)).toInt)
      else prefillKey(ctx.seed, f, (prefillSize(f) * math.pow(rng.nextDouble(), 3)).toInt)
    }

    private def fail(what: String): Unit = ctx.checks.fail(s"wire_mixed conn $conn: $what")

    private def yesNo(reply: String, n: Int): Option[Array[Boolean]] = {
      val parts = reply.split(" ")
      if (parts.length == n && parts.forall(p => p == "Yes" || p == "No")) Some(parts.map(_ == "Yes"))
      else { fail(s"malformed reply '$reply'"); None }
    }

    /** the next request: its op code, its command line, and the check
      * of its reply against the model (which also updates the model) */
    private def next(): (Int, String, String => Unit) = {
      val f = zipf.sample(rng.nextDouble())
      val u = if (conn == AdminConn) 1.0 else rng.nextDouble() * 0.99
      val n = name(f)
      if (u < 0.70) {
        val known = rng.nextDouble() < 0.5
        val key = if (known) knownKey(f) else neverSet()
        (0, s"c $n $key", reply => yesNo(reply, 1).foreach { r =>
          if (known && !r(0)) fail(s"No for acknowledged key $key in $n")
          if (!known) { fresh.incrementAndGet(); if (r(0)) fps.incrementAndGet() }
        })
      } else if (u < 0.90) {
        val key = freshKey()
        (1, s"s $n $key", reply => yesNo(reply, 1).foreach(_ => acked(f) += key))
      } else if (u < 0.95) {
        val keys = Array.fill(10)(knownKey(f))
        (2, s"m $n ${keys.mkString(" ")}", reply => yesNo(reply, 10).foreach { r =>
          r.indices.foreach(i => if (!r(i)) fail(s"No for acknowledged key ${keys(i)} in $n"))
        })
      } else if (conn != AdminConn) {
        val keys = Array.fill(10)(freshKey())
        (3, s"b $n ${keys.mkString(" ")}", reply => yesNo(reply, 10).foreach(_ => acked(f) ++= keys))
      } else {
        val (cmd, ok) = rng.nextInt(3) match {
          case 0 => (s"info $n", (r: String) => r.startsWith("START\ncapacity ") && r.endsWith("\nEND"))
          case 1 => ("list", (r: String) => r.startsWith("START\n") && r.endsWith("\nEND") && r.contains(s"\n$n "))
          case _ => (s"flush $n", (r: String) => r == "Done")
        }
        (4, cmd, reply => if (!ok(reply)) fail(s"'$cmd' answered '${reply.take(80)}'"))
      }
    }

    /** one request: send it, read the reply, check it; its op code */
    private def request(): Int = {
      val (op, cmd, check) = next()
      ctx.checks.attempted.incrementAndGet()
      check(client.send(cmd))
      op
    }

    /** open loop at `rate` total (each data connection takes an equal
      * share of the data commands, staggered), or closed loop on the
      * first connection alone if rate is 0. On 4 cores, closed loops
      * on 2 or 3 connections measured bimodal (thread placement decides
      * which of two throughputs a run gets); one spread least. */
    def drive(phase: Int, rate: Int, start: Long, end: Long): Unit = {
      if (rate == 0 && conn > 0) return
      val share = if (conn == AdminConn) AdminShare else (1 - AdminShare) / AdminConn
      val period = if (rate > 0) (1e9 / (rate * share)).toLong else 0L
      var due = start + (if (rate > 0) conn * period / Conns else 0L)
      var prevDone = start
      // the admin connection falls behind at the higher rates (every
      // admin reply builds a DataFrame); it stops at the phase's end
      // instead of draining its backlog into the next phase
      while (alive && due < end && (conn != AdminConn || System.nanoTime() < end)) {
        // sleep until shortly before the due time, then spin: a
        // spinning generator would take the cores the server needs
        while (System.nanoTime() < due) {
          val wait = due - System.nanoTime()
          if (wait > 100000L) java.util.concurrent.locks.LockSupport.parkNanos(wait - 80000L)
          else Thread.onSpinWait()
        }
        val sent = System.nanoTime()
        try {
          val op = request()
          val done = System.nanoTime()
          buf ++= Seq(phase.toLong, op.toLong, due - start, sent - start, done - start,
            sent - math.max(due, prevDone))
          prevDone = done
          due = if (rate > 0) due + period else done
        } catch {
          case e: Exception =>
            ctx.checks.attempted.incrementAndGet()
            fail(s"request failed: $e")
            alive = false
        }
      }
    }

    def flushTo(out: DataOutputStream): Unit = { buf.foreach(out.writeLong); buf.clear() }
    def discard(): Unit = buf.clear()
    def close(): Unit = client.close()
  }
}
