package perfbench

import graft.agg.{BloomAgg, HllAgg, KeyedSketchAgg, SbfAgg}
import graft.catalog.{CWireServer, SketchCatalog, WireTcpServer}
import graft.hash.BloomHash
import graft.sketch.{BloomFilter, Hll, ScalableBloom}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** The traced run's per-layer figures, taken from outside each layer by
  * timing calls into its public functions over the workload's own key
  * stream (single thread, `Reps` repetitions each; `run.py` reports the
  * median). A workload that measured a layer in its own run has
  * already put the figure in `layers`; the ladder leaves those alone. */
object Ladder {
  val SampleKeys = 200000
  val Reps = 5

  sealed trait AggKind
  /** bloom_agg(20000, 1e-4) + hll_agg(12), the token_build aggregates */
  case object BloomHll extends AggKind
  /** sbf_agg at server defaults (100k, 1e-4, scale 4, r 0.9) */
  case object Sbf extends AggKind

  def newSbf(): ScalableBloom = ScalableBloom.create(100000L, 1e-4, 4, 0.9).materialize()

  def run(ctx: Ctx, keys: Array[Array[Byte]], kind: AggKind,
          catalog: Option[SketchCatalog] = None): Unit = {
    val layers = ctx.rec.sub("layers")
    def put(k: String, v: Any): Unit = if (!layers.has(k)) layers.put(k, v)
    def perKey(f: => Unit): IndexedSeq[Double] =
      (0 until Reps).map(_ => Time.nanos(f)._2.toDouble / keys.length)
    var sink = 0L

    // ---- graft.hash ----
    val hs = new Array[Long](13)
    put("hash.ns_per_key", perKey {
      var i = 0
      while (i < keys.length) {
        BloomHash.computeHashes(13, keys(i), 0, keys(i).length, hs)
        sink ^= hs(12); i += 1
      }
    })

    // ---- graft.sketch ----
    put("sketch.bloom_add_ns", perKey {
      val bf = BloomFilter.create(20000L, 1e-4)
      keys.foreach(k => bf.addKey(k))
      sink += bf.count
    })
    put("sketch.hll_update_ns", perKey {
      val h = Hll.create(12)
      keys.foreach(k => h.update(k))
      sink += h.registers(0)
    })
    var sbf = newSbf()
    var added = 0L
    put("sketch.sbf_add_ns", perKey {
      sbf = newSbf(); added = 0
      keys.foreach(k => if (sbf.add(k)) added += 1)
    })
    put("sketch.sbf_contains_ns", perKey {
      keys.foreach(k => if (sbf.contains(k)) sink += 1)
    })
    put("sketch.new_key_frac", added.toDouble / keys.length)
    put("sketch.sbf_layers", sbf.numLayers)
    put("sketch.sbf_bytes", sbf.totalByteSize)
    put("sketch.stored_bytes_per_key", sbf.totalByteSize.toDouble / math.max(1L, sbf.size))
    val absent = keys.indices.count(i => sbf.contains(s"\u0001absent-$i".getBytes(UTF_8)))
    put("sketch.check_fp_rate", absent.toDouble / keys.length)

    // ---- graft.agg: update per key, then 4 partial buffers through
    // serialize -> deserialize -> merge, as a shuffle would ----
    val ref = BoundReference(0, StringType, nullable = true)
    val aggs: Seq[KeyedSketchAgg[AnyRef]] = (kind match {
      case BloomHll => Seq(BloomAgg(ref, 20000L, 1e-4), HllAgg(ref, 12))
      case Sbf => Seq(SbfAgg(ref, 100000L, 1e-4, 4, 0.9))
    }).map(_.asInstanceOf[KeyedSketchAgg[AnyRef]])
    val rows: Array[InternalRow] = keys.map(k => new GenericInternalRow(Array[Any](UTF8String.fromBytes(k))))
    def build(from: Int, until: Int): Seq[AnyRef] = aggs.map { a =>
      var b = a.createAggregationBuffer()
      var i = from
      while (i < until) { b = a.update(b, rows(i)); i += 1 }
      b
    }
    put("agg.update_ns", perKey(build(0, rows.length)))
    val q = rows.length / 4
    val ser = ArrayBuffer.empty[Double]
    val de = ArrayBuffer.empty[Double]
    val mer = ArrayBuffer.empty[Double]
    var bytes = 0L
    (0 until Reps).foreach { _ =>
      val partials = (0 until 4).map(p => build(p * q, if (p == 3) rows.length else (p + 1) * q))
      val (blobs, ts) = Time.nanos(partials.map(bs => aggs.zip(bs).map { case (a, b) => a.serialize(b) }))
      val (back, td) = Time.nanos(blobs.map(bs => aggs.zip(bs).map { case (a, b) => a.deserialize(b) }))
      val (merged, tm) = Time.nanos(back.reduce((x, y) => aggs.indices.map(i => aggs(i).merge(x(i), y(i)))))
      bytes = aggs.zip(merged).map { case (a, b) => a.serialize(b).length.toLong }.sum
      ser += ts / 1e6; de += td / 1e6; mer += tm / 1e6
    }
    put("agg.serialize_ms", ser)
    put("agg.deserialize_ms", de)
    put("agg.merge_ms", mer)
    put("agg.buffer_bytes", bytes)

    // ---- graft.catalog and wire, on the workload's catalog if it has one ----
    val cat = catalog.getOrElse(new SketchCatalog(ctx.spark, ctx.scratch("ladder-catalog").toString))
    val strs = keys.map(new String(_, UTF_8))
    val sets = ArrayBuffer.empty[Double]
    val checks = ArrayBuffer.empty[Double]
    (0 until Reps).foreach { r =>
      cat.create(s"ladder$r")
      sets += Time.nanos(strs.foreach(k => cat.setKeyLocal(s"ladder$r", k)))._2.toDouble / keys.length
      checks += Time.nanos(strs.foreach(k => cat.checkKeyLocal(s"ladder$r", k)))._2.toDouble / keys.length
    }
    put("catalog.set_local_ns", sets)
    put("catalog.check_local_ns", checks)
    if (!layers.has("catalog.set_keys_s")) {
      import ctx.spark.implicits._
      val df = strs.toSeq.toDF("key").repartition(Main.Cores).cache()
      df.count()
      cat.create("ladderdf")
      val (_, ts) = Time.nanos(cat.setKeys("ladderdf", df))
      val (_, tc) = Time.nanos(cat.checkKeys("ladderdf", df))
      put("catalog.set_keys_s", ts / 1e9)
      put("catalog.check_keys_s", tc / 1e9)
      df.unpersist()
    }
    // the maintenance paths on 16 small filters: `flush` persists every
    // loaded filter; a cold sweep after one that cleared the touch flags
    // persists the dirty ones and pages them out; a check faults each
    // back in
    val sweepNames = (0 until 16).map(i => s"ladder-sweep$i")
    val flushes = ArrayBuffer.empty[Double]
    val sweeps = ArrayBuffer.empty[Double]
    def dirty(r: Int): Unit = sweepNames.foreach { n =>
      strs.iterator.slice(r * 1000, r * 1000 + 1000).foreach(k => cat.setKeyLocal(n, k))
    }
    sweepNames.foreach(n => cat.create(n))
    (0 until Reps).foreach { r =>
      dirty(2 * r)
      flushes += Time.nanos(cat.flush())._2 / 1e6
      dirty(2 * r + 1)
      cat.backgroundSweep(flush = false, cold = true)
      sweeps += Time.nanos(cat.backgroundSweep(flush = true, cold = true))._2 / 1e6
      sweepNames.foreach(n => cat.checkKeyLocal(n, strs(0)))
    }
    put("catalog.flush_ms", flushes)
    put("catalog.sweep_ms", sweeps)
    val counters = sweepNames.map(n => cat.info(n).toOption.get.head())
    put("catalog.page_ins", counters.map(_.getAs[Long]("page_ins")).sum)
    put("catalog.page_outs", counters.map(_.getAs[Long]("page_outs")).sum)

    val wire = new CWireServer(cat)
    put("wire.interpret_ns", perKey(strs.foreach(k => wire.interpret(s"c ladder0 $k"))))
    val server = new WireTcpServer(wire.interpret)
    try {
      val client = new WireClient(server.port)
      try {
        val rtt = (0 until 2000).map { i =>
          val cmd = if (i % 2 == 0) s"c ladder0 ${strs(i % strs.length)}" else s"s ladder0 ${strs(i % strs.length)}"
          Time.nanos(client.send(cmd))._2 / 1e3
        }
        put("wire.rtt_us", rtt)
        val admin = (0 until 1000).map { i =>
          val cmd = i % 3 match { case 0 => "info ladder0"; case 1 => "list"; case _ => "flush ladder0" }
          Time.nanos(client.send(cmd))._2 / 1e3
        }
        put("wire.admin_us", admin)
        // open loop at 5k ops/s: how late the generator sends after it
        // could have (the due time, or the previous reply if later)
        val t0 = System.nanoTime() + 1000000L
        var prevDone = t0
        val lag = (0 until 2000).map { i =>
          val due = t0 + i * 200000L
          while (System.nanoTime() < due) Thread.onSpinWait()
          val late = System.nanoTime() - math.max(due, prevDone)
          client.send(s"c ladder0 ${strs(i % strs.length)}")
          prevDone = System.nanoTime()
          late / 1e6
        }
        put("wire.gen_lag_ms", lag)
      } finally client.close()
    } finally server.close()

    ctx.log("ladder done")
    PipelineGates.layerPass(ctx)
    ctx.rec.put("ladder_sink", sink)
  }
}
