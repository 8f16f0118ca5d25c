package perfbench

import graft.agg.GraftFunctions._
import graft.catalog.SketchCatalog
import graft.sketch.ScalableBloom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** `sbf_bulk`: the `bench.c` parity workload, closed loop. Each round
  * creates one named filter at server defaults, `setKeys` its unique
  * keys in `Batches` batches, then `checkKeys` them together with as
  * many never-inserted keys. Every add is a new key. */
object SbfBulk {
  val Keys = 500000L
  val Batches = 4

  /** unique by construction: the row id is part of the key */
  def keys(spark: SparkSession, seed: Long, n: Long, prefix: String): DataFrame =
    spark.range(0, n, 1, Main.Cores * Batches).select(
      concat(lit(prefix), lpad(hex(xxhash64(col("id"), lit(seed))), 16, "0"), lit("-"), col("id")).as("key"),
      pmod(col("id"), lit(Batches)).as("batch"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val ins = ctx.dir.resolve("inserted").toString
    val abs = ctx.dir.resolve("absent").toString
    // five set-ups: the first two still warm up, the median is a warm one
    val cat = ctx.setup(5) { _ =>
      keys(spark, ctx.seed, Keys, "s").write.mode("overwrite").partitionBy("batch").parquet(ins)
      keys(spark, ctx.seed, Keys, "a").write.mode("overwrite").partitionBy("batch").parquet(abs)
      new SketchCatalog(spark, ctx.scratch("catalog").toString)
    }
    def batch(path: String, b: Int): DataFrame =
      spark.read.parquet(path).filter(col("batch") === b).select("key")

    // one untimed full round warms the code paths: a run measures only
    // two rounds, and a cold first one widened the spread between runs
    cat.create("warm")
    (0 until Batches).foreach(b => cat.setKeys("warm", batch(ins, b)))
    (0 until Batches).foreach(b => cat.checkKeys("warm", batch(ins, b).union(batch(abs, b))))
    cat.drop("warm")

    // one op = one round; all sets run before the checks, as bench.c
    // does. In the traced run every other round runs traced.
    val setNs = ArrayBuffer.empty[Long]
    val checkNs = ArrayBuffer.empty[Long]
    val opNs = ArrayBuffer.empty[Long]
    val end = ctx.deadline
    var round = 0
    while (round < (if (ctx.trace) 2 else 1) || System.nanoTime() < end) {
      val name = s"bulk$round"
      val on = ctx.trace && round % 2 == 1
      cat.create(name)
      def timed(what: String)(f: => Either[String, DataFrame]): Long = {
        var r: Either[String, DataFrame] = Left("not run")
        val t = ctx.timed(on) { r = f }
        ctx.checks.check(r.isRight, s"sbf_bulk: $what on $name answered $r")
        t
      }
      val sets = (0 until Batches).map(b => timed("setKeys")(cat.setKeys(name, batch(ins, b))))
      val checks = (0 until Batches).map(b =>
        timed("checkKeys")(cat.checkKeys(name, batch(ins, b).union(batch(abs, b)))))
      ctx.tracedOp(on)
      opNs += sets.sum + checks.sum
      setNs ++= sets
      checkNs ++= checks
      if (round > 0) cat.drop(name)
      round += 1
    }
    ctx.log(s"measured $round rounds")
    verify(ctx, cat, "bulk0", ins, abs)
    cat.drop("bulk0")
    ctx.log("verified")
    ctx.rec.put("unit", "keys").put("op_ns", opNs).put("op_units", opNs.map(_ => 3 * Keys))
    ctx.rec.sub("layers").put("catalog.set_keys_s", setNs.map(_ / 1e9))
      .put("catalog.check_keys_s", checkNs.map(_ / 1e9))
    ctx.rec.sub("named")
      .put("set_keys_per_s", Keys.toDouble * round / (setNs.sum / 1e9))
      .put("check_keys_per_s", 2.0 * Keys * round / (checkNs.sum / 1e9))

    if (ctx.trace) {
      val sample = batch(ins, 0).limit(Ladder.SampleKeys).collect().map(_.getString(0).getBytes(UTF_8))
      Ladder.run(ctx, sample, Ladder.Sbf)
    }
  }

  /** zero false negatives over every inserted key; the false-positive
    * rate over the never-inserted keys within the filter's configured
    * bound (the sum of its layers' design probabilities) */
  private def verify(ctx: Ctx, cat: SketchCatalog, name: String, ins: String, abs: String): Unit = {
    cat.flush(name)
    val blob = Files.readAllBytes(Paths.get(cat.dataDir, s"bloomd.$name", "sketch.bin"))
    val sbf = ScalableBloom.deserialize(blob)
    val spark = ctx.spark
    val counts = spark.read.parquet(ins).union(spark.read.parquet(abs))
      .select(substring(col("key"), 1, 1).as("kind"), sbf_contains(lit(blob), col("key")).as("present"))
      .groupBy("kind").agg(sum(when(col("present"), 1L).otherwise(0L)).as("hits"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (insHits, insN) = counts("s")
    val (absHits, absN) = counts("a")
    ctx.checks.count(insN)
    (0L until insN - insHits).foreach(_ => ctx.checks.fail(s"sbf_bulk: false negative in $name"))
    val fp = absHits.toDouble / absN
    // each layer holds at most its rung's capacity, so each answers
    // false positives at most at its design probability: the union of
    // the layers is bounded by their sum. A filter whose layers are
    // full sits right at that bound, so allow three standard errors
    // of the binomial count.
    val model = sbf.layers.map { case (rung, _) => sbf.rungParams(rung).fpProbability }.sum
    val bound = model + 3 * math.sqrt(model * (1 - model) / absN)
    ctx.checks.check(insN == Keys && absN == Keys, s"sbf_bulk: probed $insN + $absN keys, expected $Keys each")
    ctx.checks.check(fp <= bound, s"sbf_bulk: false-positive rate $fp above the configured bound $bound")
    ctx.rec.sub("named").put("check_fp_rate", fp).put("fp_layer_model", model).put("fp_bound", bound)
      .put("fp_configured", sbf.fpProbability)
      .put("stored_bytes_per_key", sbf.totalByteSize.toDouble / Keys)
    ctx.rec.sub("layers").put("sketch.check_fp_rate", fp)
      .put("sketch.stored_bytes_per_key", sbf.totalByteSize.toDouble / Keys)
      .put("sketch.sbf_layers", sbf.numLayers).put("sketch.sbf_bytes", sbf.totalByteSize)
  }
}
