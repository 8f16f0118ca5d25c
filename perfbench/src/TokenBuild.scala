package perfbench

import graft.agg.GraftFunctions._
import graft.pipeline.TokenTable
import graft.sketch.{BloomFilter, Hll}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** `token_build`: the library's production shape as `graft.Bench`
  * runs it — an amplified token table (token = word + "_" + replica %
  * 256, so ~8k distinct keys) scanned by groupBy(source) ->
  * bloom_agg(20000, 1e-4) + hll_agg(12) -> noop sink, closed loop. */
object TokenBuild {
  /** base corpus; 256 replicas of it give ~2.1M tokens */
  val Docs = 150L
  val Replicas = 256L

  /** `graft.Bench.materialize`'s layout: each replica of the token
    * table spread over `slices` balanced files */
  def materialize(spark: SparkSession, docsPath: String, path: String): Long = {
    val toks = TokenTable.load(spark, docsPath)
    val perRep = toks.agg(sum(col("n_tok")).cast("long")).head().getLong(0)
    val slices = math.max(1L, (128L + Replicas - 1L) / Replicas)
    val docs = toks.select(col("source"), col("tokens"),
      pmod(hash(col("source"), col("tokens")), lit(slices)).cast("long").as("slice"))
    spark.range(0, Replicas * slices, 1, 128)
      .select(floor(col("id") / lit(slices)).cast("long").as("rep"),
        pmod(col("id"), lit(slices)).as("slice"))
      .join(broadcast(docs), "slice")
      .select(col("source"), explode(col("tokens")).as("tok"), col("rep"))
      .select(col("source"), concat(col("tok"), lit("_"), col("rep") % 256).as("token"))
      .write.mode("overwrite")
      .option("compression", "none")
      .option("parquet.enable.dictionary", "false")
      .parquet(path)
    perRep * Replicas
  }

  def job(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).groupBy("source")
      .agg(bloom_agg(col("token"), 20000L, 1e-4).as("bloom"), hll_agg(col("token"), 12).as("hll"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val docsPath = ctx.scratch("docs").toString
    val path = ctx.scratch("tokens").toString
    val tokens = ctx.setup(3) { _ =>
      Corpus.documents(spark, ctx.seed, Docs).repartition(Main.Cores)
        .write.mode("overwrite").parquet(s"$docsPath/documents.parquet")
      materialize(spark, docsPath, path)
    }
    // untimed jobs warm the code paths the measured jobs take: with one,
    // job times still fell by a quarter over the run as the JIT caught up
    (0 until 4).foreach(_ => job(spark, path).write.format("noop").mode("overwrite").save())

    // jobs back to back until the run's time is up, at least three
    val ns = ArrayBuffer.empty[Long]
    val end = ctx.deadline
    while (ns.length < 3 || System.nanoTime() < end)
      ns += ctx.timedOp(job(spark, path).write.format("noop").mode("overwrite").save())
    ctx.log(s"measured ${ns.length} jobs")
    ctx.rec.put("unit", "tokens").put("op_ns", ns).put("op_units", ns.map(_ => tokens))

    verify(ctx, path)
    ctx.log("verified")
    if (ctx.trace) {
      val sample = spark.read.parquet(path).select("token").limit(Ladder.SampleKeys)
        .collect().map(_.getString(0).getBytes(UTF_8))
      Ladder.run(ctx, sample, Ladder.BloomHll)
    }
  }

  /** zero false negatives on every inserted (source, token) pair, and
    * each HLL estimate within 3 standard errors of the exact count */
  private def verify(ctx: Ctx, path: String): Unit = {
    val spark = ctx.spark
    val sketches = job(spark, path).collect()
      .map(r => r.getString(0) -> (BloomFilter.deserialize(r.getAs[Array[Byte]](1)),
        Hll.deserialize(r.getAs[Array[Byte]](2)))).toMap
    val pairs = spark.read.parquet(path).select("source", "token").distinct().collect()
    pairs.foreach { r =>
      ctx.checks.check(sketches(r.getString(0))._1.containsKey(r.getString(1).getBytes(UTF_8)),
        s"token_build: false negative for ${r.getString(1)} in ${r.getString(0)}")
    }
    val exact = pairs.groupBy(_.getString(0)).map { case (s, rs) => s -> rs.length.toLong }
    ctx.checks.check(exact.size == sketches.size, s"token_build: ${sketches.size} sketches for ${exact.size} sources")
    exact.foreach { case (source, n) =>
      val hll = sketches(source)._2
      val est = hll.estimate
      ctx.checks.check(math.abs(est - n) <= 3 * hll.standardError * n,
        s"token_build: hll estimate $est for $source, exact $n")
    }
    ctx.rec.put("distinct_keys", exact.values.sum).put("groups", exact.size)
  }
}
