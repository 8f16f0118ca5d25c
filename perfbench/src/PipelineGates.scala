package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `graft.pipeline` layer of the traced run: one cold pass over six
  * pipeline gates of `SparkEntry.queries` and `q_sql_surface`, each
  * timed through the noop sink as `graft.Bench` times them, over a
  * fixed synthetic corpus. The corpus does not depend on the seed, so
  * every gate's output is checked against a content hash recorded from
  * the unchanged code (`gate_hashes.json`). */
object PipelineGates {
  val Gates = Seq("retrieval_bm25", "bloom_member_tokens", "pipeline_decontam",
    "q_bloom_prejoin", "pipeline_curation", "dedup_clusters", "q_sql_surface")
  val CorpusSeed = 42L
  val Docs = 500L
  val Customers = 1500L
  val Orders = 15000L

  /** order-independent content hash: (sum of row hashes, row count) */
  def contentHash(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.sorted.map(col): _*))).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")), count(lit(1))).head()
    s"${Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)}:${r.getLong(1)}"
  }

  def layerPass(ctx: Ctx): Unit = {
    val dir = ctx.dir.resolve("corpus").toString
    Corpus.write(ctx.spark, CorpusSeed, dir, Docs, Customers, Orders)
    val layers = ctx.rec.sub("layers")
    val hashes = ctx.rec.sub("gate_hashes")
    def gate(name: String): DataFrame = SparkEntry.queries(name)(ctx.spark, dir)
    Gates.foreach { g =>
      val t = Time.nanos(gate(g).write.format("noop").mode("overwrite").save())._2
      layers.put(s"pipeline.${g}_s", t / 1e9)
      hashes.put(g, contentHash(gate(g)))
    }
    ctx.log("pipeline gates timed")
  }
}
