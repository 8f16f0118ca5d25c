package perfbench

import graft.pipeline.TokenTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables with the test tables' schema that the gates read:
  * `documents` (words drawn from the token table's vocabulary, 20
  * sources, a planted near-duplicate on every 100th doc), `customer`
  * and `orders`. Every value is a hash of (seed, row id), except the
  * document lengths. */
object Corpus {

  def documents(spark: SparkSession, seed: Long, nDocs: Long): DataFrame = {
    val vocab = TokenTable.vocabSqlArray
    val base = spark.range(nDocs).toDF("doc_id")
      // lengths do not depend on the seed, so every seed gives the
      // same number of tokens and only the words change
      .withColumn("n_words", (lit(10) + pmod(xxhash64(col("doc_id")), lit(91))).cast("int"))
      .withColumn("text", expr(
        s"array_join(transform(sequence(0, n_words - 1), i -> " +
          s"element_at($vocab, cast(pmod(hash(doc_id, i, ${seed}L), 31) as int) + 1)), ' ')"))
      .withColumn("lang", expr(
        s"element_at(array('en', 'en', 'de', 'es', 'fr', 'zh'), " +
          s"cast(pmod(hash(doc_id, ${seed}L, 7), 6) as int) + 1)"))
      .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(20))))
      .select("doc_id", "text", "lang", "source")
    val nearDups = base.filter(col("doc_id") % 100 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" the")))
    base.unionByName(nearDups)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).toDF("c_custkey").select(
      col("c_custkey"),
      concat(lit("Customer#"), col("c_custkey")).as("c_name"),
      pmod(xxhash64(col("c_custkey"), lit(seed), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      (pmod(xxhash64(col("c_custkey"), lit(seed), lit(2)), lit(1100000)) / 100.0 - 1000.0).as("c_acctbal"),
      expr(s"element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), " +
        s"cast(pmod(xxhash64(c_custkey, ${seed}L, 3), 5) as int) + 1)").as("c_mktsegment"))

  def orders(spark: SparkSession, seed: Long, n: Long, nCust: Long): DataFrame =
    spark.range(n).toDF("o_orderkey").select(
      col("o_orderkey"),
      pmod(xxhash64(col("o_orderkey"), lit(seed), lit(4)), lit(nCust)).as("o_custkey"),
      expr(s"element_at(array('F', 'O', 'P'), cast(pmod(xxhash64(o_orderkey, ${seed}L, 5), 3) as int) + 1)")
        .as("o_orderstatus"),
      (pmod(xxhash64(col("o_orderkey"), lit(seed), lit(6)), lit(50000000)) / 100.0 + 900.0).as("o_totalprice"),
      expr(s"timestamp_seconds(694224000 + pmod(xxhash64(o_orderkey, ${seed}L, 7), 220000000))")
        .as("o_orderdate"),
      expr(s"element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
        s"cast(pmod(xxhash64(o_orderkey, ${seed}L, 8), 5) as int) + 1)").as("o_orderpriority"))

  /** write the three tables under `dir` the way the gates load them */
  def write(spark: SparkSession, seed: Long, dir: String, nDocs: Long, nCust: Long, nOrders: Long): Unit = {
    def save(df: DataFrame, name: String): Unit =
      df.repartition(Main.Cores).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(documents(spark, seed, nDocs), "documents")
    save(customer(spark, seed, nCust), "customer")
    save(orders(spark, seed, nOrders, nCust), "orders")
  }
}
