package graft.agg

import graft.agg.GraftFunctions._
import graft.catalog.SketchCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * `sketch_lit`: a driver-held sketch as an opaque plan leaf. Probes
 * over it answer exactly as over `lit(bytes)` on both execution paths,
 * while plans carry no binary Literal, describe the sketch in a few
 * characters, and still compare equal for equal content.
 */
class SketchLiteralSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // an RDD source, not a local relation: the optimizer would evaluate
  // a probe over a local relation on the driver and drop it from the plan
  private def keysDf(ks: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ks, 3).toDF("k")
  }

  private def blob(agg: Column, ks: Seq[String]): Array[Byte] =
    keysDf(ks).agg(agg.as("s")).head().getAs[Array[Byte]]("s")

  private def binaryLiterals(plan: LogicalPlan): Seq[Literal] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case l: Literal if l.dataType == BinaryType => l
    }))

  private def sketchLiterals(plan: LogicalPlan): Seq[SketchLiteral] =
    plan.flatMap(_.expressions.flatMap(_.collect { case s: SketchLiteral => s }))

  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val present = (0 until 2000).map(i => s"in_$i")
  private val absent = (0 until 2000).map(i => s"out_$i")

  test("probes over sketch_lit answer as over lit, with and without codegen") {
    val lbfKeys = present ++ present.take(100)
    val probes = Seq[(String, Array[Byte], (Column, Column) => Column)](
      ("sbf", blob(sbf_agg(col("k"), 500L, 1e-3), present), sbf_contains),
      ("bloom", blob(bloom_agg(col("k"), 5000L, 1e-3), present), bloom_contains),
      ("lbf", blob(lbf_agg(col("k"), 5000L, 1e-3), lbfKeys), lbf_count))
    // codegen mode: a compile error must fail, not fall back to eval
    val modes = Seq(
      Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.fallback" -> "false"),
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))
    for (mode <- modes; (name, b, probe) <- probes) withConf(mode: _*) {
      val keys = keysDf(present ++ absent)
      def answers(sk: Column): Map[String, Any] = {
        val df = keys.select(col("k"), probe(sk, col("k")).as("r"))
        val wholeStage = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(wholeStage.nonEmpty == (mode.head._2 == "CODEGEN_ONLY"), s"$name under $mode")
        df.collect().map(r => r.getString(0) -> r.get(1)).toMap
      }
      val viaSketch = answers(sketch_lit(b))
      val viaLit = answers(lit(b))
      assert(viaSketch == viaLit, s"$name under $mode")
      def hit(k: String): Boolean = viaSketch(k) match {
        case x: Boolean => x
        case n: Int => n >= 1
      }
      present.foreach(k => assert(hit(k), s"$name false negative on $k under $mode"))
      // the absent keys must mostly answer no: the filters are sized
      // for these keys at 1e-3, so a few hits at most
      val absentHits = absent.count(hit)
      assert(absentHits < 20, s"$name: $absentHits of ${absent.size} absent keys hit under $mode")
    }
  }

  test("the optimized plan carries the sketch as a sketch_lit leaf, not a binary Literal") {
    val b = blob(sbf_agg(col("k"), 500L, 1e-3), present)
    val df = keysDf(absent).filter(sbf_contains(sketch_lit(b), col("k")))
    val plan = df.queryExecution.optimizedPlan
    assert(binaryLiterals(plan).isEmpty)
    assert(sketchLiterals(plan) == Seq(SketchLiteral(b)))
  }

  test("checkKeys over a megabyte sketch keeps its plan description small") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("sketchlit").toString)
    assert(cat.create("big", capacity = 1000000L, prob = 1e-4) == "Done")
    val res = cat.checkKeys("big", keysDf(present)).toOption.get
    val sketches = sketchLiterals(res.queryExecution.optimizedPlan)
    assert(sketches.size == 1 && sketches.head.bytes.length >= (1 << 20))
    val described = res.queryExecution.toString
    assert(described.length < 16 * 1024, s"plan description is ${described.length} chars")
    assert(described.contains(s"sketch(${sketches.head.bytes.length}B,#"))
  }

  test("plans over equal sketch content are sameResult; different content is not") {
    val b = blob(sbf_agg(col("k"), 500L, 1e-3), present)
    val other = blob(sbf_agg(col("k"), 500L, 1e-3), absent)
    val keys = keysDf(present)
    def plan(sk: Array[Byte]) = keys.filter(sbf_contains(sketch_lit(sk), col("k")))
    assert(plan(b).sameSemantics(plan(b.clone())))
    assert(plan(b).semanticHash() == plan(b.clone()).semanticHash())
    assert(!plan(b).sameSemantics(plan(other)))
    assert(SketchLiteral(b) == SketchLiteral(b.clone()))
    assert(SketchLiteral(b) != SketchLiteral(other))
  }
}
