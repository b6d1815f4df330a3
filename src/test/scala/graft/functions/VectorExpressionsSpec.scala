package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class VectorExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("graft_dot is bit-identical to the HOF fold on real embeddings") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val hof = aggregate(
      zip_with($"embedding", $"qv", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val both = e.crossJoin(broadcast(q))
      .select($"vec_id", hof.as("a"), call_function("graft_dot", $"embedding", $"qv").as("b"))
      .filter($"a" =!= $"b") // exact double equality required
    assert(both.count() === 0L)
  }

  test("graft_dot participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = e.select(call_function("graft_dot", $"embedding", $"embedding").as("n2"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" marks operators inside a WholeStageCodegen stage; the Project
    // carrying graft_dot must be inside one (CodegenFallback would break it)
    assert(plan.contains("*(1) Project") && plan.contains("graft_dot"), plan)
    // and it evaluates: unit-norm embeddings have n2 ~ 1
    val v = df.head.getDouble(0)
    assert(v > 0.9 && v < 1.1)
  }

  test("graft_dot rejects non-float-array inputs at analysis") {
    GraftFunctions.register(spark)
    val err = intercept[Exception] {
      spark.sql("select graft_dot(array(1.0, 2.0), array(1.0, 2.0))").collect()
    }
    assert(err.getMessage.contains("graft_dot") || err.getMessage.contains("DATATYPE"))
  }

  test("graft_shingles equals the HOF array_distinct(transform(...)) pipeline") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "one two"), (9002L, "x"), (9003L, "a b c d")).toDF("doc_id", "text"))
    val diff = docs.select($"doc_id",
        array_sort(Dedup.shingles($"text")).as("a"),
        array_sort(Dedup.shinglesHof($"text")).as("b"))
      .filter($"a" =!= $"b")
    assert(diff.count() === 0L)
  }

  test("graft_minhash equals the HOF shingle+md5 pipeline on real docs") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val viaExpr = docs.select($"doc_id",
      call_function("graft_minhash", split($"text", " ")).as("mh"))
    val sh = Dedup.shingles($"text")
    val viaHof = docs.select($"doc_id", array(
      Dedup.minhash(sh, 0), Dedup.minhash(sh, 1),
      Dedup.minhash(sh, 2), Dedup.minhash(sh, 3)).as("mh"))
    val diff = viaExpr.as("a").join(viaHof.as("b"), "doc_id")
      .filter($"a.mh" =!= $"b.mh")
    assert(diff.count() === 0L)
  }

  test("graft_simhash equals the explode+bitsum pipeline") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import graft.operators.Dedup
    val d = "/root/testdata/sf0.001"
    val viaExpr = graft.core.Tables.documents(spark, d)
      .select($"doc_id", call_function("graft_simhash", split($"text", " ")).as("sig"))
    val diff = viaExpr.as("a").join(Dedup.dd03SigsHof(spark, d).as("b"), "doc_id")
      .filter($"a.sig" =!= $"b.sig")
    assert(diff.count() === 0L)
  }

  test("SQL surface: graft_dot usable from spark.sql") {
    GraftFunctions.register(spark)
    graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb")
    val rows = spark.sql(
      """select vec_id, graft_dot(embedding, embedding) as n2
        |from emb order by vec_id limit 3""".stripMargin).collect()
    assert(rows.length === 3 && rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 0.01))
  }

  test("graft_dot's interpreted path widens each element, folds left to right") {
    def arr(t: DataType, xs: Any*) = Literal.create(xs, ArrayType(t, containsNull = true))
    val f = arr(FloatType, 0.1f, -2.5f, 3.3f)
    val d = arr(DoubleType, 0.7d, 1e-3d, -4.1d)
    def want(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val fs = Seq(0.1f, -2.5f, 3.3f).map(_.toDouble)
    val ds = Seq(0.7d, 1e-3d, -4.1d)
    assert(FloatDotProduct(f, d).eval() === want(fs, ds))
    assert(FloatDotProduct(d, f).eval() === want(ds, fs))
    assert(FloatDotProduct(f, f).eval() === want(fs, fs))
    assert(FloatDotProduct(d, d).eval() === want(ds, ds))
    assert(FloatDotProduct(arr(LongType, 3L, -4L), arr(LongType, 5L, 6L)).eval() === -9L)
    assert(FloatDotProduct(f, arr(DoubleType, 1.0d)).eval() === null) // lengths differ
    assert(FloatDotProduct(f, arr(DoubleType, 1.0d, null, 2.0d)).eval() === null)
  }
}
