package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** graft's SQL functions come with the session: [[GraftExtensions]] is
  * a service-listed `SparkSessionExtensionsProvider`, so a session from a
  * bare builder — no `GraftConf`, no `GraftFunctions.register` — resolves
  * them in SQL.
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a bare session resolves graft_dot and graft_shingles in SQL") {
    // newSession builds its function registry from the extensions alone,
    // so the check holds even if the builder returned a session that a
    // register call had touched
    Seq(spark, spark.newSession()).foreach { s =>
      val r = s.sql(
        "select graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)), " +
          "graft_shingles(split('a b c d', ' '))").head()
      assert(r.getDouble(0) === 11.0)
      assert(r.getSeq[String](1) === Seq("a b c", "b c d"))
    }
  }
}
