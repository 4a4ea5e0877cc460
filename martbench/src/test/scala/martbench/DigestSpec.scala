package martbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The content digest is order- and partitioning-insensitive, and catches
  * a changed value, a moved null and a duplicate row. */
class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("a", StringType), StructField("b", StringType),
    StructField("x", DoubleType)))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  private val base = Seq(
    Row(1L, "p", null, 1.5), Row(2L, "q", "r", 2.5), Row(3L, null, "s", -0.25), Row(4L, "t", "t", 0.0))

  private def digest(rows: Seq[Row]) = Digest.drain(frame(rows), "test")

  test("order and partitioning do not change the digest") {
    val d = digest(base)
    assert(d.rows == 4)
    assert(digest(base.reverse) == d)
    assert(Digest.drain(frame(base).repartition(5), "test") == d)
    assert(Digest.drain(frame(base).coalesce(1).orderBy("x"), "test") == d)
  }

  test("a changed value changes the digest") {
    assert(digest(base.updated(1, Row(2L, "q", "r", 2.5000001))) != digest(base))
    assert(digest(base.updated(1, Row(2L, "q", "R", 2.5))) != digest(base))
  }

  test("a null moved to another column changes the digest") {
    // row 1 has (a = "p", b = null); moving the null to a keeps the values
    assert(digest(base.updated(0, Row(1L, null, "p", 1.5))) != digest(base))
  }

  test("a duplicate row changes the digest, even in place of another row") {
    assert(digest(base :+ base(2)) != digest(base))
    assert(digest(base.updated(3, base(2))) != digest(base))
  }

  test("the digest sink builds every column: no projection is pruned") {
    val df = frame(base).selectExpr("id", "concat(a, b) as ab", "x * 2 as x2")
    val d = Digest.drain(df, "test")
    assert(d == Digest.drain(frame(base).selectExpr("id", "concat(a, b)", "x + x"), "test"))
    assert(d != Digest.drain(frame(base).selectExpr("id", "concat(b, a)", "x + x"), "test"))
  }
}
