package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import org.apache.spark.sql.graft.{BloomFilter, CountMinSketch, DotProduct, KmvDistinct}

/** The library's `SparkSessionExtensions` installer — the supported way
  * to ship Catalyst extensions to a cluster you don't own: set
  * `spark.sql.extensions=graft.GraftExtensions` and every session gets
  *
  *  - [[graft.plans.SimplifyLiteralCaseFilter]], the optimizer rule that
  *    turns bucket-predicate filters (`dpd_bucket = '90+'` over a CASE
  *    banding) into pushdown-able range comparisons;
  *  - `graft_dot(array<float>, array<float>)` as a SQL-callable function
  *    (the [[DotProduct]] codegen expression), so the pure-SQL surface
  *    can run the embedding math with the same plan the DataFrame API
  *    gets.
  *
  * Per-group top-k needs no extension: `row_number() <= k` plans as
  * Spark's built-in `WindowGroupLimit`, which prunes each partition to
  * k rows per group before the exchange.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.SimplifyLiteralCaseFilter)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"graft_dot takes 2 arguments, got ${children.size}")
        DotProduct(children(0), children(1))
      }))
    // graft_nfc(string): Unicode NFC canonicalization (codegen, zero-UDF)
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.size == 1, s"graft_nfc takes 1 argument, got ${children.size}")
        org.apache.spark.sql.graft.NfcNormalize(children.head)
      }))
    // graft_kmv(hash_col, k): the KMV distinct sketch as a SQL aggregate
    // (the analyzer wraps a returned AggregateFunction automatically)
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "graft_kmv"),
      (children: Seq[Expression]) => {
        require(children.size == 2, s"graft_kmv takes 2 arguments, got ${children.size}")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other =>
            throw new IllegalArgumentException(s"graft_kmv k must be an int literal, got $other")
        }
        KmvDistinct(children(0), k)
      }))
    // graft_bloom(key_col, num_bits, num_hashes): the Bloom membership
    // sketch as a SQL aggregate (probes read the returned bit words)
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomFilter].getName, "graft_bloom"),
      (children: Seq[Expression]) => {
        require(children.size == 3, s"graft_bloom takes 3 arguments, got ${children.size}")
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other =>
            throw new IllegalArgumentException(
              s"graft_bloom $name must be an int literal, got $other")
        }
        BloomFilter(children(0), intLit(children(1), "num_bits"),
          intLit(children(2), "num_hashes"))
      }))
    // graft_cms(key_col, depth, width): the Count-Min grid as a SQL
    // aggregate (point estimates read the returned array)
    ext.injectFunction((
      new FunctionIdentifier("graft_cms"),
      new ExpressionInfo(classOf[CountMinSketch].getName, "graft_cms"),
      (children: Seq[Expression]) => {
        require(children.size == 3, s"graft_cms takes 3 arguments, got ${children.size}")
        def intLit(e: Expression, name: String): Int = e match {
          case Literal(v: Int, IntegerType) => v
          case other =>
            throw new IllegalArgumentException(s"graft_cms $name must be an int literal, got $other")
        }
        CountMinSketch(children(0), intLit(children(1), "depth"), intLit(children(2), "width"))
      }))
  }
}
