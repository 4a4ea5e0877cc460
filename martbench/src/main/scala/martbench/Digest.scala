package martbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** An order- and partitioning-insensitive content digest of a frame: the
  * row count plus two wrapping sums of independent 64-bit hashes of each
  * row's canonical UnsafeRow bytes. A changed value or a null moved to
  * another column changes that row's bytes, and a duplicated row adds its
  * hash a second time and bumps the count, so each shows in the digest. */
final case class Digest(rows: Long, h1: Long, h2: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, h1 + o.h1, h2 + o.h2)
  override def toString: String = f"$rows:$h1%016x:$h2%016x"
}

object Digest {
  val Empty: Digest = Digest(0L, 0L, 0L)
  private val Seed1 = 0x5bd1e995L
  private val Seed2 = 0x9e3779b97f4a7c15L

  def ofPartition(schema: StructType)(rows: Iterator[InternalRow]): Iterator[Digest] = {
    val canonical = UnsafeProjection.create(schema)
    var n = 0L; var a = 0L; var b = 0L
    rows.foreach { r =>
      val u = canonical(r)
      a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed1)
      b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed2)
      n += 1
    }
    Iterator.single(Digest(n, a, b))
  }

  /** Runs `df`'s own physical plan to completion under a SQL execution
    * named `name` and digests every row and column it produces. Nothing
    * is pruned: the sink consumes the full output schema, like a noop
    * write, and only one small digest per partition reaches the driver. */
  def drain(df: DataFrame, name: String): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions(ofPartition(schema)).collect().foldLeft(Empty)(_ + _)
    }
  }
}
