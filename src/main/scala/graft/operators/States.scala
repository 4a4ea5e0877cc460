package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The add/merge contract every maintained state shares: merging the
  * `*Add` states of doc-disjoint deltas equals one `*Add` over their
  * union. [[merge]] is that merge, spelled once; [[deltas]] is the
  * split the `_stream` twins ingest through. */
object States {

  /** How one value column folds across the states of a key. */
  type Fold = Column => Column

  val Sum: Fold = sum(_)
  val Max: Fold = max(_)
  val Min: Fold = min(_)
  /** A value that is a pure function of its key's input, so every
    * state carries it identically and the merge keeps any one. */
  val First: Fold = first(_)

  /** Merge any number of states: union them on `keys` plus the value
    * columns, then fold each value per key. When every value is
    * [[First]], or there is none, the merge is the first-wins union
    * `dropDuplicates(keys)` (the aggregate Spark plans for it), which
    * absorbs a delta ingested twice. */
  def merge(states: Seq[DataFrame], keys: Seq[String], values: (String, Fold)*): DataFrame = {
    val all = states.map(_.select((keys ++ values.map(_._1)).map(col): _*))
      .reduce(_ unionByName _)
    if (values.forall(_._2 eq First)) all.dropDuplicates(keys)
    else {
      val aggs = values.map { case (c, f) => f(col(c)).as(c) }
      all.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Split `ds` into `n` deltas by `pmod(key, n)`: every row lands in
    * exactly one, a negative key included; a null key lands in the last. */
  def deltas[T](ds: Dataset[T], key: String, n: Int): Seq[Dataset[T]] = {
    require(n >= 1, s"n must be positive, got $n")
    (0 until n).map { i =>
      val in = pmod(col(key), lit(n)) === i
      ds.filter(if (i == n - 1) in || col(key).isNull else in)
    }
  }
}
