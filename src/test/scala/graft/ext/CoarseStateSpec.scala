package graft.ext

import org.apache.spark.sql.functions._

/** The invariant `Sim.ivfPqAdcPairs` relies on when it trains the
  * coarse quantizer and the PQ codebooks concurrently: a non-empty
  * q-frame never yields an empty `Cluster.coarseStateFromQ`, so the
  * searcher's empty-state guard fires only for an empty corpus. */
class CoarseStateSpec extends graft.SparkSpec {
  import spark.implicits._

  /** The searcher's own q-frame: one grid, quantized, checkpointed. */
  private def coarse(rows: Seq[(Long, Array[Float])], coarseK: Int): Seq[Cluster.Centroid] = {
    val emb = rows.toDF("vec_id", "embedding")
    val (scale, d) = Cluster.grid(emb).get
    val qf = emb.select(col("vec_id"), Cluster.qCol(scale).as("q")).localCheckpoint(false)
    Cluster.coarseStateFromQ(qf, d, coarseK, 2)
  }

  test("coarseStateFromQ is non-empty: single row, identical vectors, coarseK > rows") {
    val cases = Seq(
      "single row" -> (Seq((7L, Array(0.5f, -1.0f, 0.25f, 0.0f))), 8),
      "all identical" -> ((1L to 40L).map(i => (i, Array(0.3f, 0.3f, -0.6f, 0.1f))), 8),
      "coarseK > rows" -> ((1L to 5L).map(i => (i, Array(i.toFloat, 1.0f, -i.toFloat, 2.0f))), 64))
    cases.foreach { case (name, (rows, k)) =>
      val cens = coarse(rows, k)
      assert(cens.nonEmpty, s"$name: empty coarse state")
      // every row is assigned to some non-empty cell
      assert(cens.map(_.n).sum == rows.size.toLong, s"$name: cells hold ${cens.map(_.n)}")
    }
  }
}
