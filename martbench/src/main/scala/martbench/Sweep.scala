package martbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The LLM-operator sweep: registered `SparkEntry.queries` of the ANN,
  * graph, corpus, text top-k and dq profile families, run over the fixed
  * testdata tier committed under `martbench/testdata/sf0.01`. Every
  * registered answer is defined and oracle-checked on that tier, so the
  * input does not depend on the seed; the seed only shuffles the order of
  * each pass. */
object Sweep {
  /** (family span, registered query): one or two per family, chosen from the
    * code paths of the open performance items (DriverPar widening, the
    * Graph partition count, the curation exchanges, TopKPerGroup). */
  val Queries: Seq[(String, String)] = Seq(
    "ext.sim" -> "knn_cosine_ivfpq_res",
    "ext.graph" -> "doc_centrality",
    "ext.corpus" -> "curation_pipeline",
    "ext.text" -> "topk_per_group",
    "ext.text" -> "tfidf_top_terms",
    "dq.profile" -> "profile_top_values")

  /** The committed expected answers: one `query rows h1 h2` line each
    * (h1, h2 in hex, as [[Digest.toString]] prints them). */
  def expected(file: String): Map[String, Digest] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, h1, h2) = l.split("\\s+")
        q -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(h1, 16), java.lang.Long.parseUnsignedLong(h2, 16))
      }.toMap
}

/** Prints the expected-answer lines of [[Sweep.Queries]] on a testdata
  * tier, for `martbench/testdata/expected.txt`:
  *
  *   java <run.py's JVM_FLAGS> -cp "$(cat martbench/target/classpath.txt)" \
  *     martbench.RecordSweep martbench/testdata/sf0.01
  *
  * Record them only from a commit whose answers `graft.Verify` and
  * `tools/check_oracle.py` confirm on the same tier. */
object RecordSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.fromEnv()
    try Sweep.Queries.map(_._2).foreach { q =>
      val d = Digest.drain(graft.SparkEntry.queries(q)(spark, args(0)), q)
      println(f"$q ${d.rows} ${d.h1}%016x ${d.h2}%016x")
      spark.catalog.clearCache()
    } finally spark.stop()
  }
}
