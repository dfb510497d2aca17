package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.queries.Llm

/** The DBSCAN scale path: the IVF cell equi-join generator must be
  * EXACTLY the all-pairs ε-join at full probe (that identity is what
  * lets q_dbscan_ivf share q_dbscan's recursive-CTE oracle), degrade
  * gracefully under partial probes on clustered data, and never plan a
  * cartesian. */
class DbscanSpec extends SparkSuite {

  private val dim = 48

  /** Clustered unit vectors — graft.TestCorpora.clustered, the ONE
    * shared fixture generator, at this spec's noise scale. */
  private def corpus(n: Int, kGroups: Int) =
    graft.TestCorpora.clustered(spark, n.toLong, dim, kGroups,
      noise = 0.25)

  private def pairSet(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
  }

  test("full-probe cell join ≡ all-pairs ε-join (the oracle-sharing identity)") {
    val emb = corpus(300, 6).localCheckpoint()
    val exact = pairSet(Dbscan.epsPairsExact(emb, eps = 0.35))
    val ivf = pairSet(
      Dbscan.epsPairsIvf(emb, eps = 0.35, kCells = 8, probes = 8))
    assert(ivf == exact,
      s"full probe diverged: ${ivf.size} vs ${exact.size} pairs, " +
        s"missing=${(exact -- ivf).take(5)} extra=${(ivf -- exact).take(5)}")
    assert(exact.nonEmpty, "degenerate fixture: no ε-pairs at all")
  }

  test("partial probes keep high edge recall on clustered data") {
    val emb = corpus(600, 8).localCheckpoint()
    val exact = pairSet(Dbscan.epsPairsExact(emb, eps = 0.45))
    // 2 of 8 cells scanned per query — ε-near pairs share coarse cells
    // on clustered data (the SemDedup regime), so recall stays high
    // while candidate volume drops 4×
    val got = pairSet(
      Dbscan.epsPairsIvf(emb, eps = 0.45, kCells = 8, probes = 2))
    assert(got.subsetOf(exact), "cell join invented a pair above ε")
    val recall = got.size.toDouble / exact.size
    assert(exact.size > 1000, s"fixture too sparse: ${exact.size} pairs")
    assert(recall >= 0.9, f"edge recall $recall%.3f < 0.9 " +
      s"(${got.size}/${exact.size})")
  }

  test("q_dbscan_ivf ≡ q_dbscan end-to-end on a written corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("dbscan-ivf").toString
    corpus(250, 5).withColumn("label", lit(0))
      .write.parquet(s"$dir/embeddings.parquet")
    val base = Llm.queries("q_dbscan")(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    val ivf = Llm.queries("q_dbscan_ivf")(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    assert(ivf == base, "bucketed DBSCAN diverged from the baseline")
    // the labeling is non-trivial on this fixture: clusters exist
    assert(base.exists(_._3 == 1), "no cores — degenerate fixture")
    assert(base.map(_._2).distinct.size > 1, "single-cluster fixture")
  }

  test("q_dbscan_ivf plans no cartesian (the scale guard)") {
    val plan = graft.SparkEntry.queries("q_dbscan_ivf")(
        spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ε-candidates regressed to a cartesian:\n${plan.take(3000)}")
  }
}
