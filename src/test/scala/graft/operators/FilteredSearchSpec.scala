package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Metadata-filtered ANN: recall@10 vs exact filtered brute force
  * across selectivities, the filter-during-search > post-filter
  * demonstration, and the cardinality router's two paths. */
class FilteredSearchSpec extends SparkSuite {

  private val dim = 48
  private val k = 10

  /** 2000 clustered unit vectors, 12 planted directions —
    * graft.TestCorpora.clustered, the ONE shared fixture generator, at
    * this spec's noise scale. */
  private lazy val corpus: DataFrame =
    graft.TestCorpora.clustered(spark, 2000L, dim, kGroups = 12,
      noise = 0.3).localCheckpoint()

  private lazy val queries: DataFrame = corpus
    .filter(col("vec_id") < 8)
    .select(col("vec_id").as("q_id"), col("embedding").as("qvec"))
    .localCheckpoint()

  private lazy val index: GraphAnn.GraphIndex =
    GraphAnn.build(corpus, degree = 12, kCells = 16, iters = 2,
      probes = 2, descentRounds = 1, minTopLayer = 64)

  /** Deterministic eligible subset at ~pct% selectivity. */
  private def eligibleAt(pct: Int): DataFrame = corpus
    .filter(pmod(xxhash64(col("vec_id")), lit(100)) < pct)
    .select("vec_id")

  private def recallVsExact(got: DataFrame, eligible: DataFrame): Double = {
    import spark.implicits._
    def tops(df: DataFrame) = df
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = tops(
      FilteredSearch.exactFiltered(corpus, queries, eligible, k))
    val mine = tops(got)
    val per = truth.map { case (q, t) =>
      mine.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    per.sum / per.size
  }

  test("graph filtered search holds recall at 10% and 50% selectivity") {
    for ((pct, efMul) <- Seq(50 -> 2, 10 -> 10)) {
      val elig = eligibleAt(pct)
      val got = GraphAnn.searchFiltered(index, corpus, queries, elig,
        topK = k, ef = 32 * efMul, maxRounds = 10)
      val r = recallVsExact(got, elig)
      assert(r >= 0.9, f"recall@$k at $pct%% selectivity: $r%.3f < 0.9")
    }
  }

  test("filter-during-search beats post-filtering at a selective predicate") {
    import spark.implicits._
    val elig = eligibleAt(10).localCheckpoint()
    // post-filter baseline AT EQUAL ef: unfiltered top-ef beam, then
    // keep eligible survivors and cut to k — the anti-pattern
    val ef = 64
    val unfiltered = GraphAnn.search(index, corpus, queries,
      topK = ef, ef = ef, maxRounds = 10)
    val post = unfiltered
      .join(elig, Seq("vec_id"), "left_semi")
      .withColumn("r2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("r2") <= k).drop("r2")
    val during = GraphAnn.searchFiltered(index, corpus, queries, elig,
      topK = k, ef = ef, maxRounds = 10)
    val rPost = recallVsExact(post, elig)
    val rDuring = recallVsExact(during, elig)
    // at 10% selectivity a 64-wide unfiltered beam expects ~6 eligible
    // survivors of the needed 10 — during-search ranks the whole
    // visited pool instead and must dominate
    assert(rDuring > rPost,
      f"during-search $rDuring%.3f did not beat post-filter $rPost%.3f")
    assert(rDuring >= 0.7, f"during-search recall $rDuring%.3f " +
      "collapsed at equal ef (widening exists for the rest)")
  }

  test("auto router: exact below the scan budget (bit-equal), graph above") {
    val elig = eligibleAt(1) // ~20 vectors — the selective regime
    val viaAuto = FilteredSearch.auto(index, corpus, queries, elig,
      topK = k, scanBudget = 1000L)
    val exact = FilteredSearch.exactFiltered(corpus, queries, elig, k)
    assert(viaAuto.collect().toSeq == exact.collect().toSeq,
      "selective predicate did not route to the exact scan")
    // forced graph path (budget 0) still returns k eligible rows per
    // query with sane recall once widened by the router
    val forced = FilteredSearch.auto(index, corpus, queries,
      eligibleAt(10), topK = k, scanBudget = 0L)
    val r = recallVsExact(forced, eligibleAt(10))
    assert(r >= 0.9, f"routed graph path recall $r%.3f < 0.9")
    import spark.implicits._
    val eligSet = eligibleAt(10).as[Long].collect().toSet
    val returned = forced.select("vec_id").as[Long].collect()
    assert(returned.forall(eligSet), "graph path returned an ineligible id")
  }

  test("filtered IVF: full probe ≡ exact filtered; partial probes hold recall") {
    val idx = Ann.buildIvf(corpus, k = 16, iters = 2)
    val elig = eligibleAt(10).localCheckpoint()
    // pre-filtering the assignments leaves the probe geometry intact,
    // so scanning every cell is exactly brute force on the eligible set
    val full = Ann.searchFiltered(idx, queries, elig, topK = k,
      nprobe = 16)
    val exact = FilteredSearch.exactFiltered(corpus, queries, elig, k)
    assert(full.collect().toSeq == exact.collect().toSeq,
      "full-probe filtered IVF diverged from exact filtered brute force")
    // 8 of 16 cells, predicate at 10%: recall holds because eligible
    // near neighbors share coarse cells with the query (measured 0.90
    // already at 6/16)
    val probed = Ann.searchFiltered(idx, queries, elig, topK = k,
      nprobe = 8)
    val r = recallVsExact(probed, elig)
    assert(r >= 0.9, f"filtered IVF recall $r%.3f < 0.9 at nprobe 8/16")
  }

  test("every query gets k results when the eligible set allows it") {
    import spark.implicits._
    val elig = eligibleAt(50)
    val got = GraphAnn.searchFiltered(index, corpus, queries, elig,
      topK = k, ef = 64, maxRounds = 10)
    val counts = got.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(counts.length == 8 && counts.forall(_._2 == k),
      s"short result lists: ${counts.mkString(",")}")
  }
}
