package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** ppjoin-style prefix filtering: exactness (same verified edges as the
  * complete inverted index — on a brute-force oracle too), and the point
  * of it — candidate-pair volume collapsing on a boilerplate-heavy
  * corpus where every doc shares hot shingles. */
class SetSimJoinSpec extends SparkSuite {

  /** Planted boiler corpus — see [[BoilerCorpus]] (shared with LshSpec
    * so both guards assert against the same sweep-shaped fixture). */
  private def planted(nDocs: Int): DataFrame =
    BoilerCorpus.planted(spark, nDocs)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("prefix candidates are a subset of the complete inverted index") {
    val docs = planted(40).localCheckpoint()
    val all = pairSet(SetSimJoin.candidatesAll(docs))
    val pre = pairSet(SetSimJoin.candidatesPrefix(docs, 1, 2))
    assert(pre.subsetOf(all))
    assert(pre.size < all.size, "hot shingles must fall out of prefixes")
  }

  test("completeness: every J>=t pair survives prefix filtering (brute oracle)") {
    val docs = planted(40).localCheckpoint()
    // brute-force qualifying pairs straight from the set definition
    val sets = docs.select(col("doc_id"), col("sset"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      if inter * 3 >= sets(a).size + sets(b).size // J >= 1/2, integer-exact
    } yield (a, b)).toSet
    assert(want.nonEmpty, "fixture must contain true near-dups")
    val pre = pairSet(SetSimJoin.candidatesPrefix(docs, 1, 2))
    assert(want.subsetOf(pre), s"lost pairs: ${want -- pre}")
    // and verification recovers exactly the qualifying pairs
    assert(pairSet(SetSimJoin.verify(
      SetSimJoin.candidatesPrefix(docs, 1, 2), docs, 1, 2)) == want)
  }

  test("verified edges identical through both candidate paths") {
    val docs = planted(60).localCheckpoint()
    val viaAll = pairSet(SetSimJoin.verify(
      SetSimJoin.candidatesAll(docs), docs, 1, 2))
    val viaPre = pairSet(SetSimJoin.verify(
      SetSimJoin.candidatesPrefix(docs, 1, 2), docs, 1, 2))
    assert(viaAll == viaPre && viaAll.nonEmpty)
  }

  test("boilerplate corpus: candidate volume drops >=10x under prefix filtering") {
    val docs = planted(200).localCheckpoint()
    val nAll = SetSimJoin.candidatesAll(docs).count()   // ~ C(200,2): hot keys
    val nPre = SetSimJoin.candidatesPrefix(docs, 1, 2).count()
    assert(nAll >= 10 * nPre,
      s"expected >=10x reduction, got all=$nAll prefix=$nPre")
  }

  // --- sweep regression guards (PLANS.md round-6 5M-doc sweep; verdict
  // r6 task 6): the sweep's conclusions, pinned at spec scale so a
  // refactor that breaks one fails a named test, not a 5M-doc profile.

  test("sweep guard: ppjoin precision 1.0 on boilerplate — " +
      "candidates are exactly the verified edges") {
    // the sweep measured candidates = edges at EVERY boiler scale
    // (20k→5M docs): positional+length filters leave nothing for the
    // verify phase to discard. If a filter weakens, candidates exceed
    // edges and this fails; if one over-tightens, the planted pairs
    // (ground truth) go missing.
    val n = 200
    val docs = planted(n).localCheckpoint()
    val cands = pairSet(SetSimJoin.candidatesPrefix(docs, 1, 2))
    val edges = pairSet(SetSimJoin.edges(docs, 1, 2))
    assert(edges == BoilerCorpus.plantedPairs(n),
      "edges must be exactly the planted near-dup pairs")
    assert(cands == edges,
      s"ppjoin precision regressed: ${cands.size} candidates vs " +
        s"${edges.size} edges")
  }

  test("sweep guard: ppjoin joins stay SHUFFLE_HASH under AQE " +
      "(no broadcast promotion in the executed plan)") {
    // AQE sizes broadcast candidates from COMPRESSED shuffle bytes;
    // boiler text compresses 30-50×, and the unhinted plan detonated at
    // 5M docs (10.2 GiB broadcast build — PLANS.md round 6). The hints
    // must survive into the FINAL adaptive plan, where promotion
    // happens — asserting the pre-execution plan would miss it.
    val docs = planted(200).localCheckpoint()
    val df = SetSimJoin.edges(docs, 1, 2)
    df.count()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ShuffledHashJoin"),
      s"edges lost its SHUFFLE_HASH pins:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastHashJoin"),
      s"AQE promoted a corpus-scaled side to broadcast:\n${plan.take(2000)}")
  }

  test("df profile computes the exact crossover statistic") {
    import spark.implicits._
    // hand-computed: df(x)=3, df(y)=1, df(z)=1 → V=5, C=3·2/2=3, max=3
    val docs = Seq(
      (1L, 2, Array("x", "y")), (2L, 2, Array("x", "z")),
      (3L, 1, Array("x")))
      .toDF("doc_id", "n", "sset")
    val p = SetSimJoin.dfProfile(docs)
    assert(p == SetSimJoin.DfProfile(volume = 5, naiveCandidates = 3,
      maxDf = 3))
  }

  test("router: boiler profiles hot -> prefix path, clean -> naive; " +
      "all three exact variants agree on both corpora") {
    val boiler = graft.TestCorpora.shingleSets(spark, "boiler", 400)
      .localCheckpoint()
    val clean = graft.TestCorpora.shingleSets(spark, "clean", 400)
      .localCheckpoint()
    val pb = SetSimJoin.dfProfile(boiler)
    val pc = SetSimJoin.dfProfile(clean)
    // boiler: 12 global shingles, df=400 each → C/V ≈ 10²⁺; clean: the
    // content-group structure keeps C a small fraction of V — the
    // sweep's orders-of-magnitude cliff, reproduced at spec size
    assert(pb.hot(8), s"boiler profile not hot: $pb")
    assert(!pc.hot(8), s"clean profile hot: $pc")
    for (docs <- Seq(boiler, clean)) {
      val auto = pairSet(SetSimJoin.edgesAuto(docs, 1, 2))
      assert(auto == pairSet(SetSimJoin.edges(docs, 1, 2)))
      assert(auto == pairSet(SetSimJoin.edgesNaive(docs, 1, 2)))
      assert(auto.nonEmpty)
    }
  }

  test("threshold is a rational: stricter thresholds shrink candidates") {
    val docs = planted(40).localCheckpoint()
    val loose = SetSimJoin.candidatesPrefix(docs, 1, 2).count()  // J >= 0.5
    val tight = SetSimJoin.candidatesPrefix(docs, 3, 4).count()  // J >= 0.75
    assert(tight <= loose)
    // verification at J >= 0.75 still finds the planted one-token edits
    // (a mid-tail edit leaves J ≈ 27/33 ≈ 0.82)
    assert(SetSimJoin.verify(
      SetSimJoin.candidatesPrefix(docs, 3, 4), docs, 3, 4).count() > 0)
  }
}
