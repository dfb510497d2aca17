package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Distributed DBSCAN (Ester et al. 1996, "A density-based algorithm
  * for discovering clusters") over a unit-norm embedding corpus, split
  * into its two independent halves:
  *
  *  - an ε-PAIR GENERATOR — every unordered pair within the cosine
  *    ball, `(id_a < id_b, cos ≥ eps)` — with two implementations:
  *    [[epsPairsExact]], the all-pairs nested loop kept as the oracle
  *    baseline (the dedup-cascade discipline: the quadratic form
  *    exists to anchor correctness, never to run at scale), and
  *    [[epsPairsIvf]], the IVF cell equi-join ([[KnnJoin]]'s candidate
  *    shape) that holds at corpus scale;
  *  - a LABELER ([[label]]) — cores by neighbor count, clusters as
  *    connected components of the core-core ε-graph, borders attached
  *    to the MIN core-neighbor cluster, noise = −1. Every tie resolves
  *    by min-id, so the whole algorithm is deterministic (no seed, no
  *    scan order) and answers to a recursive-CTE SQL oracle — rare for
  *    a clustering algorithm.
  *
  * Exactness dial (the [[KnnJoin]] contract): `probes = kCells` scans
  * every cell, so the candidate set covers ALL pairs and the ε-graph —
  * hence the labeling — is EXACTLY the all-pairs result (DbscanSpec
  * pins the identity; the declared `q_dbscan_ivf` shares `q_dbscan`'s
  * DuckDB oracle). `probes < kCells` trades edge recall for a
  * per-query scan of probes/kCells of the corpus.
  *
  * At 100 TB: the generator is an equi-join on `cell_id` (one hash
  * exchange, no cartesian — plan-guarded), candidates per query are
  * capped at probes·n/kCells, and kCells scales with n, so total
  * candidate volume is ~probes·n·targetCellSize — linear in the corpus
  * at fixed probes (PLANS.md records the 10× sweep: 3906 → 3965
  * candidates per vector from 20k to 200k vectors). Cosine-ball
  * edge recall under multi-probe is the [[SemDedup]] regime: near
  * neighbors share coarse cells by construction.
  */
object Dbscan {

  /** All-pairs ε-join — the ORACLE BASELINE (O(n²) dots; documented
    * quadratic, kept beside the scale path like the naive dedup
    * cascade). Cut on the ROUNDED cosine so Spark and DuckDB keep an
    * identical edge set. Returns (id_a, id_b) with id_a < id_b. */
  def epsPairsExact(emb: DataFrame, eps: Double): DataFrame = {
    val a = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val cos = round(Vectors.dot(col("va"), col("vb")), 6)
    a.join(b, col("id_a") < col("id_b") && cos >= eps)
      .select(col("id_a"), col("id_b"))
  }

  /** ε-pairs through the IVF cell equi-join: the DATA role keeps each
    * vector in its one primary cell, the QUERY role explodes to its
    * `probes` nearest cells (codegen'd NearestCells), so a directed
    * candidate (q, v) appears at most once. At full probe the directed
    * set is symmetric and `q_id < vec_id` keeps each unordered pair
    * exactly once — no distinct pass; under partial probes a pair may
    * surface in only one direction, so the survivors dedup through
    * least/greatest + distinct (edge-sized, post-threshold). */
  def epsPairsIvf(emb: DataFrame, eps: Double, kCells: Int, probes: Int,
      iters: Int = 2): DataFrame = {
    val idx = Ann.buildIvf(emb, kCells, iters)
    val p = math.min(probes, idx.centroids.length)
    val probeCells = graft.functions.QuantExpressions.nearestCells(
      col("embedding"), idx.centroids.flatten, idx.centroids.length,
      idx.centroids.head.length, p)
    val data = idx.assignments
      .select(col("cell_id"), col("vec_id"), col("embedding").as("vd"))
    val queries = emb
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        explode(probeCells).as("cell_id"))
      .repartition(col("cell_id"))
    val cand = queries
      .join(data.hint("shuffle_hash"), Seq("cell_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .filter(round(Vectors.dot(col("qv"), col("vd")), 6) >= eps)
    if (p >= idx.centroids.length)
      cand.filter(col("q_id") < col("vec_id"))
        .select(col("q_id").as("id_a"), col("vec_id").as("id_b"))
    else
      cand.select(least(col("q_id"), col("vec_id")).as("id_a"),
          greatest(col("q_id"), col("vec_id")).as("id_b"))
        .distinct()
  }

  /** DBSCAN labeling over undirected ε-pairs: core = ≥ minPts
    * neighbors (self included), clusters = connected components of the
    * core-core ε-graph ([[Dedup.components]]' min-id contract matches
    * the oracle's recursive min(r)), borders attach to the MIN cluster
    * among their core neighbors, the rest is noise (−1). Returns
    * (vec_id, cluster, is_core) for every id in `emb`, ordered.
    *
    * `pairs` feeds three consumers (the symmetrized edge list is read
    * for degrees AND border attachment; the pair list again for the
    * core-core subgraph) — localCheckpointed once so the generator's
    * join runs once, not three times. */
  def label(emb: DataFrame, pairs: DataFrame, minPts: Int): DataFrame = {
    val p = pairs.localCheckpoint()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("nbrs"))
    val cores = deg.filter(col("nbrs") + 1 >= minPts)
      .select(col("src").as("node")).localCheckpoint()
    val corePairs = p
      .join(cores.hint("shuffle_hash"), p("id_a") === cores("node"),
        "left_semi")
      .join(cores.hint("shuffle_hash"), p("id_b") === cores("node"),
        "left_semi")
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = Dedup.components(corePairs)
    // isolated cores (no core neighbor) are their own cluster
    val coreLab = cores
      .join(comp, cores("node") === comp("id"), "left")
      .select(col("node"), coalesce(col("comp"), col("node"))
        .as("core_cluster"))
    val nbrMin = edges
      .join(coreLab, edges("dst") === coreLab("node"))
      .groupBy(edges("src").as("vec_id"))
      .agg(min(col("core_cluster")).as("nbr_cluster"))
    emb.select(col("vec_id"))
      .join(coreLab.select(col("node").as("vec_id"), col("core_cluster")),
        Seq("vec_id"), "left")
      .join(nbrMin, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("core_cluster"), col("nbr_cluster"), lit(-1L))
          .cast("long").as("cluster"),
        col("core_cluster").isNotNull.cast("int").as("is_core"))
      .orderBy("vec_id")
  }
}
