package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash banding — THE shared candidate generator for the LSH dedup
  * family (`Llm.lshCascade` and LlmSpec's recall-dial test), so the
  * banding math, its validation, and its join pins cannot drift between
  * call sites (they did, once — PLANS round 6).
  *
  * `perms` permutations split into `nBands` bands of perms/nBands rows:
  * two docs become a candidate pair iff some band's row-slice of their
  * signatures hashes identically. Collision probability at Jaccard J is
  * 1 − (1 − J^rows)^nBands — nBands is the RECALL DIAL, with a measured
  * three-way trade (near-threshold recall vs boilerplate immunity vs
  * cost; PLANS round 6): more/narrower bands sharpen near-threshold
  * recall but lower the collision floor toward the boilerplate
  * background similarity, where candidates go quadratic.
  *
  * The band self-join is pinned SHUFFLE_HASH: the band table is
  * corpus-scaled and made of delta-compressing longs — exactly what
  * AQE's compressed-bytes broadcast promotion mis-sizes (see
  * SetSimJoin's scaladoc for the measured 10.2 GiB detonation).
  */
object Lsh {

  /** The banding expression itself — band b ↦ xxhash64 of rows
    * b·r+1 … b·r+r of the signature column `sig`. Shared by the batch
    * candidate generator below AND the streaming NearDupStage, so the
    * slice indexing (whose off-by-one would silently zero recall, not
    * error) lives in exactly one place. */
  def bandHashesExpr(perms: Int, nBands: Int): Column = {
    require(nBands > 0 && perms % nBands == 0,
      s"nBands=$nBands must divide perms=$perms")
    val rows = perms / nBands
    expr(
      s"""transform(sequence(0, ${nBands - 1}),
         |  b -> xxhash64(slice(sig, int(b) * $rows + 1, $rows)))"""
        .stripMargin)
  }

  /** Candidate pairs (id_a < id_b, deduped) for `docs` carrying a
    * distinct-element array column `sset` keyed by `doc_id`. */
  def bandCandidates(docs: DataFrame, nBands: Int,
                     perms: Int = 32): DataFrame = {
    val sig = docs.select(col("doc_id"),
      graft.functions.TextFunctions.minhashSig(col("sset"), perms).as("sig"))
    val bands = sig.select(col("doc_id"),
        posexplode(bandHashesExpr(perms, nBands)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    bands.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
      .join(bands.select(col("band"), col("band_hash"),
        col("doc_id").as("id_b")).hint("shuffle_hash"),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }
}
