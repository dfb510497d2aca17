package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MinHashSignature.splitmix64

/** Shared executor-side corpus generators for the specs — ONE fixture
  * shape each, parameterized, instead of drifting copies. */
object TestCorpora {

  private def gauss(seed: Long): Double = {
    val u1 = ((splitmix64(seed).abs % 1000000) + 1) / 1000001.0
    val u2 = (splitmix64(seed * 31 + 7).abs % 1000000) / 1000000.0
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Clustered unit vectors (vec_id, embedding) around kGroups planted
    * directions — executor-side, zero RNG state on the driver (DbscanSpec
    * and FilteredSearchSpec). Default kGroups ∝ n (constant cluster
    * SIZE): cluster count grows with the corpus, intra-cluster ε-edges
    * stay linear. A fixture with FIXED cluster count grows each
    * cluster's ε-clique quadratically — real DBSCAN output is itself
    * quadratic on such data, so that shape measures the data, not the
    * engine. */
  def clustered(spark: SparkSession, n: Long, dim: Int, kGroups: Int = -1,
      noise: Double = 0.08): DataFrame = {
    import spark.implicits._
    val kg = if (kGroups > 0) kGroups else math.max(20, (n / 1000L).toInt)
    val cents = Array.tabulate(kg) { c =>
      val v = Array.tabulate(dim)(j => gauss(c.toLong * 1009 + j))
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val bc = spark.sparkContext.broadcast(cents)
    spark.range(0L, n).map { i =>
      val cs = bc.value
      val g = (splitmix64(i).abs % cs.length).toInt
      val v = Array.tabulate(dim)(j =>
        cs(g)(j) + noise * gauss(i * 131 + j * 17))
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / nrm).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
  }

  /** (doc_id, n, sset) — set-shaped dedup corpus, executor-generated
    * (SetSimJoinSpec):
    *  - docs come in groups of 4 sharing 20 unique "content" elements;
    *    doc 1 of each group mutates 2 of them — a planted near-duplicate
    *    of doc 0 (J ≈ 0.82 clean / 0.88 boiler, ≥ 0.5 either way); docs
    *    2-3 mutate 10 — planted NON-duplicates (J < 0.5);
    *  - `boiler` adds 12 GLOBAL shingles to every doc (df = n, the cookie
    *    banner / nav-chrome shape): every pair of docs becomes a naive
    *    candidate, the quadratic term prefix filtering exists to kill. */
  def shingleSets(spark: SparkSession, kind: String, nDocs: Long): DataFrame = {
    import spark.implicits._
    val boiler = kind == "boiler"
    spark.range(0L, nDocs).map { i =>
      val g = i - (i % 4)
      val mutations = (i % 4) match {
        case 0 => 0
        case 1 => 2  // near-dup of doc g (J >= 0.5)
        case _ => 10 // shares a prefix of content, but J < 0.5
      }
      val content = (0 until 20).map { j =>
        if (j < mutations) s"m${i}_$j" else s"u${g}_$j"
      }
      val sset =
        (if (boiler) (0 until 12).map(b => s"BOILER_$b") else Seq.empty) ++
          content
      (i, sset.size, sset.toArray)
    }.toDF("doc_id", "n", "sset")
      .repartition(col("doc_id"))
  }
}
