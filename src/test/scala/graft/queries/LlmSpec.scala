package graft.queries

import graft.SparkSuite

/** Invariants for the non-oracled LLM ops (SURVEY.md §2.C-10: MinHash/LSH
  * and SimHash have no DuckDB equivalent — pinned here instead). */
class LlmSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("minhash near-dup: pairs are symmetric-free, thresholded, and real") {
    import spark.implicits._
    val pairs = Llm.queries("q_minhash_neardup")(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.nonEmpty, "synthetic corpus contains near-duplicates")
    // candidate verification really filtered by exact Jaccard
    assert(pairs.forall(_._3 >= 0.3))
    // id_a < id_b: no self-pairs, no mirrored duplicates
    assert(pairs.forall(p => p._1 < p._2))
    assert(pairs.map(p => (p._1, p._2)).distinct.size == pairs.size)
  }

  test("minhash finds the token-permuted duplicates exact dedup misses") {
    import spark.implicits._
    val pairs = Llm.queries("q_minhash_neardup")(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val identical = pairs.filter(_._3 == 1.0)
    assert(identical.nonEmpty, "jaccard-1.0 pairs exist (reordered tokens)")
    // ...and exact dedup reports zero text-equal copies on this corpus
    val exactGroups = Llm.queries("q_dedup_exact")(spark, sf)
      .where("n_copies > 1").count()
    assert(exactGroups == 0)
  }

  test("lsh recall measured against the exact cascade's edge set") {
    import spark.implicits._
    // q_dedup_cascade's inverted-index candidates are COMPLETE, so its
    // components define ground truth; the LSH path (8 bands × 4 rows)
    // is the approximate scale-out — pin its recall on the same corpus
    // so a banding regression can't silently gut it. Compare at the
    // cascade's own threshold (J ≥ 0.5) where LSH collision probability
    // is 1−(1−0.5⁴)^8 ≈ 0.40 per band-table... empirically much higher
    // on real near-dups (J near 1 ⇒ collision ≈ certain).
    val exact = Llm.queries("q_dedup_cascade")(spark, sf)
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._2).values.filter(_.size > 1).toSeq    // clusters
      .flatMap { c =>
        for { a <- c; b <- c if a._1 < b._1 } yield (a._1, b._1)
      }
      .toSet
    val lsh = Llm.queries("q_minhash_neardup")(spark, sf)
      .as[(Long, Long, Double)].collect()
      .filter(_._3 >= 0.5).map(p => (p._1, p._2)).toSet
    assert(exact.nonEmpty, "corpus has true near-dup clusters")
    // every high-jaccard LSH pair is inside one exact cluster
    // (precision 1.0: LSH verifies with exact Jaccard)
    assert(lsh.forall(exact.contains))
    // recall of direct pairs: the synthetic near-dups are J≈1, where
    // band collision is near-certain
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall vs exact cascade")
  }

  test("banding is the recall dial: 16x2 recovers near-threshold pairs 8x4 drops") {
    import spark.implicits._
    // Planted NEAR-THRESHOLD corpus: 300 pairs at J = 14/26 ≈ 0.538 —
    // just above the cascade threshold, where 8 bands × 4 rows collide
    // with probability only 1−(1−J⁴)^8 ≈ 0.47 (the measured 42% recall
    // cliff at 1M boiler docs, PLANS round 6) while 16 bands × 2 rows
    // give ≈ 0.993. Minhash is xxhash-seeded — recalls here are fixed
    // constants of the corpus, not flaky draws.
    import org.apache.spark.sql.functions.{col, size}
    val docs = (0 until 300).flatMap { g =>
      val shared = (0 until 14).map(j => s"s${g}_$j")
      Seq((2L * g, (shared ++ (0 until 6).map(j => s"a${g}_$j")).toArray),
        (2L * g + 1, (shared ++ (0 until 6).map(j => s"b${g}_$j")).toArray))
    }.toDF("doc_id", "sset")
      .select(col("doc_id"), size(col("sset")).as("n"), col("sset"))
    val truth = (0 until 300).map(g => (2L * g, 2L * g + 1)).toSet
    def recall(nBands: Int): Double = {
      val c = graft.operators.Lsh.bandCandidates(docs, nBands)
        .as[(Long, Long)].collect().toSet
      c.intersect(truth).size.toDouble / truth.size
    }
    val r8 = recall(8)
    val r16 = recall(16)
    assert(r16 > r8, s"16-band recall $r16 not above 8-band $r8")
    assert(r16 >= 0.9, s"16x2 near-threshold recall $r16 below 0.9")
    assert(r8 <= 0.8, s"corpus no longer sits on the 8x4 cliff (r8=$r8)")
  }

  test("lsh cascade refines the exact cascade's clusters") {
    import spark.implicits._
    def clusters(q: String): Map[Long, Long] =
      Llm.queries(q)(spark, sf).as[(Long, Long)].collect().toMap
    val exact = clusters("q_dedup_cascade")
    val lsh = clusters("q_dedup_cascade_lsh")
    assert(exact.keySet == lsh.keySet) // every doc assigned in both
    // PRECISION 1.0: docs the LSH cascade merges are merged exactly too
    // (verify is the same exact shingle-Jaccard threshold, so any LSH
    // edge is an exact edge; components can only be coarser on the
    // exact side)
    val lshGroups = lsh.toSeq.groupBy(_._2).values.map(_.map(_._1))
    for (g <- lshGroups; a <- g; b <- g)
      assert(exact(a) == exact(b), s"LSH merged $a,$b but exact did not")
    // RECALL: of the doc pairs the exact cascade clusters together, the
    // banding finds most (J≈1 near-dups collide with near-certainty)
    val exactPairs = exact.toSeq.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => for { a <- g; b <- g if a._1 < b._1 } yield (a._1, b._1))
      .toSet
    val lshPairs = lsh.toSeq.groupBy(_._2).values.filter(_.size > 1)
      .flatMap(g => for { a <- g; b <- g if a._1 < b._1 } yield (a._1, b._1))
      .toSet
    assert(exactPairs.nonEmpty)
    val recall = lshPairs.intersect(exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.8, s"cluster recall $recall vs exact cascade")
  }

  test("simhash: deterministic, and near-identical docs land close") {
    import spark.implicits._
    val h1 = Llm.queries("q_simhash")(spark, sf).as[(Long, Long)].collect().toMap
    val h2 = Llm.queries("q_simhash")(spark, sf).as[(Long, Long)].collect().toMap
    assert(h1 == h2)
    // simhash is a bag-of-tokens (multiset) function: token-PERMUTED docs
    // hash identically, different bags (almost surely) don't. The driver
    // corpus has no true multiset duplicates, so pin the invariant on a
    // fabricated documents table (queries are sfDir-parameterized).
    val dir = java.nio.file.Files.createTempDirectory("simhash").toString
    Seq((1L, "a b b c"), (2L, "b a c b"), (3L, "a b c"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val h = Llm.queries("q_simhash")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L), "permuted multiset hashes identically")
    assert(h(1L) != h(3L), "different bag hashes differently")
  }

  test("lsh ann: every reported neighbor's score is exact; ranks ordered") {
    import spark.implicits._
    val res = Llm.queries("q_ann_lsh_topk")(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (_, rows) =>
      val ranks = rows.map(_._2).sorted
      assert(ranks == (1 to rows.size)) // dense rank sequence per query
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }
  test("1-2-token and empty docs survive ANSI mode across the text family") {
    // real corpora contain tiny documents; under ANSI (Spark 4 default)
    // sequence(1,0) is DESCENDING and element_at past the end throws —
    // every query here crashed (or would) before the explicit guards
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("shortdocs").toString
    Seq((1L, "", "en"), (2L, "one", "en"), (3L, "two tokens", "en"),
        (4L, "now three tokens", "en"), (5L, "...", "en"))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$dir/documents.parquet")
    val bigrams = Llm.queries("q_ngrams")(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(bigrams ==
      Map("two tokens" -> 1L, "now three" -> 1L, "three tokens" -> 1L))
    val tok = Llm.queries("q_tokenize_regex")(spark, dir)
      .select("doc_id", "first_re_token")
      .as[(Long, Option[String])].collect().toMap
    assert(tok(1L).isEmpty)         // no regex match -> null, not a crash
    assert(tok(2L).contains("one"))
    assert(Llm.queries("q_simhash")(spark, dir).count() == 5)
    assert(Llm.queries("q_text_quality")(spark, dir).count() == 5)
    // whole-doc shingle fallback feeds minhash without index errors
    assert(Llm.queries("q_minhash_neardup")(spark, dir).count() >= 0)
  }

  test("dbscan: planted clusters/borders/noise ≡ local reference DBSCAN") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 48
    def unit(parts: (Int, Double)*): Seq[Float] = {
      val v = new Array[Double](dim)
      parts.foreach { case (i, w) => v(i) += w }
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    // three spread clusters of 5 (pairwise cos ≈ 0.81 — all core at
    // minPts 4), one border hanging off each FIRST member through its
    // PRIVATE dimension (cos ≈ 0.37 to that member alone, 0 to the
    // rest — one neighbor, so never core), five one-hot noise
    val rows = Seq.newBuilder[(Long, Seq[Float])]
    var id = 0L
    for (c <- 0 until 3) {
      for (i <- 0 until 5) {
        rows += ((id, unit(c -> 1.0, (10 + 5 * c + i) -> 0.48)))
        id += 1
      }
      rows += ((id, unit((10 + 5 * c) -> 0.85, (30 + c) -> 0.527)))
      id += 1
    }
    for (j <- 0 until 5) { rows += ((id, unit((40 + j) -> 1.0))); id += 1 }
    val all = rows.result()
    val dir = java.nio.file.Files.createTempDirectory("dbscan").toString
    all.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"), lit(0).as("label"))
      .write.parquet(s"$dir/embeddings.parquet")

    // local reference DBSCAN with the query's exact tie rules
    val cos = (x: Seq[Float], y: Seq[Float]) =>
      math.rint(x.zip(y).map { case (a, b) =>
        a.toDouble * b.toDouble }.sum * 1e6) / 1e6
    val nbrs = all.map { case (i, v) =>
      i -> all.filter { case (j, w) => j != i && cos(v, w) >= 0.35 }
        .map(_._1).toSet
    }.toMap
    val cores = nbrs.filter(_._2.size + 1 >= 4).keySet
    def reach(seed: Long): Set[Long] = {
      var seen = Set(seed); var frontier = Set(seed)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs(_)).intersect(cores) -- seen
        seen ++= frontier
      }
      seen
    }
    val coreLab = cores.map(c => c -> reach(c).min).toMap
    val want = all.map { case (i, _) =>
      val cl =
        if (coreLab.contains(i)) coreLab(i)
        else nbrs(i).intersect(cores).map(coreLab) match {
          case s if s.nonEmpty => s.min
          case _ => -1L
        }
      (i, cl, if (coreLab.contains(i)) 1 else 0)
    }.sortBy(_._1)
    val got = Llm.queries("q_dbscan")(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    assert(got == want, s"dbscan diverged:\n$got\nvs\n$want")
    // the fixture exercises every role: 3 clusters, 3 borders, 5 noise
    assert(got.count(_._3 == 1) == 15)
    assert(got.filter(_._3 == 1).map(_._2).distinct.size == 3)
    assert(got.count(r => r._3 == 0 && r._2 >= 0) == 3, "borders")
    assert(got.count(_._2 == -1L) == 5, "noise")
  }
}
