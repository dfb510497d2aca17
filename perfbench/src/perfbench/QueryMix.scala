package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.{Decode, ProtoSchema, RangePartitioner, RangeSink, SampleBlocks}

/** query_mix: a dashboard refresh. One closed-loop client runs a fixed
  * list of queries at sf0.1; one op is one pass over the whole list, in
  * an order rotated by the seed, so every op and every seed does the same
  * work. The list (chosen by measured run-to-run spread, see
  * BENCHMARK.json and perfbench/README.md) mixes TPC-H shapes from the
  * Aggs and Joins families, Llm-family queries, and reads of the
  * range-named lake that setup writes with `RangeSink.writeAll`. */
final class QueryMix(ctx: Ctx) {
  import ctx.spark
  import QueryMix._

  private val lakeBlocks: Long = if (ctx.smoke) 2000L else 10000L
  private val lake = s"${ctx.work}/lake"
  private val pt = RangePartitioner(start = 0L, size = 5000L)
  private val names = if (ctx.smoke) Smoke else List
  private val order = {
    val r = (ctx.seed % names.size).toInt
    names.drop(r) ++ names.take(r)
  }
  private var ref: Map[String, String] = Map.empty

  private def writeLake(res: Result): Unit = {
    Work.delete(lake)
    val (blocks, tIn) = Stats.timed {
      val b = SampleBlocks.blocksDF(spark, lakeBlocks).persist()
      b.count()
      b
    }
    val (_, tLake) = Stats.timed {
      val dec = Decode.decoded(blocks, SampleBlocks.output).persist()
      RangeSink(s"$lake/main", pt).writeAll(Decode.mainFromDecoded(dec))
      ProtoSchema.explodableFields(SampleBlocks.output).foreach { f =>
        RangeSink(s"$lake/${f.name}", pt).writeAll(Decode.childFromDecoded(dec, f))
      }
      dec.unpersist(blocking = true)
    }
    blocks.unpersist(blocking = true)
    res.setupStep("inputs", tIn)
    res.setupStep("lake", tLake)
  }

  private def build(name: String): DataFrame =
    Lake.get(name).map(_(spark, lake)).getOrElse(SparkEntry.queries(name)(spark, ctx.data))

  /** Run one query as the digest aggregate over its result: planning is
    * timed up to `executedPlan`, execution is the collect. */
  private def runQuery(name: String, op: Long): String = {
    Engine.tag(spark.sparkContext, s"op:$op:$name")
    val d = Tracer.span(s"plan.$name", "queries", op) {
      val q = build(name)
      val df = if (ctx.corrupt == "query" && op == 0 && name == order.head)
        q.limit(1).union(q) else q
      val d = Checks.digestFrame(df)
      d.queryExecution.executedPlan
      d
    }
    val r = Tracer.span(s"exec.$name", "engine", op)(d.collect().head)
    Engine.tag(spark.sparkContext, null)
    Checks.digestOf(r)
  }

  /** One pass over the list; returns the names whose digest changed. */
  private def pass(op: Long): Seq[String] = Tracer.span("op", "bench", op) {
    order.filterNot(n => runQuery(n, op) == ref.getOrElse(n, ""))
  }

  def run(): Result = {
    val res = new Result
    // Setup, repeated as fixed work: fresh lake inputs and lake write.
    res.setup = (1 to ctx.setupReps).map { _ =>
      writeLake(res)
      res.setupSteps("inputs").last + res.setupSteps("lake").last
    }
    val lakeFiles = Checks.Tables.flatMap(t => Checks.rangeFiles(spark, s"$lake/$t"))
    Checks.Tables.foreach { t =>
      Checks.denseRanges(Checks.rangeFiles(spark, s"$lake/$t").map(_._1), pt, lakeBlocks)
        .foreach(e => res.fail(s"lake $t: $e"))
    }
    // Warm-up, once: three passes; the first one's digests are the
    // reference for every later pass. Two passes left the first timed
    // pass about a tenth slower than the next in half the runs.
    val (_, tWarm) = Stats.timed {
      ref = order.map(n => n -> runQuery(n, -1)).toMap
      Seq(-2L, -3L).foreach(w =>
        pass(w).foreach(n => res.fail(s"warm-up: $n digest changed")))
    }
    res.setupStep("warmup", tWarm)

    val heapStart = Heap.retainedMb()
    var gcS = 0.0 // collector time inside timed ops only
    val t0 = System.nanoTime()
    var op = 0L
    val times = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    // start a pass while the window holds at least half of it, so a run
    // ends as near --seconds as the pass time allows (at least two passes)
    var last = 0.0
    while (Stats.seconds(t0) + last / 2 <= ctx.seconds || op < 2) {
      System.gc() // every pass starts from a collected heap
      val traced = ctx.trace && op % 2 == 1
      val g0 = Engine.gcSeconds
      val (bad, t, cpu) = ctx.timedOp(traced)(pass(op))
      gcS += Engine.gcSeconds - g0
      last = t
      System.err.println(f"[perfbench] op $op: $t%.3f s, cpu $cpu%.3f s")
      res.attempted += 1
      if (bad.nonEmpty) res.fail(s"op $op: digest changed for ${bad.mkString(",")}")
      else times += ((traced, t, cpu))
      op += 1
    }
    res.opTimes(order.size.toDouble, times.map(_._2).toSeq, times.map(_._3).toSeq)
    res.e2e("out_bytes_per_item", lakeFiles.map(_._2).sum.toDouble / lakeBlocks, "B")
    res.e2e("heap_peak_mb", math.max(heapStart, Heap.retainedMb()), "MB")

    if (ctx.trace) {
      val traced = times.filter(_._1).map(_._3).toSeq
      val untraced = times.filterNot(_._1).map(_._3).toSeq
      res.layer("trace.overhead_share", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")
      val spans = Tracer.all.filter(_.op >= 0)
      val ops = spans.filter(_.name == "op")
      val nOps = math.max(1, ops.size)
      Classes.foreach { c =>
        val inClass = order.filter(classOf(_) == c).toSet
        def perOp(prefix: String) = Stats.median(ops.map { o =>
          spans.filter(s => s.op == o.op && s.name.startsWith(prefix) &&
            inClass(s.name.stripPrefix(prefix))).map(_.seconds).sum
        })
        res.layer(s"queries.plan_s.$c", perOp("plan."), "s/op")
        res.layer(s"queries.exec_s.$c", perOp("exec."), "s/op")
      }
      val tot = ctx.engine.totalsFor(_.startsWith("op:"))
      val nQueries = math.max(1, nOps * order.size)
      res.layer("queries.jobs_per_query", tot.jobs.toDouble / nQueries, "count")
      res.layer("queries.scan_bytes_per_query", tot.inputBytes.toDouble / nQueries, "B")
      res.layer("queries.shuffle_bytes_per_query", tot.shuffleWriteBytes.toDouble / nQueries, "B")
      res.engineLayer(tot, nOps, ops.map(_.seconds).sum, gcS / op, ctx.cores)
      res.selfTimes(Tracer.selfSeconds, nOps)
    }
    res
  }
}

object QueryMix {
  val Classes: Seq[String] = Seq("tpch", "llm", "lake")

  /** Benchmark-side reads of the range-named lake (`<lake>/<table>`). */
  val Lake: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_block_window" -> { (s, l) =>
      s.read.parquet(s"$l/main").filter(col("block_number").between(2000, 7999))
        .agg(count(lit(1)).as("n"), sum(col("gas_used")).as("gas"),
          max(col("meta.seconds")).as("last_ts"))
    },
    "lake_account_activity" -> { (s, l) =>
      val main = s.read.parquet(s"$l/main").select(col("block_number"), col("gas_used"))
      s.read.parquet(s"$l/touched_accounts").join(main, "block_number")
        .groupBy((col("block_number") / 1000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("touches"), sum(col("gas_used")).as("gas"))
    })

  def classOf(name: String): String =
    if (Lake.contains(name)) "lake"
    else if (graft.queries.Llm.queries.contains(name)) "llm"
    else "tpch"

  /** The timed list; see perfbench/README.md for why each is here. */
  val List: Seq[String] = Seq(
    "q6_forecast_revenue", "q14_promo_revenue", "q_join_semi", "q_dedup_exact",
    "q_ann_cosine_topk", "q_wordpiece_encode", "lake_block_window",
    "lake_account_activity")

  /** A short list for the smoke test: one query of each class. */
  val Smoke: Seq[String] = Seq("q6_forecast_revenue", "q_dedup_exact", "lake_block_window")
}
