package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

import graft.ingest.{Decode, ProtoSchema, RangePartitioner, RangeSink, SampleBlocks}

/** ingest_backfill: catching up on a chain. Setup encodes and persists
  * `SampleBlocks.blocksDF` off the clock; each op decodes it once and
  * writes `main`, `transfers` and `touched_accounts` with
  * `RangeSink.writeAll` into a fresh root, at the reference's default
  * partition size of 5,000 blocks. Decode, explode, Parquet encoding and
  * RangeSink's single-epoch rename path do the work; no source and no
  * checkpoint is involved. One closed-loop client; the three table
  * writes of an op run concurrently, as `BlockPipeline` runs them. */
final class Backfill(ctx: Ctx) {
  import ctx.spark

  private val n: Long = if (ctx.smoke) 2000L else 40000L
  private val size: Long = if (ctx.smoke) 500L else 5000L
  private val base: Long = (ctx.seed % 1000) * 100000L
  private val pt = RangePartitioner(start = base, size = size)
  private val fields = ProtoSchema.explodableFields(SampleBlocks.output)
  private val expected = Checks.expectedRows(base, base + n)
  private var blocks: DataFrame = _
  private var refDigest: Map[String, String] = Map.empty
  // the writers of every op, kept for the whole run: the CPU time of a
  // thread that has ended can no longer be read
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(1 + fields.size,
    (r: Runnable) => { val t = new Thread(r, "perfbench-writer"); t.setDaemon(true); t })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private def inputs(): Unit = {
    if (blocks != null) blocks.unpersist(blocking = true)
    blocks = SampleBlocks.blocksDF(spark, n, base).persist()
    blocks.count()
  }

  /** Decode once, then the three sinks concurrently; returns the root. */
  private def op(id: Long): String = {
    val root = s"${ctx.work}/backfill/op-$id"
    Tracer.span("op", "bench", id) {
      val parent = Tracer.currentSpan
      Engine.tag(spark.sparkContext, s"op:$id:decode")
      val dec = Tracer.span("decode", "decode", id) {
        val d = Decode.decoded(blocks, SampleBlocks.output).persist()
        d.count()
        d
      }
      def write(table: String, df: DataFrame) = Future {
        Engine.tag(spark.sparkContext, s"op:$id:rangesink")
        Tracer.span(s"write.$table", "rangesink", id, parent) {
          RangeSink(s"$root/$table", pt).writeAll(df)
        }
      }
      try {
        val jobs = write("main", Decode.mainFromDecoded(dec)) +:
          fields.map(f => write(f.name, Decode.childFromDecoded(dec, f)))
        Await.result(Future.sequence(jobs), Duration.Inf)
      } finally {
        dec.unpersist(blocking = true)
        Engine.tag(spark.sparkContext, null)
      }
    }
    root
  }

  /** Layout, exact row counts and content digest of one op's output. */
  private def check(root: String): Either[String, Map[String, String]] = {
    val perTable = Checks.Tables.map { t =>
      val names = Checks.rangeFiles(spark, s"$root/$t").map(_._1)
      Checks.denseRanges(names, pt, base + n).map(m => Left(s"$t: $m")).getOrElse {
        val d = Checks.digest(Checks.tableRows(spark, s"$root/$t"))
        val count = d.takeWhile(_ != ':').toLong
        if (count != expected(t)) Left(s"$t: $count rows, generator says ${expected(t)}")
        else Right(t -> d)
      }
    }
    perTable.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None =>
        val digests = perTable.collect { case Right(kv) => kv }.toMap
        val changed = refDigest.keys.filter(t => digests(t) != refDigest(t))
        if (changed.isEmpty) Right(digests)
        else Left(s"digest changed: ${changed.mkString(",")}")
    }
  }

  private def publishedBytes(root: String): Map[String, Long] =
    Checks.Tables.map(t => t -> Checks.rangeFiles(spark, s"$root/$t").map(_._2).sum).toMap

  def run(): Result = {
    val res = new Result
    // Setup, repeated as fixed work: encode and persist fresh inputs.
    res.setup = (1 to ctx.setupReps).map { _ =>
      val (_, t) = Stats.timed(inputs())
      res.setupStep("inputs", t)
      t
    }
    // Warm-up, once: eight ops back to back (with three, op times still
    // fell by a fifth across the window); the first one's output digests
    // are the reference for every timed op.
    var refRoot = ""
    val (_, tWarm) = Stats.timed {
      refRoot = op(-1)
      check(refRoot) match {
        case Left(e) => res.fail(s"warm-up: $e")
        case Right(d) => refDigest = d
      }
      (2 to 8).foreach(r => Work.delete(op(-r)))
    }
    res.setupStep("warmup", tWarm)
    val bytes = publishedBytes(refRoot)
    val files = Checks.Tables.flatMap(t =>
      Checks.rangeFiles(spark, s"$refRoot/$t").map(f => s"$refRoot/$t/${f._1}"))
    val emptyFiles = files.count(Checks.rowCount(spark, _) == 0)
    Work.delete(s"${ctx.work}/backfill")

    val heapStart = Heap.retainedMb()
    var gcS = 0.0 // collector time inside timed ops only
    val t0 = System.nanoTime()
    var id = 0L
    val ran = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Boolean, Double, Double)]
    // ops run back to back, each from a collected heap, while the window
    // holds at least half of the next one (at least three ops). Outputs
    // are checked after the window.
    var last = 0.0
    while (Stats.seconds(t0) + last / 2 <= ctx.seconds || id < 3) {
      System.gc()
      val traced = ctx.trace && id % 2 == 1
      val g0 = Engine.gcSeconds
      val (root, t, cpu) = ctx.timedOp(traced)(op(id))
      gcS += Engine.gcSeconds - g0
      last = t
      System.err.println(f"[perfbench] op $id: $t%.3f s, cpu $cpu%.3f s")
      ran += ((id, root, traced, t, cpu))
      id += 1
    }
    val heapMb = math.max(heapStart, Heap.retainedMb())
    val times = ran.flatMap { case (i, root, traced, t, cpu) =>
      if (ctx.corrupt == "range" && i == 0)
        Work.delete(s"$root/main/" + Checks.rangeFiles(spark, s"$root/main")(1)._1)
      res.attempted += 1
      val ok = check(root) match {
        case Left(e) => res.fail(s"op $i: $e"); None
        case Right(_) => Some((traced, t, cpu))
      }
      Work.delete(root)
      ok
    }
    res.opTimes(n.toDouble, times.map(_._2).toSeq, times.map(_._3).toSeq)
    res.e2e("out_bytes_per_item", bytes.values.sum.toDouble / n, "B")
    res.e2e("heap_peak_mb", heapMb, "MB")

    if (ctx.trace) {
      val traced = times.filter(_._1).map(_._3).toSeq
      val untraced = times.filterNot(_._1).map(_._3).toSeq
      res.layer("trace.overhead_share", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")
      val spans = Tracer.all.filter(_.op >= 0)
      val nOps = spans.count(_.name == "op").max(1)
      res.layer("decode.s", Stats.median(spans.filter(_.name == "decode").map(_.seconds)), "s")
      Checks.Tables.foreach { t =>
        res.layer(s"decode.rows_out_per_block.$t", expected(t).toDouble / n, "rows")
        res.layer(s"rangesink.write_s.$t",
          Stats.median(spans.filter(_.name == s"write.$t").map(_.seconds)), "s")
        res.layer(s"rangesink.bytes_per_block.$t", bytes(t).toDouble / n, "B")
      }
      res.layer("rangesink.files_published", files.size.toDouble, "count/epoch")
      res.layer("rangesink.files_empty_backfill", emptyFiles.toDouble, "count/epoch")
      val eng = ctx.engine
      res.layer("rangesink.ranges_merged",
        eng.mergeWritesFor(_.endsWith(":rangesink")).toDouble / nOps, "count/epoch")
      res.layer("rangesink.jobs_per_epoch",
        eng.totalsFor(_.endsWith(":rangesink")).jobs.toDouble / nOps, "count/epoch")
      res.engineLayer(eng.totalsFor(_.startsWith("op:")), nOps,
        spans.filter(_.name == "op").map(_.seconds).sum, gcS / id,
        ctx.cores)
      res.selfTimes(Tracer.selfSeconds, nOps)
    }
    pool.shutdown()
    res
  }
}
