package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.ingest.{Decode, ProtoSchema, ProtoWire, RangePartitioner, SampleBlocks}
import graft.sources.{BlockClient, BlockClientFactory, BlockData}
import graft.streaming.BlockPipeline

/** Chain tail shared by the driver-side and the task-side clients of one
  * stream (local mode: one JVM). */
object LiveChain {
  @volatile var freezeAt: Long = Long.MaxValue
  @volatile var fetchedTo: Long = 0L                        // last offset read
  val polls = new ConcurrentLinkedQueue[(Long, Long, Cpu.Snapshot)]() // (ns, head, cpu)
  val fetches = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (ns, from, until)

  def reset(): Unit = {
    freezeAt = Long.MaxValue; fetchedTo = 0L; polls.clear(); fetches.clear()
  }
}

/** A chain tail that stays `step` blocks ahead of its consumer: the head
  * is `step` blocks past the last block read, so every epoch carries
  * exactly `step` new blocks, which appear when the epoch before reads
  * its own (closed loop). Block k (offset k >= 1) carries the
  * `SampleBlocks` payload of block `base + k`. */
final class LiveClientFactory extends BlockClientFactory {
  override def create(o: Map[String, String]): BlockClient =
    new LiveClient(o("step").toLong, o("base").toLong)
}

final class LiveClient(step: Long, base: Long) extends BlockClient {
  override def headBlock(): Long = {
    val h = math.min(LiveChain.freezeAt, LiveChain.fetchedTo + step)
    LiveChain.polls.add((System.nanoTime(), h, Cpu.snapshot()))
    h
  }

  override def blocks(from: Long, until: Long): Iterator[BlockData] = {
    LiveChain.synchronized {
      LiveChain.fetchedTo = math.max(LiveChain.fetchedTo, until - 1)
    }
    LiveChain.fetches.add((System.nanoTime(), from, until))
    (from until until).iterator.map { k =>
      val b = base + k
      BlockData(b, s"0xblock$b",
        ProtoWire.encode(SampleBlocks.output, SampleBlocks.samplePayload(b)))
    }
  }
}

/** One committed micro-batch as its progress report describes it. */
final case class Epoch(batch: Long, start: Long, end: Long, tsMs: Long,
    dur: Map[String, Long]) {
  def commitMs: Long = tsMs + dur.getOrElse("triggerExecution", 0L)
}

/** Committed micro-batches per query run, from the progress reports. */
final class Progress extends StreamingQueryListener {
  private val runs = new java.util.concurrent.ConcurrentHashMap[java.util.UUID,
    ConcurrentLinkedQueue[Epoch]]()
  private def of(run: java.util.UUID) =
    runs.computeIfAbsent(run, _ => new ConcurrentLinkedQueue[Epoch]())

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.head
    val start = Option(src.startOffset).map(_.trim.toLong).getOrElse(0L)
    val end = Option(src.endOffset).map(_.trim.toLong).getOrElse(start)
    if (end > start)
      of(p.runId).add(Epoch(p.batchId, start, end,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def sorted(q: StreamingQuery): Seq[Epoch] = of(q.runId).asScala.toSeq.sortBy(_.batch)
  def committed(q: StreamingQuery): Long =
    of(q.runId).asScala.map(_.end).maxOption.getOrElse(0L)
}

/** live_tail: a chain tail, `BlockPipeline.start(explode = true)` with
  * `Trigger.ProcessingTime(0)` over `BlockStreamSource`, fed by
  * [[LiveClientFactory]], whose head stays a fixed number of blocks ahead
  * of what the stream has read. The per-epoch fixed costs do the work:
  * offset log and commit writes, planning, the source's single-partition
  * fetch and encode, and RangeSink's multi-epoch merge path. An op is one
  * epoch, timed from the poll that exposes its blocks to the poll of the
  * next epoch.
  *
  * The loop is closed: an open loop at a fixed block rate made the epoch
  * size depend on how fast the host ran, so on a shared host the block
  * latency moved with the load of other tenants in a way no reference
  * measurement could take out. */
final class LiveTail(ctx: Ctx) {
  import ctx.spark

  // 201 blocks an epoch over 100-block ranges: every epoch closes two
  // ranges and merges the one it continues (an epoch ends on a range
  // boundary once every 100 epochs). With a step that divides evenly,
  // epochs with and without a merge alternate and the median op jumps
  // between the two kinds.
  private val step: Long = 201L
  private val size: Long = 100L
  private val warmS: Double = 3.0                   // ramp excluded from the window
  private val base: Long = (ctx.seed % 1000) * 100000L
  private val pt = RangePartitioner(start = base, size = size)
  private val progress = new Progress
  spark.streams.addListener(progress)

  private def start(dir: String): StreamingQuery = {
    val stream = spark.readStream.format("graft.sources.BlockStreamProvider")
      .option("client", classOf[LiveClientFactory].getName)
      .option("step", step.toString).option("base", base.toString).load()
    BlockPipeline.start(stream, SampleBlocks.output, s"$dir/lake", pt,
      s"$dir/checkpoint", explode = true, trigger = Trigger.ProcessingTime(0))
  }

  private def await(cond: => Boolean, timeoutS: Double, what: String): Unit = {
    val t0 = System.nanoTime()
    while (!cond) {
      if (Stats.seconds(t0) > timeoutS)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  /** Stop the head at the furthest block any poll can have exposed and
    * let the stream commit it; returns the last committed block. The
    * stream is then idle. */
  private def drain(q: StreamingQuery): Long = {
    LiveChain.freezeAt = LiveChain.fetchedTo + step
    await(progress.committed(q) >= LiveChain.freezeAt || q.exception.isDefined,
      120, "the last epoch")
    progress.committed(q)
  }

  private def stop(q: StreamingQuery): Unit = {
    q.stop()
    q.exception.foreach(e => throw e)
  }

  /** Exactly-once, row counts, dense ranges and content of the stream's
    * output against the batch path over the same blocks: a lost or
    * duplicated block changes the row count or the digest. */
  private def check(dir: String, committed: Long, lastBatch: Long): Either[String, Map[String, Long]] = {
    val ref = Decode.decoded(
      SampleBlocks.blocksDF(spark, committed, base + 1), SampleBlocks.output).cache()
    val fields = ProtoSchema.explodableFields(SampleBlocks.output).map(f => f.name -> f).toMap
    val expected = Checks.expectedRows(base + 1, base + 1 + committed)
    try {
      val perTable = Checks.Tables.map { t =>
        val root = s"$dir/lake/$t"
        val names = Checks.rangeFiles(spark, root).map(_._1)
        Checks.denseRanges(names, pt, base + names.size * size).map(m => Left(s"$t: $m")).getOrElse {
          val rows = Checks.tableRows(spark, root, Some(lastBatch))
          val got = Checks.digest(rows)
          val want = Checks.digest(
            if (t == "main") Decode.mainFromDecoded(ref)
            else Decode.childFromDecoded(ref, fields(t)))
          val n = got.takeWhile(_ != ':').toLong
          if (n != expected(t)) Left(s"$t: $n rows, generator says ${expected(t)}")
          else if (got != want) Left(s"$t: content differs from the batch path")
          else Right(t -> n)
        }
      }
      perTable.collectFirst { case Left(e) => e }.toLeft(perTable.collect { case Right(kv) => kv }.toMap)
    } finally ref.unpersist()
  }

  def run(): Result = {
    val res = new Result
    // Setup, repeated: a fresh pipeline from start() to its first commit;
    // each then runs for a second, so the JIT also sees ranges close and
    // the multi-epoch merge path.
    res.setup = (1 to ctx.setupReps).map { r =>
      val dir = s"${ctx.work}/live/setup-$r"
      LiveChain.reset()
      val t0 = System.nanoTime()
      val q = start(dir)
      await(progress.committed(q) > 0 || q.exception.isDefined, 120, "the first epoch")
      val s = Stats.seconds(t0)
      res.setupStep("warmup", s)
      Thread.sleep(if (ctx.smoke) 300 else 1000)
      drain(q)
      stop(q)
      Work.delete(dir)
      s
    }

    val dir = s"${ctx.work}/live/run"
    LiveChain.reset()
    val gc0 = Engine.gcSeconds
    val q = start(dir)
    val fromNs = System.nanoTime() + (warmS * 1e9).toLong
    val toNs = fromNs + (ctx.seconds * 1e9).toLong
    // a traced run attaches the engine listener halfway through the
    // window: epochs exposed before it are the untraced reference, epochs
    // exposed after it are traced whole
    var tracedFromNs = Long.MaxValue
    while (System.nanoTime() < toNs && q.exception.isEmpty) {
      if (ctx.trace && tracedFromNs == Long.MaxValue && System.nanoTime() >= (fromNs + toNs) / 2) {
        ctx.engine.attach(spark.sparkContext)
        tracedFromNs = System.nanoTime()
      }
      Thread.sleep(20)
    }
    val gcS = Engine.gcSeconds - gc0
    val committed = drain(q)
    val heapMb = Heap.retainedMb() // held by the idle stream
    stop(q)
    val epochs = progress.sorted(q)
    // ops: each poll that exposes new blocks, up to the next such poll
    val polls = LiveChain.polls.asScala.toSeq.sortBy(_._1)
    val exposing = polls.zip(polls.drop(1)).collect { case ((_, h0, _), p) if p._2 > h0 => p }
    val ops = exposing.zip(exposing.drop(1)).collect {
      case ((ns0, h, c0), (ns1, _, c1)) if ns0 >= fromNs && ns1 <= toNs =>
        (h, (ns1 - ns0) / 1e9, Cpu.seconds(c0, c1), ns0, ns1)
    }
    ops.foreach { case (h, t, cpu, _, _) =>
      System.err.println(f"[perfbench] epoch to $h: $t%.3f s, cpu $cpu%.3f s") }
    val inWindow = epochs.filter(e => ops.exists(_._1 == e.end))
    def seconds(e: Epoch) = e.dur.getOrElse("triggerExecution", 0L) / 1000.0

    res.attempted = ops.size
    if (ctx.corrupt == "range")
      Work.delete(s"$dir/lake/main/" + Checks.rangeFiles(spark, s"$dir/lake/main")(1)._1)
    val counts = check(dir, committed, epochs.last.batch) match {
      case Left(e) => res.fail(e); res.failed = res.attempted; Map.empty[String, Long]
      case Right(c) => c
    }
    val published = Checks.Tables.map(t => t -> Checks.rangeFiles(spark, s"$dir/lake/$t")).toMap
    val publishedBlocks = published("main").map(f =>
      Checks.rowCount(spark, s"$dir/lake/main/${f._1}")).sum
    val bytes = published.map { case (t, fs) => t -> fs.map(_._2).sum }
    res.opTimes(step.toDouble, ops.map(_._2), ops.map(_._3))
    res.e2e("out_bytes_per_item", bytes.values.sum.toDouble / math.max(1L, publishedBlocks), "B")
    res.e2e("heap_peak_mb", heapMb, "MB")

    if (ctx.trace) {
      val traced = ops.filter(_._4 >= tracedFromNs).map(_._3)
      val untraced = ops.filter(_._5 <= tracedFromNs).map(_._3)
      res.layer("trace.overhead_share", Stats.median(traced) / Stats.median(untraced) - 1, "ratio")
      def durP50(k: String) = Stats.median(inWindow.map(_.dur.getOrElse(k, 0L) / 1000.0))
      res.layer("sources.latest_offset_s_p50", durP50("latestOffset"), "s")
      res.layer("sources.get_batch_s_p50", durP50("getBatch"), "s")
      // a block is due when the read of the epoch before makes the head
      // pass it; late is the time from then to the poll that exposes it
      val readAt = LiveChain.fetches.asScala.map { case (ns, _, until) => (until - 1) -> ns }.toMap
      val late = polls.zip(polls.drop(1)).collect {
        case ((_, h0, _), (ns, h1, _)) if h1 > h0 && ns >= fromNs && ns <= toNs && readAt.contains(h1 - step) =>
          (ns - readAt(h1 - step)) / 1e9
      }
      res.layer("sources.poll_late_s_p50", Stats.median(late), "s")
      val fetches = LiveChain.fetches.asScala.toSeq.map { case (ns, from, until) => (from, until) }
        .distinct.count { case (from, until) =>
          inWindow.exists(e => from > e.start && until - 1 <= e.end) }
      res.layer("sources.partitions_per_epoch", fetches.toDouble / inWindow.size, "count")
      Checks.Tables.foreach { t =>
        res.layer(s"decode.rows_out_per_block.$t", counts.getOrElse(t, 0L).toDouble / committed, "rows")
        res.layer(s"rangesink.bytes_per_block.$t", bytes(t).toDouble / math.max(1L, publishedBlocks), "B")
      }
      val emptyFiles = published.toSeq.flatMap { case (t, fs) =>
        fs.map(f => Checks.rowCount(spark, s"$dir/lake/$t/${f._1}")) }.count(_ == 0)
      res.layer("rangesink.files_published", published.values.map(_.size).sum.toDouble / epochs.size, "count/epoch")
      res.layer("rangesink.files_empty_backfill", emptyFiles.toDouble / epochs.size, "count/epoch")
      Engine.drain(spark.sparkContext)
      val eng = ctx.engine
      val tracedEnds = ops.filter(_._4 >= tracedFromNs).map(_._1).toSet
      val tracedEpochs = inWindow.filter(e => tracedEnds(e.end))
      val nTraced = math.max(1, tracedEpochs.size)
      val tags = tracedEpochs.map(e => Engine.epochTag(q.id, e.batch)).toSet
      val tot = eng.totalsFor(tags)
      res.layer("rangesink.ranges_merged", eng.mergeWritesFor(tags).toDouble / nTraced, "count/epoch")
      res.layer("rangesink.jobs_per_epoch", tot.jobs.toDouble / nTraced, "count/epoch")
      res.layer("pipeline.epochs", inWindow.size, "count")
      res.layer("pipeline.blocks_per_epoch_p50", Stats.median(inWindow.map(e => (e.end - e.start).toDouble)), "count")
      res.layer("pipeline.trigger_s_p50", durP50("triggerExecution"), "s")
      res.layer("pipeline.add_batch_s_p50", durP50("addBatch"), "s")
      res.layer("pipeline.wal_commit_s_p50", durP50("walCommit"), "s")
      res.layer("pipeline.commit_offsets_s_p50", durP50("commitOffsets"), "s")
      res.layer("pipeline.query_planning_s_p50", durP50("queryPlanning"), "s")
      res.engineLayer(tot, nTraced, tracedEpochs.map(seconds).sum,
        gcS / inWindow.size, ctx.cores)
      // spans from the progress reports of every epoch in the window: the
      // epoch (pipeline) and the phases it spends in the source and sink
      inWindow.foreach { e =>
        val startNs = e.tsMs * 1000000L
        def ms(k: String) = e.dur.getOrElse(k, 0L) * 1000000L
        val id = Tracer.record("epoch", "pipeline", e.batch, 0, startNs, startNs + ms("triggerExecution"))
        var at = startNs
        Seq("latestOffset" -> "sources", "walCommit" -> "pipeline", "getBatch" -> "sources",
          "queryPlanning" -> "pipeline", "addBatch" -> "rangesink", "commitOffsets" -> "pipeline")
          .foreach { case (k, layer) =>
            Tracer.record(k, layer, e.batch, id, at, at + ms(k)); at += ms(k)
          }
      }
      res.selfTimes(Tracer.selfSeconds, inWindow.size)
    }
    Work.delete(s"${ctx.work}/live")
    res
  }
}
