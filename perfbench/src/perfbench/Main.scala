package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, work: String, data: String,
    seed: Long, seconds: Double, trace: Boolean, smoke: Boolean,
    corrupt: String, engine: Engine) {
  val setupReps: Int = 3
  val cores: Int = spark.sparkContext.defaultParallelism

  /** Time one op, wall and CPU seconds; a traced op records spans and has
    * the engine listener attached, both only around it. */
  def timedOp[T](traced: Boolean)(body: => T): (T, Double, Double) = {
    if (traced) { engine.attach(spark.sparkContext); Tracer.on = true }
    try {
      val cpu0 = Cpu.snapshot()
      val (r, t) = Stats.timed(body)
      (r, t, Cpu.seconds(cpu0, Cpu.snapshot()))
    } finally if (traced) { Tracer.on = false; engine.detach(spark.sparkContext) }
  }
}

/** Metrics and op counts of one run. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var setup: Seq[Double] = Nil
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val setupSteps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] check failed: $msg")
  }

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = v -> unit
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = v -> unit

  def setupStep(step: String, s: Double): Unit =
    setupSteps.getOrElseUpdate(step, mutable.ArrayBuffer.empty) += s

  /** Engine counts normalised per op (per epoch on live_tail). */
  def engineLayer(t: EngineTotals, ops: Int, busyWallS: Double, gcPerOp: Double,
      cores: Int): Unit = {
    layer("engine.cpu_busy_share",
      if (busyWallS <= 0) 0 else t.cpuNs / 1e9 / (busyWallS * cores), "ratio")
    layer("engine.jobs", t.jobs.toDouble / ops, "count/op")
    layer("engine.tasks", t.tasks.toDouble / ops, "count/op")
    layer("engine.scheduler_delay_s", t.schedulerDelayMs / 1000.0 / ops, "s/op")
    layer("engine.gc_s", gcPerOp, "s/op")
  }

  /** The timed end-to-end metrics from the ops of the window: the CPU
    * time the JVM's Java threads spent on them ([[Cpu]]), and their wall
    * time as layer metrics. */
  def opTimes(itemsPerOp: Double, wall: Seq[Double], cpu: Seq[Double]): Unit = {
    e2e("items_per_cpu_s", cpu.size * itemsPerOp / cpu.sum, "1/s")
    e2e("op_cpu_p50_s", Stats.median(cpu), "s")
    layer("wall.items_per_s", wall.size * itemsPerOp / wall.sum, "1/s")
    layer("wall.op_p50_s", Stats.median(wall), "s")
  }

  def selfTimes(self: Map[String, Double], ops: Int): Unit =
    self.foreach { case (l, s) => layer(s"self_s.$l", s / ops, "s/op") }
}

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_cpu_s" -> "1/s", "op_cpu_p50_s" -> "s",
    "out_bytes_per_item" -> "B", "heap_peak_mb" -> "MB")

  private val tables = Checks.Tables
  /** Every per-layer metric, printed on every workload of a traced run;
    * a layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_s_p50" -> "s", "sources.get_batch_s_p50" -> "s",
    "sources.poll_late_s_p50" -> "s", "sources.partitions_per_epoch" -> "count",
    "decode.s" -> "s") ++
    tables.map(t => s"decode.rows_out_per_block.$t" -> "rows") ++
    tables.map(t => s"rangesink.write_s.$t" -> "s") ++
    tables.map(t => s"rangesink.bytes_per_block.$t" -> "B") ++ Seq(
    "rangesink.files_published" -> "count/epoch",
    "rangesink.files_empty_backfill" -> "count/epoch",
    "rangesink.ranges_merged" -> "count/epoch",
    "rangesink.jobs_per_epoch" -> "count/epoch",
    "pipeline.epochs" -> "count",
    "pipeline.blocks_per_epoch_p50" -> "count",
    "pipeline.trigger_s_p50" -> "s", "pipeline.add_batch_s_p50" -> "s",
    "pipeline.wal_commit_s_p50" -> "s", "pipeline.commit_offsets_s_p50" -> "s",
    "pipeline.query_planning_s_p50" -> "s") ++
    QueryMix.Classes.map(c => s"queries.plan_s.$c" -> "s/op") ++
    QueryMix.Classes.map(c => s"queries.exec_s.$c" -> "s/op") ++ Seq(
    "queries.jobs_per_query" -> "count", "queries.scan_bytes_per_query" -> "B",
    "queries.shuffle_bytes_per_query" -> "B",
    "engine.cpu_busy_share" -> "ratio", "engine.jobs" -> "count/op",
    "engine.tasks" -> "count/op", "engine.scheduler_delay_s" -> "s/op",
    "engine.gc_s" -> "s/op") ++
    Seq("bench", "sources", "decode", "rangesink", "pipeline", "queries", "engine")
      .map(l => s"self_s.$l" -> "s/op") ++ Seq(
    "setup.session_s" -> "s", "setup.inputs_s" -> "s", "setup.warmup_s" -> "s",
    "setup.lake_s" -> "s", "trace.overhead_share" -> "ratio",
    "wall.items_per_s" -> "1/s", "wall.op_p50_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = new File(opts("work")).getAbsolutePath
    val trace = opts.getOrElse("trace", "0") == "1"
    val (spark, sessionS) = Stats.timed {
      val s = graft.Sessions.builder(s"perfbench-$workload")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val ctx = Ctx(spark, work, opts("data"), opts("seed").toLong,
      opts("seconds").toDouble, trace, opts.getOrElse("smoke", "0") == "1",
      opts.getOrElse("corrupt", ""),
      if (trace) new Engine else null)
    val res = try workload match {
      case "ingest_backfill" => new Backfill(ctx).run()
      case "live_tail" => new LiveTail(ctx).run()
      case "query_mix" => new QueryMix(ctx).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      if (trace) Tracer.write(opts("spans"))
    }
    spark.stop()
    res.setupStep("session", sessionS)
    res.e2e("setup_s", Stats.median(res.setup), "s")
    val metrics =
      if (!trace) EndToEnd.map { case (n, u) => n -> res.e2eMetrics.getOrElse(n, 0.0 -> u) }
      else {
        res.setupSteps.foreach { case (k, v) => res.layer(s"setup.${k}_s", Stats.median(v.toSeq), "s") }
        PerLayer.map { case (n, u) => n -> res.layerMetrics.getOrElse(n, 0.0 -> u) }
      }
    val body = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    val correct = res.failed == 0 && res.attempted > 0
    val json = s"""{"correct":$correct,"attempted":${math.max(1L, res.attempted)},""" +
      s""""failed":${res.failed},"metrics":{$body}}"""
    Files.write(Paths.get(opts("out")), json.getBytes(StandardCharsets.UTF_8))
  }
}

object Work {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(c => delete(c.getPath))
    f.delete()
  }
}
