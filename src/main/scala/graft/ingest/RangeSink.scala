package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.ParquetCompressionCodec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Range-partitioned, range-NAMED Parquet sink — the Spark restatement of
  * the reference's rotating writer (writer.go:122-216), empty-range
  * backfill (writer.go:246-267) and completed-range guard (writer.go:53,
  * 209), driven from foreachBatch (SURVEY.md §4.3).
  *
  * Layout contract (what the reference produces): the table root holds one
  * file per block range, named `%0{pad}d-%0{pad}d.parquet`, half-open
  * ranges, dense from `start` — empty ranges materialize as empty files.
  *
  * Mechanics per micro-batch epoch:
  *  1. stage the epoch's rows under `_open/epoch=N/__range=X/` with
  *     mode=overwrite, one block-sorted part file per range: an epoch in
  *     one input partition (a single-partition source's epoch, as
  *     foreachBatch hands it over) is written as it is, as the reference
  *     appends each block to its range's open writer (writer.go:122-156);
  *     an epoch in several partitions is first shuffled by range, since
  *     its partitions may cut a range or interleave in it. An epoch
  *     REPLAY after a crash overwrites its own staging, whatever either
  *     attempt's partitioning (the overwrite drops the whole epoch dir),
  *     which upgrades the reference's at-most-once cursor (SURVEY.md
  *     §2.A#17) to exactly-once;
  *  2. every range strictly below the high-water range is complete
  *     (rotation-on-boundary-crossing, writer.go:127-144): publish it as
  *     ONE atomically-renamed, block-sorted, range-named file; re-publish
  *     is a no-op (completed-range guard). A range staged by one epoch
  *     is renamed as is. A range staged by several epochs is merged on
  *     the driver: their files are streamed in epoch order through one
  *     parquet-mr writer, which is block order when the files share one
  *     schema and the block column never decreases along the way. Any
  *     other multi-epoch range (schema evolution mid-range, several part
  *     files in an epoch, blocks out of order) is merged by a Spark job
  *     that unions the schemas and sorts;
  *  3. ranges with no data between `start` and the high-water mark get
  *     empty files (dense, gapless backfill).
  *
  * Scale: the range is the parallelism unit — publishing K complete
  * ranges is K independent single-range publishes, and the
  * one-file-per-range merge costs parallelism only within a range
  * (SURVEY.md §7.4.2). The driver-side merge reads every staged byte of
  * the range through the driver and buffers up to one row group
  * (`parquet.block.size`) on its heap, for each of up to 8 ranges
  * published at once, where the Spark merge does it on an executor.
  * Staging never cuts a range into several files of one epoch, so the
  * driver merge handles multi-epoch ranges only: re-encoding every cut
  * range on the driver cost more than the shuffle it saves, wherever
  * input partitions are not aligned with ranges.
  * Ordered-merge heaps and upload workers (§2.A#14/#18) are unnecessary:
  * epochs are totally ordered and rename-publish is the committer.
  */
/** Parquet physical tuning — the reference's writer knobs (§2.A#19/#20:
  * --compression[-level], --row-group-rows, --dict-encoding, --page-size;
  * writer.go:93-117, run.go:43-49) mapped to parquet-mr properties. */
final case class ParquetTuning(
    compression: String = "zstd",           // writer.go:373-386 default
    rowGroupBytes: Option[Long] = None,     // parquet-mr sizes row groups
                                            // by BYTES (parquet.block.size);
                                            // the reference's --row-group-rows
                                            // has no exact parquet-mr analog
    dictionaryEncoding: Boolean = true,     // writer.go:103
    pageSizeBytes: Option[Long] = None,     // writer.go:104-106 (0=default)
    compressionLevel: Option[Int] = None) { // writer.go:96-98; parquet-mr
                                            // honors it for zstd (and gzip)
  private def levelKey = s"parquet.compression.codec.$compression.level"

  def options: Map[String, String] = Map(
    "compression" -> compression,
    "parquet.enable.dictionary" -> dictionaryEncoding.toString) ++
    rowGroupBytes.map("parquet.block.size" -> _.toString) ++
    pageSizeBytes.map("parquet.page.size" -> _.toString) ++
    compressionLevel.map(l => levelKey -> l.toString)

  /** The same settings on a parquet-mr writer builder, for files written
    * outside Spark. Each one is set explicitly: the builder takes none of
    * them from the Configuration it is given. */
  def applyTo(b: ExampleParquetWriter.Builder): ExampleParquetWriter.Builder = {
    // the codec Spark's `compression` option names, by Spark's own table
    val codec = ParquetCompressionCodec.fromString(compression).getCompressionCodec
    var out = b.withCompressionCodec(codec)
      .withDictionaryEncoding(dictionaryEncoding)
    rowGroupBytes.foreach(n => out = out.withRowGroupSize(n))
    pageSizeBytes.foreach(n => out = out.withPageSize(n.toInt))
    compressionLevel.foreach(l => out = out.config(levelKey, l.toString))
    out
  }
}

final case class RangeSink(
    root: String,
    partitioner: RangePartitioner,
    blockCol: String = "block_number",
    tuning: ParquetTuning = ParquetTuning()) {

  private val nameRe = raw"(\d{%d})-(\d{%d})\.parquet".format(
    partitioner.pad, partitioner.pad).r

  private def rangeExpr =
    expr(s"${partitioner.start} + ((`$blockCol` - ${partitioner.start})" +
      s" div ${partitioner.size}) * ${partitioner.size}")

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // Published ranges listed ONCE per sink lifetime (restart/crash pays
  // one listing), then maintained incrementally as publishes succeed —
  // re-listing the table root every batch would grow O(total published
  // ranges) over a long-running stream (~75k files/year at 1M blocks/day,
  // 5000-block ranges). The per-range f.exists(target) check inside each
  // publish stays the replay guard of record.
  @volatile private var publishedCache: Set[Long] = _

  /** Range starts that already have a published file. */
  def publishedRanges(spark: SparkSession): Set[Long] = synchronized {
    if (publishedCache == null) {
      val f = fs(spark)
      val rootPath = new Path(root)
      publishedCache =
        if (!f.exists(rootPath)) Set.empty
        else f.listStatus(rootPath).toSeq.flatMap { st =>
          st.getPath.getName match {
            case nameRe(rs, _) => Some(rs.toLong)
            case _ => None
          }
        }.toSet
    }
    publishedCache
  }

  private def markPublished(rs: Long): Unit = synchronized {
    if (publishedCache != null) publishedCache += rs
  }

  /** Stage one epoch under `_open/epoch=N/__range=X/` and return the
    * staged range starts — read from the partition DIRECTORY NAMES, so
    * discovering the epoch's high-water range costs one listing instead
    * of a second `agg(max)` pass over the input (which in foreachBatch
    * recomputes the whole micro-batch, and in the batch path rescans the
    * source). */
  private def stageEpoch(df: DataFrame, epochId: Long): Seq[Long] = {
    val ranged = df.withColumn("__range", rangeExpr)
    // one partition holds each of its ranges whole: no shuffle. Several
    // may cut or interleave a range, which the shuffle regroups
    (if (onePartition(df)) ranged else ranged.repartition(col("__range")))
      // led by __range: the partitioned write needs its rows grouped by
      // __range and, were this sort not led by it, would sort them by
      // __range alone — and the optimizer would drop this block sort
      .sortWithinPartitions(col("__range"), col(blockCol))
      .write.mode("overwrite").partitionBy("__range")
      .options(tuning.options)
      .parquet(s"$root/_open/epoch=$epochId")
    fs(df.sparkSession)
      .globStatus(new Path(s"$root/_open/epoch=$epochId/__range=*")).toSeq
      .map(_.getPath.getName.stripPrefix("__range=").toLong)
  }

  /** True when `df` is one partition, read off its analyzed plan without
    * planning or running it: row-wise operators (projections, filters,
    * explodes) over an RDD of one partition, the form in which
    * foreachBatch hands over an epoch of a single-partition source. Any
    * other plan may hold several partitions. */
  private def onePartition(df: DataFrame): Boolean = {
    def rowWise(p: LogicalPlan): Boolean = p match {
      case r: LogicalRDD => r.rdd.getNumPartitions == 1
      case _: Project | _: Filter | _: Generate => rowWise(p.children.head)
      case _ => false
    }
    rowWise(df.queryExecution.analyzed)
  }

  /** foreachBatch entry point: stage this epoch, then finalize everything
    * strictly below the high-water range. */
  def processBatch(df: DataFrame, epochId: Long): Unit = {
    val ranges = stageEpoch(df, epochId)
    if (ranges.nonEmpty) finalizeBelow(df.sparkSession, df.schema, ranges.max)
  }

  /** Batch/shutdown path: everything is final (the stop block is known) —
    * finalize all staged ranges including the clamped last one. */
  def writeAll(df: DataFrame): Unit = {
    val ranges = stageEpoch(df, epochId = 0L)
    if (ranges.nonEmpty)
      finalizeBelow(df.sparkSession, df.schema, ranges.max + partitioner.size)
  }

  private def partFilesOf(f: FileSystem, dir: Path): Seq[Path] =
    f.listStatus(dir).map(_.getPath).toSeq
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))

  /** Merge a range's staged epoch dirs into the single file `tmp` on the
    * driver, with no Spark job: each staged file is read through
    * parquet-mr and its rows are re-encoded, in epoch order, into one
    * writer, so row groups and dictionaries span epochs as in a single
    * write (concatenating the epochs' row groups instead would keep a
    * row group and a dictionary per epoch, and more bytes per block).
    * The copy is sorted when the block column never decreases from row
    * to row, within and across files — checked, not assumed: staging
    * written before staging sorted by block, and restaged on replay, may
    * be unsorted within a file. Returns false, leaving no `tmp`, unless
    * every epoch dir holds one part file, all share one Parquet schema
    * with an int64 block column and the blocks come in order. */
  private def mergeOnDriver(
      f: FileSystem, conf: Configuration, dirs: Seq[Path], tmp: Path): Boolean = {
    // numeric epoch order: as strings, epoch=10 sorts before epoch=9
    val files = dirs.sortBy(_.getParent.getName.stripPrefix("epoch=").toLong)
      .map(partFilesOf(f, _))
    if (!files.forall(_.size == 1)) return false
    val inputs = files.map(fs => HadoopInputFile.fromPath(fs.head, conf))
    // options from the session's conf: the default options build a
    // fresh Configuration, which re-parses Hadoop's XML resources
    val options = HadoopReadOptions.builder(conf).build()
    // one staged file open at a time, here and in the copy below: a range
    // at the chain head can be staged by thousands of one-block epochs,
    // and a stream held per epoch would exhaust file descriptors or an
    // object store's connection pool
    val footers = inputs.map { in =>
      val s = in.newStream()
      try ParquetFileReader.readFooter(in, options, s) finally s.close()
    }
    val meta = footers.head.getFileMetaData
    val schema = meta.getSchema
    if (footers.exists(_.getFileMetaData.getSchema != schema)) return false
    val blockAt = schema.getFieldIndex(blockCol)
    val blockType = schema.getType(blockAt)
    if (!blockType.isPrimitive || blockType.asPrimitiveType.getPrimitiveTypeName !=
        PrimitiveType.PrimitiveTypeName.INT64) return false
    // a Spark merge that crashed leaves a directory, which no
    // overwriting create replaces
    if (f.exists(tmp) && f.getFileStatus(tmp).isDirectory) f.delete(tmp, true)
    val writer = tuning.applyTo(
      ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
        // a copy: the session's settings apply as they do to a Spark
        // write, and applyTo's config() must not write into the session
        .withConf(new Configuration(conf))
        .withType(schema)
        // a crashed merge's leftover file is replaced
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        // Spark's row metadata (its schema, writer version) travels along
        .withExtraMetaData(meta.getKeyValueMetaData))
      .build()
    val columns = new ColumnIOFactory().getColumnIO(schema)
    var sorted = true
    var prev = Long.MinValue
    try {
      val it = inputs.iterator.zip(footers.iterator)
      while (sorted && it.hasNext) {
        val (in, footer) = it.next()
        val r = ParquetFileReader.open(in, footer, options, in.newStream())
        try {
          var pages = r.readNextRowGroup()
          while (sorted && pages != null) {
            val rows = columns.getRecordReader(pages,
              new GroupRecordConverter(schema))
            var i = 0L
            while (sorted && i < pages.getRowCount) {
              val row = rows.read()
              // a null block sorts first in the Spark merge, not here
              sorted = row.getFieldRepetitionCount(blockAt) == 1 &&
                row.getLong(blockAt, 0) >= prev
              if (sorted) { prev = row.getLong(blockAt, 0); writer.write(row) }
              i += 1
            }
            pages = if (sorted) r.readNextRowGroup() else null
          }
        } finally r.close()
      }
    } finally writer.close()
    // out of order: drop the partial copy, the Spark merge sorts
    if (!sorted) f.delete(tmp, false)
    sorted
  }

  /** Publish every complete range with rangeStart < highWater, plus empty
    * backfill files for data-less ranges.
    *
    * Publish cost is kept off the Spark scheduler wherever possible:
    *  - a range staged by a single epoch already IS one sorted parquet
    *    file (stage holds each range in one task, shuffling by range
    *    unless the epoch is one partition, and sorts it by block) —
    *    publishing it is a pure filesystem rename, no job;
    *  - a range staged by several epochs whose files share one schema
    *    and hold their blocks in epoch order is merged on the driver
    *    through parquet-mr ([[mergeOnDriver]]), then renamed, no job;
    *  - empty backfill writes ONE template file and FS-copies it per
    *    missing range (writer.go:246-267 analog), no job per range;
    *  - only a multi-epoch range whose epochs differ in schema, hold
    *    several part files or hold blocks out of order needs a merge job.
    * At scale this makes publishing K ranges O(K) namenode ops, not K
    * scheduled jobs. */
  private def finalizeBelow(
      spark: SparkSession, schema: StructType, highWater: Long): Unit = {
    val f = fs(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    val done = publishedRanges(spark)
    // staged ranges present in any epoch dir
    val openDir = new Path(s"$root/_open")
    val stagedRanges: Map[Long, Seq[Path]] =
      if (!f.exists(openDir)) Map.empty
      else f.globStatus(new Path(s"$root/_open/epoch=*/__range=*")).toSeq
        .map(_.getPath)
        .groupBy(p => p.getName.stripPrefix("__range=").toLong)
        .view.mapValues(_.toSeq).toMap
    // a replayed epoch restages ranges it published before the crash;
    // the published file is final, so that staging is dead — and no
    // publish below would ever delete it
    stagedRanges.foreach { case (rs, dirs) =>
      if (done.contains(rs)) dirs.foreach(f.delete(_, true))
    }
    val todo = partitioner.rangeStartsUpTo(highWater - 1)
      .filterNot(done.contains).filter(_ < highWater)
    if (todo.isEmpty) return

    // lazy empty template, written at most once per finalize pass
    lazy val emptyTemplate: Path = {
      val tmplDir = new Path(root, "._empty_template")
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.mode("overwrite").options(tuning.options)
        .parquet(tmplDir.toString)
      partFilesOf(f, tmplDir).head
    }
    val usedTemplate = new java.util.concurrent.atomic.AtomicBoolean(false)

    // Ranges publish independently (distinct targets + staging) — fan the
    // filesystem work out over a bounded pool. On an object store each
    // publish is a round-trip; serial K-range backfills would be
    // latency-bound (the reference async-uploads for the same reason,
    // writer.go:350-371).
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, todo.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // FileSystem.rename reports most failures (missing target parent,
    // cross-FS, races) by returning FALSE, not throwing — an unchecked
    // rename would let finalizeBelow delete the staging dirs below and
    // silently replace the range's data with an empty backfill file.
    def renameOrDie(src: Path, target: Path): Unit = {
      f.rename(src, target)
      if (!f.exists(target))
        throw new IllegalStateException(
          s"publish rename $src -> $target failed; staging kept for replay")
    }
    try {
      val publishes = todo.map { rs => Future {
        val (_, re) = partitioner.rangeFor(rs)
        val target = new Path(root, partitioner.fileName(rs, re))
        stagedRanges.get(rs) match {
          case Some(Seq(dir)) if partFilesOf(f, dir).size == 1 =>
            // fast path: already one sorted file — rename-publish, no job
            if (!f.exists(target)) renameOrDie(partFilesOf(f, dir).head, target)
          case Some(dirs) =>
            val tmp = new Path(root,
              s".${partitioner.fileName(rs, re)}.inprogress")
            if (!f.exists(target)) {
              if (mergeOnDriver(f, conf, dirs, tmp)) renameOrDie(tmp, target)
              else {
                // Spark merge: one small job. mergeSchema, NOT the current
                // batch's schema: when the range straddles a
                // schema-evolution boundary (descriptor gained/dropped a
                // field between epochs), forcing the newest schema would
                // silently drop the older epochs' column values from the
                // published file
                spark.read.option("mergeSchema", "true")
                  .parquet(dirs.map(_.toString): _*)
                  .coalesce(1).sortWithinPartitions(col(blockCol))
                  .write.mode("overwrite").options(tuning.options)
                  .parquet(tmp.toString)
                renameOrDie(partFilesOf(f, tmp).head, target)
              }
            }
            f.delete(tmp, true)
          case None =>
            // empty backfill: FS copy of the 0-row template
            if (!f.exists(target)) {
              usedTemplate.set(true)
              org.apache.hadoop.fs.FileUtil.copy(
                f, emptyTemplate, f, target, false, conf)
            }
        }
        // staging is dropped only once the published file is confirmed
        // present — a failed publish must leave the epoch replayable
        if (!f.exists(target))
          throw new IllegalStateException(
            s"range $rs publish did not materialize $target")
        markPublished(rs)
        stagedRanges.get(rs).foreach(_.foreach(f.delete(_, true)))
      }}
      Await.result(Future.sequence(publishes), Duration.Inf)
    } finally pool.shutdown()
    if (usedTemplate.get) f.delete(new Path(root, "._empty_template"), true)
    // epoch dirs whose ranges all published hold only write-committer
    // droppings (_SUCCESS) — drop them, or the epoch=* glob above grows
    // O(total epochs) per batch on a long-running stream
    if (f.exists(openDir)) f.listStatus(openDir).foreach { st =>
      if (st.isDirectory &&
          !f.listStatus(st.getPath).exists(
            _.getPath.getName.startsWith("__range=")))
        f.delete(st.getPath, true)
    }
  }
}
