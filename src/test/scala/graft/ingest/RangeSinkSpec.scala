package graft.ingest

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSuite

object RangeSinkSpec {
  /** The physical plans of the SQL executions that `body` ran. */
  def sqlPlans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val plans = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; TestListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    plans.asScala.toSeq
  }

  /** Spark merge jobs that `body` ran: RangeSink's job-based merge writes
    * into `.<range>.parquet.inprogress`, and the plan of that write's SQL
    * execution names the path. */
  def sparkMerges(spark: SparkSession)(body: => Unit): Int =
    sqlPlans(spark)(body).count(_.contains(".parquet.inprogress"))
}

/** Range-named sink fixtures (FIXTURES.md §B scenarios 1, 2, 4; SURVEY.md
  * §5.2.4): exact file names, dense empty backfill, single sorted file per
  * range, idempotent re-publish. */
class RangeSinkSpec extends SparkSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("rangesink").toString

  private def blocksDF(nums: Seq[Long]): DataFrame = {
    import spark.implicits._
    nums.map(n => (n, s"0x$n", n * 10)).toDF("block_number", "block_id", "v")
  }

  /** Blocks `0 until n` in `parts` contiguous input partitions. */
  private def blocksIn(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id").as("block_number"),
      concat(lit("0x"), col("id")).as("block_id"), (col("id") * 10).as("v"))

  /** `df` as foreachBatch hands an epoch over: an RDD's rows, in `df`'s
    * partitions. */
  private def asEpoch(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  private def blocksOf(file: String): Seq[Long] =
    spark.read.parquet(file).select("block_number").collect()
      .map(r => r.getAs[Number](0).longValue).toSeq

  private def published(root: String): Seq[String] =
    new java.io.File(root).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted

  /** `__range=X` staging dirs left under `_open`, over all epochs. */
  private def stagedRanges(root: String): Seq[String] = {
    val open = new java.io.File(s"$root/_open")
    if (!open.exists()) Seq.empty
    else open.listFiles().toSeq.filter(_.isDirectory)
      .flatMap(_.listFiles().toSeq.map(_.getName))
      .filter(_.startsWith("__range=")).sorted
  }

  private def footer(file: String): ParquetMetadata = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file),
        spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  test("scenario 1: blocks 100..130, size 10 → exact range file names") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 100, size = 10))
    sink.writeAll(blocksDF((100L until 130L).reverse))
    assert(published(root) == Seq(
      "0000000100-0000000110.parquet",
      "0000000110-0000000120.parquet",
      "0000000120-0000000130.parquet"))
    // every range file holds exactly its blocks, sorted
    val df = spark.read.parquet(s"$root/0000000110-0000000120.parquet")
    assert(df.select("block_number").collect().map(_.getLong(0)).toSeq ==
      (110L until 120L))
    // one physical file per range (single-file contract)
    assert(new java.io.File(s"$root/0000000110-0000000120.parquet").isFile)
  }

  test("scenario 2: first block mid-stream → dense empty backfill") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 100, size = 10))
    sink.writeAll(blocksDF(Seq(125L, 126L)))
    assert(published(root) == Seq(
      "0000000100-0000000110.parquet",
      "0000000110-0000000120.parquet",
      "0000000120-0000000130.parquet"))
    // backfilled ranges are EMPTY but carry the schema
    val empty = spark.read.parquet(s"$root/0000000100-0000000110.parquet")
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("block_number", "block_id", "v"))
    val data = spark.read.parquet(s"$root/0000000120-0000000130.parquet")
    assert(data.count() == 2)
  }

  test("gap between epochs → interior ranges backfilled") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.processBatch(blocksDF(Seq(5L)), epochId = 0)
    sink.processBatch(blocksDF(Seq(35L)), epochId = 1)
    // range [30,40) is still open (high-water); [0..30) finalized
    assert(published(root) == Seq(
      "0000000000-0000000010.parquet",
      "0000000010-0000000020.parquet",
      "0000000020-0000000030.parquet"))
    assert(spark.read.parquet(s"$root/0000000000-0000000010.parquet").count() == 1)
    assert(spark.read.parquet(s"$root/0000000010-0000000020.parquet").count() == 0)
  }

  test("epoch replay is idempotent (exactly-once upgrade, SURVEY §2.A#17)") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.processBatch(blocksDF(0L until 15L), epochId = 0)
    val firstListing = published(root)
    // crash-replay of the same epoch, then progress
    sink.processBatch(blocksDF(0L until 15L), epochId = 0)
    // the replay restaged the published range 0; that staging is dead
    assert(stagedRanges(root) == Seq("__range=10"))
    sink.processBatch(blocksDF(15L until 25L), epochId = 1)
    assert(published(root) == Seq(
      "0000000000-0000000010.parquet",
      "0000000010-0000000020.parquet"))
    assert(firstListing == Seq("0000000000-0000000010.parquet"))
    assert(stagedRanges(root) == Seq("__range=20"))
    // no duplicated rows despite the replayed epoch
    val df = spark.read.parquet(s"$root/0000000010-0000000020.parquet")
    assert(df.select("block_number").collect().map(_.getLong(0)).toSeq ==
      (10L until 20L))
  }

  test("fully-published epoch dirs are reaped from staging") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    for (e <- 0 until 5)
      sink.processBatch(blocksDF(Seq(e * 10L, e * 10L + 5L)), epochId = e)
    // every range below the high-water published → its epoch dirs gone;
    // only epochs still holding the open head range may remain
    val open = new java.io.File(s"$root/_open")
    val leftover =
      if (!open.exists()) Seq.empty
      else open.listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(leftover.size <= 1,
      s"published epochs must not accumulate in _open: $leftover")
  }

  test("published files never rewritten (completed-range guard)") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.writeAll(blocksDF(0L until 10L))
    val before = new java.io.File(s"$root/0000000000-0000000010.parquet")
      .lastModified()
    Thread.sleep(20)
    sink.writeAll(blocksDF(0L until 10L)) // full re-run
    val after = new java.io.File(s"$root/0000000000-0000000010.parquet")
      .lastModified()
    assert(before == after)
  }

  test("widened (uint64 → Decimal) block numbers are accepted") {
    import org.apache.spark.sql.functions._
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    val dec = blocksDF(0L until 15L)
      .withColumn("block_number", col("block_number").cast("decimal(20,0)"))
    sink.processBatch(dec, epochId = 0)
    assert(published(root) == Seq("0000000000-0000000010.parquet"))
  }

  test("schema evolution across epochs: merged read null-backfills history") {
    // The reference derives its schema ONCE at startup
    // (converter_proto.go:24-45) and has no story for a module whose
    // proto gains a field mid-stream. Ours: restart the pipeline with
    // the evolved descriptor; published ranges are immutable history,
    // and a mergeSchema read over the table unions the columns —
    // pre-evolution ranges null-backfill added fields, post-removal
    // ranges null-backfill dropped ones.
    import spark.implicits._
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.processBatch(blocksDF(0L until 10L), epochId = 0)
    // proto adds `tag`
    val gained = (10L until 20L).map(n => (n, s"0x$n", n * 10, s"tag$n"))
      .toDF("block_number", "block_id", "v", "tag")
    sink.processBatch(gained, epochId = 1)
    // proto later drops `v`
    val dropped = (20L until 30L).map(n => (n, s"0x$n", s"tag$n"))
      .toDF("block_number", "block_id", "tag")
    sink.processBatch(dropped, epochId = 2)
    // a block past the boundary closes range 20-30 (rotation semantics —
    // the open range publishes only when the stream crosses it)
    sink.processBatch(Seq((30L, "0x30", "tag30"))
      .toDF("block_number", "block_id", "tag"), epochId = 3)
    assert(published(root) == Seq("0000000000-0000000010.parquet",
      "0000000010-0000000020.parquet", "0000000020-0000000030.parquet"))
    val merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert(merged.columns.toSet ==
      Set("block_number", "block_id", "v", "tag"))
    assert(merged.count() == 30)
    assert(merged.filter(col("tag").isNull).count() == 10)  // pre-evolution
    assert(merged.filter(col("v").isNull).count() == 10)    // post-removal
    assert(merged.filter(col("block_number") < 10 && col("v").isNotNull)
      .count() == 10)
  }

  test("schema evolution MID-RANGE: the merge path unions epoch schemas") {
    // a range straddling the evolution boundary takes finalizeBelow's
    // merge path (two staged epoch dirs → one job); reading with the
    // NEWEST schema there would silently drop the older epoch's column
    // values — the merged publish must null-backfill instead
    import spark.implicits._
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.processBatch((0L until 5L).map(n => (n, s"0x$n", n * 10))
      .toDF("block_number", "block_id", "v"), epochId = 0)
    // proto drops `v` mid-range; next epoch also closes the range
    sink.processBatch((5L until 11L).map(n => (n, s"0x$n", s"tag$n"))
      .toDF("block_number", "block_id", "tag"), epochId = 1)
    assert(published(root).head == "0000000000-0000000010.parquet")
    val file = spark.read.parquet(s"$root/0000000000-0000000010.parquet")
    assert(file.columns.toSet == Set("block_number", "block_id", "v", "tag"))
    assert(file.count() == 10)
    // the older epoch's v values survived the merge
    assert(file.filter(col("v").isNotNull).count() == 5)
    assert(file.filter(col("tag").isNotNull).count() == 5)
  }

  test("a range staged by epochs 8..12 merges on the driver, as the Spark merge would") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 100, size = 100))
    // each epoch arrives unsorted; staging sorts it within the epoch
    for (e <- 8 to 12) {
      val lo = 100L + (e - 8) * 20
      sink.processBatch(blocksDF((lo until lo + 20).reverse), epochId = e)
    }
    // what the Spark merge makes of the same staged epochs
    val copies = (8 to 12).map { e =>
      val copy = new java.io.File(tmpDir(), s"epoch$e")
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$root/_open/epoch=$e/__range=100"), copy)
      copy.toString
    }
    val bySpark = spark.read.option("mergeSchema", "true").parquet(copies: _*)
      .coalesce(1).sortWithinPartitions(col("block_number")).collect().toSeq
    // epoch 13 only opens the next range, which closes range 100
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.processBatch(blocksDF(200L until 205L), epochId = 13)
    }
    assert(merges == 0, "epochs 8..12 must merge on the driver, in numeric order")
    val file = s"$root/0000000100-0000000200.parquet"
    val rows = spark.read.parquet(file).collect().toSeq
    assert(rows.map(_.getLong(0)) == (100L until 200L))
    assert(rows == bySpark)
    val meta = footer(file)
    assert(meta.getBlocks.size == 1, "one row group for the whole range")
    assert(meta.getFileMetaData.getKeyValueMetaData.asScala
      .contains("org.apache.spark.sql.parquet.row.metadata"))
    assert(stagedRanges(root) == Seq("__range=200"))
  }

  test("a range staged by 300 one-block epochs merges with one staged file open at a time") {
    // on the in-memory object store, which counts open read streams
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStore.reset()
    val root = s"objstore:///sink-${System.nanoTime()}/main"
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 500))
    // the staging of epochs 0..299, one block each, laid out in one
    // write: one row, so one part file, per _open/epoch=N/__range=0
    blocksDF(0L until 300L).withColumn("epoch", col("block_number"))
      .withColumn("__range", lit(0L))
      .write.partitionBy("epoch", "__range").parquet(s"$root/_open")
    ObjectStore.openStreams.set(0)
    ObjectStore.maxOpenStreams.set(0)
    // epoch 300 only opens the next range, which closes range 0
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.processBatch(blocksDF(500L until 501L), epochId = 300)
    }
    assert(merges == 0, "range 0 must merge on the driver")
    assert(ObjectStore.maxOpenStreams.get() == 1,
      s"staged files open at once: ${ObjectStore.maxOpenStreams.get()}")
    val file = s"$root/0000000000-0000000500.parquet"
    assert(spark.read.parquet(file).select("block_number").collect()
      .map(_.getLong(0)).toSeq == (0L until 300L))
    assert(footer(file).getBlocks.size == 1, "one row group for the whole range")
    val staged = ObjectStore.keys.keysIterator.filter(_.contains("/__range=0/"))
    assert(staged.isEmpty, "range 0's staging must be dropped once published")
  }

  test("staging unsorted within a file takes the Spark merge, which sorts") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    // epoch 0 as staged before staging sorted by block: one file, 4..0
    blocksDF((0L until 5L).reverse).coalesce(1)
      .write.parquet(s"$root/_open/epoch=0/__range=0")
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.processBatch(blocksDF(5L until 15L), epochId = 1)
    }
    assert(merges == 1, "out-of-order blocks must fall back to the Spark merge")
    assert(published(root) == Seq("0000000000-0000000010.parquet"))
    assert(spark.read.parquet(s"$root/0000000000-0000000010.parquet")
      .select("block_number").collect().map(_.getLong(0)).toSeq == (0L until 10L))
    assert(!new java.io.File(root).list().exists(_.endsWith(".inprogress")))
  }

  test("an epoch in one input partition stages without a shuffle") {
    val epoch = asEpoch(blocksIn(40, 1))
    // the main table's form and an exploded child table's form
    for (df <- Seq(epoch, epoch.withColumn("v", explode(array(col("v"), col("v") + 1))))) {
      val root = tmpDir()
      val sink = RangeSink(root, RangePartitioner(start = 0, size = 25))
      var merges = 0
      val plans = RangeSinkSpec.sqlPlans(spark) {
        merges = RangeSinkSpec.sparkMerges(spark) {
          sink.processBatch(df, epochId = 0)
        }
      }
      val staging = plans.filter(_.contains("_open/epoch="))
      assert(staging.nonEmpty, "no staging write seen")
      assert(!staging.exists(_.contains("Exchange")),
        s"staging must not shuffle:\n${staging.mkString("\n")}")
      assert(merges == 0)
      assert(published(root) == Seq("0000000000-0000000025.parquet"))
      val file = s"$root/0000000000-0000000025.parquet"
      assert(blocksOf(file).distinct == (0L until 25L))
      assert(blocksOf(file) == blocksOf(file).sorted)
      assert(stagedRanges(root) == Seq("__range=25"))
    }
  }

  test("an epoch in several input partitions is shuffled by range, one file per range") {
    val inputs = Seq(
      // partitions of 10 blocks: their boundaries cut range 0 twice
      "contiguous" -> blocksIn(40, 4),
      "epoch" -> asEpoch(blocksIn(40, 4)),
      // round-robin: every partition holds every 4th block of both ranges
      "round-robin" -> blocksIn(40, 1).repartition(4))
    for ((name, df) <- inputs) {
      val root = tmpDir()
      val sink = RangeSink(root, RangePartitioner(start = 0, size = 25))
      var merges = 0
      val plans = RangeSinkSpec.sqlPlans(spark) {
        merges = RangeSinkSpec.sparkMerges(spark) {
          sink.processBatch(df, epochId = 0)
        }
      }
      assert(plans.filter(_.contains("_open/epoch=")).exists(_.contains("Exchange")),
        s"$name: staging must shuffle by range")
      assert(merges == 0, s"$name: a range staged as one file is renamed")
      val file = s"$root/0000000000-0000000025.parquet"
      assert(blocksOf(file) == (0L until 25L), name)
      assert(footer(file).getBlocks.size == 1, s"$name: one row group")
      val open = new java.io.File(s"$root/_open/epoch=0/__range=25")
      assert(open.list().count(_.startsWith("part-")) == 1,
        s"$name: range 25 must stage as one file")
    }
  }

  test("input partitions aligned with ranges publish by rename alone") {
    // on the object store, where a read of a staged file is counted
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStore.reset()
    val root = s"objstore:///sink-${System.nanoTime()}/main"
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 25))
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.writeAll(blocksIn(100, 4))
    }
    assert(merges == 0)
    assert(ObjectStore.maxOpenStreams.get() == 0,
      "no staged file may be read: each range is one part file, renamed")
    for (rs <- 0L until 100L by 25L)
      assert(blocksOf(s"$root/${"%010d-%010d".format(rs, rs + 25)}.parquet") ==
        (rs until rs + 25))
  }

  test("a multi-epoch range with a decimal block column takes the Spark merge") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 25))
    def dec(df: DataFrame) =
      df.withColumn("block_number", col("block_number").cast("decimal(20,0)"))
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.processBatch(dec(asEpoch(blocksIn(10, 1))), epochId = 0)
      sink.processBatch(dec(asEpoch(blocksIn(40, 1)).filter(col("block_number") >= 10)),
        epochId = 1)
    }
    assert(merges == 1, "only an int64 block column merges on the driver")
    assert(published(root) == Seq("0000000000-0000000025.parquet"))
    assert(blocksOf(s"$root/0000000000-0000000025.parquet") == (0L until 25L))
  }

  test("a replay staged from fewer partitions than the crashed attempt lands each block once") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 25))
    // epoch 3's first attempt, staged from 4 partitions without a shuffle,
    // then a crash before any publish: ranges 0 and 25 staged as 3 and 2
    // files
    blocksIn(40, 4).withColumn("__range", expr("(block_number div 25) * 25"))
      .sortWithinPartitions(col("__range"), col("block_number"))
      .write.partitionBy("__range").parquet(s"$root/_open/epoch=3")
    // the replay of epoch 3 comes from one partition; epoch 4 closes 25
    sink.processBatch(asEpoch(blocksIn(40, 1)), epochId = 3)
    sink.processBatch(blocksDF(Seq(50L)), epochId = 4)
    assert(published(root) == Seq("0000000000-0000000025.parquet",
      "0000000025-0000000050.parquet"))
    assert(blocksOf(s"$root/0000000000-0000000025.parquet") == (0L until 25L))
    assert(blocksOf(s"$root/0000000025-0000000050.parquet") == (25L until 40L))
  }

  test("a stale .inprogress file from a crashed merge is overwritten") {
    val root = tmpDir()
    val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
    sink.processBatch(blocksDF(0L until 5L), epochId = 0)
    // a torn driver-side merge of range 0 (a file), and a crashed Spark
    // merge of range 10 (a directory)
    Files.write(java.nio.file.Paths.get(root,
      ".0000000000-0000000010.parquet.inprogress"), "torn".getBytes)
    Files.createDirectories(java.nio.file.Paths.get(root,
      ".0000000010-0000000020.parquet.inprogress", "_temporary"))
    val merges = RangeSinkSpec.sparkMerges(spark) {
      sink.processBatch(blocksDF(5L until 15L), epochId = 1)
      sink.processBatch(blocksDF(15L until 22L), epochId = 2)
    }
    assert(merges == 0)
    assert(published(root) == Seq("0000000000-0000000010.parquet",
      "0000000010-0000000020.parquet"))
    assert(spark.read.parquet(s"$root/0000000000-0000000010.parquet")
      .select("block_number").collect().map(_.getLong(0)).toSeq == (0L until 10L))
    assert(spark.read.parquet(s"$root/0000000010-0000000020.parquet")
      .select("block_number").collect().map(_.getLong(0)).toSeq == (10L until 20L))
    assert(!new java.io.File(root).list().exists(_.endsWith(".inprogress")))
  }

  test("zstd level and row-group size reach the driver-merged file") {
    import spark.implicits._
    // every value distinct (defeats dictionary/RLE) but with internal
    // redundancy, so the zstd level visibly changes the encoded size;
    // 400 rows a block, two epochs in range [100, 200)
    val rows = (0 until 20000).map(i =>
      (100L + i / 400, s"prefix-common-text-$i-" + ("ab" * 40) + i * 31))
    def epoch(lo: Long, hi: Long): DataFrame = rows
      .filter { case (b, _) => b >= lo && b < hi }.toDF("block_number", "s")
    def merged(tuning: ParquetTuning): java.io.File = {
      val root = tmpDir()
      val sink = RangeSink(root, RangePartitioner(start = 100, size = 100),
        tuning = tuning)
      val merges = RangeSinkSpec.sparkMerges(spark) {
        sink.processBatch(epoch(100, 125), epochId = 0)
        sink.processBatch(epoch(125, 200), epochId = 1)
        sink.processBatch(Seq((200L, "x")).toDF("block_number", "s"), epochId = 2)
      }
      assert(merges == 0)
      new java.io.File(root, "0000000100-0000000200.parquet")
    }
    def rowGroups(f: java.io.File): Int = footer(f.toString).getBlocks.size
    val coarse = rowGroups(merged(ParquetTuning()))
    val fine = rowGroups(merged(ParquetTuning(rowGroupBytes = Some(256 * 1024))))
    assert(coarse == 1, s"default row-group sizing: $coarse")
    assert(fine > coarse,
      s"256 KB row groups must split the file: fine=$fine coarse=$coarse")
    val fast = merged(ParquetTuning(compressionLevel = Some(1),
      dictionaryEncoding = false)).length()
    val max = merged(ParquetTuning(compressionLevel = Some(19),
      dictionaryEncoding = false)).length()
    assert(fast != max,
      s"level must reach the codec: level1=$fast bytes, level19=$max bytes")
  }

  test("stop-block clamps the final range name (scenario 6)") {
    val root = tmpDir()
    val sink = RangeSink(root,
      RangePartitioner(start = 100, size = 10, stop = Some(125)))
    sink.writeAll(blocksDF(100L until 125L))
    assert(published(root).last == "0000000120-0000000125.parquet")
  }
}
