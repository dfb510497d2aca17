package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.ingest.{ProtoWire, RangePartitioner, SampleBlocks, TestMessages}

/** End-to-end streaming ingest (SURVEY.md §3.1-3.2 restated): encoded
  * proto blocks → MemoryStream → decode → main + exploded child tables →
  * range-named files, checkpointed. */
class BlockPipelineSpec extends SparkSuite {

  private def payload(i: Long): Array[Byte] =
    ProtoWire.encode(TestMessages.output, TestMessages.samplePayload(i))

  test("blocks stream into range-named main + child tables") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("pipeline").toString
    val checkpoint = Files.createTempDirectory("pipeline-ckpt").toString
    val stream = MemoryStream[(Long, String, Array[Byte])]
    val blocks = stream.toDF().toDF("block_number", "block_id", "payload")

    // data first: AvailableNow snapshots available offsets at start
    stream.addData((100L until 115L).map(i => (i, s"0xb$i", payload(i))))

    val query = BlockPipeline.start(
      blocks, TestMessages.output, root,
      RangePartitioner(start = 100, size = 10),
      checkpoint, explode = true, trigger = Trigger.AvailableNow())
    query.processAllAvailable()
    query.stop()

    // epoch high-water = 110 → range [100,110) finalized everywhere
    def files(table: String): Seq[String] =
      new java.io.File(s"$root/$table").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted
    assert(files("main") == Seq("0000000100-0000000110.parquet"))
    assert(files("transfers") == Seq("0000000100-0000000110.parquet"))
    assert(files("touched_accounts") == Seq("0000000100-0000000110.parquet"))

    val main = spark.read.parquet(s"$root/main/0000000100-0000000110.parquet")
    // provenance columns kept (deliberate divergence, SURVEY.md §7.4.3)
    assert(main.columns.take(2).toSeq == Seq("block_number", "block_id"))
    assert(main.count() == 10)
    assert(main.where($"block_hash" === "0xhash105").count() == 1)

    val transfers =
      spark.read.parquet(s"$root/transfers/0000000100-0000000110.parquet")
    // element struct flattened to top-level columns
    assert(transfers.columns.toSeq == Seq("block_number", "block_id",
      "from", "to", "amount", "log_index", "kind", "topics"))
    // Σ list lengths = child rows (row-count conservation): i%3 per block
    assert(transfers.count() == (100L until 110L).map(_ % 3).sum)

    val touched = spark.read
      .parquet(s"$root/touched_accounts/0000000100-0000000110.parquet")
    assert(touched.columns.toSeq ==
      Seq("block_number", "block_id", "touched_accounts"))
    assert(touched.count() == 20) // 2 per block
  }

  test("a single-partition source's epochs stage every table without a shuffle") {
    val root = Files.createTempDirectory("pipeline-1p").toString
    val checkpoint = Files.createTempDirectory("pipeline-1p-ckpt").toString
    // the simulated chain: one input partition per epoch
    val blocks = spark.readStream.format("graft.sources.BlockStreamProvider")
      .option("numBlocks", "60").option("blocksPerBatch", "20").load()
    val plans = graft.ingest.RangeSinkSpec.sqlPlans(spark) {
      val query = BlockPipeline.start(blocks, SampleBlocks.output, root,
        RangePartitioner(start = 0, size = 10), checkpoint, explode = true,
        trigger = Trigger.ProcessingTime(0))
      try query.processAllAvailable() finally query.stop()
    }
    val staging = plans.filter(_.contains("_open/epoch="))
    // three epochs of 20 blocks, three tables each
    assert(staging.size >= 9, s"staging writes seen: ${staging.size}")
    assert(!staging.exists(_.contains("Exchange")),
      s"staging must not shuffle:\n${staging.mkString("\n")}")
    def files(table: String): Seq[String] =
      new java.io.File(s"$root/$table").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
    // blocks 1..60: ranges 0..50 published, range 60 still open
    assert(files("main").size == 6)
    assert(spark.read.parquet(s"$root/main").count() == 59)
  }

  test("restart from checkpoint resumes without duplicates") {
    import spark.implicits._

    val root = Files.createTempDirectory("pipeline2").toString
    val checkpoint = Files.createTempDirectory("pipeline2-ckpt").toString
    val inputDir = Files.createTempDirectory("pipeline2-in").toString
    val pt = RangePartitioner(start = 0, size = 5)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("block_number",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("block_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))

    def appendBlocks(nums: Seq[Long]): Unit =
      nums.map(i => (i, s"0xb$i", payload(i)))
        .toDF("block_number", "block_id", "payload")
        .coalesce(1).write.mode("append").parquet(inputDir)

    def run(): Unit = {
      val blocks = spark.readStream.schema(schema).parquet(inputDir)
      val q = BlockPipeline.start(blocks, TestMessages.output, root, pt,
        checkpoint, trigger = Trigger.AvailableNow())
      q.processAllAvailable()
      q.stop()
    }

    appendBlocks(0L until 7L)
    run()
    appendBlocks(7L until 12L) // arrives while "down"; file source resumes
    run()

    val names = new java.io.File(s"$root/main").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted
    assert(names == Seq("0000000000-0000000005.parquet",
                        "0000000005-0000000010.parquet"))
    val all = spark.read.parquet(names.map(n => s"$root/main/$n"): _*)
    assert(all.select("block_number").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
  }
  test("uint64-widened (decimal) block numbers flow end-to-end") {
    // chains with block numbers beyond int64 surface as Decimal(20,0)
    // (ProtoSchema uint64 mapping); the whole pipeline — partitioner
    // math, range naming, staging, publish — must accept the widened
    // type, not just the sink in isolation (RangeSinkSpec).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("pipeline-u64").toString
    val checkpoint = Files.createTempDirectory("pipeline-u64-ckpt").toString
    val stream = MemoryStream[(Long, String, Array[Byte])]
    val blocks = stream.toDF().toDF("block_number", "block_id", "payload")
      .withColumn("block_number", col("block_number").cast("decimal(20,0)"))

    stream.addData((100L until 112L).map(i => (i, s"0xb$i", payload(i))))
    val query = BlockPipeline.start(
      blocks, TestMessages.output, root,
      RangePartitioner(start = 100, size = 10),
      checkpoint, trigger = Trigger.AvailableNow())
    query.processAllAvailable()
    query.stop()

    val main = spark.read.parquet(s"$root/main/0000000100-0000000110.parquet")
    assert(main.count() == 10)
    // widened provenance column survives to the published file
    assert(main.schema("block_number").dataType.simpleString == "decimal(20,0)")
    assert(main.where($"block_hash" === "0xhash107").count() == 1)
  }

}
