package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, MapType}

import graft.ingest.RangePartitioner

/** Output checks shared by the workloads. A failed check is a failed
  * operation; its message goes to stderr. */
object Checks {

  /** Order-insensitive content digest: row count plus the sum of a 64-bit
    * hash of every row, as a one-row aggregate over `df`. Floating-point
    * columns are hashed at 9 significant digits, so a different merge
    * order of partial sums in an aggregate does not change the digest;
    * maps are hashed as their sorted entries. */
  def digestFrame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")))
  }

  def digestOf(r: Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"

  def digest(df: DataFrame): String = digestOf(digestFrame(df).head())

  def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Published range files directly under `root`, sorted by name. */
  def rangeFiles(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isFile)
      .map(s => s.getPath.getName -> s.getLen)
      .filter(_._1.endsWith(".parquet")).sortBy(_._1)
  }

  /** The published files must be exactly the ranges from the
    * partitioner's start up to `untilBlock` (exclusive), dense and
    * gapless, with nothing else in the table root. */
  def denseRanges(names: Seq[String], pt: RangePartitioner,
      untilBlock: Long): Option[String] = {
    val want = pt.rangeStartsUpTo(untilBlock - 1)
      .map(rs => pt.fileName(rs, rs + pt.size))
    if (names == want) None
    else Some(s"range files differ: missing ${want.diff(names).take(3)}, " +
      s"unexpected ${names.diff(want).take(3)} (${names.size} vs ${want.size})")
  }

  /** Rows of one table: the published range files plus, for a stream
    * that has not closed its last range, the staged epochs up to the
    * last committed one. */
  def tableRows(spark: SparkSession, root: String,
      stagedUpToEpoch: Option[Long] = None): DataFrame = {
    val files = rangeFiles(spark, root).map(n => s"$root/${n._1}")
    val staged = stagedUpToEpoch.toSeq.flatMap { last =>
      val f = fs(spark, root)
      val g = f.globStatus(new Path(s"$root/_open/epoch=*/__range=*"))
      Option(g).toSeq.flatten.map(_.getPath).filter { p =>
        p.getParent.getName.stripPrefix("epoch=").toLong <= last
      }.flatMap(d => f.listStatus(d).toSeq.map(_.getPath.toString)
        .filter(_.endsWith(".parquet")))
    }
    spark.read.parquet(files ++ staged: _*)
  }

  /** Row count of one Parquet file, from its footer. */
  def rowCount(spark: SparkSession, file: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(file), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Expected child-table sizes from the generator
    * (`graft.ingest.SampleBlocks.samplePayload`): block i carries
    * i mod 3 transfers and two touched accounts. */
  def expectedRows(from: Long, until: Long): Map[String, Long] = {
    val n = until - from
    Map("main" -> n,
      "transfers" -> (from until until).iterator.map(_ % 3).sum,
      "touched_accounts" -> 2 * n)
  }

  val Tables: Seq[String] = Seq("main", "transfers", "touched_accounts")
}
