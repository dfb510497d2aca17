package graft.ingest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Crash-dropping GC for a [[RangeSink]] table root — the `VACUUM`
  * maintenance pass that closes the lakehouse loop (ingest →
  * optimize/upsert → vacuum). RangeSink's commit protocol is
  * rename-publish with staging kept until the published file is
  * confirmed (RangeSink.publish), so a crash can strand four
  * kinds of garbage, each safe to remove only under its own proof:
  *
  *  - `_open/epoch=N/__range=X/` staging whose range X already
  *    PUBLISHED (crash between rename and staging delete) — dead, the
  *    published file is the source of truth. Staging for an
  *    UNPUBLISHED range is replayable state and is always kept, at
  *    any age: deleting it would turn the next checkpoint replay's
  *    fast rename-publish into data loss.
  *  - `.<range>.inprogress` merge temps, a file from the driver-side
  *    merge or a directory from the Spark merge (crash between the
  *    merge and rename): dead once their target exists; without a
  *    target they are overwritten on replay, so they fall to the
  *    retention clock instead.
  *  - `._empty_template` (crash before the finalize-pass delete):
  *    lazily re-created, falls to the retention clock.
  *  - `_temporary/` committer droppings from a killed write job:
  *    retention clock.
  *
  * The RETENTION GUARD is the Delta-VACUUM discipline: nothing
  * younger than `retentionMs` is removed unless its published target
  * proves it dead, so a LIVE writer's in-flight staging and merge
  * temps are never raced. Published range files themselves are never
  * touched — vacuum removes only the protocol's own byproducts.
  * Idempotent: a second pass over a vacuumed root removes nothing. */
object Vacuum {

  final case class Stats(stagedDropped: Int, stagedKept: Int,
    inprogressDropped: Int, inprogressKept: Int, tmpDropped: Int,
    templatesDropped: Int) {
    def dropped: Int =
      stagedDropped + inprogressDropped + tmpDropped + templatesDropped
  }

  private val nameRe = """^(\d+)-(\d+)\.parquet$""".r
  private val inprogressRe = """^\.(\d+-\d+\.parquet)\.inprogress$""".r

  def run(spark: SparkSession, root: String,
      retentionMs: Long, dryRun: Boolean = false,
      nowMs: Long = System.currentTimeMillis()): Stats = {
    val rootPath = new Path(root)
    val f = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(f.exists(rootPath), s"vacuum: no such table root: $root")
    val cutoff = nowMs - retentionMs
    def expired(st: FileStatus): Boolean = st.getModificationTime < cutoff
    def drop(p: Path): Unit = {
      if (dryRun) println(s"vacuum (dry-run): would remove $p")
      else f.delete(p, true)
    }

    val entries = f.listStatus(rootPath)
    // published range starts, parsed from the file names — the same
    // evidence RangeSink.publishedRanges uses for exactly-once replay
    val published = entries.iterator.map(_.getPath.getName).collect {
      case nameRe(rs, _) => rs.toLong
    }.toSet
    def targetExists(name: String): Boolean =
      f.exists(new Path(rootPath, name))

    var (sd, sk, ipd, ipk, td, ed) = (0, 0, 0, 0, 0, 0)
    entries.foreach { st =>
      val name = st.getPath.getName
      name match {
        case "_open" =>
          f.listStatus(st.getPath).filter(_.isDirectory).foreach { ep =>
            f.listStatus(ep.getPath).filter(_.isDirectory).foreach { rg =>
              rg.getPath.getName.stripPrefix("__range=").toLongOption match {
                case Some(rs) if published(rs) =>
                  sd += 1; drop(rg.getPath)
                case Some(_) => sk += 1 // unpublished: replayable, keep
                case None => // not a staging dir — leave it alone
              }
            }
            // epoch dir left with no __range children: RangeSink's own
            // droppings rule (RangeSink.finalizeBelow), on the clock
            if (!dryRun && expired(ep) && !f.listStatus(ep.getPath)
                .exists(_.getPath.getName.startsWith("__range=")))
              drop(ep.getPath)
          }
        case inprogressRe(target) =>
          if (targetExists(target)) { ipd += 1; drop(st.getPath) }
          else if (expired(st)) { ipd += 1; drop(st.getPath) }
          else ipk += 1 // young, no target: a live merge — never race it
        case "._empty_template" =>
          if (expired(st)) { ed += 1; drop(st.getPath) }
        case "_temporary" =>
          if (expired(st)) { td += 1; drop(st.getPath) }
        case _ => // published files, checkpoints, anything else: never
      }
    }
    Stats(sd, sk, ipd, ipk, td, ed)
  }
}
