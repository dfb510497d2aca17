package graft.ingest

import org.apache.hadoop.fs.Path

import graft.SparkSuite

/** §2.A#22/#18 — the cloud committer path the reference drives through
  * dstore's s3/gs/az adapters (store_adapter.go:11-17, factory.go:156-177),
  * exercised here against an in-process store with REAL object-store
  * semantics (flat keys, visible-at-close multipart PUT, copy+delete
  * rename) rather than the posix-ish `shim://` of CloudStoreSpec. The
  * actual s3a/gcs/abfs connectors cannot run in this zero-egress sandbox;
  * the jars a deployment needs are pinned in build.sbt's comments. */
class ObjectStoreSpec extends SparkSuite {

  private def withStore[A](f: => A): A = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.objstore.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStore.reset()
    f
  }

  test("multipart upload: object is invisible until close completes it") {
    withStore {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path("objstore:///bkt/obj.bin")
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      val payload = Array.fill[Byte](3 * ObjectStore.PartSize + 17)(42)
      out.write(payload)
      out.flush()
      assert(!fs.exists(p),
        "a half-uploaded object must not be listable before complete")
      out.close()
      assert(fs.exists(p), "close = complete-multipart publishes the key")
      assert(fs.getFileStatus(p).getLen == payload.length)
      assert(ObjectStore.multipartParts.get() >= 4,
        s"3*PartSize+17 bytes is 4 parts, saw ${ObjectStore.multipartParts.get()}")
      val in = fs.open(p)
      val read = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(read, payload))
    }
  }

  test("StoreProbe round-trips against object-store semantics (setup.go:31-66)") {
    withStore {
      val r = StoreProbe.probe("objstore:///probe-bkt",
        spark.sparkContext.hadoopConfiguration)
      assert(r.ok, r.detail)
    }
  }

  test("RangeSink publishes range files on a flat keyspace via copy+delete rename") {
    withStore {
      val root = s"objstore:///sink-${System.nanoTime()}/main"
      val df = SampleBlocks.blocksDF(spark, 25L)
      RangeSink(root, RangePartitioner(start = 0, size = 10)).writeAll(
        Decode.mainFromDecoded(Decode.decoded(df, SampleBlocks.output)))

      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      assert(names == Seq("0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet", "0000000020-0000000030.parquet"))

      // the published table reads back through the same object store
      // (footer seeks + column chunk reads through ObjIn)
      assert(spark.read.parquet(root).count() == 25L)

      // the protocol actually paid the object-store cost model: every
      // byte that reached a published key went through a completed
      // multipart upload, and every publish rename was a server-side
      // copy + delete, not a metadata move
      assert(ObjectStore.multipartCompletes.get() > 0)
      assert(ObjectStore.copyOps.get() > 0,
        "publish renames must have gone through the copy+delete path")
      assert(ObjectStore.copiedBytes.get() > 0)

      // staging is gone: no _open/ keys survive a completed finalize
      val leftover = ObjectStore.keys.keysIterator
        .filter(_.contains("/_open/")).toList
      assert(leftover.isEmpty, s"staging keys leaked: $leftover")
    }
  }

  test("RangeSink merges multi-epoch ranges on the driver through the object store") {
    withStore {
      val root = s"objstore:///sink-${System.nanoTime()}/main"
      val sink = RangeSink(root, RangePartitioner(start = 0, size = 10))
      def epoch(from: Long, until: Long) = Decode.mainFromDecoded(Decode.decoded(
        SampleBlocks.blocksDF(spark, until - from, startBlock = from),
        SampleBlocks.output))
      // ranges 0 and 10 are each staged by two epochs; 20 stays open
      val merges = RangeSinkSpec.sparkMerges(spark) {
        Seq((0L, 4L), (4L, 13L), (13L, 25L)).zipWithIndex.foreach {
          case ((from, until), e) => sink.processBatch(epoch(from, until), e)
        }
      }
      assert(merges == 0, "both ranges must merge without a Spark job")

      val fs = new Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted.toSeq
      assert(names == Seq("0000000000-0000000010.parquet",
        "0000000010-0000000020.parquet"))
      val blocks = names.flatMap(n => spark.read.parquet(s"$root/$n")
        .select("block_number").collect().map(_.getLong(0)))
      assert(blocks == (0L until 20L))
      // publishing renamed by copy+delete; no merge temp and no staging
      // of a published range survives
      assert(ObjectStore.copyOps.get() > 0)
      val leftover = ObjectStore.keys.keysIterator.filter(k =>
        k.contains(".inprogress") || k.contains("/__range=0/") ||
          k.contains("/__range=10/")).toList
      assert(leftover.isEmpty, s"merge temps or staging leaked: $leftover")
    }
  }

  test("failed publish keeps staging replayable (rename-reports-false path)") {
    withStore {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path("objstore:///x").getFileSystem(conf)
      val src = new Path("objstore:///rn/src.bin")
      val dst = new Path("objstore:///rn/dst.bin")
      for (p <- Seq(src, dst)) {
        val o = fs.create(p, true); o.write(7); o.close()
      }
      // object stores refuse overwrite-by-rename by reporting false, not
      // throwing — exactly the failure mode RangeSink.renameOrDie guards
      assert(!fs.rename(src, dst))
      assert(fs.exists(src), "a failed rename must leave the source intact")
    }
  }
}
