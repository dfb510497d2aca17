package graft.ingest

import java.io.{EOFException, FileNotFoundException, IOException}
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** In-memory object store with S3 semantics, shared across the JVM so the
  * driver and local-mode executors see one "bucket".
  *
  * What makes it an OBJECT store rather than a filesystem — each modeled
  * on the behavior the s3a connector has to paper over:
  *  - flat keyspace: "directories" exist only as key prefixes (plus empty
  *    marker objects for mkdirs), never as real entries;
  *  - PUT is multipart-style: bytes buffer part by part and the key
  *    becomes visible ATOMICALLY at close() (complete-multipart); a
  *    half-written object is never listable;
  *  - rename is not a metadata op: it is a server-side COPY (O(bytes),
  *    counted in `copyOps`/`copiedBytes`) followed by a DELETE, per key.
  *
  * The counters let specs assert not just that RangeSink's publish
  * protocol SURVIVES these semantics but that it actually paid the
  * object-store cost model (every publish = 1 completed upload or 1
  * copy+delete), mirroring what the reference's dstore adapters do
  * against real s3/gs/az (store_adapter.go:11-17, factory.go:156-177).
  */
object ObjectStore {
  /** Small part size so test-sized parquet files still exercise the
    * multi-part accounting path. */
  val PartSize: Int = 4 * 1024

  final case class Obj(bytes: Array[Byte], ts: Long)

  val keys = new TrieMap[String, Obj]
  private val clock = new AtomicLong(1L)

  val multipartCompletes = new AtomicLong
  val multipartParts = new AtomicLong
  val copyOps = new AtomicLong
  val copiedBytes = new AtomicLong
  /** Read streams open now, and the most ever open at once — a reader
    * that holds a connection per object would exhaust a real store's
    * pool. */
  val openStreams = new AtomicLong
  val maxOpenStreams = new AtomicLong

  def tick(): Long = clock.incrementAndGet()

  def reset(): Unit = {
    keys.clear()
    multipartCompletes.set(0); multipartParts.set(0)
    copyOps.set(0); copiedBytes.set(0)
    openStreams.set(0); maxOpenStreams.set(0)
  }
}

class ObjectStoreFileSystem extends FileSystem {
  import ObjectStore._

  private var fsUri: URI = URI.create("objstore:///")
  private var workDir: Path = new Path("/")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    // triple-slash form parses with an EMPTY (not absent) authority, so
    // bucket-less test URIs like objstore:///k qualify cleanly
    fsUri = URI.create(name.getScheme + ":///")
    setConf(conf)
  }

  override def getScheme: String = "objstore"
  override def getUri: URI = fsUri

  /** Canonical key for a path: the absolute path component, no trailing
    * slash; "" is the bucket root. Directory markers are stored as
    * `key + "/"`. */
  private def key(p: Path): String = {
    val raw = makeQualified(p).toUri.getPath
    if (raw == "/" || raw.isEmpty) "" else raw.stripSuffix("/")
  }

  private def isDirKey(k: String): Boolean =
    k.isEmpty || keys.keysIterator.exists(_.startsWith(k + "/"))

  private def status(p: Path, k: String): FileStatus =
    keys.get(k) match {
      case Some(o) =>
        new FileStatus(o.bytes.length.toLong, false, 1, 32L * 1024 * 1024,
          o.ts, makeQualified(p))
      case None if isDirKey(k) =>
        new FileStatus(0L, true, 1, 32L * 1024 * 1024, 0L, makeQualified(p))
      case None => throw new FileNotFoundException(s"no object at $k")
    }

  override def getFileStatus(p: Path): FileStatus = status(p, key(p))

  override def listStatus(p: Path): Array[FileStatus] = {
    val k = key(p)
    if (keys.contains(k)) return Array(status(p, k))
    if (!isDirKey(k)) throw new FileNotFoundException(s"no object at $k")
    val prefix = k + "/"
    keys.keysIterator
      .filter(_.startsWith(prefix))
      .map(_.drop(prefix.length).takeWhile(_ != '/'))
      .filter(_.nonEmpty).toSet.toArray.sorted
      .map(seg => status(new Path(makeQualified(p), seg), prefix + seg))
  }

  private final class ObjIn(bytes: Array[Byte]) extends FSInputStream {
    private var pos = 0
    private var closed = false
    override def close(): Unit = synchronized {
      if (!closed) { closed = true; openStreams.decrementAndGet() }
    }
    override def seek(p: Long): Unit = {
      if (p < 0 || p > bytes.length) throw new EOFException(s"seek $p")
      pos = p.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(t: Long): Boolean = false
    override def read(): Int =
      if (pos >= bytes.length) -1 else { val b = bytes(pos) & 0xff; pos += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= bytes.length) -1
      else {
        val n = math.min(len, bytes.length - pos)
        System.arraycopy(bytes, pos, b, off, n); pos += n; n
      }
    override def available(): Int = bytes.length - pos
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val o = keys.getOrElse(key(p),
      throw new FileNotFoundException(s"no object at ${key(p)}"))
    maxOpenStreams.accumulateAndGet(openStreams.incrementAndGet(),
      (a, b) => math.max(a, b))
    new FSDataInputStream(new ObjIn(o.bytes))
  }

  /** Multipart-style upload: parts accumulate invisibly; close() is
    * complete-multipart — the only moment the key appears. */
  private final class ObjOut(k: String) extends java.io.ByteArrayOutputStream {
    private var completed = false
    override def close(): Unit = synchronized {
      super.close()
      if (!completed) {
        completed = true
        val b = toByteArray
        multipartParts.addAndGet(math.max(1L, (b.length + PartSize - 1L) / PartSize))
        multipartCompletes.incrementAndGet()
        keys.put(k, Obj(b, tick()))
      }
    }
  }

  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val k = key(p)
    if (!overwrite && keys.contains(k))
      throw new FileAlreadyExistsException(k)
    new FSDataOutputStream(new ObjOut(k), statistics, 0L)
  }

  override def append(p: Path, bufferSize: Int, progress: Progressable)
      : FSDataOutputStream =
    throw new UnsupportedOperationException("object stores cannot append")

  /** COPY + DELETE, per key — the s3a cost model. Directory rename walks
    * every key under the prefix. */
  override def rename(src: Path, dst: Path): Boolean = {
    val sk = key(src)
    val dk0 = key(dst)
    // POSIX/HDFS contract the committers rely on: renaming INTO an
    // existing directory lands under it
    val dk =
      if (!keys.contains(dk0) && isDirKey(dk0) && dk0.nonEmpty)
        dk0 + "/" + src.getName
      else dk0
    def copyDelete(from: String, to: String): Unit = {
      val o = keys(from)
      copyOps.incrementAndGet(); copiedBytes.addAndGet(o.bytes.length.toLong)
      keys.put(to, o.copy(ts = tick()))
      keys.remove(from)
    }
    if (keys.contains(sk)) {
      if (keys.contains(dk)) return false
      copyDelete(sk, dk); true
    } else if (isDirKey(sk) && sk.nonEmpty) {
      val prefix = sk + "/"
      val children = keys.keysIterator.filter(_.startsWith(prefix)).toList
      children.foreach(k => copyDelete(k, dk + "/" + k.drop(prefix.length)))
      true
    } else false
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    val k = key(p)
    val hadFile = keys.remove(k).isDefined
    val prefix = k + "/"
    val children = keys.keysIterator.filter(_.startsWith(prefix)).toList
    if (children.nonEmpty && !recursive && !(children == List(prefix)))
      throw new IOException(s"non-recursive delete of non-empty prefix $k")
    children.foreach(keys.remove)
    hadFile || children.nonEmpty
  }

  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    val k = key(p)
    if (k.nonEmpty && !keys.contains(k + "/") && !isDirKey(k))
      keys.put(k + "/", ObjectStore.Obj(Array.emptyByteArray, tick()))
    true
  }

  override def setWorkingDirectory(dir: Path): Unit = workDir = dir
  override def getWorkingDirectory: Path = workDir
}
