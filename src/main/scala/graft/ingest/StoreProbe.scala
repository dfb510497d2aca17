package graft.ingest

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** `setup <store_url>` — the reference's object-store validation probe
  * (setup.go:31-66): write a probe object, read it back, compare, delete.
  * Any Hadoop FileSystem URI works (file://, s3a://, gs://, abfs://) —
  * the Spark restatement of the reference's dstore URL dispatch
  * (store_adapter.go:11-17, SURVEY.md §2.A#22/#23).
  */
object StoreProbe {

  final case class ProbeResult(ok: Boolean, detail: String)

  def probe(storeUrl: String, conf: Configuration = new Configuration())
      : ProbeResult = {
    val dir = new Path(storeUrl, ".parquet-sink-setup")
    val obj = new Path(dir, s"probe-${System.nanoTime()}")
    val payload = s"graft-probe ${obj.getName}".getBytes(StandardCharsets.UTF_8)
    try {
      val fs = dir.getFileSystem(conf)
      val out = fs.create(obj, true)
      try out.write(payload) finally out.close()
      val in = fs.open(obj)
      val read = try in.readAllBytes() finally in.close()
      val same = java.util.Arrays.equals(read, payload)
      fs.delete(dir, true)
      if (same) ProbeResult(ok = true, s"write/read/delete OK at $dir")
      else ProbeResult(ok = false, s"read-back mismatch at $obj")
    } catch {
      case e: Exception => ProbeResult(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}
