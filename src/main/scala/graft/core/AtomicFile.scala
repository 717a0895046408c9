package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, Options, Path}

/** The small-file commit protocol behind every pointer and sidecar the
  * sinks keep (`_MANIFEST`, `_SCHEMA`, `_CURRENT`, `_CONSISTENT`): a
  * writer lands the whole body in `<name>.tmp`, then replaces the live
  * file with one FileContext.rename(OVERWRITE) — a single atomic rename
  * on HDFS and local filesystems — so a reader sees the complete old
  * body or the complete new one, never a torn or missing file. Callers
  * keep their own parsing and their own order of operations.
  */
object AtomicFile {

  /** The whole file as UTF-8, or None when it does not exist. */
  def read(conf: Configuration, path: Path): Option[String] = {
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Write `body` to `<path>.tmp`, then rename it over `path`. */
  def replace(conf: Configuration, path: Path, body: String): Unit = {
    val tmp = new Path(path.getParent, path.getName + ".tmp")
    val out = path.getFileSystem(conf).create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    FileContext.getFileContext(path.toUri, conf)
      .rename(tmp, path, Options.Rename.OVERWRITE)
  }
}
