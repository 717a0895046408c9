package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Output checks. All of them run off the clock. */
object Checks {

  /** Row count plus an order-independent content hash. A map column is
    * hashed through its key-sorted entries, so two equal maps built in a
    * different insertion order hash alike. */
  def signature(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => to_json(array_sort(map_entries(col(f.name))))
        case _ => col(f.name)
      }
    }
    val r = df.select(hash(cols.toIndexedSeq: _*).cast("long").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Regular files under `root` (relative path -> size). */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally walk.close()
    }

  /** Digest of every file's relative path and bytes under `root`. */
  def treeHash(root: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files(root).keys.toSeq.sorted.foreach { rel =>
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(root.resolve(rel)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bytes of files present in `after` but new or resized since `before`. */
  def writtenBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  def rowStrings(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
}
