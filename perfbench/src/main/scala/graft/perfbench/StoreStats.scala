package graft.perfbench

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** One store table: part-files, those holding no row, bytes and rows. */
final case class Table(files: Int, emptyFiles: Int, bytes: Long, rows: Long)

/** Part-files, bytes and rows of every table in a graph store, read from
  * file listings and parquet footers on the driver, so taking a snapshot
  * runs no Spark job. Footers are read once per file.
  */
final class StoreStats(conf: Configuration) {
  private val rowsByFile = mutable.HashMap.empty[String, Long]

  def snapshot(store: String): Map[String, Table] = {
    val root = new Path(store)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).filter(_.isDirectory).map { dir =>
      val parts = listParts(fs, dir.getPath)
      val rows = parts.map { st =>
        rowsByFile.getOrElseUpdate(st.getPath.toString, footerRows(st.getPath))
      }
      dir.getPath.getName -> Table(parts.length, rows.count(_ == 0L),
        parts.map(_.getLen).sum, rows.sum)
    }.toMap
  }

  private def listParts(fs: FileSystem, dir: Path): Array[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).flatMap { st =>
      if (st.isDirectory) listParts(fs, st.getPath)
      else if (st.getPath.getName.startsWith("part-")) Array(st)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    }

  private def footerRows(p: Path): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try reader.getRecordCount finally reader.close()
  }
}

object StoreStats {
  def sum(s: Map[String, Table]): (Int, Int, Long, Long) =
    s.values.foldLeft((0, 0, 0L, 0L)) { case ((f, e, b, r), t) =>
      (f + t.files, e + t.emptyFiles, b + t.bytes, r + t.rows)
    }
}
