package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Driver-side file metadata for a directory of data files: the listing
  * Spark's reader would see, and exact row counts from parquet FOOTERS.
  * A footer count is one ~KB-range read per file and no Spark job, where
  * `spark.read.parquet(dir).count()` schedules a scan stage to learn what
  * the footers already say.
  */
object ParquetFooters {

  /** Data files under `path`, sorted by path. Recurses into directories
    * (hive-partitioned layouts nest files under key=value dirs, and
    * skipping them would undercount) and skips `_`/`.`-prefixed entries
    * below the root, as Spark's file listing does (`_SUCCESS`, `.crc`,
    * the loader's `_ingest-*.done` tombstones). */
  def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def list(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") ||
          c.getPath.getName.startsWith("."))
        .flatMap(list)
      else Seq(st)
    list(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  /** Exact row count of parquet `files`, summed from their footers. */
  def rowCount(conf: Configuration, files: Seq[FileStatus]): Long =
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** Exact row count of the parquet file or directory at `path`. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    rowCount(conf, dataFiles(conf, path))
  }
}
