package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Parquet footers, read on the driver with no Spark job: a read planned
  * with the schema from one footer runs no schema-inference job, and the
  * footers' row counts sum to a snapshot's rows without a count job. Files
  * are opened through `conf`: pass the session's Hadoop conf
  * (`sessionState.newHadoopConf()`), the one Spark's own parquet reads of
  * them use. */
object ParquetFooters {

  /** The parquet part files under `dir`, recursively; none when `dir`
    * does not exist. Walked with `listStatus`: a recursive `listFiles`
    * also looks up every file's block locations. */
  def files(conf: Configuration, dir: Path): Seq[FileStatus] = {
    val fs = dir.getFileSystem(conf)
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (name.endsWith(".parquet") && !name.startsWith(".") &&
          !name.startsWith("_")) Seq(st)
      else Nil
    }
    try walk(dir) catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  private def footer(conf: Configuration, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  /** The footer key under which Spark's parquet writer records the row
    * schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The row schema Spark wrote into `file`'s footer; None for a file
    * Spark did not write. */
  def sparkSchema(conf: Configuration, file: Path): Option[StructType] =
    Option(footer(conf, file).getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(json => DataType.fromJson(json).asInstanceOf[StructType])

  /** The rows of `files`, summed from their footers. */
  def rowCount(conf: Configuration, files: Seq[Path]): Long =
    files.asJava.parallelStream()
      .mapToLong(f => footer(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum()
}
