package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader

/** Answers from parquet footers, read on the driver: row counts, per-file
  * column ranges, the file schema and bloom filter probes, with no Spark
  * job. This is the engine's one footer reader, the analog of Redshift
  * serving `count(*)` and sortkey zone maps from block metadata.
  *
  * A path is a file or a directory. A directory is walked recursively and
  * names starting with `_` or `.` are skipped (`_SUCCESS`, `.crc`,
  * `_temporary`), so a partitioned layout yields the data files Spark's
  * reader scans.
  */
object Footers {

  /** One file's row count and `(min, max)` for a column, as parquet's
    * physical values (a `java.lang.Double` for a DOUBLE column). `bounds`
    * is `None` when a row group of the file has no min/max: parquet-java
    * writes none for a double column that holds a NaN, nor for an
    * all-null one. */
  final case class ColumnRange(file: String, bounds: Option[(Any, Any)], rows: Long)

  /** Row count per data file under `path`, keyed by its name relative to
    * `path`. */
  def rowCounts(spark: SparkSession, path: String): Seq[(String, Long)] =
    footers(spark, path, ParquetMetadataConverter.NO_FILTER).map { case (name, f) =>
      name -> f.getBlocks.asScala.map(_.getRowCount).sum
    }

  /** Total row count of the data files under `path`; 0 when there are none. */
  def rowCount(spark: SparkSession, path: String): Long =
    rowCounts(spark, path).map(_._2).sum

  /** `column`'s range in each data file under `path`, merged over the
    * file's row groups with the column's parquet ordering. */
  def columnRanges(spark: SparkSession, path: String, column: String): Seq[ColumnRange] =
    footers(spark, path, ParquetMetadataConverter.NO_FILTER).map { case (name, f) =>
      val blocks = f.getBlocks.asScala.toSeq
      val stats = blocks.map(_.getColumns.asScala
        .find(_.getPath.toDotString == column)
        .getOrElse(throw new IllegalArgumentException(s"no column $column in $path/$name"))
        .getStatistics)
      val bounds =
        if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue)) None
        else {
          val cmp = stats.head.comparator().asInstanceOf[java.util.Comparator[Any]]
          Some(stats.map(s => (s.genericGetMin: Any, s.genericGetMax: Any)).reduce {
            (a, b) =>
              (if (cmp.compare(a._1, b._1) <= 0) a._1 else b._1,
                if (cmp.compare(a._2, b._2) >= 0) a._2 else b._2)
          })
        }
      ColumnRange(name, bounds, blocks.map(_.getRowCount).sum)
    }

  /** The parquet schema of the first data file under `path`, in path
    * order. */
  def schema(spark: SparkSession, path: String): MessageType = {
    val conf = spark.sessionState.newHadoopConf()
    val (_, file) = dataFiles(conf, path).headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    read(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData.getSchema
  }

  /** For each `(fieldId, value)` probe of the data file `path`, whether
    * the column with that field id may hold the value: `Some(true)` when
    * the bloom filter of some row group may hold it, `Some(false)` when
    * none does, and `None` when a row group has no filter for the column.
    * A value is a `Long` for an INT64 column or a `String` for a BINARY
    * one. The file opens once, and each probed column's filters are read
    * once. The column resolves by field id, so a renamed column still
    * finds its filters. */
  def bloomMayHold(spark: SparkSession, path: String,
      probes: Seq[(Int, Any)]): Seq[Option[Boolean]] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), spark.sessionState.newHadoopConf()))
    try {
      val footer = reader.getFooter
      val fields = footer.getFileMetaData.getSchema.getFields.asScala
      val blocks = footer.getBlocks.asScala.toSeq
      val filters = probes.map(_._1).distinct.map { id =>
        id -> fields.find(f => f.getId != null && f.getId.intValue == id).flatMap { f =>
          val perGroup = blocks.map(_.getColumns.asScala
            .find(_.getPath.toDotString == f.getName)
            .flatMap(c => Option(reader.readBloomFilter(c))))
          if (perGroup.forall(_.isDefined)) Some(perGroup.flatten) else None
        }
      }.toMap
      probes.map { case (id, v) =>
        filters(id).map(_.exists(bf => bf.findHash(v match {
          case l: Long => bf.hash(l)
          case s: String => bf.hash(Binary.fromString(s))
        })))
      }
    } finally reader.close()
  }

  /** The data files under `path` in path order, each with its name
    * relative to `path` (`k=1/part-….parquet` in a partitioned layout; the
    * file's own name when `path` is a file). */
  private def dataFiles(conf: Configuration, path: String): Seq[(String, FileStatus)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(prefix: String)(st: FileStatus): Seq[(String, FileStatus)] = {
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Seq.empty
      else if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk(s"$prefix$n/"))
      else Seq(s"$prefix$n" -> st)
    }
    // the root is never skipped for its own name, only what lies under it
    val top = fs.getFileStatus(root)
    val files =
      if (top.isDirectory) fs.listStatus(root).toSeq.flatMap(walk(""))
      else Seq(top.getPath.getName -> top)
    files.sortBy(_._1)
  }

  private def footers(spark: SparkSession, path: String,
      filter: MetadataFilter): Seq[(String, ParquetMetadata)] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).map { case (name, st) => name -> read(conf, st, filter) }
  }

  private def read(conf: Configuration, st: FileStatus, filter: MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), filter)
}
