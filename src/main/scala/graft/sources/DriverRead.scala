package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types._

/** Store files read on the driver through parquet-hadoop's record API: no
  * Spark job and no Spark file index. The one reader of the vector
  * codebook ([[VecStore.codebook]]) and of the probed files of a small
  * probe ([[VecStore]]'s one-query vector probe, [[PostingLog.probe]]),
  * with each probe's byte gate. */
private[sources] object DriverRead {

  /** Probed bytes (data files as listed) at or under which a one-query
    * vector probe is served on the driver. Sized by measurement on a
    * 4-core host (CHANGES.md): under a C1-only JIT the driver reads,
    * scores and ranks 4.2 MB of 64-dim vectors in 0.62 s (0.25 s with C2),
    * about the distributed plan's fixed cost for its smallest probe
    * (0.8–1.0 s, resp. 0.55–0.8 s); the driver's time grows about 0.14 s
    * (0.05 s) per MB, the distributed plan's fixed cost does not. */
  val VecProbeMaxBytes: Long = 4L << 20

  /** Probed bytes at or under which a posting probe is served on the
    * driver. Smaller than the vector gate because the distributed posting
    * plan is cheap: one pruned scan through a declared schema, 60–110 ms
    * warm on a 4-core host, where the driver decodes postings at about
    * 0.17–0.31 ms per KB under a C1-only JIT (0.11 with C2). Two
    * measurements put the crossover at 135–256 KB (CHANGES.md); the gate
    * takes the upper end because the first probe after a landing, which
    * sees new roots, costs the distributed plan more than a warm one. */
  val PostingProbeMaxBytes: Long = 256L << 10

  /** The gate a probe applies to its probed bytes: inclusive. */
  def servedOnDriver(probedBytes: Long, gate: Long): Boolean = probedBytes <= gate

  /** The parquet data files under `dir`, in name order, descending into
    * partition directories; names starting with `_` or `.` (`_SUCCESS`,
    * checksums, `_centroids`) are skipped as Spark's file index skips
    * them. */
  def dataFiles(hfs: FileSystem, dir: Path): Seq[FileStatus] =
    hfs.listStatus(dir).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap(st => if (st.isDirectory) dataFiles(hfs, st.getPath) else Seq(st))

  /** A probed directory's [[dataFiles]]: none when it does not exist (an
    * erase deletes a partition directory it empties). */
  def probedFiles(hfs: FileSystem, dir: Path): Seq[FileStatus] =
    try dataFiles(hfs, dir) catch { case _: java.io.FileNotFoundException => Nil }

  /** One value per parquet file of `files`: `read` gets the file's footer
    * and its records, and must consume the records before it returns. The
    * reader takes the session's Hadoop conf (a fresh one would re-parse the
    * Hadoop XML defaults on every probe) and the listed status (no extra
    * stat per file). */
  def apply[T](spark: SparkSession, files: Seq[FileStatus])(
      read: (FileMetaData, Iterator[Group]) => T): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
        HadoopReadOptions.builder(conf, st.getPath).build())
      try {
        val meta = reader.getFooter.getFileMetaData
        val io = new ColumnIOFactory().getColumnIO(meta.getSchema)
        read(meta, Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { rg =>
            val rows = io.getRecordReader(rg, new GroupRecordConverter(meta.getSchema))
            Iterator.fill(rg.getRowCount.toInt)(rows.read())
          })
      } finally reader.close()
    }
  }

  /** The row schema the file's Spark writer recorded in its footer. */
  def sparkSchema(meta: FileMetaData): Option[StructType] =
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** A reader of one atomic field of a parquet record as its Spark type
    * holds it (null when the field is absent), for the types the
    * driver-served probes pass through. */
  def atom(t: DataType): Option[(Group, String) => Any] = (t match {
    case LongType => Some((g: Group, f: String) => g.getLong(f, 0): Any)
    case IntegerType => Some((g: Group, f: String) => g.getInteger(f, 0): Any)
    case StringType => Some((g: Group, f: String) => g.getString(f, 0): Any)
    case _ => None
  }).map(get => (g: Group, f: String) => if (g.getFieldRepetitionCount(f) == 0) null else get(g, f))
}
