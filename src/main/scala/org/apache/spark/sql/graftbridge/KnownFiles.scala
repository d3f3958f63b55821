package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A parquet relation over files whose schema and sizes the caller already
  * knows (a table log that records them). `spark.read.parquet(files…)`
  * would run a schema-inference job and stat every file; here the schema
  * is given and the file index's status cache is seeded from the sizes,
  * so building the relation runs no Spark job and opens no file. Files
  * without a known size are stat'ed as Spark would, on the driver: a
  * graft session lists any number of paths there (`GraftSession.builder`),
  * so no listing job exists either. The relation is the
  * one `DataFrameReader` builds (same index, format, options and nullable
  * data schema), so planning and scans are unchanged. Lives here for
  * `StructType.asNullable`.
  */
object KnownFiles {
  /** `files` are (path, byte size) pairs; `basePath` keeps partition
    * directories (`k=v/`) as columns, inferred from the paths as
    * `spark.read.option("basePath", …)` does. `schema` is the rows'
    * schema; its fields that are partition columns come from the paths. */
  def parquet(spark: SparkSession, files: Seq[(Path, Option[Long])],
      basePath: Option[Path], schema: StructType): DataFrame = {
    val fs = files.head._1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = files.map { case (p, size) => (fs.makeQualified(p), size) }
    val known: Map[Path, Array[FileStatus]] = qualified.collect { case (p, Some(n)) =>
      p -> Array(new FileStatus(n, false, 1, fs.getDefaultBlockSize(p), 0L, p))
    }.toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = known.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = basePath.map(b => "basePath" -> fs.makeQualified(b).toString).toMap
    val index = new InMemoryFileIndex(spark, qualified.map(_._1), options, None, seeded)
    val partitions = index.partitionSchema
    val data = StructType(schema.filterNot(f => partitions.fieldNames.contains(f.name)))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitions, data.asNullable,
      None, new ParquetFileFormat, options)(spark))
  }
}
