package org.apache.spark.sql.graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{BlockLocation, FileStatus, FileSystem, LocatedFileStatus, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** A Parquet scan over an explicit file list whose listing runs on
  * the driver.
  *
  * `spark.read.schema(s).parquet(paths)` lists its root paths through
  * the file index, and at `parallelPartitionDiscoveryThreshold` (32)
  * paths or more that listing is a Spark job with one task per path —
  * 64 tasks and ~0.4 s of a selective-search op for a 64-shard load.
  * Here each file's status and block locations are read on the
  * driver and handed to the same `InMemoryFileIndex` through a
  * pre-filled [[FileStatusCache]], so the index lists nothing.
  * Directories, and names the index's listing filters out (`_`/`.`
  * prefixes), are not pre-filled: the index lists those itself, as
  * before.
  *
  * The relation is the one `DataFrameReader.load` resolves: the same
  * index class, root paths, partition inference, data schema, format
  * and options, so the planned `FileSourceScanExec` is the same. Glob
  * expansion and the missing-path error are `DataSource`'s own; a
  * missing file fails here, at load, naming its path.
  *
  * In the `org.apache.spark.sql` package tree because `DataSource`'s
  * path check and `QueryCompilationErrors` are `private[sql]` — same
  * pattern as [[ColumnBridge]].
  */
object FileScanBridge {

  def parquetFiles(spark: org.apache.spark.sql.SparkSession, pathStrings: Seq[String],
      schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    // DataFrameReader.load moves a lone path into the options
    val options = if (pathStrings.size == 1) Map("path" -> pathStrings.head)
      else Map.empty[String, String]
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val paths = DataSource.checkAndGlobPathIfNecessary(pathStrings, hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = false, enableGlobbing = true)
    val cache = new PrefilledStatusCache
    paths.foreach { path =>
      val fs = path.getFileSystem(hadoopConf)
      val status = try fs.getFileStatus(path) catch {
        case _: FileNotFoundException =>
          throw QueryCompilationErrors.dataPathNotExistError(path.toString)
      }
      if (status.isFile && status.getPath == path &&
          !HadoopFSUtils.shouldFilterOutPathName(path.getName))
        cache.putLeafFiles(path, Array(located(fs, status)))
    }
    val index = new InMemoryFileIndex(session, paths, options, Some(schema), cache)
    val partitionSchema = index.partitionSchema
    val resolver = session.sessionState.conf.resolver
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => resolver(p.name, f.name))))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema.asNullable,
      None, new ParquetFileFormat, CaseInsensitiveMap(options))(session)
    session.baseRelationToDataFrame(relation)
  }

  /** The status the index's listing job hands back for a file: path,
    * length, directory flag, replication, block size, modification
    * time and block locations, rebuilt on the driver the way
    * `HadoopFSUtils` rebuilds what its tasks list. Built from plain
    * values — `listLocatedStatus` copies the permission, owner and
    * group, which on a local file system runs one `stat` process per
    * file (~110 ms for 64 files against ~1 ms here); the scan reads
    * none of them.
    */
  private def located(fs: FileSystem, f: FileStatus): LocatedFileStatus = {
    val blocks = fs.getFileBlockLocations(f, 0, f.getLen).map(b =>
      new BlockLocation(b.getNames, b.getHosts, b.getOffset, b.getLength))
    new LocatedFileStatus(new FileStatus(f.getLen, f.isDirectory, f.getReplication,
      f.getBlockSize, f.getModificationTime, f.getPath), blocks)
  }

  /** Leaf files per root path, filled before the index is built. An
    * index `refresh()` clears it and lists again, as with Spark's own
    * cache.
    */
  private final class PrefilledStatusCache extends FileStatusCache {
    private val entries = new ConcurrentHashMap[Path, Array[FileStatus]]()
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
      Option(entries.get(path))
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit =
      entries.put(path, leafFiles)
    override def invalidateAll(): Unit = entries.clear()
  }
}
