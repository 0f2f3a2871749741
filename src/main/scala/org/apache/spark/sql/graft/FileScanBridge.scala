package org.apache.spark.sql.graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{BlockLocation, FileStatus, FileSystem, LocatedFileStatus, Path}

import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
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

  /** Whether a file or directory name is hidden from a file source's
    * listing (`_`/`.` prefixes except Parquet's summary files,
    * in-flight `._COPYING_` copies): Spark's own rule, so a `_SUCCESS`
    * file an append rewrites is never a data file.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `df` with its one scan of the directory `root` narrowed to
    * `files` (qualified paths under it), or None when `df` is not a
    * ROW-LOCAL plan over that single scan: deterministic,
    * subquery-free `Project` and `Filter` nodes (and aliases) over one
    * unpartitioned, unbucketed file relation whose only root path is
    * `root`. Row-locality is what makes the narrowed frame the new
    * files' share of `df`: each output row depends on one input row,
    * so `df` over old ∪ new files is `df` over the old ones plus `df`
    * over the new ones. The
    * relation keeps its format, options, schema and output
    * attributes; only its file index changes, and that one lists
    * nothing (its statuses are pre-filled). The frame is built on
    * `on`, a session of the same SparkContext.
    */
  def narrowed(df: DataFrame, root: String, files: Seq[Path],
      on: org.apache.spark.sql.SparkSession): Option[DataFrame] = {
    val session = on.asInstanceOf[SparkSession]
    val plan = df.queryExecution.analyzed
    // a subquery reads a plan of its own, so its value is no row's
    def local(e: Expression) = e.deterministic && !SubqueryExpression.hasSubquery(e)
    val rowLocal = plan.find {
      case p: Project => !p.projectList.forall(local)
      case f: Filter => !local(f.condition)
      case _: SubqueryAlias | _: LogicalRelation => false
      case _ => true
    }.isEmpty
    val scans = plan.collect { case l: LogicalRelation => l }
    val hadoopConf = session.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    val qualified = rootPath.getFileSystem(hadoopConf).makeQualified(rootPath)
    scans match {
      case Seq(scan @ LogicalRelation(r: HadoopFsRelation, _, _, false, _))
          if rowLocal && r.partitionSchema.isEmpty && r.bucketSpec.isEmpty &&
            r.location.rootPaths == Seq(qualified) =>
        val cache = new PrefilledStatusCache
        files.foreach { f =>
          val fs = f.getFileSystem(hadoopConf)
          cache.putLeafFiles(f, Array(located(fs, fs.getFileStatus(f))))
        }
        val index = new InMemoryFileIndex(session, files, r.options, Some(r.dataSchema),
          cache, Some(PartitionSpec.emptySpec), None)
        val relation = r.copy(location = index)(session)
        Some(Dataset.ofRows(session, plan.transform {
          case l: LogicalRelation if l eq scan => l.copy(relation = relation)
        }))
      case _ => None
    }
  }

  /** The Spark schema a Parquet file written by Spark records in its
    * footer (field metadata included), read on the driver: reading
    * the same directory with it as the given schema skips the schema
    * inference job `read.parquet` otherwise runs. None for a file
    * without that record.
    */
  def footerSchema(spark: org.apache.spark.sql.SparkSession, file: Path): Option[StructType] = {
    val conf = spark.asInstanceOf[SparkSession].sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    finally reader.close()
  }

  /** Writes `rows` (in `schema`) as ONE new Parquet file in the
    * directory `dir`, on the driver, with no job: through the writer a
    * Parquet write task opens (`ParquetFileFormat.prepareWrite` under
    * the session's settings), so the file carries the same footer
    * schema record, field metadata and codec as a Spark-written part.
    * It is written under a hidden name (invisible to listings, see
    * [[hidden]]) and renamed to `part-<uuid>` once closed, so a crash
    * leaves no half-written data file. For rows already on the driver:
    * a job and its commit protocol cost far more than a small file.
    */
  def writeLocal(spark: org.apache.spark.sql.SparkSession, rows: Seq[Row],
      schema: StructType, dir: Path): Path = {
    val session = spark.asInstanceOf[SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job, Map.empty, schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
    val name = s"part-${java.util.UUID.randomUUID()}${factory.getFileExtension(context)}"
    val tmp = new Path(dir, s".$name")
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = factory.newInstance(tmp.toString, schema, context)
    try rows.foreach(r => writer.write(toRow(r).asInstanceOf[InternalRow]))
    finally writer.close()
    val fs = dir.getFileSystem(job.getConfiguration)
    val target = new Path(dir, name)
    if (!fs.rename(tmp, target)) throw new java.io.IOException(s"could not rename $tmp to $target")
    target
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
