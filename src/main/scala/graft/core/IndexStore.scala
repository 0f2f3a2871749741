package graft.core

import java.io.{File, FileNotFoundException}
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.FileScanBridge
import org.apache.spark.sql.types.StructType

/** Metadata-versioned store for build-once/query-many index artifacts
  * (PQ code frames, IVF assignments) under a scratch directory
  * (`SPARK_GRAFT_INDEX_DIR`, default `<java.io.tmpdir>/graft-index`).
  *
  * At corpus scale an ANN index is built once and serves many query
  * batches; rebuilding it inside every query call re-pays the
  * corpus-wide encode pass that dominates build cost. The store keeps
  * the built frame as parquet next to a manifest and reuses it while
  * the manifest matches.
  *
  * Trust model: an index is reused only when the stored manifest
  * matches the SOURCE parquet fingerprint — every file's relative
  * path, size, and mtime, listed through the path's Hadoop
  * `FileSystem` — plus whatever the caller bakes into the store name
  * (build parameters, format version). That is the pipeline-metadata
  * versioning real deployments use. Source CONTENT is deliberately not
  * hashed: a content hash costs a full source scan, the very pass the
  * prebuilt index exists to avoid, so a mutation that preserves
  * name+size+mtime of every part file is undetectable here (as it is
  * for any mtime-based build system).
  *
  * Append rule ([[readOrExtend]]): the manifest also keeps the
  * source's DATA-file listing (Spark's hidden-file rule, so the
  * `_SUCCESS` an append rewrites is not data). When the new listing
  * is exactly the old data files plus new ones, the entry's builder
  * gets a delta frame over the new files only and its rows are
  * APPENDED as a new part file; an extend only adds part files, it
  * never rewrites or deletes one. An extend is delta-sized work: its
  * rows are collected and written on the driver, so an append of more
  * bytes than the session's advisory partition size rebuilds.
  * Anything else — an old file changed or gone, a manifest without a
  * listing, a corpus frame that is not row-local over its one scan of
  * the source, a builder's own exactness check — falls back to the
  * full rebuild. Entries whose rows cannot be appended keep
  * [[readOrBuild]].
  */
object IndexStore {

  /** Resolution order: the `graft.index.dir` system property (an
    * in-JVM override — how the destructive-sweep tests point
    * themselves at a throwaway dir instead of the shared store),
    * then SPARK_GRAFT_INDEX_DIR, then the tmpdir default.
    */
  def baseDir: String = sys.props.get("graft.index.dir")
    .orElse(sys.env.get("SPARK_GRAFT_INDEX_DIR"))
    .getOrElse(s"${sys.props("java.io.tmpdir")}/graft-index")

  /** One listed file: path relative to the listed root, size, mtime. */
  private final case class Listed(rel: String, size: Long, mtime: Long, path: Path) {
    def line: String = s"$rel\t$size\t$mtime"
    def data: Boolean = !rel.split('/').exists(FileScanBridge.hidden)
  }

  private def hadoopConf(spark: Option[SparkSession]) =
    spark.orElse(SparkSession.getActiveSession).orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Every regular file under `path` (the path itself when it is a
    * file), sorted by relative path, listed through the path's Hadoop
    * `FileSystem` — so `file:`, `hdfs:` and `s3a:` URIs list what they
    * name. A missing path fails, naming it.
    */
  private def listing(path: String, spark: Option[SparkSession]): Seq[Listed] = {
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf(spark))
    val top = try fs.getFileStatus(root) catch {
      case e: FileNotFoundException => throw new IllegalArgumentException(
        s"index store source does not exist: $path", e)
    }
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq(st)
    val base = top.getPath.toUri.getPath.stripSuffix("/") + "/"
    walk(top).map { st =>
      val rel = if (st eq top) st.getPath.getName
        else st.getPath.toUri.getPath.stripPrefix(base)
      Listed(rel, st.getLen, st.getModificationTime, st.getPath)
    }
  }

  private def fingerprintOf(files: Seq[Listed]): String =
    md5hex(files.map(f => s"${f.rel}:${f.size}:${f.mtime}").mkString("|"))

  /** Deterministic fingerprint of a source parquet file or directory:
    * MD5 over the sorted (path-relative-to-root, size, mtime) of
    * every regular file under it. Driver-side stat calls only — no
    * data scan. The RELATIVE path (not just the basename) is part of
    * the print: partitioned sources reuse file names across partition
    * dirs (`p=0/part-00000`, `p=1/part-00000`), so a bare-name print
    * could not see same-named files moved between partitions.
    */
  def sourceFingerprint(path: String): String = fingerprintOf(listing(path, None))

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The stored frame for `name`, rebuilt (and re-stored) unless a
    * manifest matching `fingerprint` guards existing data. The
    * returned frame always READS FROM THE STORE — the compact
    * artifact, not the build plan — so downstream scans touch index
    * bytes only. The manifest is deleted before any overwrite and
    * written after it, so a crashed build is never trusted.
    *
    * Concurrency contract: SINGLE WRITER per store entry. The
    * manifest ordering protects against crashes, not against a
    * second process rebuilding the same entry while a first is
    * lazily scanning it (the overwrite would delete part files out
    * from under the reader). The dev default under java.io.tmpdir is
    * fine for one driver at a time; concurrent deployments point
    * SPARK_GRAFT_INDEX_DIR at per-pipeline locations or front the
    * store with a real catalog/lock service.
    */
  def readOrBuild(spark: SparkSession, name: String, fingerprint: String,
      force: Boolean = false)(build: => DataFrame): DataFrame = {
    val entry = new File(baseDir, name)
    if (force || !manifest(entry).exists(_.fingerprint == fingerprint))
      write(spark, entry, fingerprint)(replace(build))
    read(spark, entry)
  }

  /** Rows an extend appends, in the entry's schema, and a check, run
    * once they are collected, that they extend the entry exactly
    * (false: nothing is appended and the entry is rebuilt in full).
    * The rows are delta-sized: the store writes them on the driver as
    * one part file ([[FileScanBridge.writeLocal]]).
    */
  final class Part private (val rows: StructType => Array[Row], val exact: () => Boolean)

  object Part {
    /** The rows of `rows`, collected (cast to the entry's schema). */
    def apply(rows: DataFrame, exact: () => Boolean = () => true): Part =
      new Part(schema => rows.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata)): _*).collect(), exact)

    /** Rows already on the driver, given in the entry's schema. */
    def local(rows: Seq[Row]): Part = new Part(_ => rows.toArray, () => true)
  }

  /** [[readOrBuild]] for an entry whose rows can be APPENDED as its
    * source grows (the append rule in the object doc). `build(frame)`
    * builds the entry over a whole corpus frame. `extend(delta,
    * stored)` gives the [[Part]] to append for `delta` — `corpus`
    * narrowed to the new source files, read as one partition — given
    * the entry's `stored` frame, or None when it cannot extend
    * exactly. Both frames live on
    * the caller's AQE-off child session
    * ([[SessionTuning.boundedPlan]]): an extend is delta-sized work,
    * and there each stage runs inside its action's one job. An empty
    * part writes no file (the manifest is re-stamped only). `inputs`
    * names the store entries the rows are
    * built from: their data-file listings are kept in the manifest
    * too, and the entry extends only while each of them has only
    * grown — an input that was rebuilt rewrote its files, so this
    * entry rebuilds with it.
    *
    * A frame read before an extend keeps its file listing, so it
    * still returns exactly the rows it returned before.
    */
  def readOrExtend(corpus: DataFrame, corpusPath: String, name: String,
      force: Boolean = false, inputs: Seq[String] = Nil)(
      build: DataFrame => DataFrame)(
      extend: (DataFrame, DataFrame) => Option[Part]): DataFrame = {
    val spark = corpus.sparkSession
    maintain(corpus, corpusPath, name, force, inputs,
      listing(corpusPath, Some(spark)))(build)(extend)
    read(spark, new File(baseDir, name))
  }

  /** A SMALL [[readOrExtend]] entry folded into one driver value,
    * memoized per (entry, source fingerprint): a repeat call pays only
    * the source listing — no store read, no job. A source change
    * misses to a fresh [[readOrExtend]]; `force` bypasses the memo the
    * same way it bypasses the store. The entry's rows are kept with
    * the value, so after an extend the fold runs over them plus the
    * appended part, with no store read. The memo hands every caller
    * the same object, so the caller must not mutate it.
    */
  def readOrExtendValue[T <: AnyRef](corpus: DataFrame, corpusPath: String,
      name: String, force: Boolean = false)(
      build: DataFrame => DataFrame)(
      extend: (DataFrame, DataFrame) => Option[Part])(
      fold: Array[Row] => T): T = {
    val spark = corpus.sparkSession
    val src = listing(corpusPath, Some(spark))
    val entry = new File(baseDir, name)
    val key = (entry.getPath, fingerprintOf(src))
    if (force) valueCache.remove(key)
    if (valueCache.size > 64) { valueCache.clear(); valueRows.clear() }
    valueCache.computeIfAbsent(key, { _ =>
      val was = Option(valueRows.get(entry.getPath))
      val rows = maintain(corpus, corpusPath, name, force, Nil, src)(build)(extend)
        .flatMap { case (base, part) => was.collect { case (`base`, kept) => kept ++ part } }
        .getOrElse(read(spark, entry).collect())
      valueRows.put(entry.getPath, (key._2, rows))
      fold(rows)
    }).asInstanceOf[T]
  }

  /** A parsed manifest: the source fingerprint and, when the entry
    * was written with them, the data-file listings (`source` and each
    * input entry's name, to its `Listed.line`s).
    */
  private final case class Manifest(fingerprint: String,
      listings: Option[Map[String, Set[String]]])

  /** The entry's manifest, when it guards existing data. */
  private def manifest(entry: File): Option[Manifest] = {
    val meta = new File(entry, "_graft_manifest")
    if (!meta.isFile || !new File(entry, "data").exists()) return None
    scala.util.Try(Files.readString(meta.toPath)).toOption.map { text =>
      val lines = text.split("\n", -1).toSeq
      Manifest(lines.head, Option.when(lines.lift(1).contains("listing"))(
        lines.drop(2).filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          (l.take(i), l.drop(i + 1))
        }.groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }))
    }
  }

  /** Brings the entry up to date with the source listing `src`:
    * nothing when the manifest matches, an extend when every listing
    * only grew and the extend is exact, else a full build. Returns,
    * unless it rebuilt, the fingerprint the entry was stored under
    * and the rows appended to it.
    */
  private def maintain(corpus: DataFrame, corpusPath: String, name: String,
      force: Boolean, inputs: Seq[String], src: Seq[Listed])(
      build: DataFrame => DataFrame)(
      extend: (DataFrame, DataFrame) => Option[Part]): Option[(String, Array[Row])] = {
    val spark = corpus.sparkSession
    val entry = new File(baseDir, name)
    val fingerprint = fingerprintOf(src)
    val old = if (force) None else manifest(entry)
    if (old.exists(_.fingerprint == fingerprint)) return Some((fingerprint, Array.empty))
    val dataFiles = src.filter(_.data)
    val inputFiles = inputs.map(i => i ->
      listing(new File(new File(baseDir, i), "data").getPath, Some(spark)).filter(_.data))
    // the rows to append when every listing only grew and the part is
    // exact (none when only hidden files changed); collected before
    // the store changes
    val appended = old.flatMap(_.listings).flatMap { was =>
      def grew(key: String, now: Seq[Listed]) =
        was.getOrElse(key, Set.empty).subsetOf(now.map(_.line).toSet)
      if (!grew("source", dataFiles) || !inputFiles.forall((grew _).tupled)) None
      else {
        val added = dataFiles.filterNot(f => was.getOrElse("source", Set.empty)(f.line))
        val on = SessionTuning.boundedPlan(spark)
        // a part is held on the driver: an append of more than one
        // advisory partition's bytes rebuilds instead
        val advisory = spark.sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        if (added.isEmpty) Some((Array.empty[Row], new StructType()))
        else if (added.map(_.size).sum > advisory) None
        // one partition (it is at most the advisory size): a keyed
        // aggregate over it needs no exchange
        else FileScanBridge.narrowed(corpus, corpusPath, added.map(_.path), on)
          .map(_.coalesce(1)).flatMap { delta =>
            val stored = read(on, entry)
            extend(delta, stored).flatMap { part =>
              val rows = part.rows(stored.schema)
              Option.when(part.exact())((rows, stored.schema))
            }
          }
      }
    }
    val manifestText = (fingerprint +: "listing" +: (
      dataFiles.map(f => s"source\t${f.line}") ++
        inputFiles.flatMap { case (i, fs) => fs.map(f => s"$i\t${f.line}") })).mkString("\n")
    appended match {
      case Some((rows, schema)) =>
        write(spark, entry, manifestText) { data =>
          if (rows.nonEmpty) FileScanBridge.writeLocal(spark, rows.toSeq, schema, new Path(data.toURI))
        }
        old.map(o => (o.fingerprint, rows))
      case None =>
        write(spark, entry, manifestText)(replace(build(corpus)))
        None
    }
  }

  /** Writes an entry's data with `rows`, then its manifest. The
    * manifest is deleted first and written last, so a crash in
    * between leaves an entry that is never trusted (the next call
    * rebuilds it in full). Memoized readers of the entry are dropped
    * for every session; frames already handed out keep their file
    * listing. An extend appends its rows as one part file written on
    * the driver ([[FileScanBridge.writeLocal]]): a job and its commit
    * protocol would cost far more than the delta-sized rows.
    */
  private def write(spark: SparkSession, entry: File, manifestText: String)(
      rows: File => Unit): Unit = {
    val meta = new File(entry, "_graft_manifest")
    val data = new File(entry, "data")
    Files.createDirectories(entry.toPath)
    if (meta.exists()) meta.delete()
    rows(data)
    readCache.keySet.removeIf(_._2 == data.getPath)
    Files.writeString(meta.toPath, manifestText)
  }

  /** Replaces an entry's data with `built`. */
  private def replace(built: DataFrame)(data: File): Unit =
    sized(built).write.mode("overwrite").parquet(data.getPath)

  /** REBALANCE before the write (guide §6): the build plan's
    * partitioning is whatever made the BUILD pass parallel (e.g. the
    * kernelFloor round-robin that spreads a one-split corpus encode
    * across cores), which at small scale wrote one tiny part file PER
    * CORE — r21's ivfpq/dsir entries landed as 32 near-empty files,
    * and every force-rebuild (ann_ivfpq_build) and first read paid the
    * per-file commit/listing/footer floor (idle board: build 1.30 s vs
    * 0.78 in r20). AQE coalesces the rebalance exchange to the
    * advisory partition size, so a small index writes ~1 file while a
    * corpus-sized one still writes in parallel at ~advisory-sized
    * files; the exchange itself moves only the compact artifact, never
    * the corpus. Spark resolves the hint only under AQE (elsewhere it
    * logs `Unrecognized hint` and writes one file per build
    * partition), so an AQE-off session sizes the same exchange itself:
    * the plan's own size estimate over the advisory size, capped at
    * the session's parallelism. An exchange, not a coalesce: a
    * coalesce would also narrow the build's last stage (e.g. a
    * kernelFloor-spread encode) to that many tasks.
    */
  private def sized(built: DataFrame): DataFrame = {
    val conf = built.sparkSession.sessionState.conf
    if (conf.adaptiveExecutionEnabled) built.hint("rebalance")
    else {
      val advisory = conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val bytes = built.queryExecution.optimizedPlan.stats.sizeInBytes
      built.repartition(((bytes + advisory - 1) / advisory)
        .min(built.sparkSession.sparkContext.defaultParallelism).max(1).toInt)
    }
  }

  /** The entry's stored frame, memoized per session. Read with the
    * schema its first part file records, so the read runs no schema
    * inference job (every part is written in that schema).
    */
  private def read(spark: SparkSession, entry: File): DataFrame = {
    val data = new File(entry, "data").getPath
    if (readCache.size > 512) readCache.clear()
    readCache.computeIfAbsent((spark, data), { key =>
      listing(data, Some(spark)).find(_.data)
        .flatMap(f => FileScanBridge.footerSchema(key._1, f.path))
        .fold(key._1.read.parquet(data))(s => key._1.read.schema(s).parquet(data))
    })
  }

  /** Delete every store entry whose name starts with `prefix` and
    * return the deleted entry names (sorted). Manual hygiene tool for
    * orphans left by format-version bumps (e.g. the `lmbig-*-v1-*`
    * entries stranded when the LM store moved to v2): a bumped reader
    * can never match the old manifests, so the entries are dead disk
    * that nothing would otherwise reclaim. Deliberately called from
    * NOWHERE automatically — pruning while another session lazily
    * scans an entry would violate the single-writer contract above,
    * so reclamation stays an explicit operator action.
    */
  def prune(prefix: String): Seq[String] = {
    require(prefix.nonEmpty,
      "prune needs a non-empty prefix (an empty one would wipe the whole store)")
    val base = new java.io.File(baseDir)
    deleteEntries(Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .sortBy(_.getName).toSeq)
  }

  /** The checked, manifest-first deletion walk behind [[prune]] and
    * [[pruneSuperseded]], over an EXACT victim list (the superseded
    * sweep must not inherit prune's startsWith matching — an entry
    * whose full name happens to prefix a sibling's name would take
    * the sibling with it).
    */
  private def deleteEntries(victims: Seq[java.io.File]): Seq[String] = {
    val removed = victims.filter { dir =>
      // delete() results are CHECKED: a locked/undeletable file must
      // not report the entry as pruned — a half-deleted entry (data
      // gone, manifest alive, or vice versa) is exactly the state the
      // manifest protocol can't represent. Two disciplines keep a
      // partial failure safe: the MANIFEST GOES FIRST (mirroring
      // readOrBuild's manifest-written-last ordering, so an entry
      // with any file undeleted can never re-validate as fresh and
      // silently serve partial parquet), and child deletion does NOT
      // short-circuit (every reclaimable sibling is still attempted
      // after a locked one — the old forall walk abandoned the rest
      // of a multi-GB entry over one stuck 4 KB part file). rm
      // returns whether the whole subtree went away; failures are
      // reported on stderr and EXCLUDED from the returned names so
      // the caller's ledger only lists entries that are actually gone.
      def rm(f: java.io.File): Boolean = {
        val children =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty)
              .map(rm).forall(identity)
          else true
        children && (f.delete() || !f.exists())
      }
      val meta = new java.io.File(dir, "_graft_manifest")
      val metaGone = !meta.exists() || meta.delete() || !meta.exists()
      val ok = metaGone && rm(dir)
      if (!ok) System.err.println(
        s"[IndexStore] prune: could not fully delete ${dir.getPath} — " +
          "entry excluded from the pruned list; remove it manually")
      // drop memoized readers of the (possibly partially) deleted data
      // path for every session — a stale entry would serve a frame
      // whose files are gone and fail confusingly on first action.
      // Invalidate even on FAILED deletion: some data files may
      // already be gone.
      val dataPath = new java.io.File(dir, "data").getPath
      readCache.keySet.removeIf(_._2 == dataPath)
      valueCache.keySet.removeIf(_._1 == dir.getPath)
      valueRows.remove(dir.getPath)
      ok
    }
    removed.map(_.getName)
  }

  /** Retire SUPERSEDED-generation entries and return the deleted
    * names (sorted). Every store family bakes a `-vN-` format
    * generation into its entry name immediately before the
    * source-path hash (`sample-n64-embedding-vec_id-v2-<md5>`); a
    * reader bump (the r19 `sample` v1→v2, the r20 `ivf`/`ivfmulti`/
    * `pq`/`ivfpq` bumps) permanently orphans the old generation — no
    * bumped reader can ever match its manifest again, so it is dead
    * disk. An entry is superseded when ANOTHER entry exists with the
    * same name before and after its LAST `-vN-` token (same family,
    * knobs, variant, and source hash) and a HIGHER generation; all
    * but the highest survive. Victims are deleted by EXACT name
    * through the same checked, manifest-first walk [[prune]] uses —
    * never by prefix, so a full name that happens to prefix a
    * sibling's name cannot take the sibling. The last `-vN-`
    * occurrence is the
    * generation token by convention (a caller-supplied variant string
    * could contain the pattern earlier). Like [[prune]], called from
    * NOWHERE automatically — reclamation during another session's
    * lazy scan would break the single-writer contract.
    */
  def pruneSuperseded(): Seq[String] = {
    // lookahead for the trailing '-': non-overlapping matching with a
    // consumed trailer would skip the SECOND of two adjacent tokens
    // (`...-v1-v2-<md5>` — the true generation) because its leading
    // '-' was eaten by the previous match, keying two live entries
    // differing only in a v\d+-shaped variant as generations of each
    // other. The after-key then starts at the unconsumed '-',
    // identically for every entry, so grouping is unchanged.
    val gen = "-v(\\d+)(?=-)".r
    val base = new java.io.File(baseDir)
    val entries = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSeq
    val keyed = entries.flatMap { n =>
      gen.findAllMatchIn(n).toSeq.lastOption.map(m =>
        ((n.substring(0, m.start), n.substring(m.end)),
          m.group(1).toInt, n))
    }
    val victims = keyed.groupBy(_._1).values.toSeq.flatMap { g =>
      val keep = g.map(_._2).max
      g.filter(_._2 != keep).map(_._3)
    }
    deleteEntries(victims.sorted.map(new java.io.File(base, _)))
  }

  /** Memoized store reads per (session, path): `read.parquet`
    * rebuilds a file index and re-reads footers on EVERY call — pure
    * per-serving-call floor for frames that change only when the
    * store itself rewrites or extends them (the entry is invalidated
    * on every write above). Same bounded-map shape and staleness
    * contract as Tables.readCache; a rewrite by ANOTHER process is
    * invisible until the manifest mismatch forces a local rebuild —
    * the single-writer contract already documented above.
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** [[readOrExtendValue]]'s folded values per (entry path, source
    * fingerprint).
    */
  private val valueCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()

  /** The rows behind each [[readOrExtendValue]] entry's value: entry
    * path to (source fingerprint, rows).
    */
  private val valueRows =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Row])]()
}
