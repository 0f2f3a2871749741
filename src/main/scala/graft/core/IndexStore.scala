package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * matches the SOURCE parquet fingerprint — every data file's name,
  * size, and mtime — plus whatever the caller bakes into the store
  * name (build parameters, format version). That is the
  * pipeline-metadata versioning real deployments use. Source CONTENT
  * is deliberately not hashed: a content hash costs a full source
  * scan, the very pass the prebuilt index exists to avoid, so a
  * mutation that preserves name+size+mtime of every part file is
  * undetectable here (as it is for any mtime-based build system).
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

  /** Deterministic fingerprint of a source parquet file or directory:
    * MD5 over the sorted (path-relative-to-root, size, mtime) of
    * every regular file under it. Driver-side stat calls only — no
    * data scan. The RELATIVE path (not just the basename) is part of
    * the print: partitioned sources reuse file names across partition
    * dirs (`p=0/part-00000`, `p=1/part-00000`), so a bare-name print
    * could not see same-named files moved between partitions.
    */
  def sourceFingerprint(path: String): String = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    val rootPath = root.toPath
    val parts = walk(root).map { f =>
      val rel =
        if (f == root) f.getName
        else rootPath.relativize(f.toPath).toString
      s"$rel:${f.length}:${f.lastModified}"
    }
    md5hex(parts.mkString("|"))
  }

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
    val dir = new java.io.File(baseDir, name)
    val meta = new java.io.File(dir, "_graft_manifest")
    val data = new java.io.File(dir, "data")
    val fresh = !force && meta.isFile && data.exists() &&
      scala.util.Try(java.nio.file.Files.readString(meta.toPath))
        .toOption.contains(fingerprint)
    if (!fresh) {
      java.nio.file.Files.createDirectories(dir.toPath)
      if (meta.exists()) meta.delete()
      // REBALANCE before the write (guide §6): the build plan's
      // partitioning is whatever made the BUILD pass parallel (e.g.
      // the kernelFloor round-robin that spreads a one-split corpus
      // encode across cores), which at small scale wrote one tiny
      // part file PER CORE — r21's ivfpq/dsir entries landed as 32
      // near-empty files, and every force-rebuild (ann_ivfpq_build)
      // and first read paid the per-file commit/listing/footer floor
      // (idle board: build 1.30 s vs 0.78 in r20). AQE coalesces the
      // rebalance exchange to the advisory partition size, so a small
      // index writes ~1 file while a corpus-sized one still writes in
      // parallel at ~advisory-sized files; the exchange itself moves
      // only the compact artifact, never the corpus. Spark resolves the
      // hint only under AQE (elsewhere it logs `Unrecognized hint` and
      // writes one file per build partition), so an AQE-off session
      // sizes the same exchange itself: the plan's own size estimate
      // over the advisory size, capped at the session's parallelism.
      // An exchange, not a coalesce: a coalesce would also narrow the
      // build's last stage (e.g. a kernelFloor-spread encode) to that
      // many tasks.
      val built = build
      val conf = built.sparkSession.sessionState.conf
      val sized =
        if (conf.adaptiveExecutionEnabled) built.hint("rebalance")
        else {
          val advisory = conf.getConf(
            org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
          val bytes = built.queryExecution.optimizedPlan.stats.sizeInBytes
          built.repartition(((bytes + advisory - 1) / advisory)
            .min(spark.sparkContext.defaultParallelism).max(1).toInt)
        }
      sized.write.mode("overwrite").parquet(data.getPath)
      java.nio.file.Files.writeString(meta.toPath, fingerprint)
      readCache.remove((spark, data.getPath))
    }
    if (readCache.size > 512) readCache.clear()
    readCache.computeIfAbsent((spark, data.getPath),
      key => key._1.read.parquet(key._2))
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
    * per-serving-call floor for frames that change only when
    * [[readOrBuild]] itself rewrites them (the entry is invalidated
    * on rebuild above). Same bounded-map shape and staleness contract
    * as Tables.readCache; a rewrite by ANOTHER process is invisible
    * until the manifest mismatch forces a local rebuild — the
    * single-writer contract already documented above.
    */
  private val readCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
}
