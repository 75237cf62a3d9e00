package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** Atomic publish-once for staged artifacts under java.io.tmpdir (landing
  * zips, media PNGs, audio WAVs, indexes, pair tables, signatures).
  * [[ensureDerived]] is the one entry point: it keys each artifact by the
  * code and data that built it and sweeps the builds it supersedes.
  *
  * The previous pattern — `if (!exists(sentinelFile)) writeAll(dir)` — was
  * an unsynchronized check-then-write: a concurrent Verify/Bench/test JVM
  * could read the directory mid-build and see a partial fixture set. Here
  * the build lands in a process-unique staging dir, a `_COMPLETE` marker is
  * written LAST, and the whole dir is atomically renamed into place: readers
  * see either nothing or everything. First publisher wins; losers discard
  * their staging. A legacy marker-less dir (built by an older binary, or a
  * crashed partial) is swapped aside and replaced by the freshly-built
  * complete copy, so the tree self-heals to marker-verified state.
  */
object Fixtures {

  /** Temp dirs pending removal at JVM exit (session-lifetime artifacts —
    * staged events copies, per-JVM bucketed-table locations — that cannot
    * be deleted per query but must not accumulate in tmpdir across runs).
    */
  private val cleanupAtExit =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupAtExit.forEach { p =>
        try org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
        catch { case _: Throwable => () }
      }))

  def tempDirCleanedAtExit(prefix: String): Path = {
    exitHook
    val dir = Files.createTempDirectory(prefix)
    cleanupAtExit.add(dir)
    dir
  }

  /** Register an externally-created dir (e.g. under the streaming root
    * `SPARK_GRAFT_STREAM_CKPT_ROOT`) for exit-time deletion — the
    * crash-safety net behind the streaming harness's transient checkpoint
    * dirs.
    */
  def registerForExitCleanup(dir: Path): Unit = {
    exitHook
    cleanupAtExit.add(dir)
  }

  /** For dirs already removed on the normal path — keeps the hook's set small. */
  def removeFromExitCleanup(dir: Path): Unit = cleanupAtExit.remove(dir)

  /** Test seam: whether a path is registered for exit-time deletion. */
  private[graft] def isPendingExitCleanup(p: Path): Boolean =
    cleanupAtExit.contains(p)

  /** Digest of the engine's own compiled code: the classes dir or jar that
    * holds this object, computed once per JVM. Part of every staged
    * artifact's identity, so a changed derivation (an algorithm, a
    * parameter, a schema) can never be served from a dir an older build
    * published — any recompile rebuilds staged artifacts on first touch.
    */
  private lazy val engineDigest: String = {
    val src = Option(getClass.getProtectionDomain.getCodeSource).getOrElse(
      throw new IllegalStateException(
        "graft.Fixtures was loaded without a code source; staged artifacts " +
          "need the engine's classes dir or jar on the classpath"))
    codeDigest(Paths.get(src.getLocation.toURI))
  }

  /** Content digest of a classes dir (every regular file: relative path,
    * size, bytes) or of a jar (its bytes), as 16 hex chars.
    */
  private[graft] def codeDigest(location: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    if (Files.isDirectory(location)) leaves(location).foreach { f =>
      md.update(s"${location.relativize(f)}\u0000${Files.size(f)}\u0000"
        .getBytes(UTF_8))
      md.update(Files.readAllBytes(f))
    } else md.update(Files.readAllBytes(location))
    hex16(md.digest())
  }

  /** Fingerprint of the source tables' LEAF parquet files (relative path,
    * size, mtime — recursed when a table is a directory of part-files): a
    * regenerated fixture changes it.
    */
  private[graft] def tablesFingerprint(d: String, tables: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    tables.foreach { table =>
      val src = Paths.get(d, s"$table.parquet")
      md.update(s"$table\u0000".getBytes(UTF_8))
      leaves(src).foreach(p => md.update((s"${src.relativize(p)}\u0000" +
        s"${Files.size(p)}\u0000${Files.getLastModifiedTime(p).toMillis}\u0000")
          .getBytes(UTF_8)))
    }
    hex16(md.digest())
  }

  private def leaves(root: Path): Seq[Path] = {
    val st = Files.walk(root)
    try st.filter(Files.isRegularFile(_)).sorted()
      .toArray.toSeq.map(_.asInstanceOf[Path])
    finally st.close()
  }

  private def hex16(digest: Array[Byte]): String =
    digest.take(8).map("%02x".format(_)).mkString

  /** Dir name of a derived artifact inside its family dir: the dataset
    * prefix, the engine digest and, when the artifact has source tables,
    * their fingerprint.
    */
  private def datasetTag(d: String, tables: Seq[String]): String =
    datasetPrefix(d) + engineDigest +
      (if (tables.isEmpty) "" else "_" + tablesFingerprint(d, tables))

  /** What follows [[datasetPrefix]] in every tag: one or two digests. */
  private val tagTail = "[0-9a-f]{16}(_[0-9a-f]{16})?"

  /** Hex of the RAW source dir's hashCode + the sanitized dir, underscore
    * terminated; empty for code-only fixtures. The identity hash makes the
    * prefix injective where sanitization is not ("/sf0.1" and "/sf0_1"
    * share a sanitized name), which [[sweepSuperseded]] depends on: it
    * must match THIS dataset's builds only, never a sibling dataset whose
    * live artifact would otherwise be registered for deletion. The hash
    * comes first because Spark skips any path whose name starts with `_`,
    * as a sanitized absolute path does.
    */
  private def datasetPrefix(d: String): String =
    if (d.isEmpty) ""
    else {
      val idHex = java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
      s"${idHex}_${d.replaceAll("[^a-zA-Z0-9]", "_")}_"
    }

  /** Where [[ensureDerived]] publishes `family` over `tables` of dataset
    * `d`: `$tmpdir/$family/<tag>`.
    */
  private[graft] def derivedDir(family: String, d: String,
      tables: String*): Path =
    Paths.get(sys.props("java.io.tmpdir"), family, datasetTag(d, tables))

  /** The same identity as [[derivedDir]] without the tmpdir, for
    * JVM-lifetime model caches: a cached model and the staged artifact
    * built from it are invalidated together. The family stays in the key,
    * so two artifacts over the same table never share an entry.
    */
  private[graft] def derivedKey(family: String, d: String,
      tables: String*): String =
    s"$family/${datasetTag(d, tables)}"

  /** The one way to stage an artifact: build-once home for `family`
    * derived from `tables` of dataset `d` (none for a code-only fixture),
    * keyed by the engine digest and the tables' fingerprint, published
    * through [[ensure]]. Superseded builds of the same family and dataset
    * are swept by [[sweepSuperseded]].
    */
  def ensureDerived(family: String, d: String, tables: String*)(
      build: Path => Unit): Path = {
    val dir = ensure(derivedDir(family, d, tables: _*))(build)
    sweepSuperseded(dir, d)
    dir
  }

  /** [[ensureDerived]] for a code-only fixture (no source table). */
  def ensureDerived(family: String)(build: Path => Unit): Path =
    ensureDerived(family, "")(build)

  /** Register stale siblings of a live artifact for exit-time deletion:
    * same family + dataset identity (sanitized name AND raw-path hash —
    * see [[datasetPrefix]]), a different fingerprint or engine digest —
    * i.e. builds against a fixture generation or an engine build that no
    * longer exists. Other datasets' tags never match the identity prefix,
    * and the remainder must parse as bare digests, so a sibling dataset's
    * LIVE artifact and in-flight `_staging_` dirs are never registered.
    *
    * Deferral to exit time protects THIS JVM's in-flight lazy scans over
    * the old tag; it is best-effort toward OTHER JVMs (one that started
    * before the regeneration and outlives this process can still lose
    * the files at our exit). That is accepted single-host dev-harness
    * hygiene — the staged artifacts are rebuildable caches; a cluster
    * deployment manages index retention as a lifecycle policy, not a
    * tmpdir sweep.
    */
  private def sweepSuperseded(live: Path, d: String): Unit = {
    val prefix = datasetPrefix(d)
    val st = Files.list(live.getParent)
    try st.forEach { p =>
      val n = p.getFileName.toString
      if (p != live && n.startsWith(prefix) &&
        n.drop(prefix.length).matches(tagTail)) {
        exitHook
        cleanupAtExit.add(p)
      }
    } finally st.close()
  }

  /** Publish-once of one dir, under [[ensureDerived]]. */
  private[graft] def ensure(dir: Path)(build: Path => Unit): Path = {
    if (!Files.exists(dir.resolve("_COMPLETE"))) {
      val staging = dir.resolveSibling(
        s"${dir.getFileName}_staging_${java.util.UUID.randomUUID()}")
      try {
        build(staging)
        Files.createFile(staging.resolve("_COMPLETE"))
        // re-check the marker RIGHT BEFORE retiring: a concurrent publisher
        // may have landed a complete dir since our first check, and moving
        // that aside would yank files out from under its lazy Spark scans
        if (!publish(staging, dir) && !Files.exists(dir.resolve("_COMPLETE"))) {
          // target exists but is legacy/partial: retire it, then try once
          // more (retired copies are swept at JVM exit, not leaked)
          val retired = dir.resolveSibling(
            s"${dir.getFileName}_retired_${java.util.UUID.randomUUID()}")
          try {
            Files.move(dir, retired, StandardCopyOption.ATOMIC_MOVE)
            cleanupAtExit.add(retired)
          } catch { case _: java.nio.file.FileSystemException => } // raced: other mover won
          exitHook
          publish(staging, dir)
        }
      } finally {
        // covers build/marker failures AND the lost-publish case — a
        // staging dir must never outlive the attempt that created it
        if (Files.exists(staging))
          org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
      }
    }
    dir
  }

  /** Atomic rename; false when the target already exists (concurrent winner
    * or legacy dir).
    */
  private def publish(staging: Path, dir: Path): Boolean =
    try {
      Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
      true
    } catch { case _: java.nio.file.FileSystemException => false }
}
