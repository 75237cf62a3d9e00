package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the atomic publish-once fixture machinery: the rest of
  * the suite exercises it only through the operators that use it.
  */
class FixturesSpec extends AnyFunSuite {

  private def tmp(): Path = Fixtures.tempDirCleanedAtExit("graft_fixspec_")

  test("ensure builds once, marks completion, and is idempotent") {
    val dir = tmp().resolve("fx")
    var builds = 0
    def build(p: Path): Unit = {
      builds += 1
      Files.createDirectories(p)
      Files.write(p.resolve("data.txt"), "payload".getBytes)
    }
    Fixtures.ensure(dir)(build)
    Fixtures.ensure(dir)(build)
    assert(builds === 1, "second ensure must reuse the published dir")
    assert(Files.exists(dir.resolve("_COMPLETE")))
    assert(new String(Files.readAllBytes(dir.resolve("data.txt"))) === "payload")
  }

  test("ensure under concurrent callers: every caller sees a complete dir, no staging survives") {
    // 8 threads race the same unbuilt target with a deliberately slow
    // multi-file build: the doc-commented contract is that each caller
    // either publishes or loses the publish race to a COMPLETE dir —
    // never observes a half-written target, never leaks its staging copy
    val base = tmp()
    val target = base.resolve("artifact")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val callers = (1 to 8).map { _ =>
        Future {
          Fixtures.ensure(target) { staging =>
            builds.incrementAndGet()
            Files.createDirectories(staging)
            (1 to 5).foreach { i =>
              Files.write(staging.resolve(s"f$i"), Array(i.toByte))
              Thread.sleep(5)
            }
          }
        }
      }
      val dirs = Await.result(Future.sequence(callers),
        scala.concurrent.duration.Duration(120, "s"))
      assert(dirs.forall(_ == target))
    } finally pool.shutdown()
    assert(builds.get() >= 1)
    assert(Files.exists(target.resolve("_COMPLETE")))
    (1 to 5).foreach(i => assert(Files.exists(target.resolve(s"f$i")),
      s"published dir is missing f$i — a partial build escaped"))
    import scala.jdk.CollectionConverters._
    val leftovers = {
      val st = Files.list(base)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_ != "artifact").toList
      finally st.close()
    }
    assert(!leftovers.exists(_.contains("staging")),
      s"losing callers leaked staging dirs: $leftovers")
  }

  test("a legacy marker-less dir is retired and replaced by a complete build") {
    val dir = tmp().resolve("fx")
    Files.createDirectories(dir)
    Files.write(dir.resolve("stale.txt"), "partial".getBytes) // no _COMPLETE
    Fixtures.ensure(dir) { p =>
      Files.createDirectories(p)
      Files.write(p.resolve("fresh.txt"), "complete".getBytes)
    }
    assert(Files.exists(dir.resolve("_COMPLETE")), "legacy dir not replaced")
    assert(Files.exists(dir.resolve("fresh.txt")))
    assert(!Files.exists(dir.resolve("stale.txt")), "stale content must not survive")
  }

  test("a failed build leaves no staging dir behind and publishes nothing") {
    val parent = tmp()
    val dir = parent.resolve("fx")
    intercept[RuntimeException] {
      Fixtures.ensure(dir) { p =>
        Files.createDirectories(p)
        Files.write(p.resolve("half.txt"), "x".getBytes)
        throw new RuntimeException("disk full")
      }
    }
    assert(!Files.exists(dir), "failed build must not publish")
    val listing = Files.list(parent)
    val leftovers = try listing.toArray.toSeq finally listing.close()
    assert(leftovers.isEmpty, s"staging leaked: $leftovers")
    // and a later successful build still goes through
    Fixtures.ensure(dir) { p =>
      Files.createDirectories(p)
      Files.write(p.resolve("ok.txt"), "y".getBytes)
    }
    assert(Files.exists(dir.resolve("_COMPLETE")))
  }

  // --- schema-drift guard -------------------------------------------------
  // The driver regenerates /root/testdata between rounds and the physical
  // encoding of events.ts has already flipped once (TIMESTAMP(NANOS) →
  // timestamp[us], round 7 — broke 61 queries). Tables.apply must normalize
  // BOTH encodings to TimestampType; this test names the contract so the
  // next regeneration is caught here, not 61 queries deep.
  test("Tables.apply normalizes events.ts to TimestampType for any physical encoding") {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val s = TestSpark.spark
    val raw = s.read.parquet(s"${TestSpark.sf}/events.parquet").schema("ts").dataType
    assert(raw == LongType || raw == TimestampType || raw == TimestampNTZType,
      s"fixture events.ts has a NEW physical encoding $raw — teach Tables.apply to handle it")
    // The contract is classic TimestampType (LTZ), NOT TimestampNTZType:
    // consumers use unix_micros/Row.getTimestamp, which reject NTZ (round-8
    // post-mortem — the regenerated timestamp[us] fixture inferred NTZ and
    // broke 23 tests past the loader).
    val loaded = Tables(s, TestSpark.sf, "events").schema("ts").dataType
    assert(loaded == TimestampType,
      s"Tables.apply left events.ts as $loaded (raw was $raw) — " +
        "the loader must normalize every physical encoding to TimestampType")
  }

  /** A dataset dir holding one single-file table `t.parquet`. */
  private def dataset(base: Path, name: String): String = {
    val d = Files.createDirectories(base.resolve(name))
    Files.write(d.resolve("t.parquet"), name.getBytes)
    d.toString
  }

  private def touch(p: Path): Unit = {
    Files.createDirectories(p)
    Files.write(p.resolve("x"), Array[Byte](1))
  }

  /** A fresh family under tmpdir, deleted (and unregistered) afterwards. */
  private def withFamily(body: String => Unit): Unit = {
    val family = s"graft_test_fam_${java.util.UUID.randomUUID()}"
    val parent = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), family)
    try body(family)
    finally if (Files.exists(parent)) {
      val st = Files.list(parent)
      try st.forEach(p => Fixtures.removeFromExitCleanup(p)) finally st.close()
      org.apache.commons.io.FileUtils.deleteDirectory(parent.toFile)
    }
  }

  test("code digest of a classes dir: stable, and changed by one byte of one class file") {
    val dir = tmp()
    Files.createDirectories(dir.resolve("graft/ops"))
    Files.write(dir.resolve("graft/A.class"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("graft/ops/B.class"), Array[Byte](4, 5, 6))
    val d0 = Fixtures.codeDigest(dir)
    assert(d0.matches("[0-9a-f]{16}"))
    assert(Fixtures.codeDigest(dir) === d0, "digest must be stable when nothing changes")
    Files.write(dir.resolve("graft/ops/B.class"), Array[Byte](4, 5, 7))
    assert(Fixtures.codeDigest(dir) !== d0, "one changed byte must change the digest")
  }

  test("code digest of a jar: stable, and changed by one byte of one class file") {
    def writeJar(p: Path, b: Array[Byte]): Unit = {
      val out = new java.util.jar.JarOutputStream(Files.newOutputStream(p))
      try {
        val e = new java.util.jar.JarEntry("graft/A.class")
        e.setTime(0L)
        out.putNextEntry(e)
        out.write(b)
        out.closeEntry()
      } finally out.close()
    }
    val jar = tmp().resolve("engine.jar")
    writeJar(jar, Array[Byte](1, 2, 3))
    val d0 = Fixtures.codeDigest(jar)
    assert(Fixtures.codeDigest(jar) === d0, "digest must be stable when nothing changes")
    writeJar(jar, Array[Byte](1, 2, 4))
    assert(Fixtures.codeDigest(jar) !== d0, "one changed byte must change the digest")
  }

  test("ensureDerived: families over one table get distinct dirs and keys; a regenerated table moves the dir") {
    withFamily { famA =>
      withFamily { famB =>
        val d = dataset(tmp(), "ds")
        def build(p: Path): Unit = touch(p)
        val a = Fixtures.ensureDerived(famA, d, "t")(build)
        val b = Fixtures.ensureDerived(famB, d, "t")(build)
        assert(a !== b)
        assert(a.getFileName === b.getFileName, "same code and data: same tag")
        assert(Fixtures.derivedKey(famA, d, "t") !== Fixtures.derivedKey(famB, d, "t"),
          "the family must stay in the cache key")
        assert(Fixtures.derivedDir(famA, d, "t") === a)
        // regenerate the source table: new size, so a new fingerprint
        Files.write(java.nio.file.Paths.get(d, "t.parquet"), "regenerated".getBytes)
        val a2 = Fixtures.ensureDerived(famA, d, "t")(build)
        assert(a2 !== a, "a regenerated source table must get a new dir")
        assert(Fixtures.isPendingExitCleanup(a), "the superseded build must be swept at exit")
      }
    }
  }

  test("sweepSuperseded registers only stale same-artifact tags for exit cleanup") {
    withFamily { family =>
      val base = tmp()
      val dX = dataset(base, "dsX")
      // sanitization collision: "ds.X" and "ds_X" share a sanitized name
      // but not the raw-path identity hash — the other dataset's LIVE
      // artifact must never be registered (the r10 review finding)
      val dDot = dataset(base, "ds.X")
      val dUnderscore = dataset(base, "ds_X")
      val dY = dataset(base, "dsY")
      def build(p: Path): Unit = touch(p)
      val otherDataset = Fixtures.ensureDerived(family, dY, "t")(build)
      val collision = Fixtures.ensureDerived(family, dUnderscore, "t")(build)
      // the live tag of dsX is <prefix><code digest>_<fingerprint>
      val liveDir = Fixtures.derivedDir(family, dX, "t")
      val parent = liveDir.getParent
      val name = liveDir.getFileName.toString
      val (head, fp) = name.splitAt(name.lastIndexOf('_') + 1)
      val (prefix, code) = head.dropRight(1).splitAt(head.dropRight(1).lastIndexOf('_') + 1)
      def flip(hex: String) = (if (hex.head == '0') "1" else "0") + hex.tail
      val staleFp = parent.resolve(s"$prefix${code}_${flip(fp)}")
      val staleCode = parent.resolve(s"$prefix${flip(code)}_$fp")
      val inFlight = parent.resolve(s"${name}_staging_e")
      // a tag in an older naming scheme (a version string in front)
      val otherScheme = parent.resolve(s"v1_$name")
      Seq(staleFp, staleCode, inFlight, otherScheme).foreach(touch)
      val live = Fixtures.ensureDerived(family, dX, "t")(build)
      assert(live === liveDir)
      Fixtures.ensureDerived(family, dDot, "t")(build)
      assert(Fixtures.isPendingExitCleanup(staleFp),
        "a superseded fingerprint of the same artifact must be swept at exit")
      assert(Fixtures.isPendingExitCleanup(staleCode),
        "a build by another engine digest of the same artifact must be swept at exit")
      // deferred, not deleted in place: a concurrent JVM may still scan it
      assert(Files.exists(staleFp) && Files.exists(staleCode))
      Seq(live, otherScheme, otherDataset, inFlight, collision).foreach { p =>
        assert(!Fixtures.isPendingExitCleanup(p),
          s"${p.getFileName} must NOT be swept (live / other scheme / other dataset / in-flight / sanitize-collision)")
      }
    }
  }

  test("PerSession: one value per session; clearMemo frees only its own session's frames") {
    import org.apache.spark.storage.StorageLevel
    val s = TestSpark.spark
    val other = s.newSession()
    val holder = new PerSession(_ => new Object)
    assert(holder(s) eq holder(s))
    assert(holder(other) eq holder(other))
    assert(holder(other) ne holder(s), "newSession() must get its own entry")
    // distinct plans: sessions share one cache manager, which keys by plan
    val mine = operators.LlmData.memo(s, "per_session_spec")(s.range(0, 7).toDF("x"))
    val theirs = operators.LlmData.memo(other, "per_session_spec")(other.range(0, 11).toDF("x"))
    try {
      assert(operators.LlmData.memo(s, "per_session_spec")(fail("rebuilt a live entry")) eq mine)
      assert(mine.storageLevel != StorageLevel.NONE && theirs.storageLevel != StorageLevel.NONE)
      operators.LlmData.clearMemo(s)
      assert(mine.storageLevel === StorageLevel.NONE, "clearMemo(s) must unpersist s's frames")
      assert(theirs.storageLevel !== StorageLevel.NONE,
        "clearMemo(s) must leave another live session's frames cached")
      assert(operators.LlmData.memo(other, "per_session_spec")(fail("lost the other entry")) eq theirs)
    } finally operators.LlmData.clearMemo(other)
  }
}
