package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** Direct tests of the atomic publish-once fixture machinery: the rest of
  * the suite exercises it only through the operators that use it.
  */
class FixturesSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("graft_fixspec_")

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

  test("sweepSuperseded registers only stale same-artifact tags for exit cleanup") {
    val family = s"graft_test_sweep_${java.util.UUID.randomUUID()}"
    val parent = Files.createDirectories(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"), family))
    def idHex(d: String): String =
      java.lang.Long.toHexString(d.hashCode.toLong & 0xffffffffL)
    val pX = s"v1_dsX_${idHex("dsX")}_"
    try {
      val live = Files.createDirectories(parent.resolve(pX + "aaa"))
      val stale = Files.createDirectories(parent.resolve(pX + "bbb"))
      val otherVersion = Files.createDirectories(
        parent.resolve(s"v2_dsX_${idHex("dsX")}_ccc"))
      val otherDataset = Files.createDirectories(
        parent.resolve(s"v1_dsY_${idHex("dsY")}_ddd"))
      val inFlight = Files.createDirectories(parent.resolve(pX + "staging_e"))
      // sanitization collision: "ds.X" and "ds_X" share a sanitized name
      // but not the raw-path identity hash — the other dataset's LIVE
      // artifact must never be registered (the r10 review finding)
      val collision = Files.createDirectories(
        parent.resolve(s"v1_ds_X_${idHex("ds_X")}_eee"))
      Fixtures.sweepSuperseded(family, "dsX", "v1", liveTag = pX + "aaa")
      Fixtures.sweepSuperseded(family, "ds.X", "v1",
        liveTag = s"v1_ds_X_${idHex("ds.X")}_fff")
      assert(Fixtures.isPendingExitCleanup(stale),
        "a superseded fingerprint of the same artifact must be swept at exit")
      // deferred, not deleted in place: a concurrent JVM may still scan it
      assert(Files.exists(stale))
      Seq(live, otherVersion, otherDataset, inFlight, collision).foreach { p =>
        assert(!Fixtures.isPendingExitCleanup(p),
          s"${p.getFileName} must NOT be swept (live / other scheme / other dataset / in-flight / sanitize-collision)")
      }
    } finally {
      Fixtures.removeFromExitCleanup(parent.resolve(pX + "bbb"))
      org.apache.commons.io.FileUtils.deleteDirectory(parent.toFile)
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
