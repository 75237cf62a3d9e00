package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SessionArtifacts, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpTransport, JdkHttpTransport, PipelineIngest, PipelineMain, Transfer, Zip}

/** Integration test for the composed driver: both reference DAG chains run
  * end-to-end over real HTTP (stub Dock API + production JdkHttpTransport),
  * the real landing fixtures, the distributed transfer, and the ingest
  * core — the chain at script-dag-dock-report:263-269 as one program.
  */
class PipelineMainSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  private def withStubApi[A](landing: java.nio.file.Path)(
      body: String => A): A = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    // first auth/report attempts fail: the chain must survive via Retry
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/oauth2/token", (ex: HttpExchange) =>
      if (flaky.getAndIncrement() == 0) reply(ex, "{}") // missing token → retry
      else reply(ex, """{"access_token": "tok-it"}"""))
    server.createContext("/report", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (q.contains("ticket=")) reply(ex, """{"file": "balance_00.zip"}""")
      else reply(ex, """{"ticket": "T-42"}""")
    })
    server.createContext("/accounts", (ex: HttpExchange) => {
      val acct = ex.getRequestURI.getPath.split("/")(2)
      val idx = math.abs(acct.hashCode) % 4
      reply(ex, s"""{"fileName": "balance_0$idx.zip"}""")
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("q_source_gzip_roundtrip actually lands gzip files (no silent codec fallback)") {
    val out = sources.PipelineIngest.queries("q_source_gzip_roundtrip")(
      s, TestSpark.sf).collect()
    assert(out.nonEmpty)
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_out", "q_source_gzip")
    val st = java.nio.file.Files.list(dir)
    val dataFiles =
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).toList
      } finally st.close()
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall(_.endsWith(".json.gz")),
      s"codec must land as .json.gz, saw: $dataFiles")
  }

  test("report DAG runs end-to-end and lands the exact fixture aggregate") {
    val landing = Zip.landingFixtures()
    val workDir = Fixtures.tempDirCleanedAtExit("graft_pipeline_it_")
    val got = withStubApi(landing) { base =>
      PipelineMain.runReportDag(s, new JdkHttpTransport(), base,
        "client", "secret", landing, workDir,
        java.time.LocalDate.of(2024, 1, 5), retryDelayMs = 10)
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          BigDecimal(r.getDouble(2)).setScale(2)))
    }
    // same formula that generates the fixtures (integer cents → exact)
    val want = (0 until 4).map { dayIdx =>
      val cents = (0 until 1000).filter(_ % 4 == dayIdx)
        .map(i => (i * 37) % 1000).sum
      (f"2024-01-${1 + dayIdx}%02d", 250L,
        BigDecimal(cents).setScale(2) / 100)
    }
    assert(got.toSeq === want)
    // the transfer stage really ran: the transferred copy is on disk
    assert(Files.exists(workDir.resolve("transferred").resolve("balance_00.zip")))
  }

  /** Runs the report DAG on `f` with `stale` pre-landed in the transfer
    * destination and returns the gate's failure message, asserting that
    * the ingest never started. */
  private def gateFailure(f: SparkSession, stale: Option[String]): String = {
    val landing = Zip.landingFixtures()
    val workDir = Fixtures.tempDirCleanedAtExit("graft_gate_")
    stale.foreach { n =>
      Files.createDirectories(workDir.resolve("transferred"))
      Files.write(workDir.resolve("transferred").resolve(n), "stale".getBytes)
    }
    val e = intercept[IllegalArgumentException] {
      withStubApi(landing) { base =>
        PipelineMain.runReportDag(f, new JdkHttpTransport(), base,
          "client", "secret", landing, workDir,
          java.time.LocalDate.of(2024, 1, 5), retryDelayMs = 10)
      }
    }
    assert(!Files.exists(workDir.resolve("report_out")), "ingest ran past a failed gate")
    e.getMessage
  }

  test("the integrity gate fails the report DAG on a stale destination-only file") {
    val msg = gateFailure(s, stale = Some("balance_99.zip"))
    assert(msg.contains("1 file(s) failed transfer integrity"), msg)
  }

  test("the integrity gate fails the report DAG when the destination lands other bytes") {
    // every file the copy writes through this session lands with its
    // first byte flipped
    val f = s.newSession()
    f.conf.set("fs.file.impl", classOf[FlipOnWriteFs].getName)
    f.conf.set("fs.file.impl.disable.cache", "true")
    val msg = gateFailure(f, stale = None)
    // all five landed files (4 archives + README) differ in content only
    assert(msg.contains("5 file(s) failed transfer integrity"), msg)
  }

  test("transferDir flags a destination-only file with NULL matches") {
    val landing = Zip.landingFixtures()
    val dst = Fixtures.tempDirCleanedAtExit("graft_stray_").resolve("dst")
    Files.createDirectories(dst)
    Files.write(dst.resolve("zz_stray.bin"), "x".getBytes)
    Files.write(dst.resolve("_hidden"), "x".getBytes) // Spark's hidden-file rule
    val rows = Transfer.transferDir(s, landing.toString, dst.toString).collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows === (Seq("README.txt") ++ (0 until 4).map(i => f"balance_$i%02d.zip"))
      .sorted.map(n => (n, Some(true), Some(true))) :+ (("zz_stray.bin", None, None)))
  }

  test("report DAG stages keep their job budgets on the landing fixtures") {
    val landing = Zip.landingFixtures()
    val work = Fixtures.tempDirCleanedAtExit("graft_budget_")
    val transferred = work.resolve("transferred").toString
    // the stages of runReportDag after the sensor, in its order
    val transfer = TestSpark.ran(s) {
      assert(Transfer.unproven(Transfer.transferDir(s, landing.toString, transferred)).isEmpty)
    }
    var landed: DataFrame = null
    val ingest = TestSpark.ran(s) {
      landed = PipelineIngest.ingestLanding(s, transferred, work.resolve("out").toString)
    }
    val readBack = TestSpark.ran(s)(landed.collect())
    assert(transfer.jobs === 1, "copy, integrity proof and gate run as one job")
    assert(ingest.jobs === 1, "the ingest lands the day in one job")
    assert(readBack.jobs === 2, "the per-day aggregate reads back in a map stage and a result")
    val inferring = (ingest.callSites ++ readBack.callSites).filter(_.contains("inferSchema"))
    assert(inferring.isEmpty, s"the read-back inferred a schema:\n${inferring.mkString("\n")}")
    // the backfill's read-back passes its schema too
    val backfill = TestSpark.ran(s) {
      PipelineMain.backfillDays(s, TestSpark.sf, work.resolve("lake").toString,
        java.time.LocalDate.of(1990, 1, 1), 1).collect()
    }
    assert(!backfill.callSites.exists(_.contains("inferSchema")),
      "the backfill read-back inferred a schema")
  }

  test("ingest drops short, blank and malformed lines; keeps what split + try_cast keeps") {
    val lines = Seq(
      "1,2024-01-01,1.50",
      "2,2024-01-01",                   // short: two fields
      "",                               // blank
      "3,2024-01-01,2.25",
      "4,2024-01-01,3.00,",             // trailing comma: four fields, kept
      "5,2024-01-01,",                  // trailing comma: empty amount
      ",,",                             // three empty fields
      " 6 ,2024-01-01, 4.50 ",          // whitespace-padded numbers
      "7, 2024-01-01,1.00",             // whitespace-padded day
      "8,2024-01-02,5.5,extra,fields",
      "\u0669,2024-01-01,1.00",          // Arabic-Indic digit nine
      "9,２０２４-01-01,1.00",           // fullwidth digits in the day
      "10,2024-01-01,\uFF11.5",          // fullwidth digit in the amount
      "11,2024-01-01,1e3",
      "12,2024-01-01,-0.5",
      "x13,2024-01-01,1.00",
      "14,2024-01-01,notanumber",
      "é,ü,ß",
      "15")
    val dir = Fixtures.tempDirCleanedAtExit("graft_short_")
    Files.write(dir.resolve("day.zip"),
      Zip.zip(Seq(("day.csv", ("id,day,amount" +: lines).mkString("\n").getBytes("UTF-8")))))
    import s.implicits._
    val want = lines.toDF("line")
      .withColumn("parts", split(col("line"), ","))
      .where(size(col("parts")) >= 3)
      .select(expr("try_cast(parts[0] AS BIGINT)").as("id"), col("parts")(1).as("day"),
        expr("try_cast(parts[2] AS DOUBLE)").as("amount"))
      .where(col("id").isNotNull && col("day").rlike("^\\d{4}-\\d{2}-\\d{2}$") &&
        col("amount").isNotNull)
      .as[(Long, String, Double)].collect().toSeq
    val got = PipelineIngest.parseLanding(s, dir.toString)
      .as[(Long, String, Double)].collect().toSeq
    assert(got.sortBy(_._1) === want.sortBy(_._1))
    assert(got.map(_._1).sorted === Seq(1L, 3L, 4L, 6L, 8L, 11L, 12L))
    // the whole ingest lands them under ANSI mode instead of failing
    val days = PipelineIngest.ingestLanding(s, dir.toString, dir.resolve("out").toString)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(days === Seq(("2024-01-01", 6L), ("2024-01-02", 1L)))
  }

  test("statements DAG fans out per account and senses every landed file") {
    val landing = Zip.landingFixtures()
    val rows = withStubApi(landing) { base =>
      PipelineMain.runStatementsDag(s, new JdkHttpTransport(), base,
        "client", "secret", Seq("acct-a", "acct-b"), landing,
        java.time.LocalDate.of(2024, 1, 5), retryDelayMs = 10)
        .collect()
    }
    assert(rows.map(_.getString(0)).toSeq === Seq("acct-a", "acct-b"))
    rows.foreach { r =>
      assert(r.getString(1).matches("balance_0[0-3]\\.zip"))
      assert(r.getLong(2) > 0)
    }
  }

  test("statements DAG returns Spark's string order without a sort job") {
    // every account lands the same fixture archive; no HTTP involved
    val http = new HttpTransport {
      override def fetch(url: String, basicAuth: Option[(String, String)],
          headers: Map[String, String]): String =
        if (url.endsWith("/oauth2/token")) """{"access_token": "tok"}"""
        else """{"fileName": "balance_00.zip"}"""
    }
    // U+FFFD sorts after the surrogate pair of U+1F600 in UTF-16 and
    // before it in UTF-8, Spark's string order
    val ids = Seq("\uD83D\uDE00", "acct-b", "\uFFFD", "acct-a")
    var got: DataFrame = null
    var rows: Seq[String] = Nil
    val ran = TestSpark.ran(s) {
      got = PipelineMain.runStatementsDag(s, http, "http://stub", "client", "secret", ids,
        Zip.landingFixtures(), java.time.LocalDate.of(2024, 1, 5), retryDelayMs = 10)
      rows = got.collect().map(_.getString(0)).toSeq
    }
    assert(ran.jobs <= 1, s"the statements DAG ran ${ran.jobs} jobs")
    val sparkOrder = got.orderBy("account_id").collect().map(_.getString(0)).toSeq
    assert(rows === sparkOrder)
    assert(rows === Seq("acct-a", "acct-b", "\uFFFD", "\uD83D\uDE00"))
    assert(rows !== ids.sorted, "the ids must tell UTF-16 order from UTF-8 order")
  }

  /** The calendar days the sf0.001 `events` fixture contains, in order. */
  private def fixtureDays: Seq[java.time.LocalDate] = {
    val days = Tables(s, TestSpark.sf, "events")
      .select(to_date(col("ts")).as("day")).distinct().orderBy("day")
      .collect().map(_.getDate(0).toLocalDate).toSeq
    assert(days.length >= 3, "fixture must span at least 3 days")
    days
  }

  test("backfill lands its range in one write job over one scan of events") {
    val days = fixtureDays
    val out = Fixtures.tempDirCleanedAtExit("graft_backfill_budget_")
      .resolve("lake").toString
    val from = days.head
    val span = (days(2).toEpochDay - from.toEpochDay + 1).toInt
    var audit: DataFrame = null
    val write = TestSpark.ran(s) {
      audit = PipelineMain.backfillDays(s, TestSpark.sf, out, from, span)
    }
    val readBack = TestSpark.ran(s)(audit.collect())
    assert(write.jobs === 1, s"the backfill of $span days ran ${write.jobs} write jobs")
    val scans = write.plans.flatMap(_.split("\n"))
      .filter(l => l.contains("FileScan parquet") && l.contains("events.parquet"))
    assert(scans.size === 1, s"scans of events:\n${scans.mkString("\n")}")
    assert(readBack.jobs === 2, "the audit reads back in a map stage and a result")
  }

  test("backfill keeps days outside the range and in-range days without events") {
    val days = fixtureDays
    val lake = Fixtures.tempDirCleanedAtExit("graft_backfill_scope_").resolve("lake")
    val (outside, last) = (days.head, days.last)
    val empty = last.plusDays(1) // in the range below, no events on it
    // seed both days with the outside day's events
    val seed = Tables(s, TestSpark.sf, "events")
      .select(col("event_id"), col("event_type"), col("value"), to_date(col("ts")).as("day"))
      .where(col("day") === java.sql.Date.valueOf(outside))
    seed.union(seed.withColumn("day", lit(java.sql.Date.valueOf(empty))))
      .write.partitionBy("day").parquet(lake.toString)
    def files(day: java.time.LocalDate): Map[String, Seq[Byte]] = {
      val dir = lake.resolve(s"day=$day")
      val st = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
      } finally st.close()
    }
    val before = Seq(outside, empty).map(d => d -> files(d)).toMap
    assert(before.values.forall(_.nonEmpty))
    val audit = PipelineMain.backfillDays(s, TestSpark.sf, lake.toString, last, nDays = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(outside, empty).foreach { d =>
      assert(files(d) === before(d), s"the backfill rewrote $d")
    }
    val landed = Tables(s, TestSpark.sf, "events")
      .where(to_date(col("ts")) === java.sql.Date.valueOf(last)).count()
    assert(audit(last.toString) === landed)
    assert(audit.keySet === Set(outside, last, empty).map(_.toString))
  }

  test("backfill lands a 3-day range idempotently") {
    val d = TestSpark.sf
    val out = Fixtures.tempDirCleanedAtExit("graft_backfill_")
      .resolve("lake").toString
    val days = fixtureDays
    val from = days.head
    val span = (days(2).toEpochDay - from.toEpochDay + 1).toInt
    val first = PipelineMain.backfillDays(s, d, out, from, span)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the lake holds exactly the backfilled days, with the fixture's values
    val want = Tables(s, d, "events")
      .select(col("event_id"), col("value"), to_date(col("ts")).as("day"))
      .where(col("day").between(
        java.sql.Date.valueOf(from), java.sql.Date.valueOf(days(2))))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0)).cast("long").as("sum_cents"))
      .withColumn("day", col("day").cast("string")).orderBy("day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(first === want)
    assert(first.map(_._1).toSet ===
      days.take(3).map(_.toString).toSet,
      "the lake must contain ONLY the backfilled range")
    // IDEMPOTENCE: a second full backfill over the same range re-overwrites
    // each day with identical content — byte-identical terminal state
    val second = PipelineMain.backfillDays(s, d, out, from, span)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(second === first)
  }

  test("every pipeline entry point opts a fresh isolated session out of artifact isolation") {
    val key = "spark.sql.artifact.isolation.enabled"
    // a fresh session reads isolation as a default Spark 4 session does;
    // after the call the key reads false and the session ran unisolated
    def assertAdopts(name: String)(run: SparkSession => Any): Unit = {
      val f = s.newSession()
      f.conf.set(key, "true")
      run(f)
      assert(f.conf.get(key) === "false", s"$name left isolation on")
      assert(!SessionArtifacts.isolated(f), s"$name ran its session isolated")
    }
    val landing = Zip.landingFixtures()
    val work = Fixtures.tempDirCleanedAtExit("graft_adopt_")
    val today = java.time.LocalDate.of(2024, 1, 5)
    withStubApi(landing) { base =>
      assertAdopts("runReportDag")(PipelineMain.runReportDag(_, new JdkHttpTransport(), base,
        "client", "secret", landing, work.resolve("report"), today, retryDelayMs = 10))
      assertAdopts("runStatementsDag")(PipelineMain.runStatementsDag(_, new JdkHttpTransport(),
        base, "client", "secret", Seq("acct-a"), landing, today, retryDelayMs = 10))
    }
    assertAdopts("backfillDays")(PipelineMain.backfillDays(_, TestSpark.sf,
      work.resolve("lake").toString, java.time.LocalDate.of(1990, 1, 1), 1))
    assertAdopts("transferDir")(Transfer.transferDir(_, landing.toString,
      work.resolve("copy").toString))
    assertAdopts("ingestLanding")(PipelineIngest.ingestLanding(_, landing.toString,
      work.resolve("ingest").toString))
  }

  test("backfill of a range with no source events returns an empty audit, not a crash") {
    val d = TestSpark.sf
    val out = Fixtures.tempDirCleanedAtExit("graft_backfill_empty_")
      .resolve("lake").toString
    // a decade before the fixture's span: every per-day landing is an empty
    // dynamic overwrite, so no parquet footer ever exists to read back —
    // the documented all-days-empty no-op must still produce the audit shape
    val audit = PipelineMain.backfillDays(
      s, d, out, java.time.LocalDate.of(1990, 1, 1), nDays = 3)
    assert(audit.columns.toSeq === Seq("day", "n", "sum_cents"))
    assert(audit.count() === 0L)
  }
}

/** The local filesystem, except that every file it creates lands with its
  * first byte flipped: a destination that corrupts what it is sent. */
class FlipOnWriteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  private def flipFirst(out: java.io.OutputStream): java.io.OutputStream =
    new java.io.FilterOutputStream(out) {
      private var first = true
      override def write(b: Int): Unit = {
        out.write(if (first) b ^ 1 else b)
        first = false
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        if (first && len > 0) {
          write(b(off) & 0xff)
          out.write(b, off + 1, len - 1)
        } else out.write(b, off, len)
    }
  override protected def createOutputStream(f: org.apache.hadoop.fs.Path,
      append: Boolean): java.io.OutputStream =
    flipFirst(super.createOutputStream(f, append))
  override protected def createOutputStreamWithMode(f: org.apache.hadoop.fs.Path,
      append: Boolean, permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream =
    flipFirst(super.createOutputStreamWithMode(f, append, permission))
}
