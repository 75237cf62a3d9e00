package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftSession.{PartitionOverwriteMode, withConfs}

/** The two reference DAGs composed as one runnable driver program — the
  * chain the reference declares at script-dag-dock-report:263-269
  * (`auth >> request >> ticket >> sense >> transfer >> unzip >> ingest`)
  * and script-dag-dock-statements.py:240-245, each stage under the retry
  * policy (`default_args`, script-dag-dock-report:21-22) with the fire time
  * from the daily cron (script-dag-dock-report:227).
  *
  * Every stage is the engine's own operator: [[RestIngest]] over an
  * injectable [[HttpTransport]] (the [[JdkHttpTransport]] in production),
  * [[LandingSensor.await]] for the SFTP sensor, [[Transfer.transferDir]]
  * for the distributed byte-copy with in-engine integrity proof, and
  * [[PipelineIngest.ingestLanding]] for decompress→parse→validate→land.
  *
  * `main` is self-contained for this sandbox (no external endpoints
  * exist): it serves the Dock API shapes from an in-process HTTP stub and
  * drives BOTH DAGs through the real [[JdkHttpTransport]] over real
  * sockets, against the deterministic landing fixtures.
  */
object PipelineMain extends Logging {

  /** Balance-report DAG end-to-end. Returns the landed daily aggregate
    * (same shape as q_pipeline_ingest). `today` is a parameter so the
    * yesterday-window arithmetic (script-dag-dock-report:59) is
    * deterministic under test.
    */
  def runReportDag(s: SparkSession, http: HttpTransport, baseUrl: String,
      clientId: String, secret: String, landing: Path, workDir: Path,
      today: java.time.LocalDate, attempts: Int = 3,
      retryDelayMs: Long = 1000, sensorTimeoutMs: Long = 5000): DataFrame = {
    graft.GraftSession.adopt(s)
    val ingest = new RestIngest(http, baseUrl)
    // each REST stage under the reference's retry budget; the token is
    // re-acquired INSIDE each retried attempt (the reference
    // re-authenticates per task, script-dag-dock-report:97) — a token that
    // expires mid-DAG must not poison every remaining retry, which a
    // single token captured up front would
    val day = today.minusDays(1).toString
    val ticket = Retry.withRetry(attempts, retryDelayMs)(
      ingest.requestReport(ingest.authenticate(clientId, secret), day))
    val file = Retry.withRetry(attempts, retryDelayMs)(
      ingest.getTicketFile(ingest.authenticate(clientId, secret), ticket))
    logInfo(s"report DAG: day=$day ticket=$ticket file=$file")

    // sense_file on the EXACT file the ticket promised
    require(LandingSensor.await(landing.resolve(file),
      timeoutMs = sensorTimeoutMs, pokeIntervalMs = 250),
      s"landed file $file did not appear within the sensor timeout")

    // transfer_file: distributed copy + in-engine integrity proof; a
    // checksum mismatch aborts the run before ingest sees a byte
    val transferred = workDir.resolve("transferred")
    val broken = Transfer.unproven(
      Transfer.transferDir(s, landing.toString, transferred.toString))
    require(broken.isEmpty,
      s"${broken.size} file(s) failed transfer integrity: ${broken.mkString(", ")}")

    PipelineIngest.ingestLanding(s, transferred.toString,
      workDir.resolve("report_out").toString)
  }

  /** Statements DAG: fan the statement request out over the account list
    * (script-dag-dock-statements.py:240-245 runs one task per account),
    * re-authenticating in every attempt, and sense each produced file.
    * Returns one row per account id, in order, with its file and size.
    */
  def runStatementsDag(s: SparkSession, http: HttpTransport, baseUrl: String,
      clientId: String, secret: String, accountIds: Seq[String],
      landing: Path, today: java.time.LocalDate, attempts: Int = 3,
      retryDelayMs: Long = 1000, sensorTimeoutMs: Long = 5000): DataFrame = {
    graft.GraftSession.adopt(s)
    import s.implicits._
    val ingest = new RestIngest(http, baseUrl)
    val landed = accountIds.map { acct =>
      // token re-acquired inside each attempt (same rationale as the
      // report DAG): a stale token must not poison the retry budget
      val file = Retry.withRetry(attempts, retryDelayMs)(
        ingest.requestStatements(
          ingest.authenticate(clientId, secret), acct, today))
      require(LandingSensor.await(landing.resolve(file),
        timeoutMs = sensorTimeoutMs, pokeIntervalMs = 250),
        s"statements file $file for $acct did not appear")
      (acct, file, Files.size(landing.resolve(file)))
    }
    // Spark's string order (UTF-8 bytes, not String's UTF-16), sorted on the
    // driver so the frame stays local and returning it runs no sort job
    landed.sortBy(r => UTF8String.fromString(r._1)).toDF("account_id", "file", "bytes")
  }

  /** BACKFILL driver — the operational piece the reference leaves switched
    * off (`catchup=False`, script-dag-dock-report:228): deliberately re-land
    * a closed date range, leaving the lake as an Airflow backfill with
    * `max_active_runs=1` (script-dag-dock-report:229) over the reference's
    * per-day `replace=True` landing would:
    *
    *  - ONE WRITE — the range lands as one dynamic-partition overwrite: one
    *    job, one scan of `events`. If it fails, no day lands (one run per
    *    day kept the days before a failure); re-run the range.
    *  - PARTITION-SCOPED — it replaces exactly the days with source rows in
    *    the range (the `q_upsert_partition` primitive); every other day,
    *    in the range or not, keeps its files.
    *  - IDEMPOTENT — re-running any subrange overwrites those days with
    *    identical content.
    *
    * Returns the lake's per-day terminal state (count + exact cent sum),
    * the audit a backfill operator reads to confirm the re-land.
    */
  def backfillDays(s: SparkSession, sfDir: String, out: String,
      from: java.time.LocalDate, nDays: Int): DataFrame = {
    graft.GraftSession.adopt(s)
    require(nDays >= 1, s"backfill range must be non-empty, got $nDays")
    val ev = graft.Tables(s, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val last = from.plusDays(nDays - 1L)
    logInfo(s"backfill: landing $from..$last into $out")
    withConfs(s, PartitionOverwriteMode -> "dynamic") {
      ev.where(col("day").between(java.sql.Date.valueOf(from), java.sql.Date.valueOf(last)))
        .write.mode("overwrite").partitionBy("day").parquet(out)
    }
    // ONE audit shape for both exits — a schema change cannot silently
    // diverge the empty-range result from the normal one
    def audit(df: DataFrame): DataFrame = df
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0)).cast("long").as("sum_cents"))
      .withColumn("day", col("day").cast("string"))
      // one row per day: sorted in one task, not by a range shuffle
      .coalesce(1).sortWithinPartitions("day")
    // the read-back passes the schema just written, so it runs no
    // schema-inference job; a range whose every day landed zero rows may
    // leave no lake dir at all — the documented all-days-empty no-op — so
    // return the empty audit instead of letting the read throw
    try audit(s.read.schema(ev.schema).parquet(out))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("Path does not exist") =>
        audit(ev.limit(0))
    }
  }

  /** In-process Dock API stub serving the reference's response shapes, so
    * `main` exercises the production transport over real HTTP.
    */
  private def startStubApi(): com.sun.net.httpserver.HttpServer = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/oauth2/token",
      (ex: HttpExchange) => reply(ex, """{"access_token": "tok-stub"}"""))
    server.createContext("/report", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      if (q.contains("ticket=")) reply(ex, """{"file": "balance_00.zip"}""")
      else reply(ex, """{"ticket": "T-1"}""")
    })
    // statements: each account maps to one of the landed fixture archives
    server.createContext("/accounts", (ex: HttpExchange) => {
      val acct = ex.getRequestURI.getPath.split("/")(2)
      // floorMod: math.abs(Int.MinValue) is still negative — a hashCode of
      // Int.MinValue would otherwise mint a nonexistent file name
      val idx = java.lang.Math.floorMod(acct.hashCode, 4)
      reply(ex, s"""{"fileName": "balance_0$idx.zip"}""")
    })
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build("graft-pipeline", graft.GraftSession.cores)
    val landing = Zip.landingFixtures()
    val workDir = graft.Fixtures.tempDirCleanedAtExit("graft_pipeline_main_")
    // next fire of the reference's daily cron, logged the way a scheduler
    // banner would (catchup=False → single next run)
    val now = System.currentTimeMillis() / 1000
    val fireAt = CronSchedule.nextAfter("30 8 * * *", now)
    println(s"[pipeline] next scheduled fire (30 8 * * * UTC): epoch $fireAt " +
      s"(in ${fireAt - now}s); running now")
    val api = startStubApi()
    try {
      val base = s"http://127.0.0.1:${api.getAddress.getPort}"
      val http = new JdkHttpTransport()
      val today = java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      val report = runReportDag(spark, http, base, "client", "secret",
        landing, workDir, today)
      println("[pipeline] report DAG daily aggregate:")
      report.show(truncate = false)
      val stmts = runStatementsDag(spark, http, base, "client", "secret",
        Seq("acct-1", "acct-2", "acct-3"), landing, today)
      println("[pipeline] statements DAG landed files:")
      stmts.show(truncate = false)
    } finally {
      api.stop(0)
      spark.stop()
    }
  }
}
