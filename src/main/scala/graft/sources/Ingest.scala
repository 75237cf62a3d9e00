package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}



import org.apache.spark.internal.Logging

/** Driver-side ingestion shims: the reference's §2A orchestration operators
  * (SURVEY.md §2A) re-expressed for a Spark driver program. External systems
  * (Dock REST API, SFTP, S3, Lambda) do not exist in this environment, so
  * the semantics are preserved against local filesystem landing directories
  * and an injectable HTTP transport:
  *
  *  - [[Retry.withRetry]]        — retries with fixed delay
  *                                 (`default_args`, script-dag-dock-report:21-22)
  *  - [[LandingSensor.await]]    — bounded availability polling
  *                                 (`SFTPSensor(timeout=300, poke_interval=30)`,
  *                                 script-dag-dock-report:135-141)
  *  - [[CronSchedule.nextAfter]] — daily-cron trigger arithmetic
  *                                 (`"30 8 * * *"`, script-dag-dock-report:227)
  *  - [[RestIngest]]             — authenticate → request → poll-ticket field
  *                                 extraction with fail-fast null checks
  *                                 (script-dag-dock-report:25-118)
  *  - [[Zip]]                    — in-engine zip decompression replacing the
  *                                 reference's Lambda fan-out
  *                                 (script-dag-dock-report:209-216)
  */
object Retry extends Logging {
  /** Run `body` up to `attempts` times with a fixed `delayMs` between tries
    * — the reference's 3×3-minute task policy (script-dag-dock-report:21-22).
    */
  def withRetry[A](attempts: Int, delayMs: Long)(body: => A): A = {
    var remaining = attempts
    while (true) {
      try return body
      catch {
        // NonFatal: never retry on OOM/interrupt-style fatal conditions
        case scala.util.control.NonFatal(e) if remaining > 1 =>
          remaining -= 1
          logWarning(s"attempt failed (${e.getMessage}); retrying in ${delayMs}ms")
          Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object LandingSensor extends Logging {
  /** Poll until `path` exists, every `pokeIntervalMs`, giving up after
    * `timeoutMs` — SFTPSensor semantics (script-dag-dock-report:135-144).
    * Returns true when the file appeared, false on timeout (the reference
    * raises; callers decide).
    */
  def await(path: Path, timeoutMs: Long = 300000, pokeIntervalMs: Long = 30000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var found = Files.exists(path)
    while (!found && System.nanoTime() < deadline) {
      val remainingMs = (deadline - System.nanoTime()) / 1000000L
      Thread.sleep(math.max(1L, math.min(pokeIntervalMs, remainingMs)))
      found = Files.exists(path)
    }
    found
  }
}

/** Minimal daily-cron arithmetic ("M H * * *" — the only shape the reference
  * uses, script-dag-dock-report:227, script-dag-dock-statements.py:210).
  * `catchup=False` / `max_active_runs=1` correspond to computing only the
  * next fire time after `now` and triggering one run at a time.
  */
object CronSchedule {
  /** Next UTC epoch-second at which `"M H * * *"` fires strictly after
    * `nowEpochSec`.
    */
  def nextAfter(cron: String, nowEpochSec: Long): Long = {
    val parts = cron.trim.split("\\s+")
    require(parts.length == 5 && parts.drop(2).forall(_ == "*"),
      s"only daily 'M H * * *' crons are supported: $cron")
    val (minute, hour) = (parts(0).toInt, parts(1).toInt)
    require(minute >= 0 && minute <= 59 && hour >= 0 && hour <= 23,
      s"minute/hour out of range in cron: $cron")
    val daySec = 86400L
    val todayStart = nowEpochSec - java.lang.Math.floorMod(nowEpochSec, daySec)
    val todayFire = todayStart + hour * 3600L + minute * 60L
    if (todayFire > nowEpochSec) todayFire else todayFire + daySec
  }
}

/** Injectable HTTP transport so REST ingestion is testable without the Dock
  * API (SURVEY.md §7 "keep the HTTP client behind a trait").
  */
trait HttpTransport {
  /** GET/POST `url` with optional basic-auth credentials and headers,
    * return the response body.
    */
  def fetch(url: String, basicAuth: Option[(String, String)] = None,
      headers: Map[String, String] = Map.empty): String
}

/** Production [[HttpTransport]] over the JDK's `java.net.http.HttpClient`.
  * Verb selection mirrors the reference exactly: the one call that carries
  * credentials is a POST with basic auth (`requests.post(url, auth=...)`,
  * script-dag-dock-report:37), every other call is a GET with the token in
  * the Authorization header (script-dag-dock-report:71,108).
  */
class JdkHttpTransport(timeoutMs: Long = 30000) extends HttpTransport {
  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
    .build()

  override def fetch(url: String, basicAuth: Option[(String, String)],
      headers: Map[String, String]): String = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofMillis(timeoutMs))
    // headers first, basic auth last via setHeader: Builder.header APPENDS,
    // so a caller passing both basicAuth and an Authorization entry would
    // otherwise send two Authorization headers. setHeader replaces, making
    // the explicit credentials authoritative.
    headers.foreach { case (k, v) => b.header(k, v) }
    basicAuth match {
      case Some((user, pass)) =>
        val enc = java.util.Base64.getEncoder
          .encodeToString(s"$user:$pass".getBytes("UTF-8"))
        b.setHeader("Authorization", s"Basic $enc")
          .POST(java.net.http.HttpRequest.BodyPublishers.noBody())
      case None => b.GET()
    }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new IllegalStateException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }
}

/** REST ingestion flow of the balance-report DAG (script-dag-dock-report:
  * 25-118): authenticate → request report for yesterday → poll ticket for
  * the produced file name. JSON fields are extracted dynamically and
  * null-checked fail-fast exactly like the reference
  * (`result.get("ticket")` + raise, script-dag-dock-report:73-76).
  */
class RestIngest(http: HttpTransport, baseUrl: String) extends Logging {
  private def field(json: String, key: String): Option[String] = {
    // dynamic scalar extraction in the reference's .get(k) style; values in
    // scope are strings/numbers (reference responses carry scalar fields).
    // An explicit JSON null ({"ticket": null}) matches the unquoted-token
    // arm as the text "null" — that is a MISSING value (the reference's
    // result.get + raise), not a usable id, so map it to None and let the
    // fail-fast fire instead of polling "?ticket=null"
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(\"([^\"]*)\"|([^,}\\s]+))")
      .matcher(json)
    if (!m.find()) None
    // quoted: verbatim, even "null" — but an EMPTY quoted value is as
    // unusable as an explicit null (polling "?ticket=" until the sensor
    // times out), so it too maps to None and the fail-fast fires
    else if (m.group(2) != null) Some(m.group(2)).filter(_.nonEmpty)
    else Option(m.group(3)).filter(_ != "null")
  }

  private def required(json: String, key: String, stage: String): String =
    field(json, key).getOrElse(
      throw new IllegalStateException(s"$stage: response missing '$key'"))

  def authenticate(clientId: String, secret: String): String =
    required(http.fetch(s"$baseUrl/oauth2/token", Some((clientId, secret))),
      "access_token", "authenticate")

  /** Request yesterday's balance report; returns the ticket id. The token
    * travels in the Authorization header exactly as in the reference
    * (`headers = {"Authorization": token}`, script-dag-dock-report:64).
    */
  def requestReport(token: String, day: String): String =
    required(http.fetch(s"$baseUrl/report?compressZipService=0&date=BALANCE&day=$day",
      headers = Map("Authorization" -> token)), "ticket", "request_data")

  /** Poll a ticket for the produced file name (the reference re-
    * authenticates per call, script-dag-dock-report:97 — callers do too).
    */
  def getTicketFile(token: String, ticket: String): String =
    required(http.fetch(s"$baseUrl/report?ticket=$ticket",
      headers = Map("Authorization" -> token)), "file", "get_ticket")

  /** Statements-DAG flow (script-dag-dock-statements.py:52-91): request a
    * digital account's statement for the [yesterday, today] window —
    * `{base}/accounts/{id}/statements?startDate={y}&endDate={t}` with the
    * token in the Authorization header (:66-71) — and return the produced
    * `fileName`, null-checked fail-fast (:84-86). `today` is a parameter so
    * the window arithmetic (:60-62) is deterministic under test.
    */
  def requestStatements(token: String, accountId: String,
      today: java.time.LocalDate): String = {
    val startDate = today.minusDays(1).toString // ISO yyyy-MM-dd, as strftime("%Y-%m-%d")
    val endDate = today.toString
    logInfo(s"requesting statements for account $accountId, $startDate..$endDate")
    required(
      http.fetch(
        s"$baseUrl/accounts/$accountId/statements?startDate=$startDate&endDate=$endDate",
        headers = Map("Authorization" -> token, "Accept" -> "application/json")),
      "fileName", "request_statements")
  }
}

/** Zip helpers: the decompression the reference offloads to the
  * `dock_unzip_files` Lambda (script-dag-dock-report:209-216, README.md:39)
  * done in-engine instead, entry-by-entry over a streamed archive.
  */
object Zip {
  /** Decompress a zip archive held in memory → (entryName, bytes) pairs.
    * Streams entries (no central-directory materialization); per-archive
    * memory is one entry's bytes, which is the right unit for a
    * mapPartitions over binaryFile rows.
    */
  def unzip(bytes: Array[Byte]): Iterator[(String, Array[Byte])] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
    Iterator.continually(zis.getNextEntry)
      .takeWhile(_ != null)
      .filterNot(_.isDirectory)
      .map { entry =>
        val out = new ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = zis.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = zis.read(buf) }
        (entry.getName, out.toByteArray)
      }
  }

  /** Build a zip archive (used by tests and the ingest fixture builder). */
  def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  /** Write deterministic zipped CSV fixtures into `landingDir` (plus one
    * non-zip decoy that the suffix filter must skip): the landed state the
    * reference's SFTP→S3 transfer produces before unzipping.
    */
  def writeLandingFixtures(landingDir: Path): Unit = {
    Files.createDirectories(landingDir)
    val rows = (0 until 1000).map { i =>
      val day = f"2024-01-${1 + i % 4}%02d"
      val amount = ((i * 37) % 1000) / 100.0
      s"$i,$day,$amount"
    } ++ Seq(",,bad-row", "x,2024-01-09,notanumber") // validation must drop these
    rows.grouped(251).zipWithIndex.foreach { case (chunk, idx) =>
      val csv = ("id,day,amount" +: chunk).mkString("\n")
      Files.write(landingDir.resolve(f"balance_$idx%02d.zip"),
        zip(Seq((f"balance_$idx%02d.csv", csv.getBytes("UTF-8")))))
    }
    Files.write(landingDir.resolve("README.txt"), "not a zip".getBytes("UTF-8"))
  }

  /** The staged landing fixtures ([[writeLandingFixtures]]), shared by the
    * ingest and transfer keys, `PipelineMain` and its spec.
    */
  def landingFixtures(): Path =
    graft.Fixtures.ensureDerived("graft_landing")(writeLandingFixtures(_))
}
