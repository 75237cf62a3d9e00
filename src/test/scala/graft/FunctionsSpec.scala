package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FeeExpr, WeightedAvg}
import graft.sources.{CronSchedule, HttpTransport, LandingSensor, RestIngest, Retry, Zip}

/** Unit tests for the custom expression, typed aggregator, and the §2A
  * driver shims (per-component testing doctrine, reference README.md:67).
  */
class FunctionsSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  test("FeeExpr: codegen result equals the reference compute() on fixture rows") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val rows = Tables(s, d, "lineitem").limit(200)
      .select(col("l_extendedprice"), col("l_discount"), col("l_tax"),
        expr("graft_fee(l_extendedprice, l_discount, l_tax)").as("fee"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(3) === FeeExpr.compute(r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    }
  }

  test("FeeExpr: tier boundary behaves as specified") {
    assert(FeeExpr.compute(1000.0, 0.0, 0.0) === 2.0) // base = 1000, no tier-2
    assert(FeeExpr.compute(2000.0, 0.5, 0.0) === 2.0) // discounted to 1000
    assert(FeeExpr.compute(3000.0, 0.0, 0.0) === 3000 * 0.002 + 2000 * 0.001)
  }

  test("WeightedAvg equals a hand-computed weighted mean") {
    import s.implicits._
    val df = Seq((10.0, 1.0), (20.0, 3.0)).toDF("v", "w")
    val got = df.agg(udaf(WeightedAvg).apply(col("v"), col("w"))).collect()(0).getDouble(0)
    assert(math.abs(got - (10 * 1 + 20 * 3) / 4.0) < 1e-12)
  }

  test("WeightedAvg is invariant to partitioning (exact integer-cent sums)") {
    import s.implicits._
    val data = (1 to 1000).map(i => (i * 0.01 + 0.001, (i % 7 + 1).toDouble))
    val one = data.toDF("v", "w").coalesce(1)
      .agg(udaf(WeightedAvg).apply(col("v"), col("w"))).collect()(0).getDouble(0)
    val many = s.createDataFrame(data).toDF("v", "w").repartition(13)
      .agg(udaf(WeightedAvg).apply(col("v"), col("w"))).collect()(0).getDouble(0)
    assert(one === many)
  }

  test("Retry retries exactly up to the attempt budget") {
    var calls = 0
    val out = Retry.withRetry(3, 1) { calls += 1; if (calls < 3) sys.error("boom"); 42 }
    assert(out === 42 && calls === 3)
    calls = 0
    intercept[RuntimeException] {
      Retry.withRetry(2, 1) { calls += 1; sys.error("always") }
    }
    assert(calls === 2)
  }

  test("CronSchedule: daily 08:30 fires today before 08:30, tomorrow after") {
    val midnight = 1700000000L - java.lang.Math.floorMod(1700000000L, 86400L)
    val at0830 = midnight + 8 * 3600 + 30 * 60
    assert(CronSchedule.nextAfter("30 8 * * *", midnight) === at0830)
    assert(CronSchedule.nextAfter("30 8 * * *", at0830) === at0830 + 86400)
  }

  test("LandingSensor finds an appearing file and times out on a missing one") {
    val dir = Fixtures.tempDirCleanedAtExit("graft_sensor")
    val target = dir.resolve("late.txt")
    new Thread(() => { Thread.sleep(100); Files.write(target, "x".getBytes) }).start()
    assert(LandingSensor.await(target, timeoutMs = 3000, pokeIntervalMs = 20))
    assert(!LandingSensor.await(dir.resolve("never.txt"), timeoutMs = 150, pokeIntervalMs = 20))
  }

  test("RestIngest extracts fields and fails fast on missing ones") {
    val http = new HttpTransport {
      def fetch(url: String, auth: Option[(String, String)],
          headers: Map[String, String]): String =
        if (url.contains("oauth2")) """{"access_token": "tok-1"}"""
        // data endpoints must carry the token in the Authorization header
        // (reference script-dag-dock-report:64)
        else if (headers.get("Authorization") != Some("tok-1")) "{}"
        else if (url.contains("ticket=")) """{"file": "balance.zip"}"""
        else if (url.contains("date=BALANCE")) """{"ticket": "T-9"}"""
        else "{}"
    }
    val ingest = new RestIngest(http, "https://api.example")
    val tok = ingest.authenticate("id", "secret")
    assert(tok === "tok-1")
    val ticket = ingest.requestReport(tok, "2024-01-01")
    assert(ticket === "T-9")
    assert(ingest.getTicketFile(tok, ticket) === "balance.zip")
    val empty = new HttpTransport {
      def fetch(url: String, auth: Option[(String, String)],
          headers: Map[String, String]): String = "{}"
    }
    intercept[IllegalStateException] {
      new RestIngest(empty, "x").authenticate("a", "b")
    }
    // unusable values fail fast exactly like a missing field: an explicit
    // JSON null AND an empty quoted string would both otherwise poll a
    // garbage ticket until the sensor timeout
    Seq("""{"ticket": null}""", """{"ticket": ""}""").foreach { body =>
      val bad = new HttpTransport {
        def fetch(url: String, auth: Option[(String, String)],
            headers: Map[String, String]): String =
          if (url.contains("oauth2")) """{"access_token": "tok-1"}""" else body
      }
      val ing = new RestIngest(bad, "x")
      intercept[IllegalStateException] {
        ing.requestReport(ing.authenticate("a", "b"), "2024-01-01")
      }
    }
  }

  test("RestIngest statements flow builds the [yesterday, today] URL and " +
      "extracts fileName") {
    var seenUrl = ""
    val http = new HttpTransport {
      def fetch(url: String, auth: Option[(String, String)],
          headers: Map[String, String]): String =
        if (url.contains("oauth2")) """{"access_token": "tok-2"}"""
        else if (headers.get("Authorization") != Some("tok-2")) "{}"
        else { seenUrl = url; """{"fileName": "stmts_2024-02-29.zip"}""" }
    }
    val ingest = new RestIngest(http, "https://api.example")
    val tok = ingest.authenticate("id", "secret")
    // leap-day window: yesterday must be computed by calendar arithmetic
    val file = ingest.requestStatements(tok, "acct-7",
      java.time.LocalDate.of(2024, 3, 1))
    assert(file === "stmts_2024-02-29.zip")
    assert(seenUrl === "https://api.example/accounts/acct-7/statements" +
      "?startDate=2024-02-29&endDate=2024-03-01")
    // fileName missing → fail fast, like the reference's ValueError (:85)
    val empty = new HttpTransport {
      def fetch(url: String, auth: Option[(String, String)],
          headers: Map[String, String]): String = "{}"
    }
    intercept[IllegalStateException] {
      new RestIngest(empty, "x").requestStatements("t", "a",
        java.time.LocalDate.of(2024, 1, 2))
    }
  }

  test("native graft_dot and graft_lsh_bucket are bit-equal to the HOF formulations") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    graft.functions.GraftFunctions.register(s)
    val emb = graft.Tables(s, TestSpark.sf, "embeddings").limit(200)
    // the dot reference fold runs DRIVER-side: TestSpark loads
    // GraftExtensions, whose DotProductRewrite would turn an in-plan HOF
    // formulation into DotExpr and make the comparison vacuous
    val rows = emb.select(col("vec_id"),
        graft.functions.VectorOps.dot(col("embedding"), col("embedding")).as("nat_dot"),
        graft.functions.VectorOps.lshBucket("embedding", 6, 64, 1).as("nat_b"),
        graft.functions.VectorOps.lshBucketHof("embedding", 6, 64, 1).as("hof_b"),
        col("embedding"))
      .collect()
    assert(rows.length === 200)
    rows.foreach { row =>
      val e = row.getAs[scala.collection.Seq[Float]]("embedding")
      var acc = 0.0
      e.foreach(x => acc += x.toDouble * x.toDouble) // ascending left fold
      assert(row.getAs[Double]("nat_dot") === acc)
      assert(row.getAs[Long]("nat_b") === row.getAs[Long]("hof_b"))
    }
  }

  test("graft_lsh_bucket: NULL, null-element, and wrong-length embeddings all match HOF bucket 0") {
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val full = (0 until 64).map(i => Option((i % 7).toFloat))
    val df = Seq(
      (1L, Some(Seq(Option(1f), Option(2f)))),          // wrong length
      (2L, Option.empty[Seq[Option[Float]]]),           // top-level NULL array
      (3L, Some(full.updated(7, Option.empty[Float]))), // null element
      (4L, Some(full))                                  // control: a real bucket
    ).toDF("id", "embedding")
      .select(col("id"),
        graft.functions.VectorOps.lshBucket("embedding", 6, 64, 1).as("nat_b"),
        graft.functions.VectorOps.lshBucketHof("embedding", 6, 64, 1).as("hof_b"))
    assert(df.schema("nat_b").nullable === false)
    df.collect().sortBy(_.getLong(0)).foreach { r =>
      assert(!r.isNullAt(1), s"native bucket NULL for id=${r.getLong(0)}")
      assert(!r.isNullAt(2), s"hof bucket NULL for id=${r.getLong(0)}")
      assert(r.getLong(1) === r.getLong(2),
        s"id=${r.getLong(0)}: native ${r.getLong(1)} != hof ${r.getLong(2)}")
      if (r.getLong(0) < 4) assert(r.getLong(1) === 0L)
    }
  }

  test("q_agg_grouped_fit: per-source OLS recovers chars-per-token with O(1) group state") {
    val rows = graft.operators.Scalars.aggGroupedFit(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // fixture text is space-joined words: chars grow with tokens, so the
      // slope is the mean token length + 1 separator — strictly positive
      // and bounded by the longest vocabulary word
      val slope = r.getAs[Double]("slope")
      assert(slope > 1.0 && slope < 20.0, s"implausible slope in $r")
      assert(r.getAs[Long]("n_docs") > 0L)
    }
  }

  test("Zip round-trips entries and skips directories") {
    val entries = Seq(("a.csv", "1,2,3".getBytes), ("b/c.csv", "x".getBytes))
    val unzipped = Zip.unzip(Zip.zip(entries)).toSeq
    assert(unzipped.map(_._1) === Seq("a.csv", "b/c.csv"))
    assert(unzipped.map(e => new String(e._2)) === Seq("1,2,3", "x"))
  }

  test("transferDir copies to a NON-file scheme resolved from the session Hadoop conf") {
    // a second FileSystem scheme, registered ONLY in the session conf — the
    // copy tasks must resolve graftfs:// through the propagated session
    // configuration (a default `new Configuration()` on the executor would
    // throw UnsupportedFileSystemException)
    s.sparkContext.hadoopConfiguration.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val tmp = Fixtures.tempDirCleanedAtExit("graft_xfs_")
    val srcDir = Files.createDirectory(tmp.resolve("src"))
    val payloads = Map("a.bin" -> "alpha-bytes", "b.bin" -> "beta-bytes")
    payloads.foreach { case (n, c) => Files.write(srcDir.resolve(n), c.getBytes) }
    val dst = s"graftfs://${tmp.resolve("dst")}"
    val rows = graft.sources.Transfer.transferDir(s, srcDir.toString, dst).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("bytes_match") && r.getAs[Boolean]("checksum_match"),
        s"integrity row failed: $r")
    }
    // and the bytes genuinely travelled through the alternate scheme onto disk
    payloads.foreach { case (n, c) =>
      assert(new String(Files.readAllBytes(tmp.resolve("dst").resolve(n))) === c)
    }
  }

  test("SumSqExpr matches the HOF fold bit-for-bit on every fixture vector") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val rows = Tables(s, d, "embeddings")
      .select(
        expr("graft_sumsq(embedding)").as("native"),
        expr("aggregate(embedding, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          .as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("SortedIntersectCountExpr equals size(array_intersect) on sorted arrays") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    // adversarial shapes: disjoint, identical, interleaved, empty, bounds
    val fixtures = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 4L, 9L, 16L), Seq(2L, 4L, 8L, 16L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)),
      (Seq(7L), Seq.empty[Long]))
    import s.implicits._
    val rows = fixtures.toDF("a", "b")
      .select(expr("graft_isect_count(a, b)").as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // and on real data: every oriented adjacency pair of the triangle plan
    // (random long sets, sorted) — property-style cross-check
    val rnd = new scala.util.Random(42)
    val prop = Seq.fill(200)((
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted,
      Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted))
    val got = prop.toDF("a", "b")
      .select(expr("graft_isect_count(a, b)").as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("SortedIntersectCountExpr null-poisons trailing nulls past the shorter side") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    import s.implicits._
    // a=[1], b=[2,null]: the merge walk exhausts a before visiting b[1] —
    // the documented contract is NULL anyway (total poison, both engines)
    val rows = Seq(
      (Seq[java.lang.Long](1L), Seq[java.lang.Long](2L, null)),
      (Seq[java.lang.Long](null), Seq[java.lang.Long](1L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
      .select(expr("graft_isect_count(a, b)").as("c")).collect()
    assert(rows(0).isNullAt(0), "trailing null in b must poison")
    assert(rows(1).isNullAt(0), "null in a must poison")
    assert(rows(2).getLong(0) === 2L)
  }

  test("decodeAudioBatch degrades corrupt payloads to stub rows instead of failing") {
    val corrupt = Array.tabulate[Byte](64)(_.toByte)
    val out = graft.functions.BinaryBatch.decodeAudioBatch(
      Seq((7L, corrupt), (8L, Array.emptyByteArray)))
    assert(out.map(_.audio_id) === Seq(7L, 8L))
    out.foreach(m => assert(m.sample_rate === -1 && m.channels === -1))
  }

  test("QuantErrExpr matches the HOF quantization audit bit-for-bit") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val rows = Tables(s, d, "embeddings")
      .select(col("embedding"),
        expr("graft_quant_err(embedding)").as("q"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127D")
          .as("scale_raw"))
      .select(col("q.scale_raw").as("n_scale"), col("q.err_sum_micro").as("n_sum"),
        col("q.err_max_raw").as("n_max"),
        col("scale_raw").as("h_scale"),
        expr(
          """CASE WHEN scale_raw = 0D THEN 0L ELSE
            |aggregate(transform(embedding,
            |  x -> CAST(round(abs(CAST(x AS DOUBLE) -
            |    round(CAST(x AS DOUBLE) / scale_raw) * scale_raw) * 1000000) AS BIGINT)),
            |  0L, (a, b) -> a + b) END""".stripMargin).as("h_sum"),
        expr(
          """CASE WHEN scale_raw = 0D THEN 0D ELSE
            |array_max(transform(embedding,
            |  x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale_raw) * scale_raw)))
            |END""".stripMargin).as("h_max"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
      assert(r.getLong(1) === r.getLong(4))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(5)))
    }
  }

  test("QuantErrExpr: all-zero vector hits the zero-scale branch") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    import s.implicits._
    val r = Seq((1L, Seq(0f, 0f, 0f))).toDF("id", "embedding")
      .select(expr("graft_quant_err(embedding)").as("q"))
      .select("q.scale_raw", "q.err_sum_micro", "q.err_max_raw")
      .head()
    assert(r.getDouble(0) === 0.0 && r.getLong(1) === 0L && r.getDouble(2) === 0.0)
  }

  test("QuantErrExpr: non-finite elements don't crash and round0 passes them through") {
    import graft.functions.{GraftFunctions, QuantErrExpr}
    // Catalyst Round on DoubleType passes non-finite through; BigDecimal
    // .valueOf(NaN) would throw NumberFormatException instead
    assert(QuantErrExpr.round0(Double.NaN).isNaN)
    assert(QuantErrExpr.round0(Double.PositiveInfinity) === Double.PositiveInfinity)
    assert(QuantErrExpr.round0(Double.NegativeInfinity) === Double.NegativeInfinity)
    assert(QuantErrExpr.round0(0.49999999999999994) === 0.0)
    GraftFunctions.register(s)
    import s.implicits._
    val r = Seq((1L, Seq(1f, Float.NaN, 2f)), (2L, Seq(Float.PositiveInfinity, 1f)))
      .toDF("id", "embedding")
      .select(expr("graft_quant_err(embedding)").as("q"))
      .select("q.scale_raw", "q.err_sum_micro", "q.err_max_raw")
      .collect()
    // Non-finite is out of parity scope (docstring): the max loop's `>`
    // skips NaN (HOF array_max would rank it highest), Infinity dominates.
    // What matters here: the audit survives and yields something sane.
    assert(r.length === 2)
    assert(r(0).getDouble(0) === 2.0 / 127d)
    assert(r(1).getDouble(0) === Double.PositiveInfinity)
    assert(r(1).getLong(1) === 0L)
  }

  test("BloomContainsExpr: no false negatives, bounded false positives, interpreted ≡ codegen") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(s)
    val orders = Tables(s, d, "orders")
    val keys = orders.where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bf = keys.stat.bloomFilter("o_orderkey", 10000L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    def probe = call_function("graft_bloom_contains", col("o_orderkey"), lit(bytes))
    // no false negatives: every inserted key probes true through the
    // DataFrame (codegen) path — this is what makes prune-then-join exact
    assert(keys.where(!probe).count() === 0L)
    // false positives on non-member keys stay near the declared 1% fpp
    val nonMembers = orders.where(col("o_orderpriority") =!= "1-URGENT")
    val fpr = nonMembers.where(probe).count().toDouble / nonMembers.count()
    assert(fpr < 0.05, s"false-positive rate $fpr far above declared 1%")
    // interpreted eval agrees with the codegen'd path
    val someKeys = orders.select("o_orderkey").limit(64).collect().map(_.getLong(0))
    val exprInst = graft.functions.BloomContainsExpr(
      org.apache.spark.sql.catalyst.expressions.Literal(1L),
      org.apache.spark.sql.catalyst.expressions.Literal(bytes))
    someKeys.foreach { k =>
      assert(exprInst.test(k) === bf.mightContainLong(k))
    }
  }

  test("DotBestExpr: brute-force argmax label, ties to the lowest label, NULL scope, interpreted ≡ codegen") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    import graft.functions.{DotBestExpr, GraftFunctions}
    GraftFunctions.register(s)
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), call_function("graft_micro", col("embedding")).as("vm"))
    val vecs = emb.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // a label table in DESCENDING order (the kernel must not rely on the
    // caller sorting it), centroids taken from fixture vectors
    val labels = Array(70, 50, 30, 10)
    val cents = labels.indices.map(k => vecs(k * 7)._2).toArray
    def brute(v: Array[Long]): Int = labels.indices
      .map(k => (labels(k), v.indices.map(i => v(i) * cents(k)(i)).sum))
      .sortBy { case (lb, dot) => (-dot, lb) }.head._1
    val got = emb
      .select(col("vec_id"), call_function("graft_dot_best", col("vm"),
        typedlit(labels.toSeq), typedlit(cents.map(_.toSeq).toSeq)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size === vecs.length)
    vecs.foreach { case (id, v) => assert(got(id) === brute(v), s"vec $id") }
    assert(labels.count(lb => got.values.exists(_ == lb)) > 1, "one label won everything — vacuous")
    // interpreted and codegen'd evaluation of the same expression agree,
    // on fixture vectors, a constructed exact tie and every NULL case
    def both(lbs: Array[Int], cs: Array[Array[Long]], v: Any): (Any, Any) = {
      val e = DotBestExpr(BoundReference(0, ArrayType(LongType, containsNull = true), nullable = true),
        lbs, cs)
      val row = InternalRow(v)
      val cg = GenerateUnsafeProjection.generate(Seq(e)).apply(row)
      (e.eval(row), if (cg.isNullAt(0)) null else cg.getInt(0))
    }
    def arr(xs: Any*) = new GenericArrayData(xs.toArray)
    vecs.take(50).foreach { case (id, v) =>
      assert(both(labels, cents, arr(v: _*)) === ((brute(v), brute(v))), s"vec $id")
    }
    // exact tie: labels 9 and 4 share a centroid and beat label 6
    val tie = both(Array(9, 6, 4), Array(Array(2L, 3L), Array(1L, 1L), Array(2L, 3L)), arr(5L, 7L))
    assert(tie === ((4, 4)))
    val two = Array(Array(1L, 2L), Array(3L, 4L))
    assert(both(Array(1, 2), two, null) === ((null, null)), "NULL array")
    assert(both(Array(1, 2), two, arr(1L, null)) === ((null, null)), "NULL element")
    assert(both(Array(1, 2), two, arr(1L, 2L, 3L)) === ((null, null)), "length mismatch")
  }

  test("JdkHttpTransport sends exactly one Authorization header with basicAuth + headers") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var authValues: java.util.List[String] = null
    server.createContext("/probe", (ex: HttpExchange) => {
      authValues = ex.getRequestHeaders.get("Authorization")
      val bytes = "{}".getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // a caller passing BOTH basicAuth and an Authorization header entry:
      // the explicit credentials must win (setHeader replaces), not stack
      new graft.sources.JdkHttpTransport().fetch(s"$base/probe",
        basicAuth = Some(("id", "secret")),
        headers = Map("Authorization" -> "stale-token", "X-Trace" -> "t1"))
      val want = "Basic " + java.util.Base64.getEncoder
        .encodeToString("id:secret".getBytes("UTF-8"))
      assert(authValues !== null)
      assert(authValues.size() === 1)
      assert(authValues.get(0) === want)
    } finally server.stop(0)
  }

  test("JdkHttpTransport drives the full RestIngest flow over real HTTP") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    // token endpoint: POST + preemptive basic auth, like requests.post(url,
    // auth=(client_id, secret)) in the reference (script-dag-dock-report:37)
    server.createContext("/oauth2/token", (ex: HttpExchange) => {
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
      val want = "Basic " + java.util.Base64.getEncoder
        .encodeToString("id:secret".getBytes("UTF-8"))
      if (ex.getRequestMethod != "POST") reply(ex, 405, "{}")
      else if (!auth.contains(want)) reply(ex, 401, "{}")
      else reply(ex, 200, """{"access_token": "tok-http"}""")
    })
    // data endpoint: GET with the raw token in the Authorization header
    server.createContext("/report", (ex: HttpExchange) => {
      if (ex.getRequestMethod != "GET") reply(ex, 405, "{}")
      else if (Option(ex.getRequestHeaders.getFirst("Authorization")) != Some("tok-http"))
        reply(ex, 401, "{}")
      else if (ex.getRequestURI.getQuery.contains("ticket=")) reply(ex, 200,
        """{"file": "balance_http.zip"}""")
      else reply(ex, 200, """{"ticket": "T-http"}""")
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val ingest = new RestIngest(new graft.sources.JdkHttpTransport(), base)
      val tok = ingest.authenticate("id", "secret")
      assert(tok === "tok-http")
      val ticket = ingest.requestReport(tok, "2024-01-01")
      assert(ticket === "T-http")
      assert(ingest.getTicketFile(tok, ticket) === "balance_http.zip")
      // non-2xx must fail loudly, not parse an error body
      val bad = intercept[IllegalStateException] {
        new RestIngest(new graft.sources.JdkHttpTransport(), base)
          .authenticate("id", "wrong-secret")
      }
      assert(bad.getMessage.contains("401"))
    } finally server.stop(0)
  }

  test("q_scalar_decimal sums equal an exact integer-cents recompute") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Scalars.scalarDecimal(s, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.nonEmpty)
    // recompute in scaled longs: price in cents (c), disc/tax in hundredths
    // (dc, tc) → disc_price = c*(100-dc) in 10^-4, charge in 10^-6 dollars
    val rows = Tables(s, d, "lineitem")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"),
        round(col("l_discount") * 100, 0).cast("long").as("dc"),
        round(col("l_tax") * 100, 0).cast("long").as("tc"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (flag, rs) =>
      val got = out(flag)
      assert(got.getLong(1) === rs.size.toLong)
      val sumBase = rs.map(_._2).sum                       // cents
      val sumDisc = rs.map(t => t._2 * (100 - t._3)).sum   // 10^-4 dollars
      val sumCharge = rs.map(t => t._2 * (100 - t._3) * (100 + t._4)).sum // 10^-6
      assert(got.getString(2) === new java.math.BigDecimal(sumBase).movePointLeft(2).setScale(4).toPlainString)
      assert(got.getString(3) === new java.math.BigDecimal(sumDisc).movePointLeft(4).setScale(4).toPlainString)
      assert(got.getString(4) === new java.math.BigDecimal(sumCharge).movePointLeft(6).setScale(6).toPlainString)
      assert(got.getString(5) === new java.math.BigDecimal(rs.map(_._2).min).movePointLeft(2).setScale(2).toPlainString)
      assert(got.getString(6) === new java.math.BigDecimal(rs.map(_._2).max).movePointLeft(2).setScale(2).toPlainString)
    }
  }

  test("q_scalar_rowhash: digests are md5-shaped and rows are all distinct") {
    val rows = graft.operators.Scalars.scalarRowhash(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    val hex32 = "^[0-9a-f]{32}$".r
    rows.foreach { case (pri, n, nd, lo, hi) =>
      // orders rows are unique, so checksums must be collision-free here
      assert(n === nd, s"$pri: duplicate checksums")
      assert(hex32.matches(lo) && hex32.matches(hi) && lo <= hi)
    }
    assert(rows.map(_._2).sum === Tables(s, d, "orders").count())
    // one digest recomputed off-engine proves the canonicalization contract
    val o = Tables(s, d, "orders")
      .orderBy("o_orderkey").limit(1)
      .select(org.apache.spark.sql.functions.col("o_orderpriority"),
        org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.col("o_totalprice") * 100, 0)
          .cast("long"),
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM-dd"),
        org.apache.spark.sql.functions.col("o_orderstatus"))
      .collect().head
    val canon = s"${o.getLong(1)}|${o.getLong(2)}|${o.getLong(3)}|${o.getString(4)}|${o.getString(5)}"
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val grp = rows.find(_._1 == o.getString(0)).get
    assert(grp._4 <= md && md <= grp._5, "digest outside its group's range")
  }
}

/** RawLocalFileSystem under its own URI scheme: the minimal second Hadoop
  * filesystem (the standard Hadoop-test trick) proving [[graft.sources
  * .Transfer.transferDir]] resolves destinations per-URI from the session
  * configuration rather than assuming file:.
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
