package graft

import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FeeExpr
import graft.sources.{CronSchedule, Zip}

/** Property-based checks (SURVEY.md §5 item 3) over driver-side kernels.
  * Generators come from scalacheck directly (sampled with a fixed seed —
  * the scalatest/scalacheck bridge artifact is not on the offline
  * classpath); DataFrame-level algebraic properties live in RelationalSpec
  * to keep Spark job counts low.
  */
class PropertiesSpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("FeeExpr is monotone in price and non-negative for valid inputs") {
    val cases = samples(for {
      p <- Gen.choose(0.0, 1e6)
      d <- Gen.choose(0.0, 0.5)
      t <- Gen.choose(0.0, 0.2)
    } yield (p, d, t))
    assert(cases.nonEmpty)
    cases.foreach { case (p, d, t) =>
      val fee = FeeExpr.compute(p, d, t)
      assert(fee >= 0.0)
      assert(FeeExpr.compute(p * 2, d, t) >= fee)
    }
  }

  test("Zip round-trip preserves arbitrary byte content") {
    val cases = samples(Gen.nonEmptyListOf(Gen.choose(1, 512)), 50)
    cases.foreach { sizes =>
      val entries = sizes.zipWithIndex.map { case (sz, i) =>
        (s"e$i.bin", Array.tabulate[Byte](sz)(j => (i * 31 + j).toByte))
      }
      val out = Zip.unzip(Zip.zip(entries)).toSeq
      assert(out.map(_._1) === entries.map(_._1))
      assert(out.zip(entries).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    }
  }

  test("DotExpr eval matches a BigDecimal-free reference fold on random float vectors") {
    val cases = samples(for {
      n <- Gen.choose(1, 128)
      xs <- Gen.listOfN(n, Gen.choose(-8f, 8f))
      ys <- Gen.listOfN(n, Gen.choose(-8f, 8f))
    } yield (xs.toArray, ys.toArray), 100)
    cases.foreach { case (xs, ys) =>
      val expr = graft.functions.DotExpr(
        org.apache.spark.sql.catalyst.expressions.Literal.create(xs,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(ys,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
      // reference: the exact ascending left fold the oracle performs
      var acc = 0.0
      var i = 0
      while (i < xs.length) { acc += xs(i).toDouble * ys(i).toDouble; i += 1 }
      assert(expr.eval(null) === acc)
    }
  }

  test("Det.sumExact equals BigDecimal cent arithmetic for random amounts in any order") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val cases = samples(Gen.listOfN(500, Gen.choose(-100000L, 100000L)), 5)
    cases.foreach { cents =>
      val amounts = cents.map(_ / 100.0)
      val expected = BigDecimal(cents.sum) / 100
      val got = amounts.toDF("v").repartition(7)
        .agg(graft.operators.Det.sumExact(col("v"), 2).as("s"))
        .head().getDouble(0)
      assert(got === expected.toDouble)
    }
  }

  test("Round0Expr.round0 is bit-equal to Catalyst's Round(x, 0) on random bits and every edge class") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Round}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.DoubleType
    import graft.functions.Round0Expr.round0
    import java.lang.Double.doubleToRawLongBits
    def same(x: Double, got: Double, want: Double): Unit =
      assert(doubleToRawLongBits(got) === doubleToRawLongBits(want),
        s"x=$x (0x${java.lang.Long.toHexString(doubleToRawLongBits(x))}): got $got want $want")
    // the formula itself, over the edge classes and 2M random values
    val rnd = new java.util.Random(20261019L)
    Round0Cases.edges.foreach(x => same(x, round0(x), Round0Cases.catalyst(x)))
    (0 until 1000000).foreach { _ =>
      val x = java.lang.Double.longBitsToDouble(rnd.nextLong())
      same(x, round0(x), Round0Cases.catalyst(x))
    }
    (0 until 1000000).foreach { _ =>
      val x = (rnd.nextDouble() - 0.5) * math.pow(2, rnd.nextInt(60) - 4)
      same(x, round0(x), Round0Cases.catalyst(x))
    }
    // and Catalyst's own Round, interpreted and generated, on the edge classes
    val round = Round(BoundReference(0, DoubleType, nullable = false), Literal(0))
    val gen = GenerateUnsafeProjection.generate(Seq(round))
    Round0Cases.edges.foreach { x =>
      val row = InternalRow(x)
      val want = round0(x)
      // UnsafeRow canonicalizes NaN, so NaN is compared as NaN
      if (x.isNaN) assert(round.eval(row).asInstanceOf[Double].isNaN && gen(row).getDouble(0).isNaN)
      else {
        same(x, round.eval(row).asInstanceOf[Double], want)
        same(x, gen(row).getDouble(0), want)
      }
    }
  }

  test("TopKPerKey equals per-key sort-take on random tables, any k, any partitioning") {
    val spark = TestSpark.spark
    import spark.implicits._
    val cases = samples(for {
      n <- Gen.choose(0, 400)
      nKeys <- Gen.choose(1, 8)
      k <- Gen.choose(1, 6)
      parts <- Gen.choose(1, 7)
      rows <- Gen.listOfN(n, for {
        key <- Gen.choose(0L, nKeys.toLong - 1)
        v <- Gen.choose(-1000, 1000)
      } yield (key, v))
    } yield (rows, k, parts), 12)
    cases.foreach { case (rows, k, parts) =>
      // id column makes the ordering total, so expected output is unique
      val df = rows.zipWithIndex.map { case ((key, v), id) => (key, v, id.toLong) }
        .toDF("key", "v", "id").repartition(parts)
      val got = graft.plans.TopKPerKey(df, Seq("key"),
          Seq(("v", true), ("id", false)), k)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val want = rows.zipWithIndex.map { case ((key, v), id) => (key, v, id.toLong) }
        .groupBy(_._1).values.flatMap(g =>
          g.sortBy(t => (-t._2, t._3)).take(k)).toSet
      assert(got === want, s"k=$k parts=$parts n=${rows.length}")
    }
  }

  test("winnowFingerprints matches an independent reference on random token lists") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // adversarial shapes: empty lists, below/at/above the window width,
    // heavy duplication (a small alphabet forces repeated minima)
    val gen = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "aa", "bb", "x1", "tok-tok", "z"))
    } yield toks
    val cases = samples(gen, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // ONE Spark job for all cases (the PropertiesSpec job-count doctrine)
    val got = cases.toDF("id", "toks")
      .withColumn("hashes", expr("transform(toks, x -> md5(x))"))
      .select(col("id"),
        graft.functions.TextOps.winnowFingerprints("hashes", 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    cases.foreach { case (id, toks) =>
      val hs = toks.map(md5hex)
      // reference winnowing: plain Scala sliding-window minima (sliding(4)
      // on a shorter list yields the whole list once, hence the guard)
      val ref =
        if (hs.size >= 4) hs.sliding(4).map(_.min).toList.distinct.sorted
        else hs.distinct.sorted
      assert(got(id) === ref, s"case $id toks=$toks")
    }
  }

  test("histogram h-index law: max over values of min(val, |≥val|) equals the naive h-index") {
    // the identity graphCoreness's r16 histogram rewrite stands on,
    // proven over random multisets INCLUDING the receiver-side clamp:
    // min(naive-h(vals), c) == histogram-h(vals clamped at c)
    val cases = samples(for {
      n <- Gen.choose(1, 40)
      vals <- Gen.listOfN(n, Gen.choose(1L, 30L))
      c <- Gen.choose(1L, 30L)
    } yield (vals, c), 300)
    cases.foreach { case (vals, c) =>
      def naiveH(vs: Seq[Long]): Long =
        (1L to vs.length.toLong).filter(t => vs.count(_ >= t) >= t)
          .maxOption.getOrElse(0L)
      val clamped = vals.map(v => math.min(v, c))
      // histogram formulation: per distinct value, the suffix count
      val hist = clamped.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val histH = hist.keys.map { v =>
        val ge = hist.filter(_._1 >= v).values.sum
        math.min(v, ge)
      }.max
      assert(histH === naiveH(clamped), s"histogram law broke on $clamped")
      assert(math.min(naiveH(vals), c) === math.min(c, histH),
        s"clamp law broke on vals=$vals c=$c")
    }
  }

  test("CronSchedule.nextAfter always lands strictly in the future, within 24h, at M/H") {
    val cases = samples(for {
      now <- Gen.choose(0L, 2000000000L)
      m <- Gen.choose(0, 59)
      h <- Gen.choose(0, 23)
    } yield (now, m, h))
    cases.foreach { case (now, m, h) =>
      val next = CronSchedule.nextAfter(s"$m $h * * *", now)
      assert(next > now && next <= now + 86400)
      assert(java.lang.Math.floorMod(next, 86400L) === h * 3600L + m * 60L)
    }
  }
}

/** The edge classes of double `round(x, 0)` and Catalyst's formula for it,
  * shared by the helper's property test and the rewrite's scope test. */
object Round0Cases {
  /** Catalyst's `Round(x, 0)` on DoubleType, as Spark 4.1 generates it. */
  def catalyst(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Both signs of: ties k + 0.5 (small k and k up to 2^52) with both
    * neighbours, scaled cents c / 100 * 100, zero, subnormals,
    * 0.49999999999999994, 2^52 ± 0.5 and odd integers in [2^52, 2^53),
    * MAX, and the non-finite values (a non-canonical NaN included). */
  /** The two classes where `floor(v + 0.5)` / `ceil(v - 0.5)` miss: the
    * largest double below 0.5 and odd integers in [2^52, 2^53), where the
    * half is below the ulp and the sum rounds to the even neighbour. */
  val halfUlpEdges: Seq[Double] = {
    val pos = Seq(0.49999999999999994, math.pow(2, 52) + 1, math.pow(2, 52) + 12345679,
      math.pow(2, 53) - 1)
    pos ++ pos.map(-_)
  }

  /** A double v with v * 100 == target exactly (searched over a few ulps of
    * target / 100), for driving a kernel that scales by 100 itself. */
  def preimage100(target: Double): Double = {
    var v = target / 100
    (0 until 8).foreach(_ => v = Math.nextDown(v))
    Iterator.iterate(v)(Math.nextUp).take(17).find(_ * 100 == target)
      .getOrElse(throw new IllegalArgumentException(s"no exact preimage of $target"))
  }

  val edges: Array[Double] = {
    val rnd = new java.util.Random(42L)
    val two52 = math.pow(2, 52)
    val b = Array.newBuilder[Double]
    def near(x: Double): Unit = { b += x; b += Math.nextUp(x); b += Math.nextDown(x) }
    (0 until 2048).foreach(k => near(k + 0.5))
    (0 until 2048).foreach(_ => near((rnd.nextLong() >>> 12).toDouble + 0.5))
    (0 until 2048).foreach(_ => b += (rnd.nextLong() % 100000000000000L) / 100.0 * 100)
    (0 until 256).foreach(_ => b += java.lang.Double.longBitsToDouble(rnd.nextLong() >>> 12))
    (0 until 256).foreach(_ => b += two52 + 2 * (rnd.nextLong() >>> 13) + 1)
    Seq(0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 0.49999999999999994,
      0.3, 0.5, 1.5, 2.5, two52 - 0.5, two52 + 1, two52 + 3, 2 * two52 - 1, 2 * two52,
      1e300, Double.MaxValue, Double.PositiveInfinity, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff0000000000001L)).foreach(near)
    val pos = b.result()
    pos ++ pos.map(-_)
  }
}
