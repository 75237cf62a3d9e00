package perfbench

import org.apache.spark.sql.SparkSession

/** JVM-side self-tests of the harness: the frozen key lists, failure
  * accounting and digest order-insensitivity. Prints `ok <name>` or
  * `FAIL <name> <why>` per test and exits non-zero on any failure.
  */
object SelfTest {
  def main(opts: Map[String, String]): Unit = {
    val failures = scala.collection.mutable.Buffer[String]()
    def test(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case e: Throwable => Some(e.toString) }
      r match {
        case None => println(s"ok $name")
        case Some(why) => println(s"FAIL $name $why"); failures += name
      }
    }
    val keysDir = opts("keys")
    val all = graft.SparkEntry.queries.keySet

    test("kset is 92649cf8") {
      Some(Keys.kset(all)).filter(_ != Keys.Kset).map(k => s"kset $k")
    }
    test("every listed key exists in SparkEntry.queries") {
      val missing = Seq("analyst", "iterative", "landing").flatMap(Keys.frozen(keysDir, _)).filterNot(all)
      if (missing.isEmpty) None else Some(missing.mkString(","))
    }
    Seq("analyst", "iterative", "landing").foreach { w =>
      test(s"frozen $w list equals its rule") {
        val (frozen, rule) = (Keys.frozen(keysDir, w), Keys.rule(w))
        if (frozen == rule) None
        else Some(s"only frozen: ${frozen.diff(rule)}; only rule: ${rule.diff(frozen)}")
      }
    }

    val spark = Harness.session(java.nio.file.Paths.get(opts("work")))
    try {
      test("a thrown or mismatched item counts as failed and is never timed") {
        val run = Run(Map("workload" -> "analyst", "seed" -> "1", "seconds" -> "0", "trace" -> "0",
          "data" -> "", "work" -> opts("work"), "digests" -> s"${opts("work")}/no-digests.tsv"))
        val tracer = new Tracer(spark.sparkContext)
        val boom = Item("boom", "Relational", _ => throw new IllegalStateException("boom"),
          _ => None, reference = false)
        val wrong = Item("wrong", "Relational", _.range(3).toDF(), _ => Some("digest differs"),
          reference = true)
        val right = Item("right", "Relational", _.range(3).toDF(), _ => None, reference = true)
        val setup = Seq(boom, wrong, right).map(run.run1(spark, tracer, _, verify = true))
        val failedIds = setup.filterNot(_.ok).map(_.id).toSet
        val timed = run.timedPass(spark, tracer, Seq(boom, wrong, right), 0, failedIds)
        val failed = timed.filterNot(_.ok).map(_.id).toSet
        if (setup.find(_.id == "boom").exists(_.error.isEmpty)) Some(s"set-up outcomes $setup")
        else if (failedIds != Set("boom", "wrong")) Some(s"failed in set-up: $failedIds")
        else if (failed != Set("boom", "wrong")) Some(s"failed in timed pass: $failed")
        else if (Run.timesOf(timed).size != 1) Some(s"timed ${Run.timesOf(timed).size} of 3, want 1")
        else None
      }
      test("digest does not depend on row order") {
        import spark.implicits._
        val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.25))
        val a = rows.toDF("k", "s", "x").repartition(3)
        val b = rows.reverse.toDF("k", "s", "x").coalesce(1)
        val c = rows.updated(0, (1L, "v1", 9.0)).toDF("k", "s", "x")
        val (da, db, dc) = (Harness.digest(a), Harness.digest(b), Harness.digest(c))
        if (da != db) Some(s"$da != $db") else if (da == dc) Some("changed row not detected") else None
      }
    } finally spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
