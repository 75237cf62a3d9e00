package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LlmData

/** Dedup / similarity / multimodal / text-analysis checks on sf0.001,
  * including the probabilistic operators that have no SQL oracle: MinHash
  * recall is measured against the exact n-gram result, SimHash and the
  * vector LSH are checked on planted duplicates built inside the test.
  */
class LlmDataSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark
  val d = TestSpark.sf

  private def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("q_dedup_near recovers the exact n-gram Jaccard pairs (full recall, no false positives)") {
    val exact = pairs(LlmData.dedupNgram(s, d), "doc_a", "doc_b")
    val near = pairs(LlmData.dedupNear(s, d), "doc_a", "doc_b")
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    // set EQUALITY, not a recall floor: q_dedup_near is oracle-checked
    // against the exact shingle-overlap CTE, so any missed pair would turn
    // the driver's gate red — this test fails first, with a better message
    assert(near === exact,
      s"LSH pipeline must reproduce the exact pair set (missed: ${exact -- near}, " +
        s"spurious: ${near -- exact})")
  }

  test("q_dedup_survivors drops exactly the larger-id side of each near-dup pair") {
    val dropped = pairs(LlmData.dedupNgram(s, d), "doc_a", "doc_b").map(_._2)
    val survivors = LlmData.dedupSurvivors(s, d).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors.size === 500 - dropped.size)
    assert(survivors.intersect(dropped).isEmpty)
  }

  test("q_dedup_simhash: planted near-identical docs collide at small Hamming distance") {
    val r = LlmData.dedupSimhash(s, d)
    assert(r.count() > 0)
    assert(r.where(col("hamming") > 3).count() === 0)
  }

  test("q_dedup_simhash pair-band candidates are exactly the brute-force Hamming<=3 pairs") {
    // the banding scheme is complete for Hamming <= 3 (pigeonhole over 5
    // blocks), so the distributed output must equal an all-pairs scan of
    // the per-doc hashes — any lost pair here is a banding bug
    val sh = LlmData.simhashes(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val want = (for {
      i <- sh.indices.iterator; j <- (i + 1) until sh.length
      h = java.lang.Long.bitCount(sh(i)._2 ^ sh(j)._2) if h <= 3
    } yield (sh(i)._1, sh(j)._1, h)).toSet
    val got = LlmData.dedupSimhash(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === want)
  }

  test("q_dedup_simhash_verified equals brute-force Hamming<=3 over the portable md5 simhash") {
    // same structural claim as the xxhash64 variant's parity test, for the
    // oracle-checked portable pipeline: the banded distributed path must
    // reproduce an all-pairs scan of the signatures exactly
    val sh = LlmData.simhashesPortable(s, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val want = (for {
      i <- sh.indices.iterator; j <- (i + 1) until sh.length
      h = java.lang.Long.bitCount(sh(i)._2 ^ sh(j)._2) if h <= 3
    } yield (sh(i)._1, sh(j)._1, h)).toSet
    assert(want.nonEmpty, "planted near-identical docs should collide under md5 simhash too")
    val got = LlmData.dedupSimhashVerified(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === want)
  }

  test("SimHash of an identical document pair has Hamming distance zero") {
    import graft.functions.TextOps
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words here now then"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens("text"))
      .withColumn("hashes", expr("transform(toks, x -> xxhash64(x))"))
      .select(col("doc_id"), TextOps.simhash64("hashes").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(docs(1L) === docs(2L))
    assert(java.lang.Long.bitCount(docs(1L) ^ docs(3L)) > 0)
  }

  test("q_dedup_embed: every reported pair meets the cosine threshold") {
    val r = LlmData.dedupEmbed(s, d).collect()
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getAs[Double]("cos") >= 0.25))
  }

  test("ngram/near operators: exact-text collapse expands mass duplication correctly") {
    import s.implicits._
    // 120 literally identical docs, one cross-group near-dup pair, and two
    // unrelated docs: the PPJoin/LSH machinery runs over 5 representatives,
    // and the output must still carry every pair — all C(120,2) intra
    // pairs at J = 1 with full stats, plus the near-dup pair, plus the
    // dup-group × near-docs pairs only if they qualify (they don't here)
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearA = "one two three four five six seven eight nine ten eleven twelve"
    val nearB = "one two three four five six seven eight nine ten eleven thirteen"
    val docs = ((0 until 120).map(i => (i.toLong, dupText)) ++ Seq(
      (500L, nearA), (501L, nearB),
      (600L, "completely different words occupy this document here today"),
      (601L, "unrelated content again entirely disjoint vocabulary throughout")))
      .toDF("doc_id", "text")
    val out = LlmData.dedupNgramFrom(s, docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val intraPairs = out.keys.filter { case (a, b) => a < 120 && b < 120 }
    assert(intraPairs.size === 120 * 119 / 2,
      s"expected every intra-group pair, got ${intraPairs.size}")
    // identical 12-token docs: 10 3-shingles; stats must be (10,10,10,1.0)
    intraPairs.foreach { p =>
      assert(out(p) === ((10L, 10L, 10L, 1.0)), s"wrong stats for intra pair $p") }
    assert(out.contains((500L, 501L)), "the cross-group near-dup pair must survive")
    assert(out((500L, 501L))._4 >= 0.5 && out((500L, 501L))._4 < 1.0)
    assert(out.size === 120 * 119 / 2 + 1, s"unexpected extra pairs: ${
      out.keys.filterNot { case (a, b) => (a < 120 && b < 120) || (a, b) == ((500L, 501L)) }}")
    // the LSH path must reproduce the exact pair set on the same corpus
    val near = LlmData.dedupNearFrom(s, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(near === out.keySet,
      s"collapsed LSH must equal the exact pair set (diff: ${
        (near diff out.keySet) ++ (out.keySet diff near)})")
  }

  test("dedup collapse property: random duplicated corpora equal the brute-force pair table") {
    import s.implicits._
    // generative check over seeded random corpora with forced duplication:
    // dedupNgramFrom must equal a driver-side brute force (pairwise exact
    // Jaccard over the same shingle hashes) for ANY corpus shape — empty
    // overlap, sub-3-token docs, all-identical groups, interleaved ids.
    // The LSH path is held to no-false-positives plus full recall at
    // J ≥ 0.7 (per-pair miss probability there is < 1e-4 by the band math;
    // at the 0.5 threshold boundary a miss is by-design probable enough to
    // flake a hard equality).
    val pool = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "one two three four five six seven eight nine",
      "one two three four five six seven eight ten eleven",
      "lone words", // sub-3-token: no shingles, must never pair
      "completely different vocabulary in this entry altogether")
    graft.functions.GraftFunctions.register(s)
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val docs = (0 until 25).map(i => (i.toLong, pool(rnd.nextInt(pool.size))))
      val df = docs.toDF("doc_id", "text")
      // ground truth from the same shingle kernel, pairwise in the driver
      val sets = df.select(col("doc_id"),
          call_function("graft_shingles", split(col("text"), " ")).as("shs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      val ids = docs.map(_._1)
      val expected = (for {
        a <- ids
        b <- ids
        if a < b
        sa = sets(a)
        sb = sets(b)
        union = (sa union sb).size
        if union > 0
        common = (sa intersect sb).size
        jac = common.toDouble / union
        if jac >= 0.5
      } yield (a, b) -> (sa.size.toLong, sb.size.toLong, common.toLong, jac)).toMap
      val got = LlmData.dedupNgramFrom(s, df).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
      assert(got === expected, s"trial $trial: ngram diverged from brute force " +
        s"(missing ${expected.keySet diff got.keySet}, spurious ${got.keySet diff expected.keySet})")
      val near = LlmData.dedupNearFrom(s, df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((near diff expected.keySet).isEmpty,
        s"trial $trial: LSH produced false positives ${near diff expected.keySet}")
      val mustRecall = expected.collect { case (p, (_, _, _, j)) if j >= 0.7 => p }.toSet
      assert((mustRecall diff near).isEmpty,
        s"trial $trial: LSH missed high-J pairs ${mustRecall diff near}")
    }
  }

  test("collapse stress: a 10k-copy hot group stays representative-sized before expansion") {
    import s.implicits._
    // The mass-duplication claim, asserted (r10 verdict item 5, tripwire
    // reworked per r11 advice): 10,000 literally identical documents plus
    // a near-dup pair and two unique docs. Collapsed, the PPJoin candidate
    // machinery sees 5 representatives and the only quadratic cost is
    // OUTPUT EXPANSION — the C(10000,2) ≈ 50M true pairs themselves.
    // Without the collapse the prefix join fans every identical doc
    // against every other on each shared prefix shingle (~6 × 10^8
    // candidate rows) before deduplication and verification. The tripwire
    // is WORK-PROPORTIONAL, not wall-clock (a timing pin is load-sensitive
    // on a contended host): assert the collapse seam hands the candidate
    // machinery exactly the 5 representatives, then assert the end-to-end
    // pair table is exact.
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val nearA = "one two three four five six seven eight nine ten eleven twelve"
    val nearB = "one two three four five six seven eight nine ten eleven thirteen"
    val docs = s.range(0, 10000).select(col("id").as("doc_id"), lit(dupText).as("text"))
      .unionAll(Seq((20000L, nearA), (20001L, nearB),
        (30000L, "completely different words occupy this document here today"),
        (30001L, "unrelated content again entirely disjoint vocabulary throughout"))
        .toDF("doc_id", "text"))
    // the collapse seam: everything upstream of output expansion must see
    // one row per DISTINCT text. 10,004 docs → 5 reps; removing the
    // collapse puts 10,004 rows here and fails immediately, long before
    // any wall-clock effect could be (mis)measured
    val (members, repSh, repSets) = LlmData.collapsedSets(s, docs, None)
    assert(members.select(countDistinct(col("rep"))).collect()(0).getLong(0) === 5L,
      "candidate machinery must see exactly the 5 distinct-text representatives")
    assert(repSets.count() === 5L,
      "verification sets are built for representatives only")
    assert(repSh.select(countDistinct(col("doc_id"))).collect()(0).getLong(0) === 5L,
      "shingle rows (the prefix-join input) cover representatives only")
    val stats = LlmData.dedupNgramFrom(s, docs)
      .agg(count(lit(1)), sum(when(col("jac") === 1.0, 1L).otherwise(0L)))
      .collect()(0)
    val expectIntra = 10000L * 9999L / 2
    assert(stats.getLong(0) === expectIntra + 1,
      s"pair table must hold every intra pair plus the near-dup pair, got ${stats.getLong(0)}")
    assert(stats.getLong(1) === expectIntra,
      "every intra pair reports J = 1 exactly")
  }

  test("collapse: NULL-text documents still report and never pair") {
    import s.implicits._
    // md5(NULL) is NULL and an equi-join drops NULL keys — an unguarded
    // group key would erase NULL-text docs from the incremental report
    // entirely (the oracle's LEFT JOIN keeps them). They must report
    // is_dup = false and never appear in any pair table.
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((10L, null.asInstanceOf[String]),
      (20L, null.asInstanceOf[String]), (1L, t1), (30L, t1))
      .toDF("doc_id", "text")
    val inc = LlmData.dedupIncrementalFrom(s, docs, None, 500000L).collect()
      .map(r => (r.getLong(0),
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3)))).toMap
    assert(inc.keySet === Set(10L, 20L, 30L),
      "every new-batch doc must report, NULL text included")
    assert(inc(10L) === ((-1L, false)) && inc(20L) === ((-1L, false)))
    assert(inc(30L) === ((1L, true)), "30 duplicates corpus doc 1 exactly")
    val ng = LlmData.dedupNgramFrom(s, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ng === Set((1L, 30L)), s"NULL docs must never pair, got $ng")
  }

  test("incremental collapse: a duplicate group spanning the batch split reports exactly") {
    import s.implicits._
    // group T1 spans the split: {10, 20} are new (doc_id % 10 = 0), {3, 7}
    // are corpus — every new member must report dup_of = 3 (the corpus-side
    // min) at jac 1.0; new doc 40 has a genuine near-dup corpus partner 8;
    // new doc 50 is unique and must report is_dup = false
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      (10L, t1), (20L, t1), (3L, t1), (7L, t1),
      (40L, t2 + " extra"), (8L, t2),
      (50L, "entirely unique vocabulary nothing shared with any other doc"))
      .toDF("doc_id", "text")
    val out = LlmData.dedupIncrementalFrom(s, docs, None, 500000L).collect()
      .map(r => (r.getLong(0),
        (if (r.isNullAt(1)) -1L else r.getLong(1),
         if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.keySet === Set(10L, 20L, 40L, 50L))
    assert(out(10L) === ((3L, 1000000L, true)), "spanning-group member 10")
    assert(out(20L) === ((3L, 1000000L, true)), "spanning-group member 20")
    assert(out(40L)._1 === 8L)
    assert(out(40L)._3 && out(40L)._2 < 1000000L && out(40L)._2 >= 500000L)
    assert(out(50L) === ((-1L, -1L, false)))
  }

  test("ngram collapse: interleaved group ids exercise the per-side stat swap") {
    import s.implicits._
    // group {1, 10} (12 tokens → 10 shingles) and singleton 2 (13 tokens →
    // 11 shingles, J = 10/11 against the group): expanding the rep pair
    // (1, 2) to member pair (2, 10) flips the ordering, so doc_a = 2 must
    // carry ITS OWN set size (11) as na — the swap a naive expansion gets
    // wrong while still passing on non-interleaved ids
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = t1 + " extra"
    val docs = Seq((1L, t1), (10L, t1), (2L, t2)).toDF("doc_id", "text")
    val out = LlmData.dedupNgramFrom(s, docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet === Set((1L, 10L), (1L, 2L), (2L, 10L)))
    assert(out((1L, 10L)) === ((10L, 10L, 10L, 1.0)))
    assert(out((1L, 2L)) === ((10L, 11L, 10L, 10.0 / 11)))
    assert(out((2L, 10L)) === ((11L, 10L, 10L, 10.0 / 11)),
      "doc_a = 2 must carry the 11-shingle size on the a side")
  }

  test("simhash operator: fingerprint collapse makes the band join group-size-independent") {
    // 300 docs sharing ONE fingerprint plus two far-apart singletons
    // (pairwise Hamming > 3 across the three distinct values): the
    // rep-level band join must produce ZERO pairs — the 300-group never
    // enters candidate generation — while the expanded operator output
    // still carries every C(300,2) Hamming-0 pair. Output completeness
    // comes from expansion, candidate cost from distinct fingerprints.
    import s.implicits._
    val members = ((0 until 300).map(i => (i.toLong, 42L)) ++
      Seq((1000L, 0x0F0F0F0F0F0F0F0FL), (1001L, 0x3333333333333333L)))
      .toDF("doc_id", "sh64")
    assert(LlmData.simhashSigPairs(members).count() === 0L,
      "no distinct-fingerprint pair is within Hamming 3 — band join must be empty")
    val out = LlmData.simhashBandVerify(members)
    assert(out.count() === 300L * 299 / 2,
      "every intra-group pair must still reach the output")
    assert(out.where(col("hamming") =!= 0).count() === 0L)
  }

  test("simhash banding: exact-dedup-first collapses the mass-duplication candidate blowup") {
    import graft.functions.TextOps
    import s.implicits._
    // docs/SCALING.md "SimHash banding keyspace": true mass duplication
    // (N identical docs → one simhash → one bucket) used to be the one
    // skew no band-key design fixes. The OPERATOR now collapses identical
    // fingerprints before banding (previous test); this measures why the
    // exact-dedup-first discipline (q_corpus_filter sequences it) still
    // matters for bounding OUTPUT size and for naive banding generally:
    // 300 identical docs alone are C(300,2) = 44,850 within-bucket pairs.
    val dup = (0 until 300).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta"))
    val uniq = (0 until 50).map(i => (1000L + i, s"doc $i unique tok$i content ${i * 7} x${i * 13}"))
    val docs = (dup ++ uniq).toDF("doc_id", "text")
    def candidatePairs(df: org.apache.spark.sql.DataFrame): Long = {
      val sigs = df
        .withColumn("toks", TextOps.tokens("text"))
        .withColumn("hashes", expr("transform(toks, x -> xxhash64(x))"))
        .select(col("doc_id"), TextOps.simhash64("hashes").as("sh"))
        .withColumn("bands", TextOps.simhashBands("sh"))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("bi", "bv")))
      sigs.as("a").join(sigs.as("b"),
          col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    }
    val naive = candidatePairs(docs)
    val collapsed = candidatePairs(docs.dropDuplicates("text"))
    assert(naive >= 300L * 299 / 2,
      s"mass duplication should quadratically blow up candidates, got $naive")
    assert(collapsed * 100 < naive,
      s"exact-dedup-first should collapse the blowup ≥100×: $collapsed vs $naive")
  }

  test("q_dedup_embed end-to-end: planted near-duplicates are recovered through bucketing + verification") {
    import s.implicits._
    // 8 planted near-dup pairs (base + 1e-4 perturbation → cos ≈ 1, same
    // bucket by the sign-projection margin) among 16 decoys; asserts the
    // COMPLETENESS side of the pipeline the fixture's near-orthogonal
    // vectors never exercise (their pairs sit far below any threshold)
    val planted = (0 until 8).map { k =>
      val base = Array.tabulate(64)(i => math.sin(i * 1.7 + k).toFloat)
      val near = base.clone(); near(k % 64) = near(k % 64) + 1e-4f
      (100L + k, base.toSeq, 200L + k, near.toSeq)
    }
    // distinct frequencies per decoy — sampled sinusoids of well-separated
    // frequency are near-orthogonal (phase-shifted copies would NOT be:
    // shift 25 ≈ 0.13 mod 2π reproduces the vector almost exactly)
    val decoys = (0 until 16).map { k =>
      (300L + k, Array.tabulate(64)(i => math.cos(i * (2.3 + 0.41 * k))).map(_.toFloat).toSeq)
    }
    val emb = (planted.map(p => (p._1, p._2)) ++ planted.map(p => (p._3, p._4)) ++ decoys)
      .toDF("vec_id", "embedding")
    val got = LlmData.dedupEmbedFrom(s, emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { p =>
      assert(got.contains((p._1, p._3)),
        s"planted near-dup pair (${p._1}, ${p._3}) was not recovered")
    }
    // soundness: nothing else crosses the 0.99 verification threshold
    assert(got === planted.map(p => (p._1, p._3)).toSet)
  }

  test("vector LSH buckets collide for a vector and its tiny perturbation") {
    import graft.functions.VectorOps
    import s.implicits._
    val base = Array.tabulate(64)(i => math.sin(i * 1.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 1e-4f
    val far = Array.tabulate(64)(i => math.cos(i * 2.3).toFloat)
    val df = Seq((1L, base.toSeq), (2L, near.toSeq), (3L, far.toSeq)).toDF("vec_id", "embedding")
      .select(col("vec_id"), VectorOps.lshBucket("embedding", 6, 64, 0).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(df(1L) === df(2L), "near-identical vectors must share an LSH bucket")
  }

  test("q_simsearch_topk matches a driver-side brute force") {
    val want = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = want.find(_._1 == 0L).get._2.map(_.toDouble)
    def cos(v: Array[Float]) = {
      val x = v.map(_.toDouble)
      val dot = x.zip(q).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(x.map(a => a * a).sum) * math.sqrt(q.map(a => a * a).sum))
    }
    val expected = want.filter(_._1 != 0L)
      .map { case (id, v) => (id, math.round(cos(v) * 10000) / 10000.0) }
      .sortBy { case (id, c) => (-c, id) }.take(50).map(_._1).toSeq
    val got = LlmData.simsearchTopk(s, d).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got === expected)
  }

  test("q_simsearch_ivf: recall@20 floors hold across the nProbe curve") {
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recallAt(nProbe: Int): Double = {
      val ivf = LlmData.simsearchIvfProbe(s, d, nProbe)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ivf.size === 20, s"nProbe=$nProbe returned ${ivf.size} rows")
      ivf.intersect(brute).size.toDouble / 20
    }
    val curve = Seq(1, 2, 4, 8, Int.MaxValue).map(n => n -> recallAt(n))
    info(s"recall@20 curve: ${curve.map { case (n, r) => s"nProbe=$n:$r" }.mkString(", ")}")
    val r = curve.toMap
    // the DECLARED q_simsearch_ivf probes ~1/8 of the derived ~√N cells
    // (scan fraction is the invariant, not an absolute cell count):
    // reading an eighth of the index must keep well over half the true
    // top-20 (docs/SCALING.md records the measured curve)
    val declared = LlmData.simsearchIvf(s, d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val declaredRecall = declared.intersect(brute).size.toDouble / 20
    info(s"declared-probe recall@20: $declaredRecall")
    assert(declaredRecall >= 0.6,
      s"declared-probe recall $declaredRecall below the 0.6 floor")
    assert(r(Int.MaxValue) === 1.0,
      "probing every cell must reproduce brute force exactly")
    // monotone non-decreasing in nProbe: wider probes never lose neighbors
    curve.sliding(2).foreach { case Seq((_, a), (_, b)) => assert(b >= a) }
  }

  test("q_simsearch_nsw: graph walk recall@10 vs brute force, deterministic replay") {
    val brute = LlmData.simsearchTopk(s, d).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = LlmData.simsearchNsw(s, d).collect()
    assert(got.length === 10, s"NSW walk returned ${got.length} rows")
    // ordering contract: micro-cosine desc, id-asc ties — the oracle's cut
    val order = got.map(r => (r.getLong(1), r.getLong(0)))
    order.sliding(2).foreach { case Array((ca, ia), (cb, ib)) =>
      assert(ca > cb || (ca == cb && ia < ib), "result not in (cm desc, id asc) order")
    }
    val ids = got.map(_.getLong(0)).toSet
    val recall = ids.intersect(brute).size.toDouble / 10
    info(s"NSW recall@10 vs brute force: $recall")
    // a 6-hop beam-8 walk over a degree-8 graph visits O(100) of the
    // corpus; on the sf fixture that must recover most of the true
    // top-10 (graph navigability, not scan coverage; measured 0.9)
    assert(recall >= 0.7, s"NSW recall $recall below the 0.7 floor")
    // the walk is integer-deterministic: a second run is byte-identical
    val again = LlmData.simsearchNsw(s, d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === got.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("q_simsearch_nsw_build: cell-bounded graph holds the edge-agreement floor vs the exact kNN graph") {
    import org.apache.spark.sql.expressions.Window
    val built = pairs(LlmData.simsearchNswBuild(s, d), "src", "dst")
    // exact all-pairs kNN graph, constructed HERE at test scale only — the
    // quadratic product the production build exists to avoid
    val base = Tables(s, d, "embeddings").where(col("vec_id") =!= 0)
    val a = base.select(col("vec_id").as("src"), col("embedding").as("ea"))
    val b = base.select(col("vec_id").as("dst"), col("embedding").as("eb"))
    val w = Window.partitionBy("src").orderBy(desc("cm"), asc("dst"))
    val exact = pairs(a.crossJoin(b).where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.VectorOps.cosine(col("ea"), col("eb")) * 1000000d, 0)
          .cast("long").as("cm"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 8)
      .select("src", "dst"), "src", "dst")
    val agreement = built.intersect(exact).size.toDouble / exact.size
    info(f"cell-bounded vs exact kNN edge agreement: $agreement%.3f " +
      s"(built ${built.size}, exact ${exact.size})")
    // the 3-cell probe bound trims candidates, not quality: the bounded
    // graph must recover the large majority of the true kNN edges
    // (measured value recorded in docs/SCALING.md)
    assert(agreement >= 0.9, s"edge agreement $agreement below the 0.9 floor")
    // coverage: every corpus vector keeps a full out-degree — the bound
    // never strands a source with an empty candidate pool
    val n = base.count()
    val srcs = built.map(_._1).size.toLong
    assert(srcs === n, s"build covered $srcs of $n sources")
  }

  test("q_dedup_audio_fp: planted dup structure surfaces exactly, tolerance path fires") {
    val got = LlmData.dedupAudioFp(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the 5 identical-fingerprint pairs (byte dups + loudness variants)
    // and the two waveform-perturbed re-encodes at Hamming 1 — nothing
    // else: the closest unrelated frequencies never come within the gate
    val expected = Seq(
      (1L, 101L, 0L), (2L, 202L, 0L), (4L, 104L, 0L), (6L, 206L, 0L),
      (9L, 109L, 0L), (13L, 313L, 1L), (16L, 416L, 1L))
    assert(got.toSeq === expected)
    // the Hamming <= 2 tolerance is load-bearing: nonzero distances occur
    assert(got.exists(_._3 > 0), "no near-dup exercised the tolerance gate")
  }

  test("q_embed_infer_arrow: the encoder runs per BATCH over Arrow buffers, never per row") {
    val sizes = s.sparkContext.collectionAccumulator[java.lang.Long]("inferBatches")
    val out = LlmData.embedInferArrowImpl(s, d, Some(sizes)).collect()
    val docs = Tables(s, d, "documents").count()
    assert(out.length.toLong === docs, "one embedding row per document")
    val batchSizes = sizes.value.toArray.map(_.asInstanceOf[java.lang.Long].longValue)
    assert(batchSizes.sum === docs, "batches must cover every row exactly once")
    assert(batchSizes.forall(_ <= LlmData.inferBatchRows),
      s"a batch exceeded the ${LlmData.inferBatchRows}-row contract: ${batchSizes.max}")
    assert(batchSizes.exists(_ === LlmData.inferBatchRows.toLong),
      "no full batch was ever formed — the seam degenerated to small groups")
    assert(batchSizes.length.toLong < docs / 4,
      s"${batchSizes.length} encoder invocations for $docs rows — looks per-row, not batched")
    // non-vacuous: the linear map must actually separate documents
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .distinct.length > 1, "all embeddings identical — vacuous featurization")
  }

  test("q_simsearch_nsw_insert: batch vectors become reachable, standing graph untouched") {
    val brute = LlmData.simsearchTopk(s, d).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = LlmData.simsearchNswInsert(s, d).collect()
    assert(got.length === 10)
    val ids = got.map(_.getLong(0)).toSet
    val recall = ids.intersect(brute).size.toDouble / 10
    info(s"NSW-insert recall@10 vs full-corpus brute force: $recall")
    assert(recall >= 0.7, s"insert recall $recall below the 0.7 floor")
    // the bounded insert edges are non-vacuous and well-formed: every
    // src is an arrival, every dst standing, out-degree capped at M
    val edges = LlmData.nswInsertEdges(s, d)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "insert produced no edges — vacuous batch")
    edges.foreach { case (src, dst) =>
      assert(src % 10 === 3, s"edge src $src is not a batch vector")
      assert(dst % 10 !== 3, s"edge dst $dst is not standing")
    }
    edges.groupBy(_._1).foreach { case (src, g) =>
      assert(g.length <= 8, s"batch vector $src has out-degree ${g.length} > M")
    }
    // reachability is real: if the true top-10 contains arrivals, the
    // merged walk must surface at least one of them (the reverse edges'
    // whole purpose); with none in the true top-10 the claim is vacuous
    val batchInBrute = brute.filter(_ % 10 == 3)
    if (batchInBrute.nonEmpty)
      assert(ids.exists(_ % 10 == 3),
        s"true top-10 contains arrivals $batchInBrute but the walk surfaced none")
    // the standing artifact never contains a batch endpoint
    val std = s.read.parquet(LlmData.nswStandingAdjPath(s, d))
      .select("src", "dst").collect()
    std.foreach { r =>
      assert(r.getLong(0) % 10 != 3 && r.getLong(1) % 10 != 3,
        "standing adjacency contains a batch vector")
    }
    // deterministic: a second run is byte-identical
    val again = LlmData.simsearchNswInsert(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === got.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("q_simsearch_nsw_delete: tombstones never surface but stay routable") {
    val got = LlmData.simsearchNswDelete(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 10, "the cut must still fill 10 live results")
    got.foreach { case (id, _) =>
      assert(id % 12 != 5, s"tombstoned vector $id surfaced")
    }
    // recall vs brute force over SURVIVORS
    val brute = LlmData.simsearchTopk(s, d)
      .where(expr("NOT (vec_id % 12 = 5)")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.map(_._1).toSet.intersect(brute).size.toDouble / 10
    info(s"NSW-delete recall@10 vs survivor brute force: $recall")
    assert(recall >= 0.7, s"delete recall $recall below the 0.7 floor")
    // mark-and-filter is non-vacuous: the walk VISITED deleted nodes
    // (they stay routable — that's the whole point of not tearing the
    // graph), they just can't surface
    val visited = LlmData.nswDeleteWalkForTest(s, d)
      .select("vec_id").collect().map(_.getLong(0))
    assert(visited.exists(_ % 12 == 5),
      "no deleted node was ever routed through — mark-and-filter untested")
  }

  test("q_simsearch_nsw_recall: walk ledger is consistent and holds the mean-recall floor") {
    val rows = LlmData.simsearchNswRecall(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "one ledger row per batch query")
    rows.foreach { case (qid, hits, gtN, ppm) =>
      assert(qid % 50 === 1, "ledger rows keyed by the walk's query batch")
      assert(gtN > 0 && gtN <= 10, "ground-truth size is min(10, corpus)")
      assert(hits >= 0 && hits <= gtN)
      assert(ppm === hits * 1000000L / gtN)
    }
    // the dial-quality signal is non-vacuous: the batch walk's mean
    // recall on the fixture holds a real floor (measured; the beam/hop
    // dials are graded by exactly this ledger)
    val mean = rows.map(_._4).sum.toDouble / rows.length / 1000000.0
    info(s"NSW batch-walk mean recall@10: $mean")
    assert(mean >= 0.6, s"mean walk recall $mean below the 0.6 floor")
  }

  test("q_simsearch_recall_eval: ledger matches a direct intersection recount") {
    val rows = LlmData.simsearchRecallEval(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length === 8, "one ledger row per standing query")
    rows.foreach { case (_, hits, gtN, ppm) =>
      assert(gtN > 0 && gtN <= 10, "ground-truth size is min(10, corpus)")
      assert(hits >= 0 && hits <= gtN)
      assert(ppm === hits * 1000000L / gtN)
    }
    // direct recount for one query: probe top-10 vs exact brute top-10
    val qid = rows.head._1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val probe = LlmData.simsearchBatchRouted(s, d)
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
      .where(col("query_id") === qid)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val qe = Tables(s, d, "embeddings").where(col("vec_id") === qid)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble)
    val bruteIds = Tables(s, d, "embeddings").where(col("vec_id") >= 8)
      .collect().map { r =>
        val e = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
        val dot = e.zip(qe).map(p => p._1 * p._2).sum
        val cos = dot / (math.sqrt(e.map(x => x * x).sum) *
          math.sqrt(qe.map(x => x * x).sum))
        (r.getLong(r.fieldIndex("vec_id")),
          math.round(cos * 10000).toDouble / 10000)
      }.sortBy(p => (-p._2, p._1)).take(10).map(_._1).toSet
    assert(rows.head._2 === bruteIds.intersect(probe).size.toLong,
      s"query $qid ledger disagrees with the direct recount")
    // the eval is non-vacuous: recall is high but the probe is genuinely
    // cell-pruned (assert the ledger isn't trivially all-zero)
    assert(rows.map(_._2).sum > 0, "every query recalled nothing — eval vacuous")
  }

  test("q_corpus_reweight: the multiplicative-weights step replays driver-side; hard domains rise") {
    val out = LlmData.corpusReweight(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(out.nonEmpty)
    // replay the whole update from the per-domain (n_toks, loss) columns —
    // the ledger must be self-consistent, not just well-typed
    val tt = out.map(_._3).sum
    val scores = out.map { case (_, _, nt, _, _, ex, _, _) =>
      (1000L * nt / tt) * (1000000L + ex) }
    val ss = scores.sum
    out.zip(scores).foreach { case ((src, _, nt, before, _, ex, after, budget), sc) =>
      assert(ex >= 0L, s"excess must clamp at zero ($src)")
      assert(before === 1000L * nt / tt, s"before-share mismatch ($src)")
      assert(after === 1000L * sc / ss, s"MW update mismatch ($src)")
      assert(budget === (1000L * sc / ss) * tt / 1000L, s"budget mismatch ($src)")
    }
    // non-vacuous: some domain sits above the reference, and upweighting
    // is real — every positive-excess domain's share ratio beats every
    // zero-excess domain's (the DoReMi direction)
    assert(out.exists(_._6 > 0L), "fixture must have at least one hard domain")
    val hardRatio = out.filter(_._6 > 0L)
      .map(r => r._7.toDouble / math.max(1L, r._4)).min
    val easyRatio = out.filter(_._6 === 0L)
      .map(r => r._7.toDouble / math.max(1L, r._4)).max
    if (out.exists(_._6 === 0L))
      assert(hardRatio >= easyRatio,
        "hard domains must be upweighted relative to easy ones")
  }

  test("q_corpus_curriculum: phases tile the corpus, budgets hold, difficulty is monotone") {
    val phases = LlmData.corpusCurriculum(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(phases.length === 4, s"expected 4 phases, got ${phases.length}")
    assert(phases.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    val docs = Tables(s, d, "documents")
      .where(col("text").isNotNull)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
    val totalTok = docs.agg(sum("n_tok")).collect()(0).getLong(0)
    val budget = (totalTok + 3) / 4
    // phases partition the corpus exactly
    assert(phases.map(_._2).sum === docs.count())
    assert(phases.map(_._3).sum === totalTok)
    // no phase exceeds its token budget by more than one straddling doc
    val maxDoc = docs.agg(max("n_tok")).collect()(0).getLong(0)
    phases.foreach { case (p, _, tok, _, _) =>
      assert(tok <= budget + maxDoc, s"phase $p holds $tok tokens vs budget $budget")
    }
    // the curriculum is monotone: each phase's difficulty range starts at
    // or after the previous phase's start (bucket boundaries can overlap
    // by one shared difficulty value, never invert)
    phases.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._4 >= a._4 && b._5 >= a._5,
          s"difficulty ranges invert between phases ${a._1} and ${b._1}")
      case _ =>
    }
  }

  test("q_embed_whiten: whitened dims center at 0 with unit variance") {
    val perVec = LlmData.embedWhiten(s, d).collect()
    assert(perVec.nonEmpty)
    // reconstruct the first-4-dim whitened columns and check moments:
    // mean within ±2 milli of 0, variance within 2% of 1 (rounding slack)
    val n = perVec.length.toDouble
    (1 to 4).foreach { j =>
      val col = perVec.map(_.getLong(j))
      val mean = col.sum / n
      assert(math.abs(mean) <= 2.0, s"dim $j whitened mean $mean not ~0 milli")
      val varr = col.map(v => v * v.toDouble).sum / n / 1e6 - mean * mean / 1e6
      assert(math.abs(varr - 1.0) <= 0.02, s"dim $j whitened variance $varr not ~1")
    }
    // the norm audit column is the exact sum of squares of per-dim millis
    perVec.foreach { r =>
      assert(r.getLong(5) >= 0)
    }
    // non-vacuous: whitening changed values (not the identity transform)
    assert(perVec.map(_.getLong(1)).distinct.length > 1)
  }

  test("q_text_kneser_ney: per-history mass conserves, one bigram recounted exactly") {
    val rows = LlmData.textKneserNey(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // exact recount of the model's inputs from the raw corpus
    val bigrams = Tables(s, d, "documents").collect()
      .map(_.getAs[String]("text")).filter(_ != null)
      .flatMap(t => { val w = t.split(" "); w.zip(w.drop(1)) })
    val c12 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1fwd = c12.keys.toSeq.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1bwd = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val ntypes = c12.size.toLong
    assert(rows.length.toLong === ntypes, "one model row per bigram type")
    rows.foreach { case (w1, w2, c, disc, lam, pc, p) =>
      assert(c === c12((w1, w2)))
      assert(disc === (math.max(4 * c - 3, 0L) * 1000000L) / (4 * c1(w1)))
      assert(lam === (3 * n1fwd(w1) * 1000000L) / (4 * c1(w1)))
      assert(pc === (n1bwd(w2) * 1000000L) / ntypes)
      assert(p === disc + (lam * pc) / 1000000L)
      assert(p > 0 && p <= 1000000L)
    }
    // interpolated-KN mass conservation: for every history,
    // sum(discounted seen mass) + lambda = 1 up to per-division floor slack
    rows.groupBy(_._1).foreach { case (w1, g) =>
      val mass = g.map(_._4).sum + g.head._5
      val slack = g.length + 2
      assert(math.abs(mass - 1000000L) <= slack,
        s"history '$w1' mass $mass outside 1e6 ± $slack")
    }
    // the continuation distribution itself sums to ~1 over the vocabulary
    val pcSum = rows.groupBy(_._2).map(_._2.head._6).sum
    assert(math.abs(pcSum - 1000000L) <= n1bwd.size + 2)
  }

  test("q_text_kn_perplexity: backoff path fires, floors bounded, scores bounded by seen-prob range") {
    val rows = LlmData.textKnPerplexity(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // one row per held-out doc with >= 2 tokens
    val heldout = Tables(s, d, "documents")
      .where(col("doc_id") % 10 === 0 && col("text").isNotNull &&
        size(split(col("text"), " ")) >= 2).count()
    assert(rows.length.toLong === heldout)
    rows.foreach { case (id, n, nb, nf, sum, mean) =>
      assert(id % 10 === 0)
      assert(n >= 1 && nb >= 0 && nf >= 0 && nb + nf <= n)
      assert(sum < 0, "log-probs must be negative")
      assert(mean < 0 && mean >= -6.0)
    }
    // the REAL backoff path fires somewhere (held-out docs contain pairs
    // the training split lacks) — otherwise the operator is just a join
    assert(rows.map(_._3).sum > 0,
      "no held-out bigram needed the backoff — the serving path is vacuous")
  }

  test("q_multimodal_keyframe: one median frame per scene, inside its segment") {
    val segs = LlmData.multimodalVideoScene(s).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val keys = LlmData.multimodalKeyframe(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(keys.length === segs.size, "one keyframe per scene")
    keys.foreach { case (v, sc, kf, _, n) =>
      val (start, end, nf) = segs((v, sc))
      assert(kf >= start && kf <= end, s"keyframe $kf outside scene [$start,$end]")
      assert(n === nf)
    }
    // the election is the median, not the first frame: some keyframe must
    // differ from its scene's start
    assert(keys.exists { case (v, sc, kf, _, _) => kf != segs((v, sc))._1 },
      "every keyframe is its scene's first frame — median election vacuous")
  }

  test("q_text_unigram_em_step: mass conserves and hard-EM likelihood never drops") {
    val model0 = LlmData.unigramModel(s, d).map { case (p, _, v) => p -> v }.toMap
    val enc = LlmData.unigramEncTokens(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tokCnt = Tables(s, d, "documents").select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) > 0).groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = LlmData.textUnigramEmStep(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // M-step mass recounts exactly from the engine's own segmentation
    val want = enc.flatMap { case (tok, _, _, acc) =>
      acc.split(" ").map(p => p -> tokCnt(tok))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got.map(p => p._1 -> p._2).toMap === want)
    // total piece mass = sum over tokens of cnt * np
    assert(got.map(_._2).sum === enc.map { case (t0, np, _, _) => tokCnt(t0) * np }.sum)
    // EM prune is real: the seed model carries pieces the Viterbi never
    // uses, and they leave
    assert(got.length < model0.size,
      "no piece was pruned — the EM step is the identity on this fixture")
    // hard-EM monotonicity: under the FIXED segmentation, the refreshed
    // parameters cannot lower total log-likelihood (micro-rounding slack:
    // one micro per piece occurrence)
    val lp1 = got.map(p => p._1 -> p._3).toMap
    val occ = enc.map { case (t0, np, _, _) => tokCnt(t0) * np }.sum
    val ll0 = enc.map { case (t0, _, sc, _) => tokCnt(t0) * sc }.sum
    val ll1 = enc.map { case (t0, _, _, acc) =>
      tokCnt(t0) * acc.split(" ").map(lp1).sum
    }.sum
    assert(ll1 >= ll0 - occ, s"EM step lowered likelihood: $ll0 -> $ll1")
  }

  test("q_multimodal_audio_segments: islands recover exactly the planted activity runs") {
    import graft.functions.BinaryBatch
    val segs = LlmData.multimodalAudioSegments(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // planted truth straight from the generator's active-window rule
    val wantSegs = (0 until BinaryBatch.AudioSegClips).flatMap { c =>
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var w = 0
      while (w < BinaryBatch.AudioSegWindows) {
        if (BinaryBatch.audioSegActive(c, w)) {
          val start = w
          while (w < BinaryBatch.AudioSegWindows && BinaryBatch.audioSegActive(c, w)) w += 1
          runs += ((start.toLong, (w - 1).toLong))
        } else w += 1
      }
      runs.zipWithIndex.map { case ((a, b), i) =>
        (c.toLong, i.toLong, a, b, b - a + 1)
      }
    }.toSeq
    assert(segs.toSeq === wantSegs,
      "detected segments differ from the generator's planted activity runs")
    // non-vacuous: every clip splits into at least 2 segments
    assert(segs.groupBy(_._1).forall(_._2.length >= 2), "a clip had one segment")
  }

  test("q_multimodal_video_scene: segments recover exactly the planted cuts from decoded bytes") {
    import graft.functions.BinaryBatch
    val segs = LlmData.multimodalVideoScene(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nv = BinaryBatch.VideoSceneVideos
    val nf = BinaryBatch.VideoSceneFrames
    // planted truth straight from the generator's cut rule
    val wantSegs = (0 until nv).flatMap { v =>
      (0 until nf).map(f => (v.toLong, BinaryBatch.videoSceneOf(v, f).toLong, f.toLong))
        .groupBy(t => (t._1, t._2)).map { case ((vid, sc), fs) =>
          (vid, sc, fs.map(_._3).min, fs.map(_._3).max, fs.length.toLong)
        }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(segs.toSeq === wantSegs,
      "detected segments differ from the generator's planted scene structure")
    // non-vacuous: every video has at least 2 scenes and frames tile exactly
    assert(segs.groupBy(_._1).forall(_._2.length >= 2), "a video had no cut")
    assert(segs.map(_._5).sum === (nv * nf).toLong)
    segs.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 === a._4 + 1, "segments must tile frames")
        case _ =>
      }
    }
  }

  test("q_stream_video_scene: streamed decode equals an independent driver decode; segments identical to batch") {
    import graft.functions.BinaryBatch
    // transport identity: same segments, same order, as the batch operator
    val out = LlmData.streamVideoScene(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val batch = LlmData.multimodalVideoScene(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === batch.toSeq,
      "streaming transport must be content-identical to the batch operator")
    // the SUNK feature table re-decoded independently on the driver
    // (ImageIO over the raw fixture bytes) — catches a sink that dropped,
    // duplicated, or mis-keyed a micro-batch's frames
    val feats = LlmData.streamVideoFeatures(s).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val dir = LlmData.videoFixtureDir()
    val pat = "vid_(\\d+)_f_(\\d+)\\.png$".r
    val st = java.nio.file.Files.list(dir)
    val pngs =
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".png")).toList
      } finally st.close()
    assert(pngs.nonEmpty)
    assert(feats.size === pngs.length,
      "sink must publish exactly one feature row per fixture frame")
    pngs.foreach { f =>
      val m = pat.findFirstMatchIn(f.toString).get
      val (v, fr) = (m.group(1).toLong, m.group(2).toLong)
      val lum = BinaryBatch.frameLumBatch(
        Seq((v, fr, java.nio.file.Files.readAllBytes(f)))).head.lum
      assert(feats((v, fr)) === lum, s"streamed feature mismatch at ($v, $fr)")
    }
  }

  test("q_text_unigram_encode: Viterbi matches exhaustive enumeration on every token") {
    val model = LlmData.unigramModel(s, d)
    val lp = model.map { case (p, _, v) => p -> v }.toMap
    // exhaustive best segmentation under the same objective: max score,
    // then fewest pieces, then lexicographically-later piece list read
    // right-to-left is NOT needed — the longest-final-piece tie-break is
    // realized by enumerating and keying on (sc, -np, lastLen)
    def segment(tok: String): Seq[Seq[String]] = {
      if (tok.isEmpty) Seq(Seq.empty)
      else (1 to math.min(4, tok.length)).flatMap { l =>
        val h = tok.substring(0, l)
        if (lp.contains(h)) segment(tok.substring(l)).map(h +: _) else Seq.empty
      }
    }
    // the DP's tie-break is applied at every position; realize it by
    // folding candidates left-to-right with the same struct order the
    // engine's array_max uses (score, -np, final-piece length)
    def bestOf(segs: Seq[Seq[String]]): (Long, Long, Seq[String]) =
      segs.map(g => (g.map(lp).sum, -g.length.toLong, g))
        .reduceLeft { (a, b) =>
          if (b._1 > a._1) b
          else if (b._1 < a._1) a
          else if (b._2 > a._2) b
          else if (b._2 < a._2) a
          else if (b._3.last.length > a._3.last.length) b else a
        } match { case (sc, mnp, g) => (sc, -mnp, g) }
    val got = LlmData.unigramEncTokens(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty)
    got.foreach { case (tok, np, sc, acc) =>
      val pieces = acc.split(" ").toSeq
      assert(pieces.mkString("") === tok,
        s"pieces of '$tok' do not reconstruct it: '$acc'")
      assert(pieces.length.toLong === np)
      assert(pieces.map(lp).sum === sc, s"score mismatch for '$tok'")
      val (bsc, bnp, _) = bestOf(segment(tok))
      assert(sc === bsc,
        s"'$tok': engine Viterbi score $sc but exhaustive best is $bsc")
      assert(np === bnp,
        s"'$tok': engine used $np pieces but the best segmentation has $bnp")
    }
    // non-vacuous: multi-char pieces genuinely fire somewhere
    assert(got.exists { case (tok, np, _, _) => np < tok.length },
      "every token segmented char-by-char — the vocab never matched")
    // deterministic re-run
    val again = LlmData.unigramEncTokens(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("q_dedup_bloom: no false negatives, gate is selective, verdict matches brute force") {
    val rows = LlmData.dedupBloom(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4)))
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text")).as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val standingDocs = docs.filter(_._1 % 10 != 0)
    val standing = standingDocs.map(_._2).toSet
    // arrivals = new docs plus the planted recrawls (standing content
    // re-delivered under fresh ids — the operator's own construction)
    val arrivals = docs.filter(_._1 % 10 == 0) ++
      standingDocs.filter(_._1 % 17 == 3).map(p => (-p._1 - 1L, p._2))
    assert(rows.length === arrivals.length, "one verdict row per arrival")
    val bruteDups = arrivals.filter(a => standing.contains(a._2)).map(_._1).toSet
    assert(bruteDups.nonEmpty, "fixture has no cross-split exact dup — vacuous")
    rows.foreach { case (id, hits, maybe, isDup, fp) =>
      assert(hits >= 0 && hits <= 3)
      assert(maybe === (hits == 3))
      assert(isDup === bruteDups.contains(id),
        s"doc $id bloom+verify verdict disagrees with brute-force digest join")
      // the bloom's no-false-negative law: every true dup is a maybe
      if (isDup) assert(maybe, s"doc $id is a dup but the bloom missed it")
      assert(fp === (maybe && !isDup))
    }
    // the gate earns its keep: definite-new rows skip exact verification
    val maybes = rows.count(_._3)
    assert(maybes < rows.length,
      "every arrival was a maybe — the filter is saturated and gates nothing")
  }

  test("q_simsearch_nsw_compact: tombstones leave the graph, repair edges restore navigability") {
    val adj = s.read.parquet(LlmData.nswCompactAdjPath(s, d))
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    adj.foreach { case (a, b) =>
      assert(a % 12 != 5 && b % 12 != 5,
        s"compacted graph retains tombstone endpoint ($a,$b)")
    }
    // repair is non-vacuous: some compacted edge was never in the
    // original build — it was elected through a dead intermediate
    val orig = s.read.parquet(LlmData.nswAdjPath(s, d))
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adj.exists(e => !orig.contains(e)),
      "no repair edge was created — compaction untested")
    val got = LlmData.simsearchNswCompact(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 10, "the cut must still fill 10 live results")
    got.foreach { case (id, _) =>
      assert(id % 12 != 5, s"tombstoned vector $id surfaced after compaction")
    }
    val brute = LlmData.simsearchTopk(s, d)
      .where(expr("NOT (vec_id % 12 = 5)")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.map(_._1).toSet.intersect(brute).size.toDouble / 10
    info(s"NSW-compact recall@10 vs survivor brute force: $recall")
    assert(recall >= 0.7, s"compact recall $recall below the 0.7 floor")
    // deterministic: a second run is byte-identical
    val again = LlmData.simsearchNswCompact(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === got.toSeq)
  }

  test("q_simsearch_hnsw: hierarchy descends through the sparse layer and holds the recall floor") {
    val brute = LlmData.simsearchTopk(s, d).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = LlmData.simsearchHnsw(s, d).collect()
    assert(got.length === 10, s"HNSW walk returned ${got.length} rows")
    val ids = got.map(_.getLong(0)).toSet
    val recall = ids.intersect(brute).size.toDouble / 10
    info(s"HNSW recall@10 vs brute force: $recall")
    assert(recall >= 0.7, s"HNSW recall $recall below the 0.7 floor")
    // the upper layer is a strict subset: every adjacency endpoint obeys
    // the sparse-node id rule on BOTH sides
    val l1 = s.read.parquet(LlmData.hnswL1AdjPath(s, d)).collect()
    assert(l1.nonEmpty, "upper-layer adjacency is empty")
    l1.foreach { r =>
      assert(r.getLong(0) % 8 === 1, s"layer-1 src ${r.getLong(0)} off-layer")
      assert(r.getLong(1) % 8 === 1, s"layer-1 dst ${r.getLong(1)} off-layer")
    }
    // deterministic: a second run is byte-identical
    val again = LlmData.simsearchHnsw(s, d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(again.toSeq === got.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("q_dedup_lines: first occurrences survive, duplicate tail lines provably drop") {
    val out = LlmData.dedupLines(s, d).collect()
    val docs = Tables(s, d, "documents").where(length(col("text")) > 0).count()
    assert(out.length.toLong === docs, "one row per non-empty document")
    var dropped = 0L
    out.foreach { r =>
      val (n, kept, drop) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept + drop === n, s"doc ${r.getLong(0)}: kept+dropped != n_lines")
      assert(kept >= 0 && drop >= 0)
      dropped += drop
    }
    // short tail lines collide across the corpus by construction, so the
    // C4-style drop path must actually fire
    assert(dropped > 0, "no duplicate line was ever dropped — vacuous fixture")
    // global first-occurrence contract: across the whole corpus each
    // distinct line text keeps exactly one copy
    val lines = Tables(s, d, "documents").where(length(col("text")) > 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, CAST((size(toks) + 7) div 8 AS INT) - 1), " +
          "i -> array_join(slice(toks, i * 8 + 1, 8), ' '))")).as("lt"))
    val distinctLines = lines.select("lt").distinct().count()
    val totalKept = out.map(_.getLong(2)).sum
    assert(totalKept === distinctLines,
      s"kept $totalKept lines but corpus has $distinctLines distinct — dedup not exact")
  }

  test("q_text_wordpiece_encode: engine encode equals a driver-side greedy reference") {
    // independent reference: recompute vocab + greedy longest-match in
    // plain Scala from the raw fixture, then compare md5s per doc
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val cnt = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach(_._2.split(" ").filter(_.nonEmpty).foreach(t => cnt(t) += 1))
    val gramF = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    cnt.foreach { case (tok, c) =>
      for (k <- 2 to 4; i <- 0 to tok.length - k) gramF(tok.substring(i, i + k)) += c
    }
    val vocab = gramF.toSeq.sortBy { case (p, f) => (-f, p) }.take(64).map(_._1).toSet
    def enc(tok: String): Seq[String] = {
      val out = Seq.newBuilder[String]; var i = 0
      while (i < tok.length) {
        val k = (4 to 2 by -1).find(k => i + k <= tok.length &&
          vocab(tok.substring(i, i + k))).getOrElse(1)
        out += tok.substring(i, i + k); i += k
      }
      out.result()
    }
    val expected = docs.map { case (id, text) =>
      val pcs = text.split(" ").filter(_.nonEmpty).toSeq.map(enc)
      (id, pcs.map(_.length.toLong).sum,
        java.security.MessageDigest.getInstance("MD5")
          .digest(pcs.map(_.mkString(" ")).mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }.sortBy(_._1).toSeq
    val got = LlmData.textWordpieceEncode(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(got === expected)
    // non-vacuous: multi-char pieces actually fire somewhere
    val totalPieces = got.map(_._2).sum
    val totalChars = docs.map(_._2.split(" ").filter(_.nonEmpty).map(_.length.toLong).sum).sum
    assert(totalPieces < totalChars, "encoding never used a multi-char piece")
    // lossless property: concatenating any token's pieces reconstructs it
    cnt.keys.foreach { tok =>
      assert(enc(tok).mkString("") === tok, s"encode of '$tok' is lossy")
    }
  }

  test("q_embed_kmeans_train: inertia is non-increasing and shifts decay") {
    val rows = LlmData.embedKmeansTrain(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byIter = rows.groupBy(_._1).toSeq.sortBy(_._1)
    assert(byIter.map(_._1) === (1L to 6L))
    // Lloyd's invariant: total inertia never increases across iterations
    val inertia = byIter.map(_._2.map(_._4).sum)
    inertia.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"inertia increased: $a -> $b")
    }
    info(s"inertia trace: ${inertia.mkString(" -> ")}")
    // every iteration accounts for the whole corpus
    val n = Tables(s, d, "embeddings").count()
    byIter.foreach { case (it, g) =>
      assert(g.map(_._3).sum === n, s"iter $it lost vectors") }
    // convergence: the final shift is (weakly) below the first
    val shifts = byIter.map(_._2.map(_._5).sum)
    assert(shifts.last <= shifts.head, "centroid shifts did not decay")
  }

  test("q_corpus_decontaminate: scrubbed text provably loses the eval overlap") {
    val rows = LlmData.corpusDecontaminate(s, d).collect()
    assert(rows.nonEmpty)
    val actions = rows.map(_.getString(4)).groupBy(identity).view.mapValues(_.length).toMap
    info(s"actions: $actions")
    // the vacuity guard: the shared-vocabulary fixture must actually
    // produce eval-overlapping windows somewhere
    assert(actions.contains("scrub") || actions.contains("drop"),
      "no training doc overlapped the eval split — vacuous fixture")
    rows.foreach { r =>
      val (n, hits, action, kept) =
        (r.getLong(1), r.getLong(3), r.getString(4), r.getLong(5))
      action match {
        case "keep" =>
          assert(hits === 0L); assert(kept === n)
        case "scrub" =>
          assert(hits > 0L)
          assert(kept < n, s"doc ${r.getLong(0)}: scrub removed nothing")
        case "drop" =>
          assert(kept === 0L)
          assert(r.getString(6) === "d41d8cd98f00b204e9800998ecf8427e")
      }
    }
    // eval docs never appear (they are the benchmark, not the corpus)
    rows.foreach(r => assert(r.getLong(0) % 97 !== 0L))
  }

  test("q_multimodal_pair_dedup: caption verdict splits the image near-dup classes") {
    val rows = LlmData.multimodalPairDedup(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // brightness-shifted family (a < 10, b = a + 30): same caption → true dup
    val shifted = rows.filter { case (a, b, _) => b == a + 30 && a < 10 }
    assert(shifted.nonEmpty, "no brightness-shifted pair surfaced")
    shifted.foreach { case (a, b, m) =>
      assert(m, s"pair ($a,$b) should share its caption") }
    // one-pixel variants (b >= 40): distinct caption → image dup, pair NOT dup
    val variants = rows.filter { case (_, b, _) => b >= 40 }
    assert(variants.nonEmpty, "no pixel-variant pair surfaced")
    variants.foreach { case (a, b, m) =>
      assert(!m, s"pair ($a,$b) should NOT share a caption") }
  }

  test("q_stream_corpus_curate: arrival admissions equal the batch gate") {
    val rows = LlmData.streamCorpusCurate(s, d).collect()
    val docs = Tables(s, d, "documents")
    val arrivals = docs.where(col("doc_id") % 10 === 0).count() +
      docs.where(col("doc_id") % 50 === 0).count() // planted redeliveries
    assert(rows.map(_.getLong(1)).sum === arrivals,
      "copy counts must cover every arriving doc incl. planted clones")
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    // in-batch dedup is non-vacuous: the planted clones form multi-copy
    // groups whose survivor is the ORIGINAL (smaller id) — its doc_id is
    // never a clone id, proving min_by survivor-attribute resolution
    val multi = rows.filter(_.getLong(1) > 1)
    assert(multi.nonEmpty, "no multi-copy content group — dedup path vacuous")
    multi.foreach(r => assert(r.getLong(0) < 1000000000L,
      s"survivor ${r.getLong(0)} is a planted clone, not the original"))
    // the admission verdict is the conjunction of its parts
    rows.foreach { r =>
      assert(r.getBoolean(5) === (r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4)))
    }
    val admitted = rows.count(_.getBoolean(5))
    val rejected = rows.length - admitted
    info(s"admitted $admitted / ${rows.length} (rejected $rejected)")
    assert(admitted > 0, "gate admitted nothing — vacuous")
    assert(rejected > 0, "gate rejected nothing — vacuous")
  }

  test("q_corpus_dataset_card: per-source card is internally consistent") {
    val rows = LlmData.corpusDatasetCard(s, d).collect()
    val srcDocs = Tables(s, d, "documents").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet === srcDocs.keySet)
    rows.foreach { r =>
      val (src, n, p50, p90) =
        (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5))
      assert(n === srcDocs(src))
      assert(p50 <= p90, s"$src: p50 > p90")
      val ppm = r.getLong(8)
      assert(ppm > 0 && ppm <= 1000000, s"$src: top-lang share $ppm out of range")
      assert(r.getLong(6) >= 1, s"$src: no languages?")
    }
  }

  test("q_corpus_funnel_audit: stages shrink monotonically and the last equals the curated corpus") {
    val rows = LlmData.corpusFunnelAudit(s, d).collect()
    assert(rows.map(_.getString(1)).toSeq ===
      Seq("raw", "near_dedup", "quality", "langid"))
    val docs = rows.map(_.getLong(2))
    val toks = rows.map(_.getLong(3))
    docs.sliding(2).foreach { case Array(a, b) => assert(b <= a, "docs grew across a filter stage") }
    toks.sliding(2).foreach { case Array(a, b) => assert(b <= a, "tokens grew across a filter stage") }
    assert(docs(0) === Tables(s, d, "documents").count(), "raw stage != corpus size")
    assert(docs(3) === LlmData.corpusFilter(s, d).count(),
      "final funnel stage disagrees with q_corpus_filter")
    assert(docs(3) > 0, "curated corpus is empty — vacuous funnel")
  }

  test("q_simsearch_nsw_batch: every query gets 5 ranked results, recall holds batch-wide") {
    val rows = LlmData.simsearchNswBatch(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    byQ.foreach { case (q, g) =>
      assert(g.map(_._2).sorted.toSeq === (1L to 5L), s"query $q rank set broken")
      val cms = g.sortBy(_._2).map(_._4)
      cms.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    }
    // batch-wide recall@5 vs brute force (self-inclusive, same as the walk)
    val emb = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val corpus = emb.filter(_._1 != 0L)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val recalls = byQ.keys.toSeq.map { q =>
      val qe = emb.find(_._1 == q).get._2
      val brute = corpus
        .map { case (id, v) => (id, math.round(cos(v, qe) * 1000000)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      byQ(q).map(_._3).toSet.intersect(brute).size.toDouble / 5
    }
    val mean = recalls.sum / recalls.length
    info(s"batch mean recall@5: $mean")
    assert(mean >= 0.8, s"batch recall $mean below floor (measured 1.0)")
  }

  test("q_rag_index_retrieve: probe stays in the query's cell and ranks by dot") {
    val rows = LlmData.ragIndexRetrieve(s, d).collect()
    assert(rows.length === 5)
    val cells = rows.map(_.getInt(3)).toSet
    assert(cells.size === 1, "retrieval escaped the probed cell")
    val dots = rows.sortBy(_.getLong(0)).map(_.getLong(4))
    dots.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    // the query chunk itself must not be returned
    rows.foreach(r => assert(!(r.getLong(1) == 1L && r.getInt(2) == 0)))
  }

  test("q_simsearch_append: merged index is complete and every row keeps the frozen assignment") {
    val idx = s.read.parquet(LlmData.ivfAppendIndexPath(s, d))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
    val expected = LlmData.ivfAppendAssignment(s, d)
      .select(col("vec_id"), col("cell").cast("long").as("idx_cell"))
    val n = Tables(s, d, "embeddings").count()
    // completeness: the append lost nothing and duplicated nothing
    assert(idx.count() === n, "merged index must hold every vector once")
    assert(idx.select("vec_id").distinct().count() === n)
    // frozen assignment: each row's stored cell (standing rows from the
    // base build, batch rows from the append job) equals the argmax under
    // the STANDING-subset codebook recomputed in-plan
    val mismatches = idx.join(expected, "vec_id")
      .where(col("cell") =!= col("idx_cell")).count()
    assert(mismatches === 0L, s"$mismatches rows deviate from the frozen codebook")
  }

  test("q_simsearch_append: full probe over the merged index equals brute force") {
    val app = LlmData.simsearchAppendProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(app === brute,
      "scanning every cell of the appended index must reproduce brute force")
  }

  test("q_simsearch_stream_append: streaming transport lands the identical merged index") {
    val batch = s.read.parquet(LlmData.ivfAppendIndexPath(s, d))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val streamed = s.read.parquet(LlmData.ivfStreamIndexPath(s, d))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed === batch,
      "stream-ingested index must hold exactly the batch-appended rows")
  }

  test("q_simsearch_stream_append: probe result equals the batch append path") {
    val st = LlmData.simsearchStreamAppend(s, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ba = LlmData.simsearchAppend(s, d)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(st === ba, "same rows, different transport — probes must agree")
  }

  test("q_simsearch_filtered: only matching labels surface; full probe equals brute force over the subset") {
    val emb = Tables(s, d, "embeddings")
    val matching = emb.where(expr("label % 3 = 1")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    LlmData.simsearchFiltered(s, d).collect().foreach(r =>
      assert(matching.contains(r.getLong(0)),
        s"non-matching vec ${r.getLong(0)} leaked through the filter"))
    val full = LlmData.simsearchFilteredProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val brute = emb.crossJoin(q)
      .where(col("vec_id") =!= 0 && expr("label % 3 = 1"))
      .select(col("vec_id"),
        (round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")) * 1e4) / 1e4)
          .as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full === brute,
      "full-probe filtered scan must equal brute force over the matching subset")
  }

  test("q_simsearch_hybrid: fusion reproduces RRF over the two branch rankings") {
    val lex = LlmData.searchBm25(s, d).collect().map(_.getLong(0)).toSeq
    val vec = LlmData.simsearchTopk(s, d).limit(20).collect().map(_.getLong(0)).toSeq
    assert(lex.nonEmpty && vec.nonEmpty)
    def rrf(rank: Int): Long = math.round(1000000.0 / (60 + rank))
    val expected = (lex.zipWithIndex.map { case (id, i) => id -> rrf(i + 1) } ++
      vec.zipWithIndex.map { case (id, i) => id -> rrf(i + 1) })
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (id, sc) => (-sc, id) }.take(10)
    val got = LlmData.simsearchHybrid(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected,
      s"fused ranking must equal driver-side RRF over the branches")
  }

  test("q_simsearch_delete: tombstones never surface; full probe equals brute force over survivors") {
    // default probe: no tombstoned id leaks through the anti join
    LlmData.simsearchDelete(s, d).collect()
      .foreach(r => assert(r.getLong(0) % 10 != 3, s"deleted ${r.getLong(0)} surfaced"))
    // full probe ≡ brute force over the surviving corpus (computed
    // independently here, not via the engine's probe machinery)
    val del = LlmData.simsearchDeleteProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val emb = Tables(s, d, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val brute = emb.crossJoin(q)
      .where(col("vec_id") =!= 0 && !expr("vec_id % 10 = 3"))
      .select(col("vec_id"),
        (round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")) * 1e4) / 1e4)
          .as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
    val bruteTop = brute.limit(20).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(del === bruteTop,
      "full-probe tombstoned scan must equal brute force minus the deleted set")
  }

  test("q_simsearch_delete: physical compaction of the tombstones preserves the probe result") {
    val tmp = Fixtures.tempDirCleanedAtExit("graft_ivf_compacted")
    try {
      val logical = LlmData.simsearchDelete(s, d)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val physical = LlmData.simsearchDeleteCompactedProbe(s, d,
          LlmData.defaultProbe, tmp.toString)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(physical === logical,
        "reclaiming tombstones physically must not change what the probe serves")
    } finally {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(tmp)
      try w.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally w.close()
    }
  }

  test("q_simsearch_delete: the tombstone anti join broadcasts") {
    val plan = LlmData.simsearchDelete(s, d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone removal must be a broadcast left-anti join, got:\n$plan")
  }

  private def cellFileCounts(path: String): Map[String, (Int, Long)] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map { cd =>
        val files = fs.listStatus(cd.getPath).filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        cd.getPath.getName -> (files.length, files.map(_.getLen).sum)
      }.toMap
  }

  test("q_simsearch_compact: per-cell file counts collapse to the bin-pack target") {
    val source = LlmData.ivfStreamIndexPath(s, d)
    val compacted = LlmData.ivfCompactedIndexPath(s, d)
    val before = cellFileCounts(source)
    val after = cellFileCounts(compacted)
    assert(after.keySet === before.keySet, "compaction must keep every cell")
    val target = 256L * 1024
    after.foreach { case (cell, (nAfter, _)) =>
      val (nBefore, bytesBefore) = before(cell)
      val binPack = math.max(1L, (bytesBefore + target - 1) / target).toInt
      assert(nAfter <= nBefore, s"$cell grew: $nBefore -> $nAfter files")
      assert(nAfter <= binPack,
        s"$cell holds $nAfter files, bin-pack target $binPack")
    }
    val totalBefore = before.values.map(_._1).sum
    val totalAfter = after.values.map(_._1).sum
    assert(totalAfter < totalBefore,
      s"stream accretion must actually compact: $totalBefore -> $totalAfter files")
  }

  test("q_simsearch_compact: the compacted generation holds exactly the source rows") {
    val source = s.read.parquet(LlmData.ivfStreamIndexPath(s, d))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val compacted = s.read.parquet(LlmData.ivfCompactedIndexPath(s, d))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(compacted === source,
      "compaction must be content-neutral row for row")
  }

  test("q_simsearch_compact: probe identity with the uncompacted stream index, at both widths") {
    val c = LlmData.simsearchCompactProbe(s, d, LlmData.defaultProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val u = LlmData.simsearchStreamAppendProbe(s, d, LlmData.defaultProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(c === u, "compaction must not change what the probe serves")
    val cf = LlmData.simsearchCompactProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val uf = LlmData.simsearchAppendProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(cf === uf, "full probe over the compacted generation must equal the merged index's")
  }

  test("sink commit-log parser: honors action=delete, rejects unknown versions and actions") {
    import java.nio.file.{Files, Path}
    def withLog(lines: Seq[String])(body: Path => Unit): Unit = {
      val dir = Fixtures.tempDirCleanedAtExit("graft_sinklog")
      try {
        val meta = dir.resolve("_spark_metadata")
        Files.createDirectories(meta)
        Files.writeString(meta.resolve("0"), lines.mkString("\n") + "\n")
        body(dir)
      } finally {
        import scala.jdk.CollectionConverters._
        val w = Files.walk(dir)
        try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally w.close()
      }
    }
    def entry(name: String, action: String) =
      s"""{"path":"file:///sink/cell=1/$name","size":10,"isDir":false,""" +
        s""""modificationTime":1,"blockReplication":1,"blockSize":1,"action":"$action"}"""
    // add-only log: both files published
    withLog(Seq("v1", entry("a.parquet", "add"), entry("b.parquet", "add"))) { d =>
      val got = operators.LlmData.streamSinkCommittedFiles(d)
        .map(_.getFileName.toString)
      assert(got === Set("a.parquet", "b.parquet"))
    }
    // a retention delete entry must EXCLUDE the file — republishing it
    // would resurrect data the sink already disowned (r10 advice item)
    withLog(Seq("v1", entry("a.parquet", "add"), entry("b.parquet", "add"),
      entry("a.parquet", "delete"))) { d =>
      val got = operators.LlmData.streamSinkCommittedFiles(d)
        .map(_.getFileName.toString)
      assert(got === Set("b.parquet"))
    }
    // delete-then-RE-ADD must publish: actions resolve last-wins in entry
    // order, not as a set difference (r11 advice item)
    withLog(Seq("v1", entry("a.parquet", "add"), entry("a.parquet", "delete"),
      entry("a.parquet", "add"))) { d =>
      val got = operators.LlmData.streamSinkCommittedFiles(d)
        .map(_.getFileName.toString)
      assert(got === Set("a.parquet"),
        "a path deleted and later re-added stays published under last-wins")
    }
    // cross-file ordering is NUMERIC by batch id: batch 10's delete must
    // land after batch 2's add (lexicographic "10" < "2" would flip it)
    locally {
      val dir = Fixtures.tempDirCleanedAtExit("graft_sinklog")
      try {
        val meta = dir.resolve("_spark_metadata")
        Files.createDirectories(meta)
        Files.writeString(meta.resolve("2"),
          Seq("v1", entry("a.parquet", "add")).mkString("\n") + "\n")
        Files.writeString(meta.resolve("10"),
          Seq("v1", entry("a.parquet", "delete")).mkString("\n") + "\n")
        assert(operators.LlmData.streamSinkCommittedFiles(dir).isEmpty,
          "batch 10's delete must override batch 2's add under numeric order")
      } finally {
        import scala.jdk.CollectionConverters._
        val w = Files.walk(dir)
        try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally w.close()
      }
    }
    // a log-format bump must fail loudly at the parse site, not feed a
    // misparsed file set downstream
    withLog(Seq("v2", entry("a.parquet", "add"))) { d =>
      val e = intercept[IllegalArgumentException](
        operators.LlmData.streamSinkCommittedFiles(d))
      assert(e.getMessage.contains("v1"))
    }
    // an unknown action aborts rather than guessing publish semantics
    withLog(Seq("v1", entry("a.parquet", "archive"))) { d =>
      val e = intercept[RuntimeException](
        operators.LlmData.streamSinkCommittedFiles(d))
      assert(e.getMessage.contains("archive"))
    }
  }

  test("q_simsearch_append_delete: retracted batch rows never surface; full probe equals brute force over survivors") {
    LlmData.simsearchAppendDelete(s, d).collect().foreach { r =>
      val id = r.getLong(0)
      assert(!(id % 20 == 7 || id % 10 == 3), s"tombstoned $id surfaced")
    }
    val composed = LlmData.simsearchAppendDeleteProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val emb = Tables(s, d, "embeddings")
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val brute = emb.crossJoin(q)
      .where(col("vec_id") =!= 0 && !expr("vec_id % 20 = 7 OR vec_id % 10 = 3"))
      .select(col("vec_id"),
        (round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")) * 1e4) / 1e4)
          .as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(composed === brute,
      "full-probe appended+tombstoned scan must equal brute force minus the retracted set")
  }

  test("q_simsearch_reclaim: probe identity with the logical delete; tombstones physically gone; untouched cells keep their files") {
    // probe identity at both widths: purge-on-compact must serve exactly
    // what the logical tombstone join serves
    val rec = LlmData.simsearchReclaimProbe(s, d, LlmData.defaultProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val log = LlmData.simsearchAppendDeleteProbe(s, d, LlmData.defaultProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rec === log, "reclaimed probe must equal the logical composed delete")
    val recF = LlmData.simsearchReclaimProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val logF = LlmData.simsearchAppendDeleteProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(recF === logF, "full-probe identity must hold too")
    val (recPath, purgedCells) = LlmData.ivfReclaimedIndexPath(s, d)
    // the tombstoned ids exist NOWHERE in the reclaimed generation
    val leaked = s.read.parquet(recPath)
      .where(expr("vec_id % 20 = 7 OR vec_id % 10 = 3")).count()
    assert(leaked === 0L, s"$leaked tombstoned rows survived the purge")
    // survivors are complete: reclaimed row count = source minus tombstones
    val srcPath = LlmData.ivfAppendIndexPath(s, d)
    val srcN = s.read.parquet(srcPath).count()
    val tombN = s.read.parquet(srcPath)
      .where(expr("vec_id % 20 = 7 OR vec_id % 10 = 3")).count()
    assert(s.read.parquet(recPath).count() === srcN - tombN)
    assert(purgedCells.nonEmpty, "the tombstone set must touch some cells")
    // the purge is CELL-TARGETED: purgedCells is exactly the tombstones'
    // frozen-codebook footprint, and every tombstone-free cell survives
    // with its full row content (the rewrite there is bin-packing only —
    // purge never leaks outside its footprint)
    val srcCells = s.read.parquet(srcPath)
      .where(expr("vec_id % 20 = 7 OR vec_id % 10 = 3"))
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(purgedCells === srcCells,
      "purged cells must be exactly the tombstones' cell footprint")
    val untouchedRows = (path: String) => s.read.parquet(path)
      .where(!col("cell").cast("long").isin(purgedCells.toSeq: _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(untouchedRows(recPath) === untouchedRows(srcPath),
      "tombstone-free cells must keep their exact row content")
  }

  test("q_simsearch_cell_stats: populations cover the corpus exactly and shares are consistent") {
    val out = LlmData.simsearchCellStats(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables(s, d, "embeddings").count()
    assert(out.map(_._2).sum === n, "cell populations must sum to the corpus")
    assert(out.map(_._1).distinct.length === out.length, "one row per cell")
    out.foreach { case (cell, cn, ppm) =>
      assert(ppm === 1000000L * cn / n, s"cell $cell share inconsistent")
    }
  }

  test("q_simsearch_drift: cohort counts and best-dot sums match a driver recompute") {
    val out = LlmData.simsearchDrift(s, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val emb = Tables(s, d, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // the engine's kernel float-casts the centroid literals, so the
    // reference does too before the ascending double fold
    val cb = LlmData.ivfAppendCodebook(s, d).map(_.map(_.toFloat))
    def best(v: Array[Float]): Long = {
      val m = cb.map { c =>
        var acc = 0.0
        var i = 0
        while (i < v.length) { acc += v(i).toDouble * c(i).toDouble; i += 1 }
        acc
      }.max
      math.round(m * 1000000)
    }
    val (bat, sta) = emb.partition(_._1 % 10 == 7)
    assert(out.keySet === Set("batch", "standing"))
    assert(out("batch")._1 === bat.length.toLong)
    assert(out("standing")._1 === sta.length.toLong)
    assert(out("batch")._2 === bat.map(e => best(e._2)).sum,
      "batch best-dot micro sum must equal the driver fold")
    assert(out("standing")._2 === sta.map(e => best(e._2)).sum,
      "standing best-dot micro sum must equal the driver fold")
  }

  test("q_simsearch_retrain: Lloyd refinement improves both cohorts and narrows the drift gap") {
    val out = LlmData.simsearchRetrain(s, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === Set("batch", "standing"))
    // the normalized per-cell MEAN is the argmax of the cell's summed dot
    // over unit vectors, so the retrained codebook can only raise each
    // cell's total — and empirically raises both cohorts on the fixture
    Seq("batch", "standing").foreach { c =>
      val (_, frozen, retrained) = out(c)
      assert(retrained > frozen,
        s"$c cohort must score strictly better under the retrained codebook")
    }
    // drift recovery: the frozen per-vector mean GAP (standing − batch)
    // must shrink after the retrain sees the batch's distribution
    def meanMicro(t: (Long, Long, Long), retrained: Boolean): Double =
      (if (retrained) t._3 else t._2).toDouble / t._1
    val gapFrozen =
      meanMicro(out("standing"), false) - meanMicro(out("batch"), false)
    val gapRetrained =
      meanMicro(out("standing"), true) - meanMicro(out("batch"), true)
    assert(gapRetrained < gapFrozen,
      s"retrain must narrow the drift gap (frozen $gapFrozen, retrained $gapRetrained)")
    // the readout rides the drift monitor's own frozen-codebook numbers:
    // the two keys must agree on the 'before' column exactly
    val drift = LlmData.simsearchDrift(s, d).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    Seq("batch", "standing").foreach { c =>
      assert(out(c)._2 === drift(c),
        s"$c frozen sum must equal the drift monitor's reading")
    }
  }

  test("q_simsearch_rebuild: full probe equals brute force; default probe holds the recall floor") {
    // probing EVERY retrained cell must reproduce exact brute-force top-20
    // — the rebuilt index is a partition of the corpus, nothing more
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val full = LlmData.simsearchRebuildProbe(s, d, _ => Int.MaxValue)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full === brute,
      "probing every rebuilt cell must reproduce brute force exactly")
    // the declared ~1/8-fraction probe on the REBUILT index keeps the
    // same floor the frozen index is held to: a retrain must never cost
    // recall at equal scan fraction
    val declared = LlmData.simsearchRebuild(s, d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(declared.size === 20)
    val recall = declared.intersect(brute).size.toDouble / 20
    info(s"rebuilt-index declared-probe recall@20: $recall")
    assert(recall >= 0.6,
      s"rebuilt-index declared-probe recall $recall below the 0.6 floor")
  }

  test("q_simsearch_batch_routed: full probe equals per-query brute force") {
    val full = LlmData.simsearchBatchRoutedProbe(s, d, _ => Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val emb = Tables(s, d, "embeddings")
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    val brute = emb.where(col("vec_id") >= 8).crossJoin(queries)
      .select(col("query_id"), col("vec_id"),
        (round(graft.functions.VectorOps.cosine(col("embedding"), col("q_emb")) * 1e4) / 1e4)
          .as("cos"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 20)
      .select("query_id", "vec_id", "cos")
      .orderBy(col("query_id"), desc("cos"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(full === brute,
      "routing every query to every cell must reproduce per-query brute force")
  }

  test("q_simsearch_batch_routed: the routing join broadcasts (hash, not nested-loop)") {
    val plan = LlmData.simsearchBatchRouted(s, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-query cell membership must be a broadcast HASH join, got:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the exploded (query, cell) table makes the membership join an equi-join")
  }

  test("q_dedup_incremental agrees with the full pair table restricted to new x corpus") {
    val inc = LlmData.dedupIncremental(s, d).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(3))).toSeq
    val allNew = Tables(s, d, "documents").where(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc.map(_._1).toSet === allNew, "every new-batch doc must report")
    // ground truth: the exact full pair table, restricted to pairs that
    // cross the batch split, min corpus partner per new doc
    val pairs = LlmData.dedupNgram(s, d).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    def upd(n: Long, c: Long): Unit =
      if (!expect.contains(n) || c < expect(n)) expect(n) = c
    pairs.foreach { case (a, b) =>
      if (a % 10 == 0 && b % 10 != 0) upd(a, b)
      if (b % 10 == 0 && a % 10 != 0) upd(b, a)
    }
    inc.foreach { case (id, dupOf, isDup) =>
      assert(expect.get(id) === dupOf, s"doc $id partner mismatch")
      assert(isDup === dupOf.isDefined)
    }
    // non-vacuous on both sides of the classification
    assert(inc.exists(_._3) && inc.exists(!_._3))
  }

  test("q_embed_pq codes are valid and ADC recall@20 clears its floor") {
    val enc = LlmData.embedPq(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1).split(",").toSeq.map(_.toInt), r.getLong(2)))
    val nVecs = Tables(s, d, "embeddings").count()
    assert(enc.length.toLong === nVecs)
    // every vector gets exactly m codes, each inside the ks cell range,
    // and reconstruction error is non-negative (micro-int rounding can
    // produce tiny negatives only through fp cancellation — bound it)
    enc.foreach { case (_, codes, err) =>
      assert(codes.length === 8)
      assert(codes.forall(c => c >= 0 && c < 16))
      assert(err >= -8L, s"reconstruction error impossibly negative: $err")
    }
    // (the pre-r9 sampled codebook reconstructed its own sample vectors
    // exactly; trained centroids are means, so that identity is gone —
    // the training test below asserts the stronger property instead)
    // ADC top-20 vs the exact scan (unit-norm fixtures: L2 rank == cosine
    // rank, so the cosine brute force is the ground truth)
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val adc = LlmData.simsearchPqAdc(s, d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(adc.size === 20)
    val recall = adc.intersect(brute).size.toDouble / 20
    info(s"PQ ADC recall@20: $recall")
    // 8 subspaces x 4-bit sampled codebooks is a coarse sketch — the pure
    // top-20 floor documents measured behavior (0.25 on this fixture),
    // not a product promise; the production shape is the candidate funnel
    // below (ADC top-5k candidates -> exact re-rank)
    assert(recall >= 0.2, s"ADC recall $recall below the 0.2 floor")
    // funnel coverage: ADC top-100 candidates must hold most of the true
    // top-20, or re-ranking has nothing to recover
    val cands = LlmData.simsearchPqAdcTop(s, d, 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val coverage = cands.intersect(brute).size.toDouble / 20
    info(s"PQ ADC top-100 candidate coverage of true top-20: $coverage")
    assert(coverage >= 0.6, s"candidate coverage $coverage below the 0.6 floor")
    // the funnel operator realizes that coverage: exact re-rank recovers
    // every true neighbor the candidate set holds, so its recall equals
    // the coverage and dominates the pure-ADC top-20
    val rerank = LlmData.simsearchRerank(s, d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rerank.size === 20)
    val rerankRecall = rerank.intersect(brute).size.toDouble / 20
    info(s"funnel (rerank) recall@20: $rerankRecall")
    assert(rerankRecall >= recall,
      s"funnel recall $rerankRecall below pure-ADC recall $recall")
    assert(rerankRecall === coverage,
      s"exact re-rank must recover the full candidate coverage")
    // PINNED recall contract (r10): measured funnel recall@20 on this
    // fixture is 0.75. A codebook, training, cap, or candidate-budget
    // change that degrades retrieval must fail HERE loudly, not drift
    // behind the generic 0.6 coverage floor; the 0.05 tolerance absorbs
    // only legitimate small re-derivations of the trained codebook.
    assert(rerankRecall >= 0.70,
      s"funnel recall@20 $rerankRecall fell below the pinned 0.75−0.05 contract")
  }

  test("q_dedup_incremental: forced shuffle path equals the broadcast path") {
    // bound 0 drops the broadcast() hint — but at fixture scale Catalyst
    // would still auto-broadcast both (small) sides, so the test would pass
    // without ever executing the shuffle join it claims to cover. Disabling
    // autoBroadcastJoinThreshold for the bound-0 run makes the fallback
    // REAL, and the executed plan is asserted broadcast-free to prove it.
    val broadcastPath = LlmData.dedupIncremental(s, d).collect().map(_.toSeq).toSeq
    val threshKey = "spark.sql.autoBroadcastJoinThreshold"
    val shufflePath =
      try GraftSession.withConfs(s, threshKey -> "-1") {
        // memoized frames embed their materialization-time physical plan
        // in the executed-plan dump (InMemoryRelation keeps the cached
        // plan it was built with, broadcast joins included) — clear them
        // so every subtree genuinely replans under the disabled threshold
        LlmData.clearMemo(s)
        val df = LlmData.dedupIncrementalWithBound(s, d, 0L)
        val rows = df.collect().map(_.toSeq).toSeq
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"),
          "bound-0 path must not plan any broadcast join under threshold=-1")
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          "bound-0 path must execute a genuine shuffle join")
        rows
      } finally {
        // drop the SMJ-planned caches so later tests rebuild under the
        // restored default conf
        LlmData.clearMemo(s)
      }
    assert(shufflePath === broadcastPath)
  }

  test("PQ Lloyd training beats the sampled codebook: error strictly down, recall not worse") {
    val sampled = LlmData.pqSampledCentroids(s, d)
    val trained = LlmData.pqTrainedCentroids(s, d)
    // total reconstruction error (exact integer micro) must strictly drop
    def totalErr(cb: Array[Array[Array[Float]]]): Long =
      LlmData.pqAudit(s, d, cb).agg(org.apache.spark.sql.functions.sum("pq_err_micro"))
        .head.getLong(0)
    val (errS, errT) = (totalErr(sampled), totalErr(trained))
    info(s"PQ reconstruction error micro: sampled=$errS trained=$errT")
    assert(errT < errS, s"training did not reduce reconstruction error: $errT !< $errS")
    // ADC recall@20 vs the exact scan must not degrade under training
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def recall(cb: Array[Array[Array[Float]]]): Int =
      LlmData.simsearchPqAdcWith(s, d, 20, cb)
        .select("vec_id").collect().map(_.getLong(0)).toSet.intersect(brute).size
    val (rS, rT) = (recall(sampled), recall(trained))
    info(s"ADC recall@20/20: sampled=$rS trained=$rT")
    assert(rT >= rS, s"training degraded ADC recall: $rT < $rS")
  }

  test("q_simsearch_ivfpq: full probe equals the ADC oracle; pruned probe holds recall") {
    // full-probe IVFADC must be ROW-IDENTICAL to the oracle-checked pure
    // ADC scan: the index's stored codes are the encoder's codes, so with
    // no cells pruned the two pipelines are the same computation
    val fullIvfpq = LlmData.simsearchIvfPqFull(s, d)
      .collect().map(_.toSeq).toSeq
    val pureAdc = LlmData.simsearchPqAdcTop(s, d, 20)
      .collect().map(_.toSeq).toSeq
    assert(fullIvfpq === pureAdc)
    // declared pruned probe: recall vs the exact scan — both cell pruning
    // and code quantization lose neighbors, so the floor sits under the
    // pure-ADC one (measured 0.25 ADC x 0.75-recall cells on this fixture)
    val brute = LlmData.simsearchTopk(s, d).limit(20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pruned = LlmData.simsearchIvfPq(s, d)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.size === 20)
    val recall = pruned.intersect(brute).size.toDouble / 20
    info(s"IVFPQ pruned-probe recall@20 vs exact: $recall")
    assert(recall >= 0.1, s"IVFPQ recall $recall below the 0.1 floor")
  }

  test("q_pack_best_fit: conservation holds and waste is strictly below the greedy packer") {
    val rows = LlmData.packBestFit(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val lens = Tables(s, d, "documents").where(col("text").isNotNull)
      .select(least(size(split(col("text"), " ")).cast("long"), lit(512L)))
      .collect().map(_.getLong(0))
    // every document lands in exactly one pack slot; every token is packed
    assert(rows.map(_._5).sum === lens.length.toLong, "doc conservation")
    assert(rows.map(r => r._6 * r._4).sum === lens.sum, "token conservation")
    rows.foreach { case (_, ls, npp, npk, nd, fill, waste, tw) =>
      val parsed = ls.split(",").map(_.toLong)
      assert(parsed.length.toLong === npp && parsed.sum === fill)
      assert(fill <= 512 && waste === 512 - fill && tw === waste * npk)
      assert(nd === npp * npk && npk >= 1)
      // placement order is length-descending within a pack
      assert(parsed.sameElements(parsed.sortBy(-_)), s"pack $ls not sorted")
    }
    // the point of best-fit: strictly less padding than the sequential
    // non-splitting greedy packer (docs in doc_id order, close on misfit)
    val docLens = Tables(s, d, "documents").where(col("text").isNotNull)
      .orderBy("doc_id")
      .select(least(size(split(col("text"), " ")).cast("long"), lit(512L)))
      .collect().map(_.getLong(0))
    var rem = 0L; var greedyPacks = 0L
    docLens.foreach { l =>
      if (l <= rem) rem -= l else { greedyPacks += 1; rem = 512L - l }
    }
    val greedyWaste = greedyPacks * 512L - docLens.sum
    val bestFitWaste = rows.map(_._8).sum
    assert(bestFitWaste < greedyWaste,
      s"best-fit waste $bestFitWaste not below greedy $greedyWaste")
  }

  test("q_pack_sequences is invariant to shard size (exact distributed prefix rebase)") {
    // 7: many tiny shards; 1_000_000: one shard ≡ the naive global window.
    // The two-level integer rebase must be bit-identical across all of them.
    val reference = LlmData.packSequencesSharded(s, d, 256L).collect().toSeq
    Seq(7L, 64L, 1000000L).foreach { size =>
      assert(LlmData.packSequencesSharded(s, d, size).collect().toSeq === reference,
        s"shardSize=$size changed the packing layout")
    }
  }

  test("q_dedup_sweep: monotone in threshold; one cell recounted brute-force") {
    val rows = LlmData.dedupSweep(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq === Seq("0.80", "0.90", "0.95", "0.99"))
    // lower threshold admits at least as many pairs/docs
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._3 >= hi._3 && lo._4 >= hi._4)
      case _ =>
    }
    rows.foreach { case (_, ns, np, ndocs, ppm) =>
      assert(ndocs <= 2 * np || np == 0)
      assert(ppm === 2000000L * np / (ns * (ns - 1)))
    }
    // recount the 0.80 cell against an independent local sweep
    val vecs = Tables(s, d, "embeddings")
      .where(expr("((vec_id * 2654435761) % 4294967296) % 10 = 0"))
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray))
    assert(rows.head._2 === vecs.length)
    var nPairs = 0L
    for (i <- vecs.indices; j <- vecs.indices if vecs(i)._1 < vecs(j)._1) {
      val (a, b) = (vecs(i)._2, vecs(j)._2)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) {
        dot += a(k).toDouble * b(k).toDouble
        na += a(k).toDouble * a(k).toDouble; nb += b(k).toDouble * b(k).toDouble
      }
      val cos = math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000) / 10000.0
      if (cos >= 0.80) nPairs += 1
    }
    assert(rows.head._3 === nPairs)
  }

  test("q_text_zipf is invariant to shard count (tie-sum invariance)") {
    // 1: a single shard ≡ the naive global rank; the OLS sufficient
    // statistics must be bit-identical for any sharding because rank
    // assignment inside a count-tie group never moves Σx, Σx², Σxy
    val reference = LlmData.textZipfSharded(s, d, 32).collect().toSeq
    Seq(1, 5, 101).foreach { n =>
      assert(LlmData.textZipfSharded(s, d, n).collect().toSeq === reference,
        s"nShards=$n changed the Zipf fit")
    }
  }

  test("q_dedup_cluster: components are closed over pairs and labeled by their minimum") {
    val pairs = LlmData.dedupNgram(s, d).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = LlmData.dedupCluster(s, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("cluster_size"))).toMap
    // every paired doc is labeled, both ends share a component
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 === clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // the label IS the minimum member, and sizes count the members exactly
    clusters.groupBy(_._2._1).foreach { case (label, members) =>
      assert(members.keys.min === label)
      members.values.foreach { case (_, size) => assert(size === members.size.toLong) }
    }
    // only paired docs appear (singletons carry no dedup decision)
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(clusters.keySet === paired)
  }

  test("q_text_containment surfaces every injected excerpt at containment 1.0") {
    val rows = LlmData.textContainment(s, d).collect()
    // expected parents: every 50th doc with enough tokens to shingle
    val parents = Tables(s, d, "documents")
      .where(pmod(col("doc_id"), lit(50)) === 0 &&
        size(split(col("text"), " ")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(parents.nonEmpty, "fixture must yield injected excerpts")
    val found = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
      r.getAs[Double]("cont"), r.getAs[Double]("jac")))
    parents.foreach { p =>
      val hit = found.find { case (a, b, _, _) => a == p && b == p + 1000000000L }
      assert(hit.nonEmpty, s"excerpt pair for parent $p missing")
      assert(hit.get._3 === 1.0, s"excerpt of $p must be fully contained")
    }
    // the operator's reason to exist: at least one pair is containment-only
    // (would be MISSED by the Jaccard detectors at their 0.5 threshold)
    assert(found.exists { case (_, _, cont, jac) => cont >= 0.8 && jac < 0.5 },
      "no containment-only pair found — the asymmetric path is vacuous")
    // and every reported pair respects the threshold + measure bounds
    found.foreach { case (_, _, cont, jac) =>
      assert(cont >= 0.8 && cont <= 1.0 && jac <= cont)
    }
  }

  test("q_text_pii_scrub: every doc redacts its injected PII and no address survives") {
    val rows = LlmData.textPiiScrub(s, d).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      // the injection guarantees at least one of each — the scrub is never vacuous
      assert(r.getAs[Int]("n_emails") >= 1)
      assert(r.getAs[Int]("n_phones") >= 1)
    }
    // and the scrubbed text genuinely contains NEITHER pattern anymore
    import org.apache.spark.sql.functions.{col, concat, lit, lpad, regexp_count, regexp_replace}
    val scrubbed = Tables(s, d, "documents")
      .withColumn("aug", concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
        lpad(col("doc_id").cast("string"), 7, "0")))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("aug"), "[a-z0-9]+@[a-z]+\\.[a-z]+", "[EMAIL]"),
          "\\+1-555-[0-9]{7}", "[PHONE]"))
    assert(scrubbed
      .where(regexp_count(col("scrubbed"), lit("[a-z0-9]+@[a-z]+\\.[a-z]+")) > 0)
      .isEmpty, "scrubbed text still contains an email address")
    assert(scrubbed
      .where(regexp_count(col("scrubbed"), lit("\\+1-555-[0-9]{7}")) > 0)
      .isEmpty, "scrubbed text still contains a phone number")
  }

  test("q_text_repetition bounds hold and a hand-built doc scores exactly") {
    val rows = LlmData.textRepetition(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (df, tf) = (r.getAs[Double]("dup_frac"), r.getAs[Double]("top_frac"))
      assert(df >= 0.0 && df <= 1.0)
      assert(tf > 0.0 && tf <= 1.0)
      assert(r.getAs[Long]("dup_grams") <= r.getAs[Long]("n_grams"))
      // a duplicated gram contributes at least 2 occurrences
      assert(r.getAs[Long]("dup_grams") !== 1L)
    }
    // driver-side recomputation for one fixture doc: exact counts
    val doc = Tables(s, d, "documents").where(col("doc_id") === 0)
      .select("text").collect()(0).getString(0)
    val toks = doc.split(" ").toSeq
    val grams = toks.sliding(3).map(_.mkString(" ")).toSeq
    val dup = grams.groupBy(identity).values.filter(_.size > 1).map(_.size).sum
    val top = toks.groupBy(identity).map { case (t, o) => (t, o.size) }
      .toSeq.sortBy { case (t, n) => (-n, t) }.head
    val got = rows.find(_.getAs[Long]("doc_id") == 0L).get
    assert(got.getAs[Long]("n_grams") === grams.size.toLong)
    assert(got.getAs[Long]("dup_grams") === dup.toLong)
    assert(got.getAs[String]("top_tok") === top._1)
    assert(got.getAs[Long]("top_tok_n") === top._2.toLong)
  }

  test("q_text_unigram_lp: integer micro-log sums are exact and rank plausibly") {
    val rows = LlmData.textUnigramLp(s, d).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_lp_micro") < 0L) // probabilities < 1
      val mean = r.getAs[Double]("mean_lp")
      assert(mean < 0.0 && mean > -10.0)
      // mean is the rounded sum/(n·1e6) — recompute from the row itself
      // with the engines' HALF-AWAY-FROM-ZERO rounding (math.rint rounds
      // half-to-even and would flake on exact .5 boundaries)
      val scaled = r.getAs[Long]("sum_lp_micro") / 1e6 /
        r.getAs[Long]("n_toks") * 10000
      val expect = (if (scaled >= 0) math.floor(scaled + 0.5)
                    else math.ceil(scaled - 0.5)) / 10000
      assert(math.abs(mean - expect) < 1e-12)
    }
  }

  test("q_corpus_domain_cap keeps at most 20 docs per source, smallest doc_ids first") {
    val rows = LlmData.corpusDomainCap(s, d).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.values.forall(_.length <= 20))
    // determinism: the kept docs are exactly the smallest doc_ids per source
    val all = Tables(s, d, "documents").select("doc_id", "source").collect()
      .groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, kept) =>
      val expect = all(src).map(_.getAs[Long]("doc_id")).sorted.take(20).toSet
      assert(kept.map(_.getAs[Long]("doc_id")).toSet === expect)
    }
  }

  test("q_multimodal_join aligns doc and vector modalities one-to-one") {
    val r = LlmData.multimodalJoin(s, d)
    assert(r.count() === 500)
    assert(r.where(col("dim") =!= 64).count() === 0)
  }

  test("q_multimodal_align: planted mismatches drop, genuine pairs keep, margins signed") {
    // the gate must recover the PLANTED pairing exactly: every 5th doc's
    // image blends two unrelated vectors (mismatch), the rest blend the
    // doc's own vector with its neighbor (aligned) — and the ledger's
    // margin is the signed distance to the 450k micro gate
    val out = LlmData.multimodalAlign(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (id, cm, v, mg) =>
      assert(mg === cm - 450000L, s"margin must be signed gate distance at $id")
      if (id % 5 == 0) assert(v === "drop", s"planted mismatch $id must drop")
      else assert(v === "keep", s"aligned pair $id must keep")
    }
  }

  test("q_multimodal_binary hashes are well-formed") {
    val r = LlmData.multimodalBinary(s, d).limit(5).collect()
    r.foreach { row =>
      assert(row.getAs[String]("md5_hex").matches("[0-9a-f]{32}"))
      assert(row.getAs[String]("sha256_hex").matches("[0-9a-f]{64}"))
      assert(row.getAs[Int]("byte_len") > 0)
    }
  }

  test("q_multimodal_frames_sigs is deterministic across runs") {
    val a = LlmData.multimodalFramesSigs(s, d).collect().toSeq
    val b = LlmData.multimodalFramesSigs(s, d).collect().toSeq
    assert(a === b)
  }

  test("q_multimodal_frames decodes real PNG dimensions via ImageIO") {
    val rows = LlmData.multimodalFrames(s, d).collect()
    assert(rows.length === 48) // the decoy notes.txt is suffix-filtered out
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id").toInt
      // the fixture generator's dimension formula, recovered by the codec
      assert(r.getAs[Int]("width") === 8 + id % 16)
      assert(r.getAs[Int]("height") === 8 + (id * 7) % 16)
      assert(r.getAs[Long]("n_pixels") ===
        (8 + id % 16).toLong * (8 + (id * 7) % 16))
    }
  }

  test("q_multimodal_image_filter: every gate binds both ways; verdict is the conjunction") {
    val rows = LlmData.multimodalImageFilter(s, d).collect()
    assert(rows.length === 48)
    Seq("pass_res", "pass_aspect", "pass_pixels").foreach { rule =>
      assert(rows.exists(_.getAs[Boolean](rule)), s"$rule never passes")
      assert(rows.exists(!_.getAs[Boolean](rule)),
        s"$rule never fails — the gate is inert on the fixture")
    }
    // the byte floor is codec-defined: every decodable PNG clears it
    assert(rows.forall(_.getAs[Boolean]("pass_bytes")))
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("pass_res") && r.getAs[Boolean]("pass_aspect") &&
        r.getAs[Boolean]("pass_pixels") && r.getAs[Boolean]("pass_bytes")
      assert(r.getAs[String]("verdict") === (if (keep) "keep" else "drop"))
    }
    // the planted split on the generator formula: 27 keep / 21 drop
    assert(rows.count(_.getAs[String]("verdict") == "keep") === 27)
  }

  test("q_multimodal_frames_sigs: every fixture has frames and a non-degenerate signature") {
    val rows = LlmData.multimodalFramesSigs(s, d).collect()
    assert(rows.length === 48)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_frames") > 0)
      assert(r.getAs[Int]("n_bytes") > 0)
    }
    // signatures distinguish the fixtures (hash-defined, but not constant)
    assert(rows.map(_.getAs[Long]("resized_sig")).distinct.length === 48)
  }

  test("BinaryBatch decode sees full batches and preserves every row") {
    import graft.functions.BinaryBatch
    import s.implicits._
    val df = (0 until 200).map(i => (i.toLong, Array.fill[Byte](i % 50 + 1)(i.toByte)))
      .toDF("doc_id", "content").repartition(2)
    val out = BinaryBatch.decode(s, df).collect()
    assert(out.length === 200)
    assert(out.map(_.doc_id).toSet === (0 until 200).map(_.toLong).toSet)
    // batch shape: every batch the decoder saw is bounded by BatchSize and
    // most rows travel in full batches (the amortization a codec wants)
    assert(out.forall(_.decoder_batch_size <= BinaryBatch.BatchSize))
    assert(out.count(_.decoder_batch_size === BinaryBatch.BatchSize) >= 100)
  }

  test("q_text_langid scores are bounded by lexicon size and pred is an argmax") {
    val r = LlmData.textLangid(s, d).limit(50).collect()
    r.foreach { row =>
      val scores = Seq("s_en", "s_de", "s_es", "s_fr", "s_zh").map(c => row.getAs[Int](c))
      assert(scores.forall(v => v >= 0 && v <= 8))
      val best = scores.max
      val predIdx = Seq("en", "de", "es", "fr", "zh").indexOf(row.getAs[String]("lang_pred"))
      assert(predIdx >= 0 && scores(predIdx) === best)
    }
  }

  test("q_text_quality components stay in range") {
    val r = LlmData.textQuality(s, d).collect()
    r.foreach { row =>
      assert(row.getAs[Double]("stop_ratio") >= 0 && row.getAs[Double]("stop_ratio") <= 1)
      assert(row.getAs[Double]("punct_ratio") >= 0 && row.getAs[Double]("punct_ratio") <= 1)
      assert(row.getAs[Double]("quality") >= 0 && row.getAs[Double]("quality") <= 1.000001)
    }
  }

  test("q_text_fingerprint: identical text gives identical fingerprints, and they are stable") {
    import graft.functions.TextOps
    import s.implicits._
    val df = Seq((1L, "one two three four five six seven"),
      (2L, "one two three four five six seven"),
      (3L, "eight nine ten eleven twelve thirteen"))
      .toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens("text"))
      .withColumn("hashes", expr("transform(toks, x -> xxhash64(x))"))
      .select(col("doc_id"), TextOps.winnowFingerprints("hashes", 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(df(1L) === df(2L))
    assert(df(1L) !== df(3L))
  }

  test("q_text_collocation_pmi ranks by PMI with sane count bounds") {
    val rows = LlmData.textCollocationPmi(s, d).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // descending pmi with (x, y) tiebreak = a strictly decreasing sort key
    val keys = rows.map(r => (-r.getLong(5), r.getString(0), r.getString(1)))
    assert(keys.sameElements(keys.sorted), "not sorted by (pmi desc, x, y)")
    // support threshold and count consistency: a bigram can't outnumber
    // either of its unigrams
    rows.foreach { r =>
      val (cxy, cx, cy) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cxy >= 5 && cxy <= math.min(cx, cy))
    }
    // recompute the top row's score from its counts with the same formula
    val toks = Tables(s, d, "documents")
      .select(split(col("text"), " ").as("t")).where(size(col("t")) >= 2)
    val nt = toks.select(explode(col("t"))).count()
    val nb = toks.select((size(col("t")) - 1).as("m"))
      .agg(sum("m")).collect().head.getLong(0)
    val top = rows.head
    val want = math.round(math.log10((top.getLong(2).toDouble / nb) /
      ((top.getLong(3).toDouble / nt) * (top.getLong(4).toDouble / nt))) * 1e6)
    assert(top.getLong(5) === want)
  }

  test("q_corpus_mix_temperature: budget apportioned by smoothed weight, selection deterministic") {
    val sel = LlmData.corpusMixTemperature(s, d).collect()
    // never overdraw the budget, and per-source selection = min(target, n)
    val bySource = sel.groupBy(_.getString(0))
    val counts = Tables(s, d, "documents").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    bySource.foreach { case (src, rows) =>
      val target = rows.head.getAs[Long]("target_n")
      assert(rows.length.toLong === math.min(target, counts(src)))
    }
    assert(bySource.values.map(_.head.getAs[Long]("target_n")).sum <= 1000L)
    // α = 0.5 smoothing: targets must follow the ⌊√n·10⁶⌋ integer-weight
    // apportionment exactly (a regression to raw-n weighting fails here)
    val wMicro = counts.view.mapValues(n => math.floor(math.sqrt(n.toDouble) * 1e6).toLong)
    val totMicro = wMicro.values.sum
    bySource.foreach { case (src, rows) =>
      assert(rows.head.getAs[Long]("target_n") === 1000L * wMicro(src) / totMicro)
    }
    // determinism: a rerun yields the identical selection
    val again = LlmData.corpusMixTemperature(s, d).collect()
    assert(sel.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("q_text_inverted_index: posting heads are bounded, sorted, and df-consistent") {
    val rows = LlmData.textInvertedIndex(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val head = r.getAs[String]("postings_head").split(",").map(_.toLong)
      assert(df >= 25)
      assert(head.length === math.min(df, 20L), s"head not bounded for ${r.getString(0)}")
      assert(head.sameElements(head.sorted), "postings head not doc-id-sorted")
      assert(r.getAs[Long]("tf") >= df, "total tf below df")
    }
  }

  test("q_corpus_contamination flags the planted eval-overlap docs; rates are sane") {
    val rows = LlmData.corpusContamination(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_sh"))
      val ppm = r.getAs[Long]("contam_ppm")
      assert(ppm >= 0 && ppm <= 1000000)
      assert(r.getAs[Boolean]("is_contaminated") ===
        (r.getAs[Long]("n_hit") * 10 >= r.getAs[Long]("n_sh")))
    }
    // the fixture's planted near-dups guarantee real eval overlap exists
    assert(rows.exists(_.getAs[Long]("n_hit") > 0),
      "no training doc overlaps the eval slice — the scan is vacuous")
    // no eval doc may appear as a training row
    assert(rows.forall(_.getAs[Long]("doc_id") % 97 != 0))
  }

  test("q_text_entropy is bounded by uniform entropy and matches a recompute") {
    val rows = LlmData.textEntropy(s, d).collect()
    rows.foreach { r =>
      val h = r.getAs[Long]("entropy_milli")
      val maxH = math.log10(r.getAs[Long]("n_classes").toDouble) * 1000
      assert(h >= 0 && h <= maxH + 1, s"entropy $h outside [0, $maxH]")
    }
    // driver-side recompute of one document with the same micro-log folding
    val doc = Tables(s, d, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(1).collect().head
    val counts = doc.getString(1).split("").filter(_.nonEmpty)
      .groupBy(identity).map(_._2.length.toLong)
    val n = counts.sum
    val sumClog = counts.map(c => c * math.round(math.log10(c.toDouble) * 1e6)).sum
    val want = math.round(math.log10(n.toDouble) * 1000 - sumClog * 1.0 / (n * 1000))
    val got = rows.find(_.getAs[Long]("doc_id") == doc.getLong(0)).get
      .getAs[Long]("entropy_milli")
    assert(got === want)
  }

  test("q_embed_norm_audit: quantized norm matches a driver-side recompute") {
    val audited = LlmData.embedNormAudit(s, d).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    Tables(s, d, "embeddings").select("vec_id", "embedding").collect().take(25)
      .foreach { r =>
        val vid = r.getLong(0)
        val xs = r.getSeq[Float](1)
        val want = xs.map(x => { val q = math.round(x.toDouble * 1000); q * q }).sum
        val got = audited(vid)
        assert(got.getAs[Long]("nrm2_q") === want, s"norm mismatch for vec $vid")
        assert(got.getAs[Long]("l2_milli") === math.round(math.sqrt(want.toDouble)))
        if (want > 0) assert(got.getAs[String]("unit4_sig").split(",").length === 4)
      }
  }

  test("q_text_hash_vectorizer: signatures reconstruct token counts") {
    val out = LlmData.textHashVectorizer(s, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("nnz"), r.getAs[String]("sig")))
      .toMap
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === docs.keySet)
    docs.take(25).foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val (nToks, nnz, sig) = out(id)
      assert(nToks === toks.length.toLong, s"doc $id token count")
      val entries = sig.split(",").map { e =>
        val Array(b, n) = e.split(":"); b -> n.toLong
      }
      assert(entries.length === nnz.toInt)
      assert(entries.map(_._2).sum === nToks, s"doc $id counts don't sum")
      assert(entries.map(_._1).toSeq === entries.map(_._1).sorted.toSeq,
        "signature not sorted")
      assert(entries.forall(e => e._1.length == 2 && e._2 >= 1))
    }
  }

  test("q_corpus_boilerplate fires on exactly the injected footer set") {
    val out = LlmData.corpusBoilerplate(s, d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_boiler"))).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, (nSpans, nBoiler)) =>
      assert(nBoiler <= nSpans)
      if (id % 9 == 0)
        // the 12-token footer contributes exactly 5 repeated 8-gram spans;
        // boundary spans (doc suffix + footer prefix) are doc-unique
        assert(nBoiler >= 5, s"injected doc $id not detected")
      else
        assert(nBoiler === 0L, s"false positive on clean doc $id")
    }
  }

  test("q_text_zipf matches an exact driver-side OLS recompute") {
    val row = LlmData.textZipf(s, d).collect().head
    val toks = Tables(s, d, "documents").select("text").collect()
      .flatMap(_.getString(0).split(" ")).filter(_.nonEmpty)
    val counts = toks.groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    assert(row.getLong(0) === counts.size.toLong)
    assert(row.getLong(1) === toks.length.toLong)
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
    val xs = ranked.map { case (_, i) =>
      math.round(math.log10((i + 1).toDouble) * 1e6) }
    val ys = ranked.map { case ((_, c), _) =>
      math.round(math.log10(c.toDouble) * 1e6) }
    val n = BigInt(xs.length)
    val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
    val sxy = xs.zip(ys).map { case (a, b) => BigInt(a) * b }.sum
    val sxx = xs.map(a => BigInt(a) * a).sum
    val want = (BigInt(1000000) * (sx * sy - n * sxy)) / (n * sxx - sx * sx)
    assert(row.getLong(2) === want.toLong, "slope drifted from exact OLS")
    // word-soup fixture: distribution is flat, so the fit must sit far from
    // the natural-text slope of -1 — the corpus-health screen fires
    assert(row.getLong(2) < 800000L)
  }

  test("q_embed_pca_power equals the driver-side Mᵀ(M·1) recompute") {
    val out = LlmData.embedPcaPower(s, d).collect()
      .map(r => r.getAs[Long]("dim") -> (r.getAs[Long]("comp_raw"), r.getAs[Long]("n_rows")))
      .toMap
    val vecs = Tables(s, d, "embeddings").select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.round(x.toDouble * 1000)).toArray)
    val dim = vecs.head.length
    assert(out.keySet === (1 to dim).map(_.toLong).toSet)
    val want = Array.fill(dim)(0L)
    vecs.foreach { v =>
      val dot = v.sum
      var j = 0
      while (j < dim) { want(j) += dot * v(j); j += 1 }
    }
    (1 to dim).foreach { j =>
      assert(out(j.toLong)._1 === want(j - 1), s"component $j drifted")
      assert(out(j.toLong)._2 === vecs.length.toLong)
    }
  }

  test("q_text_bigram_lp matches a driver-side stupid-backoff recompute") {
    val out = LlmData.textBigramLp(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty)
    // full model recompute on the small fixture
    val texts = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val toks = texts.flatMap(_._2)
    val uniCnt = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val total = toks.size.toLong
    def uniLp(t: String): Long =
      math.round(math.log10(uniCnt(t).toDouble / total) * 1e6)
    val bigrams = texts.flatMap { case (_, t) => t.sliding(2).filter(_.size == 2) }
      .map(p => p.head + " " + p(1))
    val biCnt = bigrams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ctxCnt = biCnt.toSeq.groupBy(_._1.split(" ", -1).head)
      .map { case (k, v) => k -> v.map(_._2).sum }
    texts.take(25).foreach { case (id, t) =>
      var sum = uniLp(t.head)
      var backoff = 0L
      t.sliding(2).filter(_.size == 2).foreach { p =>
        val g = p.head + " " + p(1)
        if (biCnt(g) >= 3)
          sum += math.round(math.log10(biCnt(g).toDouble / ctxCnt(p.head)) * 1e6)
        else { sum += uniLp(p(1)) - 397940L; backoff += 1 }
      }
      assert(out(id) === ((t.size.toLong, backoff, sum)), s"doc $id")
    }
    // sequence-awareness: the model must actually use bigram probabilities
    // somewhere (not degenerate to all-backoff or all-hit on the fixture)
    val hits = out.values.map { case (n, b, _) => (n - 1) - b }.sum
    val backs = out.values.map(_._2).sum
    assert(hits > 0 && backs > 0, s"degenerate model: hits=$hits backoffs=$backs")
  }

  test("q_sample_weighted: exactly 20 picks per source, heavy docs guaranteed in") {
    val rows = LlmData.sampleWeighted(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._4 > 0))
    val bySource = rows.groupBy(_._2)
    bySource.foreach { case (src, g) =>
      assert(g.map(_._4).sum === 20L, s"source $src pick mass")
    }
    // systematic PPS guarantee: any doc with w > W/k is always selected
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val sampled = rows.map(t => (t._1, t._2)).toSet
    docs.groupBy(_._2).foreach { case (src, g) =>
      val tot = g.map(_._3).sum
      g.foreach { case (id, _, w) =>
        if (w * 20 > tot) assert(sampled.contains((id, src)), s"heavy doc $id missing")
      }
    }
    // weighting is real: mean weight of sampled docs exceeds corpus mean
    val meanAll = docs.map(_._3).sum.toDouble / docs.length
    val meanSampled = rows.map(_._3).sum.toDouble / rows.length
    assert(meanSampled > meanAll, f"sampled mean $meanSampled%.1f <= corpus mean $meanAll%.1f")
  }

  test("q_dedup_url canonicalization collapses every staged fixture variant") {
    val rows = LlmData.dedupUrl(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val ids = Tables(s, d, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    assert(rows.map(_._2).sum === ids.length.toLong)
    // the operator's input is a real parquet COLUMN of the staged fixture
    val staged = s.read.parquet(LlmData.urlFixturePath(s, d))
    assert(staged.columns.toSet === Set("doc_id", "url"))
    assert(staged.count() === ids.length.toLong)
    // INDEPENDENT reference: the canonical form each doc must reach. If
    // any chain rule failed — port kept, %7E/%7e undecoded, params
    // unsorted, trailing slash kept, fragment/utm/www/host-case surviving
    // — the engine's group strings or memberships diverge from this map
    // and the set equality fails.
    def canonical(id: Long): String = {
      val query =
        if (id % 7 == 0) ""
        else if (id % 11 == 0 || id % 13 == 0) "?a=1&b=2"
        else if (id % 31 == 0 || id % 37 == 0) "?a=1&b=2&c=3"
        else ""
      s"https://example.com/pages/~archive/${id % 120}$query"
    }
    val want = ids.groupBy(canonical).map { case (u, g) =>
      (u, g.length.toLong, g.min)
    }.toSet
    assert(rows.toSet === want)
    // each adversarial rule is a real MERGE on this fixture, not a
    // rewrite constant across its group: the decor moduli
    // (17/19/23/29/41) are coprime to the 120-page cycle by design, so
    // every dressed variant shares a group with a plain-form sibling
    val byGroup = ids.groupBy(canonical).values
    def merges(m: Long, what: String): Unit =
      assert(byGroup.exists(g => g.exists(_ % m == 0) && g.exists(_ % m != 0)),
        s"no group merges $what variants with plain forms")
    merges(17, ":443 port")
    merges(19, "%7E upper-hex escaped")
    merges(23, "EXAMPLE.com host-case")
    merges(29, "%7e lower-hex escaped")
    merges(41, "trailing-slash")
    assert(rows.exists(_._2 > 1))
  }

  test("q_text_bpe_train/encode match a driver-side reference replay of the whole loop") {
    // independent single-threaded reference over the raw text: frequency
    // table, 12 argmax merges, padded-replace application (the declared
    // merge semantics, via java.lang.String.replace), then per-doc encode
    val texts = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    var vocab: Map[String, Long] = texts.flatMap(_._2.split(" "))
      .filter(_.nonEmpty).groupBy(identity)
      .map { case (t, g) => t -> g.length.toLong }
    var seqs: Map[String, String] = vocab.keys
      .map(t => t -> (t.toCharArray.map(_ + " ").mkString + "</w>")).toMap
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    (1 to 12).foreach { _ =>
      val pc = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      vocab.foreach { case (t, c) =>
        seqs(t).split(" ").sliding(2).foreach {
          case Array(a, b) => pc((a, b)) += c
          case _ =>
        }
      }
      val ((a, b), n) = pc.minBy { case ((x, y), m) => (-m, x, y) }
      merges += ((a, b, n))
      seqs = seqs.map { case (t, q) =>
        t -> (" " + q + " ").replace(s" $a $b ", s" $a$b ").trim
      }
    }
    val gotTrain = LlmData.textBpeTrain(s, d).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(gotTrain === merges.toSeq)
    // encode: base/enc counts and the md5 of the ordered symbol stream
    def md5hex(t: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = texts.map { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val enc = toks.map(seqs)
      (id, toks.map(_.length + 1L).sum, enc.map(_.split(" ").length.toLong).sum,
        md5hex(enc.mkString(" ")))
    }.sortBy(_._1).toSeq
    val gotEnc = LlmData.textBpeEncode(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))).toSeq
    assert(gotEnc === want)
    // the learned vocab genuinely compresses the corpus
    assert(want.forall { case (_, base, enc, _) => enc < base })
  }

  test("q_dedup_image_phash recovers exactly the planted image dup structure") {
    val got = LlmData.dedupImagePhash(s).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ids 30..39 are +16-brightness copies of families 0..9 — dHash is
    // brightness-shift-invariant, so these MUST land at Hamming 0
    val exact = (0 until 10).map(f => (f.toLong, (30 + f).toLong)).toSet
    exact.foreach { case (a, b) =>
      assert(got.exists(p => p._1 == a && p._2 == b && p._3 == 0L),
        s"brightness-shifted copy ($a, $b) must be an exact dHash dup")
    }
    // ids 40..44 perturb ONE sampled pixel of families 0..4 — ≤ 2 bits
    // flip, and the variant is equally close to the brightness twin
    (0 until 5).foreach { f =>
      assert(got.exists(p => p._1 == f && p._2 == 40 + f && p._3 <= 2L))
      assert(got.exists(p => p._1 == 30 + f && p._2 == 40 + f && p._3 <= 2L))
    }
    // NOTHING else: unrelated families must not enter at this threshold
    val planted = exact ++ (0 until 5).flatMap(f =>
      Seq((f.toLong, (40 + f).toLong), ((30 + f).toLong, (40 + f).toLong)))
    assert(got.map(p => (p._1, p._2)) === planted,
      s"spurious pairs: ${got.map(p => (p._1, p._2)) -- planted}")
  }

  test("q_text_html_extract picks the content segment and drops boilerplate byte-exactly") {
    val out = LlmData.textHtmlExtract(s, d).collect()
    val docs = Tables(s, d, "documents").select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.length === docs.length)
    // the stripped text of each boilerplate block, from the fixture's
    // literal dressing — independent of the engine's regex pipeline
    val navTxt = "Home About Archive"
    val asideTxt = "Related one Related two more reading"
    val footTxt = "Copyright 2026 Example Corp Terms Privacy"
    def md5hex(t: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(t.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val byId = docs.map { case (id, src, text) => id -> (src, text) }.toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (src, text) = byId(id)
      // the density rule — not a hardcoded tag — must land on content
      assert(r.getAs[String]("picked") === "main",
        s"link-density rule must select the content segment for doc $id")
      // byte-exact extraction: inline <a>/<b> markup stripped, anchor TEXT
      // kept, nav/aside/footer text entirely absent
      val expected =
        (if (id % 6 == 0) "See the reference for context. " else "") + text
      assert(r.getAs[Long]("main_len") === expected.length.toLong)
      assert(r.getAs[String]("main_md5") === md5hex(expected))
      assert(r.getAs[String]("title") === s"Doc $id $src")
      val expBoiler = navTxt.length + footTxt.length +
        (if (id % 4 == 0) asideTxt.length else 0)
      assert(r.getAs[Long]("boiler_len") === expBoiler.toLong,
        s"boilerplate text must be fully measured and excluded for doc $id")
      val expLinks = 3L + 2L + (if (id % 4 == 0) 2L else 0L) +
        (if (id % 6 == 0) 1L else 0L)
      assert(r.getAs[Long]("total_links") === expLinks)
    }
  }

  test("q_text_chunk covers every token: stride-24 starts, full-width tail") {
    val chunks = LlmData.textChunk(s, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val nToks = Tables(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      val n = nToks(doc)
      // chunk ids are 0..k, starts are exactly chunk_id * stride
      assert(sorted.map(_._2).toSeq === sorted.indices)
      sorted.foreach { case (_, cid, start, len) =>
        assert(start === cid * 24)
        assert(len >= 1 && len <= 32)
        assert(start + len <= n)
      }
      // full coverage: last chunk reaches the end; consecutive chunks
      // overlap by 8 (width 32 > stride 24), so no token is skipped
      assert(sorted.last._3 + sorted.last._4 === n)
      sorted.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) => assert(s2 <= s1 + l1)
        case _ =>
      }
    }
  }

  test("q_shuffle_shard is a bit-stable permutation: contiguous ranks per shard") {
    val rows = LlmData.shuffleShard(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val nDocs = Tables(s, d, "documents").count()
    assert(rows.length.toLong === nDocs)
    // the mix is the documented Knuth multiplicative hash
    rows.foreach { case (id, h, shard, _) =>
      assert(h === (id * 2654435761L) % 4294967296L)
      assert(shard === (h % 16).toInt)
    }
    // within each shard the ranks are exactly 1..count (a permutation,
    // no gaps or duplicates — the property a shard reader relies on)
    rows.groupBy(_._3).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq === (1L to g.length).toSeq)
    }
    // deterministic: a re-run yields the identical assignment
    val again = LlmData.shuffleShard(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(again.toSeq === rows.toSeq)
  }

  test("q_dedup_semantic drops exactly the injected variants, onto their originals") {
    val rows = LlmData.dedupSemantic(s, d).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    val nVecs = Tables(s, d, "embeddings").count()
    val nVariants = Tables(s, d, "embeddings")
      .where(col("vec_id") % 25 === 0).count()
    assert(rows.length.toLong === nVecs + nVariants)
    val (dropped, kept) = rows.partition(!_._4)
    // every injected variant is deduped onto its own original (cos ≥ 0.9987
    // by construction; natural pairs top out near 0.51) — and nothing else
    assert(dropped.length.toLong === nVariants)
    dropped.foreach { case (id, _, by, _) =>
      assert(id >= 1000000L)
      assert(by === Some(id - 1000000L))
    }
    assert(kept.forall(_._3.isEmpty))
  }

  test("q_text_classify: the trained gate separates the planted classes") {
    val rows = LlmData.textClassify(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length === docs.size)
    // the teacher rule, recomputed driver-side
    def teacher(text: String): Boolean = {
      val toks = text.split(" ", -1)
      toks.count(t => t == "fast" || t == "big") >
        toks.count(t => t == "slow" || t == "small")
    }
    rows.foreach { case (id, nToks, score, label) =>
      assert(nToks === docs(id).split(" ", -1).length.toLong)
      assert(label === (score > 0))
    }
    // both classes predicted — the one-step weights did not collapse
    assert(rows.exists(_._4) && rows.exists(!_._4))
    // the trained student agrees with its teacher on the planted classes
    // (measured 0.906 at sf0.001; rate features are what make this hold —
    // raw-count features trained a length detector at 0.50)
    val agree = rows.count { case (id, _, _, label) => label === teacher(docs(id)) }
    val acc = agree.toDouble / rows.length
    info(s"trained-gate teacher agreement: $acc")
    assert(acc >= 0.85, s"trained gate agreement $acc below the 0.85 floor")
    // the weight table is the bounded broadcastable artifact it claims
    val w = LlmData.textClassifyTrain(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(w.length <= 256 && w.nonEmpty)
    assert(w.exists(_._2 > 0) && w.exists(_._2 < 0),
      "weights are one-sided — the step learned nothing")
  }

  test("q_embed_project: all 8 dims per vector, JL norm ratio in band") {
    val rows = LlmData.embedProject(s, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nVecs = Tables(s, d, "embeddings").count()
    assert(rows.length.toLong === nVecs * 8)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq === (0 until 8))
      // fixtures are unit-norm: E[‖y‖²/k] = ‖v‖² = 1 (JL / Rademacher);
      // χ²₈-style concentration makes these bounds safely loose
      val ratio = g.map(t => { val y = t._3 / 1e6; y * y }).sum / 8.0
      assert(ratio > 0.05 && ratio < 5.0, s"JL norm ratio out of band: $ratio")
    }
  }

  test("q_search_phrase matches a driver-side positional replay") {
    val out = LlmData.searchPhrase(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val bigrams = docs.flatMap { case (_, ts) => ts.sliding(2).filter(_.size == 2)
      .map(p => (p(0), p(1))) }
    // election: highest count, ties to the SMALLEST (w1, w2)
    val counts = bigrams.groupBy(identity).view.mapValues(_.length).toMap
    val maxC = counts.values.max
    val elected = counts.filter(_._2 == maxC).keys.toSeq.min
    val expected = docs.flatMap { case (id, ts) =>
      val hits = ts.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if (a, b) == elected => i + 1L }.toSeq
      if (hits.isEmpty) None else Some((id, hits.length.toLong, hits.min))
    }.sortBy(_._1)
    assert(out.toSeq === expected.toSeq)
    assert(out.nonEmpty, "the elected phrase must match somewhere")
  }

  test("q_search_bm25 ranks by summed BM25, descending, capped at 20") {
    val rows = LlmData.searchBm25(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (_, hit, score) =>
      assert(hit >= 1L && hit <= 3L)
      assert(score > 0L)
    }
    // ordering contract: score desc, doc_id tie-break
    rows.sliding(2).foreach {
      case Array((d1, _, s1), (d2, _, s2)) =>
        assert(s1 > s2 || (s1 === s2 && d1 < d2))
      case _ =>
    }
  }

  test("q_text_lexical matches a driver-side recompute per document") {
    val rows = LlmData.textLexical(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length === docs.size, "one row per document")
    rows.take(25).foreach { case (id, nTok, nTyp, nHap, ttr, hap, len, vow) =>
      val toks = docs(id).split(" ", -1).toSeq
      val counts = toks.groupBy(identity).map { case (_, v) => v.size }
      assert(nTok === toks.length.toLong)
      assert(nTyp === counts.size.toLong)
      assert(nHap === counts.count(_ == 1).toLong)
      assert(ttr === 1000000L * nTyp / nTok)
      assert(hap === 1000000L * nHap / nTyp)
      assert(len === 1000L * toks.map(_.length.toLong).sum / nTok)
      val vg = "[aeiou]+".r.findAllIn(docs(id)).length.toLong
      assert(vow === 1000000L * vg / nTok)
    }
    // diversity is a real signal on the fixture: TTR varies across docs
    assert(rows.map(_._5).distinct.length > 1)
  }

  test("q_text_oov_rate matches a driver replay; vocab cut is deterministic") {
    val out = LlmData.textOovRate(s, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val counts = docs.flatMap(_._2).groupBy(identity)
      .map { case (t, o) => t -> o.size.toLong }
    val total = counts.values.sum
    val rare = counts.filter { case (_, c) => c < total / 500 }.keySet
    assert(out.size === docs.length)
    docs.foreach { case (id, toks) =>
      val oov = toks.count(rare).toLong
      assert(out(id) === ((toks.length.toLong, oov,
        1000000L * oov / toks.length)), s"doc $id diverges")
    }
    // both ends of the spectrum exist on the fixture: the planted rare
    // 'dup' token is below the 0.2% floor, the core vocab is not
    assert(out.values.exists(_._2 > 0), "no OOV tokens at all — floor too low")
    assert(out.values.exists(_._2 == 0), "every doc has OOV — floor too high")
  }

  test("q_simsearch_matryoshka: prefix-dim recall audit is sane and full-width is identity") {
    val rows = LlmData.simsearchMatryoshka(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === Seq(8L, 16L, 32L))
    rows.foreach { case (_, ov, rec) =>
      assert(ov >= 0 && ov <= 10)
      assert(rec === 1000000L * ov / 10)
    }
    // truncation must cost something at 8 dims on 64-d vectors, and keep
    // something: an empty overlap would mean the slice is reading garbage
    assert(rows.head._2 < 10 || rows.last._2 === 10,
      "8-dim ranking identical to 64-dim — suspicious for random embeddings")
    assert(rows.map(_._2).max > 0, "all prefixes lost the entire top-10")
  }

  test("q_text_rake: phrases are stopword-free runs; scores recompute from deg/freq") {
    val rows = LlmData.textRake(s, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 30)
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "on")
    rows.foreach { case (phrase, nOcc, score) =>
      val ws = phrase.split(" ")
      assert(ws.length >= 1 && ws.length <= 4, s"phrase length cap: '$phrase'")
      assert(!ws.exists(stop), s"stopword inside phrase '$phrase'")
      assert(nOcc >= 1 && score > 0)
    }
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // multi-word phrases must surface: RAKE's whole point over unigram tf
    assert(rows.exists(_._1.contains(" ")), "no multi-word keyword extracted")
    // spot-recompute the top phrase's score from raw corpus statistics
    val (top, _, topScore) = rows.head
    val docs = Tables(s, d, "documents").select("text").collect().map(_.getString(0))
    val cands = docs.flatMap { t =>
      // islands between stopwords, capped at 4 tokens — same segmentation
      val runs = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]
      t.split(" ", -1).foreach { w =>
        if (stop(w)) { if (cur.nonEmpty) runs += cur.reverse; cur = Nil }
        else cur ::= w
      }
      if (cur.nonEmpty) runs += cur.reverse
      runs.filter(_.length <= 4)
    }
    val freq = cands.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val deg = cands.flatMap(p => p.map(_ -> p.length.toLong))
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    val want = top.split(" ").map(w => 1000000L * deg(w) / freq(w)).sum
    assert(topScore === want, s"top phrase '$top' score mismatch")
  }

  test("q_simsearch_binary: Hamming funnel recovers most of the exact top-10") {
    val rows = LlmData.simsearchBinary(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 10)
    rows.foreach { case (_, ham, _) => assert(ham >= 0 && ham <= 64) }
    val cos = rows.map(_._3)
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "rerank sorted")
    // funnel quality: the 1-bit cut must keep a healthy share of the exact
    // brute-force top-10 (sign-projection theory; planted near-dups have
    // near-identical masks). An empty overlap means the mask is garbage.
    val exact = LlmData.simsearchTopk(s, d).collect().take(10)
      .map(_.getLong(0)).toSet
    val overlap = rows.map(_._1).count(exact)
    // floor calibrated to the RANDOM fixture embeddings (1-bit masks carry
    // little signal between near-orthogonal vectors — production clustered
    // embeddings score far higher); random chance alone would keep ~0.2
    assert(overlap >= 2, s"binary funnel kept only $overlap of exact top-10")
    // Hamming of the best-cosine result should be small-ish (< 32 = random)
    assert(rows.head._2 < 32, "top result's mask is no better than random")
  }

  test("q_simsearch_mmr: greedy scores are monotone and diversity reorders pure relevance") {
    val rows = LlmData.simsearchMmr(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length === 8)
    assert(rows.map(_._1).toSeq === (1L to 8L), "picks numbered 1..8 in order")
    assert(rows.map(_._2).distinct.length === 8, "no vector picked twice")
    // the greedy argmax can only shrink: candidate pool loses its best
    // member and every div term grows with the selected set
    val mmrs = rows.map(_._5)
    assert(mmrs.zip(mmrs.tail).forall { case (a, b) => a >= b },
      s"mmr scores must be non-increasing: ${mmrs.toSeq}")
    rows.foreach { case (_, _, rel, div, mmr) =>
      assert(mmr === 7 * rel - 3 * div, "integer lambda mix")
    }
    assert(rows.head._4 === 0L, "first pick has no diversity penalty")
    // diversity must do real work on the fixture: the pick order is NOT
    // pure relevance order (otherwise the operator degenerates to top-k)
    val rels = rows.map(_._3)
    assert(!rels.zip(rels.tail).forall { case (a, b) => a >= b },
      "fixture degenerate: MMR picked in pure relevance order")
  }

  test("q_text_chunk_cdc: boundaries are shift-invariant — a prefix edit leaves later chunks intact") {
    import s.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four five six"
    val edited = "INSERTED " + base
    val out = LlmData.chunkCdcFrom(Seq((1L, base), (2L, edited)).toDF("doc_id", "text"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(r => r.getString(4)).toSeq }
    // every chunk signature of the ORIGINAL doc except possibly the first
    // (the one the edit lands in) must reappear verbatim in the edited doc
    val survivors = out(1L).drop(1).toSet
    assert(survivors.nonEmpty, "fixture sentence too short to form 2+ chunks")
    assert(survivors.subsetOf(out(2L).toSet),
      s"CDC must preserve post-edit chunks; lost ${survivors -- out(2L).toSet}")
    // fixed-stride chunking would NOT have this property (stride shifts)
    // — and chunk stats must be internally consistent on the real fixture
    val rows = LlmData.textChunkCdc(s, d).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { ch =>
      val sorted = ch.sortBy(_.getLong(1))
      assert(sorted.head.getLong(2) === 0L, "first chunk starts at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) === a.getLong(2) + a.getLong(3),
            "chunks must tile the token sequence with no gaps/overlaps")
        case _ =>
      }
    }
    assert(rows.map(_.getLong(3)).max > 1, "degenerate: all chunks single-token")
  }

  test("q_text_substring_dedup matches a brute-force window count replay") {
    val rows = LlmData.textSubstringDedup(s, d)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.size === docs.length, "one row per document")
    // oracle-independent replay: build every 6-token window in Scala,
    // count global occurrences, and re-derive all four per-doc numbers
    val W = 6
    val wins = docs.flatMap { case (id, text) =>
      val t = text.split(" ", -1)
      (0 to t.length - W).map(i => (id, i, t.slice(i, i + W).mkString(" ")))
    }
    val occ = wins.groupBy(_._3).map { case (k, v) => k -> v.size }
    val dup = wins.filter(w => occ(w._3) >= 2)
    val expDup = dup.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val expCov = dup.groupBy(_._1).map { case (k, v) =>
      k -> v.flatMap(w => w._2 until w._2 + W).distinct.size.toLong
    }
    assert(dup.nonEmpty, "fixture must contain repeated windows (non-vacuous)")
    docs.foreach { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      val (nTok, nWin, nDup, cov, micro) = rows(id)
      assert(nTok === n)
      assert(nWin === math.max(n - (W - 1), 0L))
      assert(nDup === expDup.getOrElse(id, 0L))
      assert(cov === expCov.getOrElse(id, 0L))
      assert(micro === (if (n > 0) 1000000L * cov / n else 0L))
    }
  }

  test("q_text_gopher_rules: flags replay from raw text; pass is their conjunction") {
    val rows = LlmData.textGopherRules(s, d).collect()
    assert(rows.nonEmpty)
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "on")
    val texts = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (id, nTok, wlSum, nStop, nAlpha) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (top2, n2, dup3, n3) =
        (r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
      val flags = (9 to 14).map(r.getBoolean)
      val pass = r.getBoolean(15)
      val toks = texts(id).split(" ", -1)
      assert(nTok === toks.length.toLong)
      assert(wlSum === toks.map(_.length.toLong).sum)
      assert(nStop === toks.count(stop).toLong)
      assert(nAlpha === toks.count(_.exists(c => c >= 'a' && c <= 'z')).toLong)
      val g2 = toks.sliding(2).map(_.mkString(" ")).toSeq
      val g3 = toks.sliding(3).map(_.mkString(" ")).toSeq
      assert(n2 === g2.length.toLong)
      assert(top2 === g2.groupBy(identity).values.map(_.size).max.toLong)
      assert(n3 === g3.length.toLong)
      assert(dup3 === g3.groupBy(identity).values.collect {
        case g if g.size > 1 => g.size }.sum.toLong)
      assert(flags(0) === (nTok >= 30 && nTok <= 100000))
      assert(flags(1) === (3 * nTok <= wlSum && wlSum <= 5 * nTok))
      assert(flags(2) === (nStop >= 2))
      assert(flags(3) === (5 * nAlpha >= 4 * nTok))
      assert(flags(4) === (25 * top2 <= 2 * n2))
      assert(flags(5) === (10 * dup3 <= 3 * n3))
      assert(pass === flags.forall(identity))
    }
    // the ledger must discriminate at fixture scale, not rubber-stamp
    assert(rows.exists(!_.getBoolean(15)), "no document failed any rule")
    assert(rows.exists(_.getBoolean(15)), "every document failed")
  }

  test("q_corpus_dsir: bucket weights replay; English docs score higher on average") {
    val rows = LlmData.corpusDsir(s, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val docs = Tables(s, d, "documents").select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length === docs.length)
    def bucket(tok: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.substring(0, 2), 16)
    }
    val all = docs.flatMap { case (_, lang, text) =>
      text.split(" ", -1).map(t => (bucket(t), lang)) }
    val cR = all.groupBy(_._1).map { case (b, g) => b -> g.size.toLong }
    val cT = all.filter(_._2 == "en").groupBy(_._1)
      .map { case (b, g) => b -> g.size.toLong }
    val tr = all.length.toLong
    val tt = all.count(_._2 == "en").toLong
    def lpMicro(c: Long, tot: Long): Long =
      math.round(math.log10((c + 1).toDouble / (tot + 256)) * 1000000)
    val w = cR.keys.map { b =>
      b -> (lpMicro(cT.getOrElse(b, 0L), tt) - lpMicro(cR(b), tr)) }.toMap
    rows.foreach { case (id, _, nTok, sumW, meanW, targetLike) =>
      val toks = docs.find(_._1 == id).get._3.split(" ", -1)
      assert(nTok === toks.length.toLong)
      val want = toks.map(t => w(bucket(t))).sum
      assert(sumW === want, s"doc $id importance weight mismatch")
      assert(meanW === sumW / nTok)
      assert(targetLike === (meanW > 0))
    }
    // DSIR's point: the target slice self-selects
    val en = rows.filter(_._2 == "en").map(_._5)
    val non = rows.filter(_._2 != "en").map(_._5)
    assert(en.sum / en.length > non.sum / non.length,
      "target-domain docs must out-score the raw pool on average")
  }

  test("q_text_heaps: cumulative totals close over the corpus; alpha is sublinear") {
    val rows = LlmData.textHeaps(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(rows.map(_._1) === rows.map(_._1).sorted, "decile order")
    val docs = Tables(s, d, "documents").select("text").collect()
      .map(_.getString(0).split(" ", -1))
    assert(rows.last._4 === docs.map(_.length.toLong).sum, "token closure")
    assert(rows.last._5 === docs.flatten.distinct.length.toLong, "vocab closure")
    assert(rows.map(_._2).sum === rows.last._4)
    assert(rows.map(_._3).sum === rows.last._5)
    assert(rows.head._6.isEmpty, "first decile has no growth step")
    rows.tail.foreach { r =>
      val a = r._6.get
      assert(a >= 0L && a <= 1000000L,
        s"Heaps exponent must be sublinear on natural-ish text: $a")
    }
    // exact per-step replay
    rows.sliding(2).foreach {
      case Array(p, c) =>
        val want = math.round(1000000 *
          (math.log10(c._5.toDouble) - math.log10(p._5.toDouble)) /
          (math.log10(c._4.toDouble) - math.log10(p._4.toDouble)))
        assert(c._6.contains(want))
      case _ =>
    }
  }

  test("q_simsearch_range: equals the brute-force threshold filter; consistent with topk") {
    val rows = LlmData.simsearchRange(s, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, c) => assert(c >= 0.1) }
    assert(rows.map(_._2).zip(rows.map(_._2).tail).forall { case (a, b) => a >= b })
    // every topk hit above the threshold must be in the range result
    val topk = LlmData.simsearchTopk(s, d).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val rangeSet = rows.map(_._1).toSet
    topk.filter(_._2 >= 0.1).foreach { case (id, _) =>
      assert(rangeSet.contains(id), s"topk hit $id missing from range result")
    }
    // and the range result is exactly the >= tau slice of the full scan
    val full = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qv = full.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = full.filter(_._1 != 0L)
      .map { case (id, v) => id -> math.round(cos(v, qv) * 10000) / 10000.0 }
      .filter(_._2 >= 0.1).map(_._1).toSet
    assert(rangeSet === want, "range result must equal brute force")
  }

  test("q_embed_centroid_eval: assignments replay from integer-micro centroids") {
    val out = LlmData.embedCentroidEval(s, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val vecs = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray))
    assert(out.map(_._2).sum === vecs.length.toLong, "every vector evaluated")
    out.foreach { case (_, n, correct, acc) =>
      assert(correct >= 0L && correct <= n)
      assert(acc === 1000000L * correct / n)
    }
    // full driver replay of the integer pipeline
    val micro = vecs.map { case (id, lb, v) =>
      (id, lb, v.map(x => math.round(x.toDouble * 1000000))) }
    val dims = micro.head._3.length
    val cents = micro.groupBy(_._2).map { case (lb, g) =>
      lb -> Array.tabulate(dims)(i => g.map(_._3(i)).sum / g.length) }
    val correctByLabel = micro.groupBy(_._2).map { case (lb, g) =>
      lb -> g.count { case (_, _, vm) =>
        val best = cents.toSeq.map { case (cl, cm) =>
          (cl, vm.indices.map(i => vm(i) * cm(i)).sum) }
          .sortBy { case (cl, sc) => (-sc, cl) }.head._1
        best == lb
      }.toLong }
    out.foreach { case (lb, _, correct, _) =>
      assert(correct === correctByLabel(lb), s"label $lb accuracy mismatch")
    }
    // the space must separate at least some labels better than chance
    assert(out.map(_._3).sum * 10 > vecs.length.toLong,
      "nearest-centroid no better than 10-way chance — suspicious")
  }

  test("q_corpus_token_budget: greedy prefix in quality order; budget honored") {
    val rows = LlmData.corpusTokenBudget(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val budget = rows.head._5
    // replay the full ranking driver-side from the operator's own per-doc
    // stats (quality micro + token count are oracle-checked elsewhere)
    val all = LlmData.textQuality(s, d)
      .select(col("doc_id"), col("n_tokens").cast("long"),
        expr("CAST(round(quality * 1000000, 0) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ranked = all.sortBy { case (id, _, qm) => (-qm, id) }
    var cum = 0L
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ranked.foreach { case (id, nTok, _) =>
      if (cum < budget) want += ((id, cum))
      cum += nTok
    }
    assert(rows.length === want.length, "selected-set size")
    assert(rows.map(_._1).toSet === want.map(_._1).toSet, "selected ids")
    val cumById = want.toMap
    rows.foreach { case (id, _, _, cumBefore, b) =>
      assert(b === budget)
      assert(cumBefore === cumById(id), s"cum_before mismatch at doc $id")
      assert(cumBefore < budget, "greedy rule")
    }
    assert(rows.length < all.length, "budget must actually cut")
    val totalToks = all.map(_._2).sum
    assert(budget === totalToks * 2 / 5)
  }

  test("q_simsearch_maxsim: MaxSim replays; beats any single query vector's ranking") {
    val rows = LlmData.simsearchMaxsim(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === 10)
    rows.foreach { case (_, nQ, _) => assert(nQ === 4L, "all 4 query vectors") }
    val scores = rows.map(_._3)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // exact driver replay
    val vecs = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000000)).toArray))
    val qs = vecs.filter(_._1 <= 3)
    val docs = vecs.filter(_._1 > 3).groupBy(_._1 / 4)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    val wantScores = docs.map { case (grp, vs) =>
      grp -> qs.map { case (_, qv) => vs.map(v => dot(qv, v._2)).max }.sum }
    val top = wantScores.toSeq.sortBy { case (g, sc) => (-sc, g) }.take(10)
    assert(rows.map(r => (r._1, r._3)).toSeq === top, "MaxSim top-10 replay")
  }

  test("q_text_novelty: first-appearance attribution replays; doc 0 is fully novel") {
    val rows = LlmData.textNovelty(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 3)
    val gramsByDoc = docs.map { case (id, toks) =>
      id -> toks.sliding(3).map(_.mkString(" ")).toSet }.toMap
    val firstDoc = gramsByDoc.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, o) => g -> o.map(_._2).min }
    assert(rows.length === docs.length)
    rows.foreach { case (id, nDistinct, nNovel, micro) =>
      val gs = gramsByDoc(id)
      assert(nDistinct === gs.size.toLong)
      assert(nNovel === gs.count(g => firstDoc(g) == id).toLong,
        s"novel-gram count mismatch at doc $id")
      assert(micro === 1000000L * nNovel / nDistinct)
    }
    // the earliest doc owns all its grams; later docs must lose some
    assert(rows.head._4 === 1000000L, "first doc fully novel")
    assert(rows.exists(_._4 < 1000000L), "no re-tread detected — suspicious")
  }

  test("q_embed_hard_negatives: label-disjoint, rank-ordered, brute-force exact") {
    val rows = LlmData.embedHardNegatives(s, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getInt(4), r.getLong(5)))
    val vecs = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000000)).toArray))
    val anchors = vecs.filter(_._1 < 20)
    assert(rows.length === anchors.length * 3)
    rows.foreach { case (_, aLabel, _, _, nLabel, _) =>
      assert(aLabel !== nLabel, "negative must carry a different label")
    }
    anchors.foreach { case (aid, albl, am) =>
      val want = vecs.filter(_._2 != albl)
        .map { case (id, lbl, vm) =>
          (id, lbl, am.indices.map(i => am(i) * vm(i)).sum) }
        .sortBy { case (id, _, dt) => (-dt, id) }.take(3)
      val got = rows.filter(_._1 == aid).sortBy(_._3)
        .map(r => (r._4, r._5, r._6)).toSeq
      assert(got === want.toSeq, s"hard negatives mismatch for anchor $aid")
    }
  }

  test("q_sample_systematic: global-rank spacing is exactly 97") {
    val rows = LlmData.sampleSystematic(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(rows.nonEmpty)
    val ranks = rows.map(_._2)
    assert(ranks.forall(_ % 97 == 3))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => b - a == 97 },
      "systematic sample must be evenly spaced in rank")
    // rank replays from the global key order
    val keys = Tables(s, d, "orders").select("o_orderkey").collect()
      .map(_.getLong(0)).sorted
    rows.foreach { case (k, rnk) =>
      assert(keys((rnk - 1).toInt) === k, s"rank $rnk key mismatch")
    }
    val expected = keys.length / 97 + (if (keys.length % 97 >= 3) 1 else 0)
    assert(rows.length === expected)
  }

  test("q_text_watermark: green counts replay; z is the exact binomial score") {
    val rows = LlmData.textWatermark(s, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    def green(tok: String): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      "02468ace".contains(h.charAt(0))
    }
    val texts = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, n, g, z, flagged) =>
      val toks = texts(id).split(" ", -1)
      assert(n === toks.length.toLong)
      assert(g === toks.count(green).toLong, s"green count mismatch at doc $id")
      val want = math.round((2.0 * g - n) / math.sqrt(n.toDouble) * 10000) / 10000.0
      assert(math.abs(z - want) < 1e-9)
      assert(flagged === (z >= 3.0))
    }
    // natural (unwatermarked) text: the flag rate must be near the null
    assert(rows.count(_._5) * 50 < rows.length,
      "too many false positives for an exact p=1/2 null")
  }

  test("q_embed_triplet_margin: pos/neg extremes replay; flags agree with hard negatives") {
    val rows = LlmData.embedTripletMargin(s, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val vecs = Tables(s, d, "embeddings").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(x => math.round(x.toDouble * 1000000)).toArray))
    assert(rows.length === vecs.count(_._1 < 20))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    rows.foreach { case (aid, albl, pos, neg, margin, violation) =>
      val am = vecs.find(_._1 == aid).get._3
      val others = vecs.filter(_._1 != aid)
      assert(pos === others.filter(_._2 == albl).map(v => dot(am, v._3)).max)
      assert(neg === others.filter(_._2 != albl).map(v => dot(am, v._3)).max)
      assert(margin === pos - neg)
      assert(violation === (margin <= 0L))
    }
    // neg_dot must equal the rank-1 hard negative from the sibling operator
    val hn = LlmData.embedHardNegatives(s, d).collect()
      .filter(_.getInt(2) == 1).map(r => r.getLong(0) -> r.getLong(5)).toMap
    rows.foreach { case (aid, _, _, neg, _, _) =>
      assert(hn(aid) === neg, s"anchor $aid disagrees with q_embed_hard_negatives")
    }
  }

  test("q_corpus_split_leakage: split + leakage replay from raw text") {
    val row = LlmData.corpusSplitLeakage(s, d).head
    val (nTrain, nVal, nLeaked, micro) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    def isVal(id: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      "02468ace".contains(h.charAt(0))
    }
    val docs = Tables(s, d, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .filter(_._2.length >= 8)
    assert(nVal === docs.count(dd => isVal(dd._1)).toLong)
    assert(nTrain === docs.count(dd => !isVal(dd._1)).toLong)
    val trainGrams = docs.filter(dd => !isVal(dd._1))
      .flatMap(_._2.sliding(8).map(_.mkString(" "))).toSet
    val wantLeaked = docs.filter(dd => isVal(dd._1)).count { dd =>
      dd._2.sliding(8).map(_.mkString(" ")).exists(trainGrams) }
    assert(nLeaked === wantLeaked.toLong, "leaked-doc count mismatch")
    assert(micro === 1000000L * nLeaked / nVal)
    // the fixture plants near-duplicates: a split MUST leak some of them
    assert(nLeaked > 0, "no leakage across a duplicated corpus — suspicious")
  }

  test("q_scalar_url_parse: components replay via java.net.URI on every row") {
    val rows = LlmData.scalarUrlParse(s, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (url, scheme, host, port, path, query, nParams, frag) =
        (r.getString(1), r.getString(2), r.getString(3), r.getLong(4),
          r.getString(5), r.getString(6), r.getLong(7), r.getString(8))
      val u = new java.net.URI(url)
      assert(scheme === u.getScheme.toLowerCase)
      assert(host === u.getHost.toLowerCase)
      assert(port === (if (u.getPort != -1) u.getPort.toLong
        else if (scheme == "https") 443L else 80L))
      // URI decodes %-escapes in getPath; compare against the raw path
      assert(path === u.getRawPath)
      assert(query === Option(u.getRawQuery).getOrElse(""))
      assert(nParams === (if (query.isEmpty) 0L
        else query.split("&", -1).length.toLong))
      assert(frag === Option(u.getRawFragment).getOrElse(""))
    }
    // the adversarial fixture exercises every component
    assert(rows.exists(_.getLong(7) > 0) && rows.exists(_.getString(8).nonEmpty))
    assert(rows.exists(r => r.getString(1).contains(":443")))
  }

  test("q_simsearch_opq: monotone error chain; ADC recall re-score under rotation") {
    val out = LlmData.simsearchOpq(s, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (nv, _, e0) = out("a_frozen")
    val (_, _, eL) = out("b_lloyd")
    val (_, nRot, eO) = out("c_opq")
    assert(nv > 0 && nRot >= 1, "the fixture must accept at least one rotation")
    assert(eL <= e0, "the Lloyd C-step must not increase reconstruction error")
    assert(eO <= e0,
      "rotation + C-step must not increase reconstruction error (the " +
        "restricted-Procrustes + group-mean monotonicity law)")
    // ADC recall re-score vs the exact scan: rotation is orthogonal, so
    // the exact L2 ground truth is invariant — only the quantizer moves
    val cb0 = LlmData.pqTrainedCentroids(s, d)
    val (_, cbO, rots) = LlmData.opqModelForTest(s, d)
    val m = cb0.length
    val sub = cb0(0)(0).length
    val rowsRaw = graft.Tables(s, d, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def rotate(x: Array[Float]): Array[Float] = {
      val y = x.map(_.toDouble)
      val o = y.clone()
      rots.foreach { case (p, q, c0, s0) =>
        o(p) = c0 * y(p) - s0 * y(q)
        o(q) = s0 * y(p) + c0 * y(q)
      }
      o.map(_.toFloat)
    }
    def fold(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def adcTop(cb: Array[Array[Array[Float]]],
        vecs: Seq[(Long, Array[Float])], qv: Array[Float]): Seq[Long] =
      vecs.filter(_._1 != 0L).map { case (id, x) =>
        var dist = 0.0
        (0 until m).foreach { j =>
          val xs = x.slice(j * sub, j * sub + sub)
          var bk = 0; var bs = Double.PositiveInfinity
          cb(j).indices.foreach { k =>
            val sc = fold(cb(j)(k), cb(j)(k)) - 2.0 * fold(xs, cb(j)(k))
            if (sc < bs) { bs = sc; bk = k }
          }
          val ce = cb(j)(bk)
          val qs = qv.slice(j * sub, j * sub + sub)
          (0 until sub).foreach { i2 =>
            val t2 = qs(i2).toDouble - ce(i2).toDouble; dist += t2 * t2
          }
        }
        (dist, id)
      }.sortBy(identity).take(20).map(_._2)
    val qv = rowsRaw.find(_._1 == 0L).get._2
    val exact = rowsRaw.filter(_._1 != 0L).map { case (id, x) =>
      var dd = 0.0
      x.indices.foreach { i2 =>
        val t2 = x(i2).toDouble - qv(i2).toDouble; dd += t2 * t2
      }
      (dd, id)
    }.sortBy(identity).take(20).map(_._2).toSet
    val rFrozen = adcTop(cb0, rowsRaw.toSeq, qv).count(exact).toDouble / 20
    val rotVecs = rowsRaw.toSeq.map { case (id, x) => id -> rotate(x) }
    val rRot = adcTop(cbO, rotVecs, rotate(qv)).count(exact).toDouble / 20
    info(s"ADC recall@20 frozen=$rFrozen rotated=$rRot")
    assert(rRot >= rFrozen - 0.15,
      s"rotated ADC recall $rRot collapsed vs frozen $rFrozen")
    assert(rRot >= 0.3, s"rotated ADC recall $rRot below the 0.3 floor")
  }
}
