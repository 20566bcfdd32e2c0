package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q147 (grouped OLS), q148 (basket lift), q149 (sliding distinct),
  * q150 (MAD outliers), q151 (histogram Gini). The driver oracle owns
  * exact replay; here the DEFINING laws on planted fixtures: OLS
  * recovers a planted line, lift separates dependence from
  * independence, WAU covers exactly the window, MAD shrugs off the
  * outliers it hunts, and the sketch Gini tracks the exact sorted
  * Gini. */
class ProfilingOpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("q147: OLS recovers a planted exact line (slope 2, intercept 1, r2 = 1)") {
    val pts = (1 to 100).map(i => ("a", i.toDouble, 2.0 * i + 1.0)) ++
      (1 to 100).map(i => ("b", i.toDouble, -0.5 * i + 10.0))
    val got = operators.Ols.olsByGroup(pts.toDF("g", "x", "y"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == ((2.0, 1.0, 1.0)), s"planted line a: ${got("a")}")
    assert(got("b") == ((-0.5, 10.0, 1.0)), s"planted line b: ${got("b")}")
  }

  test("q147 registry: net revenue ~ gross price is structural — slope ≈ mean " +
      "retained fraction, r2 pinned high") {
    // y = x·(1−d) with d ∈ [0, 0.1] by construction, so the fit is
    // guaranteed by algebra, not by a generator accident (VERDICT r9 #3)
    val rows = SparkEntry.queries("q147_ols_by_group")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val slope = r.getDouble(2)
      assert(slope > 0.89 && slope < 1.0,
        s"slope must be the retained fraction 1−E[d] ∈ (0.9, 1): $r")
      val r2 = r.getDouble(4)
      assert(r2 > 0.95 && r2 <= 1.0, s"r2 must be pinned near 1: $r")
    }
  }

  test("q148: lift separates a perfectly-dependent pair from an independent one") {
    // 100 baskets: (p,q) always co-occur; r appears in every basket, so
    // (p,r) is exactly independent (lift 1); (p,s) never co-occur
    val rows = (1 to 100).flatMap { b =>
      val ps = if (b <= 50) Seq("p", "q") else Seq("s")
      (ps :+ "r").map(i => (b.toLong, i))
    }
    val got = operators.Baskets.pairLift(rows.toDF("basket_id", "item"), minSupport = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    assert(got(("p", "q")) == 2.0, s"dependent pair lift: $got") // 50·100/(50·50)
    assert(got(("p", "r")) == 1.0, s"independent pair lift: $got")
    assert(!got.contains(("p", "s")), "never-co-occurring pair must not appear")
  }

  test("q149: WAU equals the union of the trailing 7 days, DAU the day itself") {
    val d0 = java.sql.Date.valueOf("2024-01-01")
    def day(i: Int) = java.sql.Date.valueOf(s"2024-01-${"%02d".format(1 + i)}")
    // user 1 active days 0 and 8 (two windows apart); users 2,3 day 3
    val ev = Seq((1L, day(0)), (1L, day(8)), (2L, day(3)), (3L, day(3)))
      .map { case (u, d) => ("t", d, u) }.toDF("g", "day", "user")
    val got = operators.SlidingDistinct.slidingDistinct(ev)
      .collect().map(r => r.getDate(1).toString -> (r.getLong(2), r.getLong(3))).toMap
    assert(got("2024-01-01") == ((1L, 1L)))
    assert(got("2024-01-04") == ((2L, 3L)), s"day3 window must hold users 1,2,3: $got")
    assert(got("2024-01-09") == ((1L, 3L)), s"day8 window still covers day 3: $got")
    assert(got.size == 3, s"only active days reported: $got")
    assert(d0.toLocalDate != null)
  }

  test("q150: planted outliers are counted; the estimator itself barely moves") {
    val basePts = (1 to 1000).map(i => ("a", 100.0 + (i % 21) - 10)) // 90..110
    val outliers = Seq(("a", 1e6), ("a", -1e6))
    def profile(rows: Seq[(String, Double)]) =
      operators.Mad.madOutliers(spark, rows.toDF("g", "x")).collect()(0)
    val clean = profile(basePts)
    val dirty = profile(basePts ++ outliers)
    assert(dirty.getLong(2) >= 2, s"planted extremes not flagged: $dirty")
    // robustness: two 1e6-magnitude points move the sketch median < 1 unit
    assert(math.abs(dirty.getDouble(3) - clean.getDouble(3)) < 1.0,
      s"median not robust: clean=${clean.getDouble(3)} dirty=${dirty.getDouble(3)}")
  }

  test("q151: sketch Gini tracks the exact sorted Gini; extremes ordered correctly") {
    def exactGini(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val num = s.zipWithIndex.map { case (x, i) => (2 * (i + 1) - n - 1) * x }.sum
      num / (n * s.sum)
    }
    val even = (1 to 500).map(i => ("even", 100.0 + (i % 3)))
    val skew = (1 to 500).map(i => ("skew", if (i == 1) 1e5 else 1.0))
    val mixed = (1 to 500).map(i => ("mixed", i.toDouble))
    val df = (even ++ skew ++ mixed).toDF("g", "x")
    val got = operators.Gini.giniSketch(df)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val exact = Map("even" -> exactGini(even.map(_._2)),
      "skew" -> exactGini(skew.map(_._2)), "mixed" -> exactGini(mixed.map(_._2)))
    got.foreach { case (g, e) =>
      assert(math.abs(e - exact(g)) < 0.02,
        s"$g: sketch $e vs exact ${exact(g)}")
    }
    assert(got("even") < 0.05 && got("skew") > 0.9 && got("mixed") > 0.2,
      s"extremes disordered: $got")
  }

  test("q152: the unified profile agrees with its parts on a planted uniform") {
    // x = 1..1000 uniform: every statistic has a closed form; bin width
    // (hi−lo)/256 ≈ 3.9 bounds the sketch quantiles, dmax/256 ≈ 2 the MAD
    val df = (1 to 1000).map(i => ("u", i.toDouble)).toDF("g", "x")
    val r = operators.RobustStats.profile(spark, df).collect()(0)
    val m = r.getValuesMap[Any](r.schema.fieldNames)
    assert(m("n") == 1000L)
    assert(math.abs(m("p50").asInstanceOf[Double] - 500.0) < 5.0, s"p50: $m")
    assert(math.abs(m("p90").asInstanceOf[Double] - 900.0) < 5.0, s"p90: $m")
    assert(math.abs(m("p_lo").asInstanceOf[Double] - 50.0) < 5.0, s"p_lo: $m")
    assert(math.abs(m("p_hi").asInstanceOf[Double] - 950.0) < 5.0, s"p_hi: $m")
    // MAD of uniform = range/4; tolerance = quantile err + dev-bin width
    assert(math.abs(m("mad").asInstanceOf[Double] - 250.0) < 8.0, s"mad: $m")
    // a correct CDF transform fills every decile to ≈10%
    assert(m("dec_maxdev").asInstanceOf[Double] < 0.02, s"dec_maxdev: $m")
    // 3·1.4826·MAD ≈ 1112 > dmax ≈ 500 ⇒ zero outlier mass, exactly
    assert(m("n_out_est").asInstanceOf[Double] == 0.0, s"n_out_est: $m")
    // Gini of uniform 1..n → 1/3·(n−1)/(n+1) ≈ 0.333
    assert(math.abs(m("gini").asInstanceOf[Double] - 0.333) < 0.02, s"gini: $m")
    // clamp counts: ≈5% per tail, within one bin of mass (≈4 rows/bin)
    assert(math.abs(m("n_lo").asInstanceOf[Long] - 50L) <= 6, s"n_lo: $m")
    assert(math.abs(m("n_hi").asInstanceOf[Long] - 50L) <= 6, s"n_hi: $m")
  }

  test("q153: drift laws — identity is 0, disjoint supports are TVD 1 / chi2 2, " +
      "shifts are ordered") {
    def drift(rows: Seq[(String, Int, Double)]) =
      operators.Drift.histDrift(rows.toDF("g", "period", "x"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(3), r.getDouble(4))).toMap
    // identical snapshots → exactly zero drift (both divergences)
    val same = (1 to 500).flatMap(i =>
      Seq(("id", 0, i.toDouble), ("id", 1, i.toDouble)))
    // disjoint supports → TVD = 1, symmetrized chi2 = 2 (maxima)
    val far = (1 to 500).map(i => ("far", 0, i.toDouble)) ++
      (1 to 500).map(i => ("far", 1, 1000.0 + i))
    // small vs large location shift on the SAME grid: ordered severity
    val s1 = (1 to 500).map(i => ("s1", 0, i.toDouble)) ++
      (1 to 500).map(i => ("s1", 1, i + 50.0))
    val s2 = (1 to 500).map(i => ("s2", 0, i.toDouble)) ++
      (1 to 500).map(i => ("s2", 1, i + 300.0))
    val got = drift(same ++ far ++ s1 ++ s2)
    assert(got("id") == ((0.0, 0.0)), s"identity drift must be zero: $got")
    assert(got("far") == ((1.0, 2.0)), s"disjoint drift must saturate: $got")
    assert(got("s1")._1 > 0.0 && got("s1")._1 < got("s2")._1,
      s"TVD must order shift severity: $got")
    assert(got("s1")._2 < got("s2")._2, s"chi2 must order shift severity: $got")
    // a one-period group is dropped, not NaN'd
    val half = (1 to 100).map(i => ("h", 0, i.toDouble))
    assert(drift(half).isEmpty, "drift against an empty snapshot is undefined")
  }

  test("q154: categorical drift — identity 0, swap detected, peak category named") {
    def drift(rows: Seq[(String, Int, String)]) =
      operators.Drift.catDrift(rows.toDF("g", "period", "cat"))
        .collect().map(r => r.getString(0) ->
          (r.getDouble(4), r.getString(6), r.getDouble(7))).toMap
    // identical mixes → zero drift
    val same = (1 to 300).flatMap(i =>
      Seq(("id", 0, s"c${i % 3}"), ("id", 1, s"c${i % 3}")))
    // planted move: A = 80% x / 20% y, B = 20% x / 80% y → TVD = 0.6,
    // and the peak is whichever of x/y moved (both moved 0.6 — tie
    // breaks lexicographically to "x")
    val swap = (1 to 80).map(_ => ("sw", 0, "x")) ++
      (1 to 20).map(_ => ("sw", 0, "y")) ++
      (1 to 20).map(_ => ("sw", 1, "x")) ++
      (1 to 80).map(_ => ("sw", 1, "y"))
    val got = drift(same ++ swap)
    assert(got("id")._1 == 0.0, s"identity mix must read zero: $got")
    assert(got("sw")._1 == 0.6, s"planted 60-point move: $got")
    assert(got("sw")._2 == "x" && got("sw")._3 == 0.6,
      s"peak category must name the move with the tie broken low: $got")
  }

  test("q155: the melted table profile equals per-column profiles bit-for-bit") {
    // each (group, metric) melt-group sees exactly the rows the
    // single-column profile sees ⇒ identical histograms ⇒ identical
    // 14-column output — equality, not tolerance
    val df = (1 to 400).map(i =>
      ("a", i.toDouble, (i * 13 % 101).toDouble)).toDF("g", "u", "v")
    val table = operators.RobustStats.profileTable(spark, df, col("g"),
      Seq("u" -> col("u"), "v" -> col("v")))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    def single(name: String, c: String) = operators.RobustStats
      .profile(spark, df.select(concat_ws("/", col("g"), lit(name)).as("g"),
        col(c).cast("double").as("x")))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(table == single("u", "u") ++ single("v", "v"),
      s"melted profile diverged from its single-column twins")
  }

  test("q156: drift series — flat history is 0, the planted break month reads 1, " +
      "gapped buckets pair nothing") {
    def series(rows: Seq[(String, Long, Double)]) =
      operators.Drift.driftSeries(rows.toDF("g", "bucket", "x"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // buckets 1,2 hold distribution A (1..200); buckets 3,4 hold the
    // DISJOINT distribution B (1000..1199): the break lands exactly at
    // pair 3, flat everywhere else
    val planted = (1L to 4L).flatMap { b =>
      (1 to 200).map(i =>
        ("p", b, if (b <= 2) i.toDouble else 1000.0 + (i - 1)))
    }
    // a group observed only in buckets 1 and 3 has NO consecutive pair
    val gapped = Seq(1L, 3L).flatMap(b => (1 to 50).map(i => ("gap", b, i.toDouble)))
    val got = series(planted ++ gapped)
    assert(got == Map(("p", 2L) -> 0.0, ("p", 3L) -> 1.0, ("p", 4L) -> 0.0),
      s"planted break series wrong: $got")
  }

  test("q157: KS laws — identity 0, disjoint 1, a location shift reads near its " +
      "overlap deficit and beats TVD's read") {
    def ks(rows: Seq[(String, Int, Double)]) =
      operators.Drift.ksTest(rows.toDF("g", "period", "x"))
        .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    val same = (1 to 500).flatMap(i =>
      Seq(("id", 0, i.toDouble), ("id", 1, i.toDouble)))
    val far = (1 to 500).map(i => ("far", 0, i.toDouble)) ++
      (1 to 500).map(i => ("far", 1, 1000.0 + i))
    // uniform A = 1..1000, B = A + 500: exact KS = 0.5 at the overlap
    // edge; one-bin granularity tolerance
    val shift = (1 to 1000).map(i => ("sh", 0, i.toDouble)) ++
      (1 to 1000).map(i => ("sh", 1, i + 500.0))
    val got = ks(same ++ far ++ shift)
    assert(got("id")._1 == 0.0, s"identity KS must be zero: $got")
    assert(got("far")._1 == 1.0, s"disjoint KS must saturate: $got")
    assert(math.abs(got("sh")._1 - 0.5) < 0.01, s"shift KS must read 0.5: $got")
    // the 0.5 gap is a PLATEAU over the whole overlap [500, 1000]; the
    // deterministic low-edge tie-break reports where the gap FIRST
    // saturates — the shift onset x ≈ 500, within bin granularity
    assert(math.abs(got("sh")._2 - 500.0) < 12.0, s"shift KS peak misplaced: $got")
  }

  test("q159: richness laws — exhausted corpus reads chao1 = D / coverage 1, " +
      "all-singletons reads coverage 0, chao1 never undershoots D") {
    def rich(rows: Seq[(String, String)]) =
      operators.Richness.vocabRichness(rows.toDF("g", "text"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(5), r.getDouble(6))).toMap
    // exhausted: every one of 10 tokens seen 20 times → f1 = f2 = 0
    val done = (1 to 20).map(_ => ("done", (0 until 10).map("t" + _).mkString(" ")))
    // frontier: every token unique → f1 = D, coverage 0
    val fresh = (1 to 5).map(i =>
      ("fresh", (0 until 10).map(j => s"u${i}_$j").mkString(" ")))
    val got = rich(done ++ fresh)
    assert(got("done") == ((10L, 10.0, 1.0)), s"exhausted corpus: $got")
    val (d, chao1, cov) = got("fresh")
    assert(d == 50L && cov == 0.0, s"all-singleton corpus: $got")
    assert(chao1 == 50.0 + 50.0 * 49.0 / 2.0, s"chao1 formula: $got")
    got.values.foreach { case (dd, c1, _) =>
      assert(c1 >= dd.toDouble, "chao1 must never undershoot observed richness")
    }
  }

  test("q161: weighted median equals the expanded-rows median and shrugs off a " +
      "heavy-value outlier") {
    import operators.RobustStats.weightedRefinedQuantile
    // value 100 carries 80% of the unit mass → the weighted median IS
    // 100 (expansion ranks 11..90); refinement error ≤ range/B³ ≪ 1
    val rows = Seq(("a", 10.0, 10L), ("a", 100.0, 80L), ("a", 1000.0, 10L))
    val est = weightedRefinedQuantile(rows.toDF("g", "x", "wt"), 0.5)
      .collect()(0).getDouble(1)
    val expanded = rows.flatMap { case (g, x, w) => Seq.fill(w.toInt)(x) }.sorted
    val exact = expanded(expanded.size / 2 - 1)
    assert(exact == 100.0 && math.abs(est - 100.0) < 1.0,
      s"weighted median must sit on the heavy value: $est vs $exact")
    // a single huge-VALUE row with small weight must barely move it
    val dirty = weightedRefinedQuantile(
      (rows :+ (("a", 1e9, 1L))).toDF("g", "x", "wt"), 0.5)
      .collect()(0).getDouble(1)
    assert(math.abs(dirty - 100.0) < 1.0,
      s"one light outlier row must not move the weighted median: $dirty")
  }

  test("refined quantile: unit weights give the unweighted estimate bit for bit " +
      "when q·n is integral, at 1, 2 and 3 passes") {
    import operators.RobustStats.{refinedQuantile, weightedRefinedQuantile}
    // q = 0.5 over an even n per group: the rank ⌈q·n⌉ and the mass q·W
    // are the same number, so every bracket, count and interpolation is
    val rows = (1 to 40).map(i => ("spread", i * 1.25)) ++
      (1 to 19).map(i => ("outlier", i.toDouble)) :+ (("outlier", 1e9)) // far outlier
    val flat = Seq.fill(6)(("flat", 7.5)) // degenerate: hi = lo
    val df = (rows ++ flat).toDF("g", "x")
    def est(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (passes <- 1 to 3) {
      val plain = est(refinedQuantile(df, 0.5, passes))
      val unit = est(weightedRefinedQuantile(df.withColumn("wt", lit(1L)), 0.5, passes))
      assert(plain.keySet == Set("spread", "outlier", "flat"), s"groups at $passes: $plain")
      assert(plain.map { case (g, v) => g -> java.lang.Double.doubleToRawLongBits(v) } ==
        unit.map { case (g, v) => g -> java.lang.Double.doubleToRawLongBits(v) },
        s"passes = $passes: unweighted $plain vs unit-weighted $unit")
      assert(plain("flat") == 7.5, s"degenerate group at $passes: $plain")
    }
  }

  test("refined quantile names q and passes when it rejects them") {
    val df = Seq(("a", 1.0)).toDF("g", "x")
    val e = intercept[IllegalArgumentException](
      operators.RobustStats.refinedQuantile(df, 0.0))
    assert(e.getMessage == "requirement failed: refined quantile needs 0 < q <= 1 " +
      "and passes >= 1, got q = 0.0, passes = 3")
    val w = intercept[IllegalArgumentException](
      operators.RobustStats.weightedRefinedQuantile(df.withColumn("wt", lit(1L)), 0.0))
    assert(w.getMessage == e.getMessage)
  }

  test("q162: diversity laws — uniform vocab reads D_eff = k exactly, a dominant " +
      "token collapses it toward 1") {
    def div(rows: Seq[(String, String)]) =
      operators.Richness.vocabDiversity(rows.toDF("g", "text"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(3), r.getDouble(4))).toMap
    // uniform: 8 tokens, each 25 times → D_eff = (8·25)²/(8·25²) = 8
    val uni = (1 to 25).map(_ => ("uni", (0 until 8).map("t" + _).mkString(" ")))
    // dominated: one token 992 times + 8 rare → D_eff ≈ 1, top_share ≈ 1
    val dom = (1 to 124).map(_ => ("dom", "x x x x x x x x")) ++
      Seq(("dom", (0 until 8).map("r" + _).mkString(" ")))
    val got = div(uni ++ dom)
    assert(got("uni") == ((8L, 8.0, 0.125)), s"uniform vocab: $got")
    val (dD, dEff, dTop) = got("dom")
    assert(dD == 9L && dEff < 1.1 && dTop > 0.98, s"dominated vocab: $got")
  }

  test("q164: corr matrix reads planted relations — linear ±1, constant null, " +
      "balanced-alternation near 0") {
    // y = 2x+1 → corr 1; z = −x → corr −1 (and corr(y,z) = −1); w
    // constant → zero variance → NULL; all from ONE aggregation
    val df = (1 to 400).map(i =>
      ("a", i.toDouble, 2.0 * i + 1.0, -i.toDouble, 7.0))
      .toDF("g", "x", "y", "z", "w")
    val got = operators.Assoc.corrMatrix(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(got.size == 6, s"4 columns must yield 6 unordered pairs: $got")
    assert(got(("x", "y")) == 1.0 && got(("x", "z")) == -1.0 &&
      got(("y", "z")) == -1.0, s"planted linear relations: $got")
    assert(got(("x", "w")) == null && got(("y", "w")) == null &&
      got(("z", "w")) == null, "constant column must read NULL, not NaN")
    // balanced alternation: u = i, v = i mod 2 over full periods — the
    // residual correlation of a 400-long alternation is ~0
    val uv = (1 to 400).map(i => ("b", i.toDouble, (i % 2).toDouble))
      .toDF("g", "u", "v")
    val near0 = operators.Assoc.corrMatrix(uv, Seq("u", "v"))
      .collect()(0).getDouble(4)
    assert(math.abs(near0) < 0.01, s"alternation must read ~0: $near0")
  }

  test("q165: Cramér's V reads 1 on a copy, 0 on exact independence, NULL on a " +
      "constant side") {
    def v(rows: Seq[(String, String)], name: String) =
      operators.Assoc.cramersV(rows.toDF("a", "b"), name).collect()(0)
    // b = a (3 levels × 60) → perfect association: χ² = n·(r−1), V = 1
    val copy = (1 to 180).map(i => (s"k${i % 3}", s"k${i % 3}"))
    val rc = v(copy, "copy")
    assert(rc.getDouble(5) == 360.0 && rc.getDouble(6) == 1.0,
      s"copy pair must saturate: $rc")
    // full 2×3 cross product × 30 → exactly uniform cells: χ² = V = 0
    val indep = (0 until 180).map(i => (s"a${i % 2}", s"b${(i / 2) % 3}"))
    val ri = v(indep, "indep")
    assert(ri.getDouble(5) == 0.0 && ri.getDouble(6) == 0.0,
      s"exact independence must read zero: $ri")
    // constant b → min(r−1, c−1) = 0 → V undefined, emitted as NULL
    val const = (1 to 100).map(i => (s"a${i % 4}", "only"))
    assert(v(const, "const").isNullAt(6), "constant side must read NULL")
  }

  test("q166: Spearman is monotone-invariant, reads −1 on reversal, NULL on a " +
      "constant side, and survives the outlier that destroys Pearson") {
    // y = x³ is nonlinear but strictly monotone: rank vectors are
    // identical, so rho = 1 exactly where Pearson reads < 1
    val df = (1 to 300).map(i => ("a", i.toDouble,
      i.toDouble * i * i, -i.toDouble, 7.0)).toDF("g", "x", "y", "z", "w")
    val got = operators.Assoc.spearman(df, Seq("x", "y", "z", "w"))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(4)) null else r.getDouble(4))).toMap
    assert(got(("x", "y")) == 1.0 && got(("x", "z")) == -1.0 &&
      got(("y", "z")) == -1.0, s"monotone relations: $got")
    assert(got(("x", "w")) == null, "constant column must read NULL")
    // tie-averaged ranks: identical tie patterns on both sides → 1
    val ties = Seq(("a", 1.0, 5.0), ("a", 1.0, 5.0), ("a", 2.0, 9.0))
      .toDF("g", "x", "y")
    assert(operators.Assoc.spearman(ties, Seq("x", "y"))
      .collect()(0).getDouble(4) == 1.0, "tied ranks must still read 1")
    // one 1e9 outlier in a clean monotone relation: Pearson collapses
    // toward the spike, Spearman moves one rank and stays ≈ 1
    val dirty = (1 to 200).map(i => ("a", i.toDouble,
      if (i == 100) 1e9 else 2.0 * i)).toDF("g", "x", "y")
    val rho = operators.Assoc.spearman(dirty, Seq("x", "y"))
      .collect()(0).getDouble(4)
    val pearson = operators.Assoc.corrMatrix(dirty, Seq("x", "y"))
      .collect()(0).getDouble(4)
    assert(rho > 0.99 && pearson < 0.5,
      s"robustness split: spearman=$rho pearson=$pearson")
    // complete-case NULL contract: NULL entries must not contaminate
    // real ranks — a NULL distinct-value row would land in the TOP
    // range block (least() skips NULLs → blk = bins−1; NULLS-FIRST
    // ordering puts its cnt under every real value there) and inflate
    // the top-block ranks. y NULL exactly on the 43 largest x, so the
    // surviving marginal ranks are both contiguous 1..257 → exactly 1;
    // contaminated top-block y ranks would read < 1
    val gapped = (1 to 300).map(i => ("a", i.toDouble,
      if (i > 257) null else java.lang.Double.valueOf(2.0 * i)))
      .toDF("g", "x", "y")
    assert(operators.Assoc.spearman(gapped, Seq("x", "y"))
      .collect()(0).getDouble(4) == 1.0,
      "NULL rows must be dropped before ranking (complete-case)")
  }

  test("q167: ACF reads the planted series shapes — alternation exactly " +
      "−(n−1)/n at lag 1, constant NULL, gaps drop pairs") {
    import org.apache.spark.sql.functions.{col, date_add, lit}
    def series(xs: Seq[Double], step: Int = 1) =
      xs.zipWithIndex.map { case (x, i) => ("a", i * step, x) }
        .toDF("g", "i", "x")
        .withColumn("d", date_add(lit("2024-01-01").cast("date"), col("i")))
        .select(col("g"), col("d"), col("x"))
    // alternating 10,0,…(n=30): acf(k) = ±(n−k)/n exactly (x̄ = 5,
    // every deviation ±5, integer counts → deterministic doubles)
    val alt = operators.Assoc.autocorr(series(
      (0 until 30).map(i => 10.0 * (i % 2))), 2)
      .collect().map(r => r.getInt(1) -> r.getDouble(4)).toMap
    assert(math.abs(alt(1) - (-29.0 / 30)) < 1e-9 &&
      math.abs(alt(2) - 28.0 / 30) < 1e-9, s"alternation: $alt")
    // constant series: zero variance → NULL at every lag
    val const = operators.Assoc.autocorr(series(Seq.fill(30)(7.0)), 3)
      .collect()
    assert(const.length == 3 && const.forall(_.isNullAt(4)),
      "constant series must read NULL")
    // every-other-day series: lag 1 has NO observed pair (absent row),
    // lag 2 pairs every consecutive observation
    val gapped = operators.Assoc.autocorr(series(
      (0 until 20).map(i => (i % 3).toDouble), step = 2), 2).collect()
    assert(gapped.map(_.getInt(1)).toSeq == Seq(2) &&
      gapped(0).getLong(3) == 19, s"gapped: ${gapped.toSeq}")
  }

  test("q152: profile caps equal the standalone sketch caps bit-for-bit") {
    // same histogram, same interpolation tree ⇒ EXACT equality, not
    // tolerance — the profile is a shared-scan refactor of q124's caps
    val df = (1 to 500).map(i => ("a", (i * 7 % 97).toDouble)) ++
      (1 to 300).map(i => ("b", (i * i % 53).toDouble))
    val prof = operators.RobustStats.profile(spark, df.toDF("g", "x"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(5), r.getDouble(6))).toMap // (p_lo, p_hi) rounded 6
    val caps = operators.RobustStats
      .winsorizeSketchCaps(spark, df.toDF("g", "x"))
      .collect().map(r => r.getString(0) ->
        (math.rint(r.getDouble(1) * 1e6) / 1e6,
          math.rint(r.getDouble(2) * 1e6) / 1e6)).toMap
    assert(prof == caps, s"profile caps drifted from q124's: $prof vs $caps")
  }
}
