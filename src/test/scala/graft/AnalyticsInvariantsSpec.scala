package graft

import org.apache.spark.sql.functions._

import graft.queries.EventQueries

/** Semantic invariants for the statistical/attribution operators — the
  * properties that must hold for ANY input, pinned independently of the
  * DuckDB hash-match (which verifies exact values for ONE dataset and
  * would silently keep passing if an invariant-breaking change landed on
  * both engines symmetrically).
  */
class AnalyticsInvariantsSpec extends SparkSpec {

  test("q303 bootstrap: replica sizes concentrate around the true count") {
    val truth = graft.queries.Tables.events(spark, Sf0001)
      .filter(col("event_type") === "purchase").count()
    val rows = EventQueries.q303PoissonBootstrap(spark, Sf0001).collect()
    assert(rows.length === 16)
    rows.foreach { r =>
      val nEff = r.getAs[Long]("n_eff")
      // Poisson(1) per row: E[n_eff] = n, sd = sqrt(n); 6 sigma on a
      // deterministic draw is a hard bound, not a flaky one
      assert(math.abs(nEff - truth) <= 6 * math.sqrt(truth.toDouble).ceil.toLong,
        s"replica size $nEff vs truth $truth")
    }
  }

  test("q142 z-test: zero pooled variance gives a NULL z, not DIVIDE_BY_ZERO") {
    import spark.implicits._
    // every user converts (value > 150), then no user does: p(1-p) = 0
    Seq(200.0, 10.0).foreach { value =>
      withTempDir("graft-q142") { dir =>
        (1L to 40L).map(u => (u, u * 1000L, u, "purchase", value, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.parquet(s"$dir/events.parquet")
        val Array(r) = EventQueries.q142AbZtest(spark, dir.toString).collect()
        assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === 40L)
        assert(r.isNullAt(r.fieldIndex("z_r4")), s"z must be NULL: $r")
        assert(r.isNullAt(r.fieldIndex("significant")), s"flag must be NULL: $r")
      }
    }
  }

  test("q307 calibration: ECE is the n-weighted mean gap of its own rows") {
    val rows = graft.ext.ExtQueries.q307Calibration(spark, Sf0001).collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    val wgap = rows.map(r => r.getAs[Long]("n") * r.getAs[Long]("gap_ppm")).sum
    val expected = wgap / n
    rows.foreach(r => assert(r.getAs[Long]("ece_ppm") === expected))
  }

  test("q309 Holt: forecasts are the level plus h trend steps, 7 horizons") {
    val rows = EventQueries.q309HoltForecast(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("h")).sorted.toSeq === (1L to 7L))
    rows.foreach { r =>
      assert(r.getAs[Long]("forecast_cents") ===
        r.getAs[Long]("level_cents") + r.getAs[Long]("h") * r.getAs[Long]("trend_cents"))
    }
    // one shared level/trend state: the fold ran once, not per horizon
    assert(rows.map(_.getAs[Long]("level_cents")).distinct.length === 1)
  }

  test("q310 DP release: noise is inside the truncated support, clamp holds") {
    val rows = EventQueries.q310DpRelease(spark, Sf0001).collect()
    rows.foreach { r =>
      val noise = r.getAs[Long]("noise")
      assert(noise >= -10 && noise <= 10, s"noise $noise outside truncation")
      assert(r.getAs[Long]("n_noisy") >= 0)
      assert(r.getAs[Long]("n_noisy") ===
        math.max(r.getAs[Long]("n_true") + noise, 0L))
    }
  }

  test("q311 Markov: removal only lowers conversion; shares partition the credit") {
    val rows = EventQueries.q311MarkovAttribution(spark, Sf0001).collect()
    assert(rows.length === 4)
    val base = rows.map(_.getAs[Long]("base_conv_ppm")).distinct
    assert(base.length === 1, "one shared base conversion probability")
    rows.foreach { r =>
      assert(r.getAs[Long]("removed_conv_ppm") <= base.head,
        "removal must not raise conversion")
      assert(r.getAs[Long]("removal_effect_ppm") >= 0)
    }
    // integer-floored shares: sum in (1e6 - |channels|, 1e6]
    val shareSum = rows.map(_.getAs[Long]("attribution_ppm")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - 4,
      s"shares must partition the credit, got $shareSum")
  }

  test("q315 reshard: the consistent-hash ring moves strictly fewer docs than modulo") {
    val rows = graft.ext.ExtQueries.q315ReshardPlan(spark, Sf0001).collect()
      .map(r => r.getAs[String]("strategy") -> r.getAs[Long]("moved_ppm")).toMap
    assert(rows("ring") < rows("modulo"),
      s"ring ${rows("ring")} should beat modulo ${rows("modulo")}")
    // only keys inside the arcs the 4 new tokens steal may move; with
    // md5-placed tokens those arcs are uneven but always a strict minority
    assert(rows("ring") > 0 && rows("ring") < 500000,
      s"ring moved ${rows("ring")} ppm")
  }

  test("q316 PIT join: at most one SCD2 image matches each fact row") {
    val df = graft.queries.ParityQueries.q316PitJoin(spark, Sf0001)
    val dupes = df.groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dupes === 0, "SCD2 interval disjointness must yield unique matches")
  }

  test("q317 cluster bootstrap spreads wider than the q303 row bootstrap") {
    // resampling whole users inflates replica variance relative to
    // independent rows — the methodological point of the cluster bootstrap;
    // compare relative spread (max-min over median) of the two replica sets
    def relSpreadPpm(vals: Seq[Long]): Long = {
      val sorted = vals.sorted
      val med = sorted(sorted.length / 2)
      (sorted.last - sorted.head) * 1000000L / med
    }
    val row = relSpreadPpm(EventQueries.q303PoissonBootstrap(spark, Sf0001)
      .collect().map(_.getAs[Long]("mean_cents_ppm")).toSeq)
    val cluster = relSpreadPpm(EventQueries.q317ClusterBootstrap(spark, Sf0001)
      .collect().map(_.getAs[Long]("rev_per_user_ppm")).toSeq)
    assert(cluster > row,
      s"cluster spread $cluster ppm should exceed row spread $row ppm")
  }

  test("q330 MASE reconciles with q325's holdout; q331 runs are range-valid") {
    val mase = EventQueries.q330ForecastMase(spark, Sf0001).collect()(0)
    val backtest = EventQueries.q325ForecastBacktest(spark, Sf0001).collect()
    // same holdout: the bake-off must see exactly the backtest's test days
    assert(mase.getAs[Long]("n_test") === backtest.length.toLong)
    // Holt's absolute error must be the sum of the backtest's per-day errors
    val holtErr = backtest
      .map(r => math.abs(r.getAs[Long]("forecast_cents") - r.getAs[Long]("actual_cents")))
      .sum
    assert(mase.getAs[Long]("abs_err_holt") === holtErr)
    assert(mase.getAs[Long]("mase_ppm") > 0)
    val runs = EventQueries.q331RunsTest(spark, Sf0001).collect()(0)
    val (a, b, r) = (runs.getAs[Long]("a"), runs.getAs[Long]("b"),
      runs.getAs[Long]("runs"))
    // a run count is at least 1 and at most the sequence length; both signs
    // must appear for the test to be defined on this fixture
    assert(a > 0 && b > 0, s"degenerate sign split a=$a b=$b")
    assert(r >= 1 && r <= a + b, s"runs $r outside [1, ${a + b}]")
  }

  test("q350 intervals: bands are ordered, constant-width, and centered on q309's line") {
    val rows = EventQueries.q350ForecastIntervals(spark, Sf0001).collect()
      .sortBy(_.getAs[Long]("h"))
    assert(rows.map(_.getAs[Long]("h")).toSeq === (1L to 7L))
    rows.foreach { r =>
      val (f, lo, mid, hi) = (r.getAs[Long]("forecast_cents"),
        r.getAs[Long]("lo_cents"), r.getAs[Long]("mid_cents"), r.getAs[Long]("hi_cents"))
      // residual quantiles are order statistics: P10 <= P50 <= P90
      assert(lo <= mid && mid <= hi, s"band disordered at h=${r.getAs[Long]("h")}")
      // additive residual band: each bound is forecast + a fixed quantile,
      // so the offsets must be identical across horizons
      assert(lo - f === rows.head.getAs[Long]("lo_cents") - rows.head.getAs[Long]("forecast_cents"))
      assert(hi - f === rows.head.getAs[Long]("hi_cents") - rows.head.getAs[Long]("forecast_cents"))
    }
    // the center line IS q309's Holt point forecast — shared fold, same states
    val point = EventQueries.q309HoltForecast(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("h") -> r.getAs[Long]("forecast_cents")).toMap
    rows.foreach(r => assert(r.getAs[Long]("forecast_cents") === point(r.getAs[Long]("h")),
      s"q350 center diverged from q309 at h=${r.getAs[Long]("h")}"))
  }

  test("q351 KM: risk set telescopes, survival is monotone, ledger covers all users") {
    val users = graft.queries.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    val rows = EventQueries.q351KaplanMeier(spark, Sf0001).collect()
      .sortBy(_.getAs[Long]("t"))
    // the first risk set is everyone; each later one is the previous minus
    // the users who exited (churned or censored) at the previous lifetime
    assert(rows.head.getAs[Long]("at_risk") === users)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("at_risk") ===
        a.getAs[Long]("at_risk") - a.getAs[Long]("churned") - a.getAs[Long]("censored"))
    }
    // everyone exits somewhere; survival is a non-increasing product in [0, 1e6]
    assert(rows.map(r => r.getAs[Long]("churned") + r.getAs[Long]("censored")).sum === users)
    val s = rows.map(_.getAs[Long]("surv_ppm"))
    assert(s.forall(v => v >= 0 && v <= 1000000L))
    assert(s.zip(s.tail).forall { case (a, b) => b <= a }, s"survival rose: ${s.mkString(",")}")
  }

  test("q352 ATE: on/off-support user ledger partitions the population") {
    val users = graft.queries.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    val r = EventQueries.q352StratifiedAte(spark, Sf0001).collect()(0)
    assert(r.getAs[Long]("users_on") + r.getAs[Long]("users_off") === users)
    assert(r.getAs[Long]("n_strata_on") >= 1)
  }

  test("q318 power: baseline rate non-degenerate; larger effects need fewer samples") {
    val rows = EventQueries.q318PowerAnalysis(spark, Sf0001).collect()
      .sortBy(_.getAs[Long]("mde_rel_ppm"))
    // the binomial variance p(1-p) degenerates at 0 or 1 — the grain must
    // keep the measured baseline strictly inside the open interval
    val p = rows.map(_.getAs[Long]("p_ppm")).distinct
    assert(p.length === 1 && p.head > 0 && p.head < 1000000L,
      s"baseline saturated: ${p.mkString(",")}")
    val ns = rows.map(_.getAs[Long]("n_per_arm"))
    assert(ns.forall(_ > 0))
    assert(ns.zip(ns.tail).forall { case (a, b) => b < a },
      s"n_per_arm must strictly decrease with MDE: ${ns.mkString(",")}")
  }

  test("q375 HRW: shard loads partition the corpus; the no-stranger-moves theorem holds") {
    val docs = graft.queries.Tables.documents(spark, Sf0001).count()
    val rows = graft.ext.ExtQueries.q375RendezvousShard(spark, Sf0001).collect()
    assert(rows.length === 17)
    assert(rows.map(_.getAs[Long]("n_docs17")).sum === docs)
    assert(rows.map(_.getAs[Long]("n_docs")).distinct === Array(docs))
    // HRW's defining property — every move lands on the NEW shard
    assert(rows.head.getAs[Long]("all_moves_to_new") === 1L)
    // and the new shard's load is exactly the moved count
    val newShard = rows.find(_.getAs[Long]("shard") === 16L).get
    assert(newShard.getAs[Long]("n_docs17") === rows.head.getAs[Long]("moved"))
  }

  test("q376 A/A: arms partition users per split; n_sig is its own rows' sum") {
    val users = graft.queries.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    val rows = EventQueries.q376AaCalibration(spark, Sf0001).collect()
    assert(rows.length === 16)
    rows.foreach { r =>
      assert(r.getAs[Long]("n1") + r.getAs[Long]("n0") === users)
      assert(r.getAs[Long]("c1") <= r.getAs[Long]("n1"))
      assert(r.getAs[Long]("c0") <= r.getAs[Long]("n0"))
    }
    assert(rows.head.getAs[Long]("n_sig") ===
      rows.map(_.getAs[Long]("is_sig")).sum)
  }

  test("q373 BH: rejections are a prefix of the p-ranking; p's are proper") {
    val rows = EventQueries.q373BhFdr(spark, Sf0001).collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(rows.map(_.getAs[Long]("rnk")).toSeq === (1L to 5L))
    val ps = rows.map(_.getAs[Long]("p_num"))
    assert(ps.forall(p => p >= 1 && p <= 129))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
      "p must be non-decreasing in rank")
    // step-up property: the rejection set is exactly ranks 1..k
    val rej = rows.map(_.getAs[Long]("is_rejected"))
    assert(rej.zip(rej.tail).forall { case (a, b) => a >= b },
      s"rejections must be a prefix: ${rej.mkString(",")}")
  }

  test("q374 snake packing: shards partition the corpus; spread gate is internally consistent") {
    val docs = graft.queries.Tables.documents(spark, Sf0001).count()
    val rows = graft.ext.ExtQueries.q374SnakePacking(spark, Sf0001).collect()
    assert(rows.length === 16)
    assert(rows.map(_.getAs[Long]("n_docs")).sum === docs)
    val loads = rows.map(_.getAs[Long]("w_sum"))
    val spread = rows.head.getAs[Long]("snake_spread_ppm")
    assert(spread === 1000000L * loads.max / loads.min,
      "published spread must be the loads' own max/min")
    assert(rows.map(_.getAs[Long]("snake_tighter")).distinct.length === 1)
  }

  test("q370 KW: doubled rank sums telescope to n(n+1); group sizes partition n") {
    val rows = EventQueries.q370KruskalWallis(spark, Sf0001).collect()
    assert(rows.length === 5)
    val n = rows.head.getAs[Long]("n")
    // Σ over groups of the doubled rank sums = 2·(1+…+n) = n(n+1), exactly
    assert(rows.map(_.getAs[Long]("r2_sum")).sum === n * (n + 1))
    assert(rows.map(_.getAs[Long]("n_j")).sum === n)
    assert(rows.map(_.getAs[Long]("h_int")).distinct.length === 1)
  }

  test("q371 McNemar: the 2×2 table partitions the user population") {
    val users = graft.queries.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    val r = EventQueries.q371McNemar(spark, Sf0001).collect()(0)
    assert(r.getAs[Long]("n_users") === users)
    assert(r.getAs[Long]("n_both") + r.getAs[Long]("a_only") +
      r.getAs[Long]("b_only") + r.getAs[Long]("n_neither") === users)
    assert(r.getAs[Long]("chi2_milli") >= 0)
  }

  test("q372 CUPED: arms partition users; adjustment preserves the grand mean direction") {
    val users = graft.queries.Tables.events(spark, Sf0001)
      .select(col("user_id")).distinct().count()
    val rows = EventQueries.q372Cuped(spark, Sf0001).collect()
    assert(rows.length === 2)
    assert(rows.map(_.getAs[Long]("n_a")).sum === users)
    // ρ² ∈ [0, 1] in per-mille; shared constants across arms
    rows.foreach { r =>
      val red = r.getAs[Long]("red_pm")
      assert(red >= 0 && red <= 1000L)
    }
    assert(rows.map(_.getAs[Long]("theta_milli")).distinct.length === 1)
  }

  test("q367 STL: additive identity holds exactly, edges are trimmed") {
    val rows = EventQueries.q367StlDecompose(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // y = trend + seasonal + remainder, exactly — the decomposition
      // invents and loses nothing (floor residue lives in `remainder`)
      assert(r.getAs[Long]("y") === r.getAs[Long]("trend") +
        r.getAs[Long]("seasonal") + r.getAs[Long]("remainder"))
    }
    // centered ±3 MA: exactly 6 edge days (3 each side) are trimmed
    val days = rows.map(_.getAs[Long]("day"))
    assert(days.length === (days.max - days.min + 1).toInt,
      "interior days must be contiguous")
  }

  test("q360 Shapley: efficiency axiom — the numerators partition 24·(v(N)−v(∅))") {
    val rows = EventQueries.q360ShapleyAttribution(spark, Sf0001).collect()
    assert(rows.length === 4)
    val vAll = rows.map(_.getAs[Long]("total_conv")).distinct
    val v0 = rows.map(_.getAs[Long]("baseline_conv")).distinct
    assert(vAll.length === 1 && v0.length === 1)
    // Shapley efficiency: Σφ = v(N) − v(∅), exactly, in the ×24 integers
    assert(rows.map(_.getAs[Long]("phi_num")).sum === 24L * (vAll.head - v0.head))
    // monotone game (v is a subset-count): every marginal sum is ≥ 0
    rows.foreach(r => assert(r.getAs[Long]("phi_num") >= 0))
  }

  test("q361 intervals: union ≤ span, longest ≤ covered, islands ≥ 1") {
    val rows = EventQueries.q361IntervalCoverage(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val covered = r.getAs[Long]("covered_us")
      val longest = r.getAs[Long]("longest_us")
      assert(r.getAs[Long]("n_islands") >= 1)
      assert(longest >= 1800L * 1000 * 1000, "an island is at least one TTL long")
      assert(longest <= covered)
      // covered ≤ n_events · TTL (each event contributes at most its own TTL)
      assert(covered <= r.getAs[Long]("n_events") * 1800L * 1000 * 1000)
      assert(r.getAs[Long]("util_ppm") >= 0 && r.getAs[Long]("util_ppm") <= 1000000L)
    }
  }

  test("q362 ACF: correlations are bounded, Q accumulates the lag terms") {
    val rows = EventQueries.q362AcfLjungBox(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("lag")).sorted.toSeq === (1L to 7L))
    // |ρ| ≤ 1 by Cauchy-Schwarz — the ppm integers must respect it
    rows.foreach(r => assert(math.abs(r.getAs[Long]("rho_ppm")) <= 1000000L))
    val q = rows.map(_.getAs[Long]("q_scaled")).distinct
    assert(q.length === 1 && q.head >= 0)
    val n = rows.head.getAs[Long]("n")
    assert(q.head === n * (n + 2) * rows.map(_.getAs[Long]("lb_term")).sum)
  }

  test("q363 log-hist sketch: the 2× relative-error guarantee actually holds") {
    val rows = EventQueries.q363LogHistQuantile(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("q")).sorted.toSeq === Seq(50L, 90L, 99L))
    rows.foreach { r =>
      // the bound is a THEOREM for a γ=2 midpoint sketch; a violation is a bug
      assert(r.getAs[Long]("within_bound") === 1L,
        s"q${r.getAs[Long]("q")}: est ${r.getAs[Long]("est_q")} vs exact ${r.getAs[Long]("exact_q")}")
      // exact quantile lives in the estimated bucket's [2^b, 2^(b+1)) range
      val b = r.getAs[Long]("b_q").toInt
      val exact = r.getAs[Long]("exact_q")
      assert(exact >= (1L << b) && exact < (2L << b))
    }
  }

  test("q364 null handling: FILTER counts and LOCF reconcile per user") {
    val rows = EventQueries.q364NullHandlingParity(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nEvents = r.getAs[Long]("n_events")
      val nPurch = r.getAs[Long]("n_purch")
      assert(nPurch <= nEvents)
      assert(r.getAs[Long]("n_views") <= nEvents)
      // rows before the first purchase are exactly the NULL-filled prefix
      assert(r.getAs[Long]("pre_first_purch") <= nEvents)
      if (nPurch === 0L) {
        assert(r.getAs[Long]("pre_first_purch") === nEvents)
        assert(r.isNullAt(r.fieldIndex("last_known_cents")))
      } else {
        assert(!r.isNullAt(r.fieldIndex("last_known_cents")))
      }
    }
  }

  test("q379 Dunnett: statistics are non-negative and the family rollup closes") {
    val rows = EventQueries.q379Dunnett(spark, Sf0001).collect()
    assert(rows.map(_.getAs[Long]("arm")).sorted.toSeq === Seq(1L, 2L, 3L))
    val nSig = rows.map(_.getAs[Long]("is_sig")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("t2_milli") >= 0L, "a squared statistic went negative")
      assert(r.getAs[Long]("s2_milli") >= 0L, "pooled variance went negative (Cauchy-Schwarz broken)")
      assert(r.getAs[Long]("n_sig") === nSig, "family rollup disagrees with its own rows")
      assert((r.getAs[Long]("t2_milli") > 5518L) === (r.getAs[Long]("is_sig") === 1L))
    }
  }

  test("q384 Bloom dedup: the no-false-negative THEOREM holds, flags nest") {
    val r = graft.ext.ExtQueries.q384BloomDedup(spark, Sf0001).collect().head
    // a Bloom filter can lie only one way: flagged must contain every exact dup
    assert(r.getAs[Long]("no_false_neg") === 1L, "Bloom filter missed a real duplicate")
    assert(r.getAs[Long]("bloom_flagged") ===
      r.getAs[Long]("exact_dup") + r.getAs[Long]("false_pos"))
    assert(r.getAs[Long]("bits_set") <= 2048L)
    assert(r.getAs[Long]("fp_ppm") <= 2L * r.getAs[Long]("bound_ppm"),
      s"observed FP rate ${r.getAs[Long]("fp_ppm")} ppm breaks the occupancy bound")
  }
}
