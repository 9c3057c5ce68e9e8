"""Unit tests for bench.py's measurement arithmetic — the pieces whose
failure would silently corrupt the official scaling record: the host
steal sampler's jiffy math, the pair load-symmetry acceptance, and the
median-over-symmetric-pairs estimator. The heavy phases themselves run
real Spark and are exercised by the bench itself; these tests stub
them (no SparkSession), except one small run of the timed cycle
helper, which checks that the bench times the crawler's own cycle."""

from __future__ import annotations

import bench


def _sampler_with(samples):
    s = bench._HostSampler()
    s._samples = samples
    return s


class TestHostSampler:
    def test_needs_two_samples(self):
        assert _sampler_with([]).result() is None
        assert _sampler_with([(100, 50, 5)]).result() is None

    def test_window_math(self):
        # (total, idle+iowait, steal): 1000 jiffies pass, 600 idle,
        # 40 stolen → busy 400, steal_norm 10%, busy 40% of total
        s = _sampler_with([(0, 0, 0), (1000, 600, 40)])
        r = s.result()
        assert r["steal_norm_pct"] == 10.0
        assert r["busy_pct"] == 40.0
        assert r["samples"] == 2

    def test_burst_is_worst_subwindow(self):
        # 11 one-jiffy-resolution samples: first 5-sample chunk has no
        # steal, second has 50 of 100 busy stolen
        samples = [(i * 100, i * 50, 0) for i in range(6)]
        last = samples[-1]
        for i in range(1, 6):
            samples.append(
                (last[0] + i * 100, last[1] + i * 70, last[2] + i * 10)
            )
        r = _sampler_with(samples).result()
        # second chunk: d_total 500, d_idle 350 → busy 150, steal 50
        assert r["steal_burst_pct"] == round(100 * 50 / 150, 2)

    def test_divide_by_zero_guard(self):
        r = _sampler_with([(0, 0, 0), (100, 100, 0)]).result()
        assert r["steal_norm_pct"] == 0.0

    def test_live_read_shape(self):
        s = bench._HostSampler._read()
        assert s is None or (len(s) == 3 and all(v >= 0 for v in s))


def _phase(tput, steal=1.0, burst=None):
    return {
        "throughput_urls_per_sec": tput,
        "host": {
            "steal_norm_pct": steal,
            "steal_burst_pct": steal if burst is None else burst,
        },
    }


def _pair_from(monkeypatch, lo, hi):
    seq = iter([lo, hi])
    monkeypatch.setattr(bench, "_run_phase", lambda phase, timeout: next(seq))
    return bench._measure_pair(deadline=1e18)


class TestMeasurePair:
    def test_healthy_pair_symmetric(self, monkeypatch):
        p = _pair_from(monkeypatch, _phase(8000.0), _phase(26000.0))
        assert p["load_symmetric"] is True
        assert p["speedup"] == 3.25
        assert p["efficiency"] == round(3.25 / 4, 3)

    def test_cross_shape_steal_gap_does_not_flag(self, monkeypatch):
        # structurally, a low window reads higher steal_norm than a
        # high window (small busy denominator + min-selected high
        # cycle) — the within-pair cross-shape comparison must NOT
        # exist (it flagged every pair of a run whose two pairs saw
        # identical conditions)
        p = _pair_from(
            monkeypatch, _phase(8000.0, steal=8.0), _phase(26000.0, steal=1.0)
        )
        assert p["load_symmetric"] is True

    def test_high_cycles_env_plumbed(self, monkeypatch):
        import os

        _pair_from(monkeypatch, _phase(8000.0), _phase(26000.0))
        assert os.environ["BENCH_HIGH_CYCLES"] == "2"
        seq = iter([_phase(8000.0), _phase(26000.0)])
        monkeypatch.setattr(
            bench, "_run_phase", lambda phase, timeout: next(seq)
        )
        bench._measure_pair(deadline=1e18, high_cycles=1)
        assert os.environ["BENCH_HIGH_CYCLES"] == "1"


def _pair(lo_steal, hi_steal, eff=0.8, lo_burst=None):
    p = {
        "low": _phase(8000.0, steal=lo_steal, burst=lo_burst),
        "high": _phase(8000.0 * eff * 4, steal=hi_steal),
        "load_symmetric": True,
        "efficiency": eff,
        "speedup": eff * 4,
    }
    # steady_cycle records host=None when the sampler got < 2 samples
    if lo_steal is None:
        p["low"]["host"] = None
    if hi_steal is None:
        p["high"]["host"] = None
    return p


class TestStealSymmetry:
    def test_same_shape_gap_flags_dirtier_pair_only(self):
        # pair 1's high window saw 7% vs pair 0's 1% — the committed-
        # run failure mode (92 s vs 112 s high windows, probes in band)
        pairs = [_pair(2.0, 1.0), _pair(2.5, 7.0)]
        bench._apply_steal_symmetry(pairs)
        assert pairs[0]["load_symmetric"] is True
        assert pairs[1]["load_symmetric"] is False

    def test_uniform_conditions_keep_all(self):
        # both pairs equally dirty (globally degraded window): nothing
        # to prefer, keep both
        pairs = [_pair(7.0, 1.4), _pair(7.9, 1.0)]
        bench._apply_steal_symmetry(pairs)
        assert all(p["load_symmetric"] for p in pairs)

    def test_dirty_low_window_flagged(self):
        # a burst during pair 0's LOW window inflates its efficiency —
        # the one-sided rule flags exactly that pair
        pairs = [_pair(9.0, 1.0), _pair(2.0, 1.2)]
        bench._apply_steal_symmetry(pairs)
        assert pairs[0]["load_symmetric"] is False
        assert pairs[1]["load_symmetric"] is True

    def test_burst_low_window_flagged(self):
        # a low window whose mean stays inside the norm band (3.58 vs
        # 0.10) but whose worst 5 s saw 59.24 % stolen — flagged by the
        # burst band against the clean pair
        pairs = [_pair(0.10, 0.07, lo_burst=1.36),
                 _pair(3.58, 0.05, lo_burst=59.24)]
        bench._apply_steal_symmetry(pairs)
        assert pairs[0]["load_symmetric"] is True
        assert pairs[1]["load_symmetric"] is False

    def test_single_pair_no_comparison(self):
        pairs = [_pair(30.0, 1.0)]
        bench._apply_steal_symmetry(pairs)
        assert pairs[0]["load_symmetric"] is True
        assert bench._scaling_summary(pairs)["efficiency_stat"].startswith(
            "ungated"
        )

    def test_missing_host_records_skip_check(self):
        pairs = [_pair(None, 1.0), _pair(None, 7.0)]
        bench._apply_steal_symmetry(pairs)
        assert pairs[0]["load_symmetric"] is True
        assert pairs[1]["load_symmetric"] is False
        assert bench._scaling_summary(pairs)["efficiency_stat"].startswith(
            "ungated on the low shape"
        )

    def test_idempotent(self):
        pairs = [_pair(2.0, 1.0), _pair(2.5, 7.0)]
        bench._apply_steal_symmetry(pairs)
        first = [p["load_symmetric"] for p in pairs]
        bench._apply_steal_symmetry(pairs)
        assert [p["load_symmetric"] for p in pairs] == first


def _p(eff, sym):
    return {"efficiency": eff, "speedup": eff * 4, "load_symmetric": sym,
            "low": {}, "high": {}}


class TestScalingSummary:
    def test_median_over_symmetric_only(self):
        s = bench._scaling_summary([_p(0.81, True), _p(0.64, False)])
        assert s["efficiency"] == 0.81
        assert s["pairs_accepted"] == 1
        assert s["pair_effs"] == [0.81, 0.64]

    def test_median_of_three(self):
        s = bench._scaling_summary(
            [_p(0.85, True), _p(0.7, True), _p(0.9, True)]
        )
        assert s["efficiency"] == 0.85
        assert s["pairs_accepted"] == 3

    def test_fallback_to_all_when_none_symmetric(self):
        s = bench._scaling_summary([_p(0.8, False), _p(0.6, False)])
        assert s["efficiency"] == round((0.8 + 0.6) / 2, 3)
        assert s["pairs_accepted"] == 2

    def test_speedup_comes_from_pair_nearest_median(self):
        s = bench._scaling_summary(
            [_p(0.85, True), _p(0.7, True), _p(0.9, True)]
        )
        assert s["speedup"] == 0.85 * 4


def test_bench_cycle_runs_the_crawler(spark, tmp_path):
    from nutch_spark.store import SnapshotStore
    from nutch_spark.synth import WebConfig

    web = WebConfig(n_hosts=4, pages_per_host=5, zipf=False)
    root = str(tmp_path / "wh")
    n, elapsed = bench.bench_cycle(spark, web, root)
    assert n == web.n_hosts * web.pages_per_host  # every row is due
    assert elapsed > 0
    assert SnapshotStore(root).stage_done("seg0000", "updatedb")
