"""The two-tier per-query budget classifier (bench.py, r8 verdict item
3): the 2.0x hard gate over frozen budgets let a query regress ~40% per
round for two rounds before any breach fired (q_cdx_prefix_scan,
2.87 -> 4.47 s). The soft tier alerts at >1.35x of the frozen base so
compounding drift surfaces in the round it starts."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


class TestClassifier:
    # frozen base 2.0 s -> budget = 2.0*2 + 0.75 = 4.75, soft above
    # 2.0*1.35 = 2.70 (abs excess 0.5 s satisfied there)
    BUDGET = 4.75

    def test_quiet_run_is_unflagged(self):
        assert bench.classify_budget(2.0, self.BUDGET) is None
        assert bench.classify_budget(2.70, self.BUDGET) is None  # boundary: not above

    def test_soft_tier_fires_between_thresholds(self):
        assert bench.classify_budget(2.71, self.BUDGET) == "soft"
        assert bench.classify_budget(4.75, self.BUDGET) == "soft"  # at budget: not above

    def test_hard_breach_above_budget(self):
        assert bench.classify_budget(4.76, self.BUDGET) == "breach"
        assert bench.classify_budget(40.0, self.BUDGET) == "breach"

    def test_r8_case_would_have_fired(self):
        # the motivating case: r7 base 2.87 s frozen -> budget 6.49;
        # r8's 4.47 s (+56%) stayed under the hard gate but must trip soft
        budget = 2.87 * 2 + 0.75
        assert bench.classify_budget(4.47, budget) == "soft"

    def test_subsecond_noise_stays_quiet(self):
        # base 0.1 s: the 0.5 s absolute excess guard keeps JIT/scheduler
        # noise on tiny queries out of the soft tier
        budget = 0.1 * 2 + 0.75
        assert bench.classify_budget(0.45, budget) is None
        assert bench.classify_budget(0.61, budget) == "soft"

    def test_custom_knobs(self):
        assert bench.classify_budget(2.0, 2.5, tolerance=1.0, floor=0.5, soft_ratio=1.0) is None
        assert bench.classify_budget(2.51, 2.5, tolerance=1.0, floor=0.5) == "breach"


class TestFrozenBudgetsFile:
    def test_budget_doc_is_consistent_with_classifier(self):
        with open(os.path.join(REPO, "BENCH_budgets.json")) as f:
            doc = json.load(f)
        assert doc["tolerance_ratio"] >= 1.35, "soft tier must sit below the hard gate"
        assert doc["frozen_from_round"] >= 8
        # every budget admits a non-empty quiet band: base itself never flags
        tol, floor = doc["tolerance_ratio"], doc["abs_floor_s"]
        for name, b in doc["budgets"].items():
            base = (b - floor) / tol
            assert bench.classify_budget(base, b, tolerance=tol, floor=floor) is None, name


class TestComputeFlags:
    """compute_flags is the recomputable flag pass behind the
    self-adjudicating probe protocol (r9 verdict item 2): bench re-runs
    flagged gates min-of-3 warmed, substitutes the probe min, calls
    compute_flags again, and records 'noise' for anything that clears."""

    BDOC = {
        "sf": "0.1",
        "tolerance_ratio": 2.0,
        "abs_floor_s": 0.75,
        "budgets": {"q_a": 4.75, "q_b": 4.75},
        "workload_revs": {"q_b": "r10: grew fixture"},
    }

    def test_regression_and_budget_tiers(self):
        timings = {"q_a": 5.0, "q_b": 3.0, "q_c": 0.9}
        prev = {"q_a": 1.0, "q_c": 0.85}
        reg, breach, soft = bench.compute_flags(timings, prev, self.BDOC, "0.1")
        assert reg["q_a"]["ratio"] == 5.0
        assert "q_c" in reg or timings["q_c"] <= 1.5 * prev["q_c"]  # abs floor keeps it out
        assert "q_c" not in reg
        assert breach == {"q_a": {"budget": 4.75, "now": 5.0, "ratio": 1.05}}
        assert "q_b" in soft and soft["q_b"]["workload_rev"].startswith("r10")

    def test_probe_substitution_clears_flags(self):
        timings = {"q_a": 5.0}
        prev = {"q_a": 1.0}
        reg, breach, _ = bench.compute_flags(timings, prev, self.BDOC, "0.1")
        assert "q_a" in reg and "q_a" in breach
        timings["q_a"] = 1.1  # the min-of-3 warmed probe came back quiet
        reg, breach, soft = bench.compute_flags(timings, prev, self.BDOC, "0.1")
        assert not reg and not breach and "q_a" not in soft

    def test_sf_mismatch_skips_budgets_but_not_regressions(self):
        timings = {"q_a": 5.0}
        reg, breach, soft = bench.compute_flags(timings, {"q_a": 1.0}, self.BDOC, "1")
        assert "q_a" in reg and not breach and not soft

    def test_empty_bdoc_is_fine(self):
        reg, breach, soft = bench.compute_flags({"q_a": 5.0}, {}, {}, "0.1")
        assert (reg, breach, soft) == ({}, {}, {})


class TestRegressionBaseline:
    """The regression tier compares against the newest committed full
    record (BENCH_local_r<N>.json), not the truncated driver snapshot
    (BENCH_r*.json), whose stdout tail yields only a few timings."""

    def _write(self, d, name: str, doc: dict) -> None:
        (d / name).write_text(json.dumps(doc))

    def test_newest_full_local_record_at_same_sf(self, tmp_path):
        full = {f"q_{i}": 1.0 + i for i in range(40)}
        self._write(tmp_path, "BENCH_r13.json", {"sf": 0.1, "tail": '"q_0": 9.0, "q_1": 9.0'})
        self._write(tmp_path, "BENCH_local_r9.json", {"sf": 0.1, "queries": {"q_0": 5.0}})
        self._write(tmp_path, "BENCH_local_r12.json", {"sf": 0.1, "queries": full})
        self._write(tmp_path, "BENCH_local_r14.json", {"sf": 1.0, "queries": {"q_0": 7.0}})
        name, prev = bench._prev_round_timings(str(tmp_path), "0.1")
        assert name == "BENCH_local_r12.json"  # r12 > r9 numerically; r14 is sf1
        assert prev == full

    def test_no_local_record_means_no_baseline(self, tmp_path):
        self._write(tmp_path, "BENCH_r13.json", {"sf": 0.1, "tail": '"q_0": 9.0'})
        assert bench._prev_round_timings(str(tmp_path), "0.1") == (None, {})

    def test_repo_baseline_compares_every_gate(self):
        name, prev = bench._prev_round_timings(REPO, "0.1")
        with open(os.path.join(REPO, name)) as f:
            assert prev == json.load(f)["queries"]
        assert len(prev) > 280


class TestHeadline:
    """r10 verdict item 3: the driver's bounded stdout-tail capture must
    always retain sec_per_query / n_queries / regression_count /
    budget_breach_count — bench.py prints build_headline() as the final
    line, and it must stay small no matter how many gates flag."""

    def _record(self, n_flagged: int) -> dict:
        names = [f"q_gate_{i:03d}" for i in range(n_flagged)]
        return {
            "metric": "suite_wall_clock",
            "value": 271.3,
            "unit": "sec",
            "queries": {f"q_{i}": 0.9 for i in range(300)},
            "sf": 0.1,
            "n_queries": 300,
            "sec_per_query": 0.904,
            "wall_clock_incl_retries": 400.2,
            "regressions": names,
            "regression_count": n_flagged,
            "budget_breaches": names,
            "budget_breach_count": n_flagged,
            "soft_trends": names,
            "soft_trend_count": n_flagged,
            "probes": {n: {"suite": 3.0, "runs": [1.0] * 3, "min": 1.0, "verdict": "noise"} for n in names},
        }

    def test_headline_is_bounded_even_fully_flagged(self):
        line = json.dumps(bench.build_headline(self._record(300)))
        assert len(line) < 1600, len(line)

    def test_headline_carries_the_driver_fields(self):
        h = bench.build_headline(self._record(2))
        for key in ("sec_per_query", "n_queries", "regression_count", "budget_breach_count", "value", "sf"):
            assert key in h
        assert h["sec_per_query"] == 0.904
        assert h["regressions"] == ["q_gate_000", "q_gate_001"]

    def test_headline_names_the_baseline_record(self):
        rec = self._record(0)
        rec["prev_bench"] = "BENCH_local_r12.json"
        assert bench.build_headline(rec)["local_record"] == "BENCH_local_r12.json"

    def test_headline_truncation_marker(self):
        h = bench.build_headline(self._record(20))
        assert h["regressions"][-1] == "...+12"
        assert len(h["regressions"]) == 9
