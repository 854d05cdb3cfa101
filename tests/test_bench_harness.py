"""The steal-certified trial harness itself: retry/stop logic must be
exactly what BENCH/BASELINE.md §5 documents — these behaviors guard
every recorded number, so they get deterministic tests."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # this checkout's root

from bench import (  # noqa: E402
    bracketed_leg,
    bracketed_sweep,
    probe_is_healthy,
    timed_trials,
    wait_for_healthy_window,
)


def _seq(values):
    it = iter(values)
    return lambda: next(it)


def _probe(par, steal=0.0, load=0.5):
    return {"scalar_sec": 0.9, "parallel8_sec": par, "steal_pct": steal,
            "load1": load}


class _Clock:
    """Deterministic monotonic clock advanced by the injected sleep."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_stops_at_min_trials_when_best_is_clean():
    times = _seq([5.0, 4.0, 3.0])
    steals = _seq([0.1, 0.2, 0.0])
    best, st, n = timed_trials(times, min_trials=2, max_trials=5, steal_probe=steals)
    assert (best, st, n) == (4.0, 0.2, 2)


def test_retries_until_a_clean_best_appears():
    # dirty, dirty, then a clean trial that is also the fastest
    times = _seq([5.0, 4.5, 4.0])
    steals = _seq([8.0, 6.0, 0.3])
    best, st, n = timed_trials(times, min_trials=2, max_trials=5, steal_probe=steals)
    assert (best, st, n) == (4.0, 0.3, 3)


def test_dirty_fast_trial_keeps_retrying_then_reports_best_anyway():
    # the BEST trial stays dirty through the whole budget: report it,
    # with its steal annotation, after exhausting max_trials
    times = _seq([5.0, 3.0, 6.0, 7.0])
    steals = _seq([0.1, 9.0, 0.1, 0.1])
    best, st, n = timed_trials(times, min_trials=2, max_trials=4, steal_probe=steals)
    assert (best, st, n) == (3.0, 9.0, 4)


def test_clean_slower_trial_does_not_displace_dirty_best():
    # best-by-time wins; cleanliness of a SLOWER trial doesn't certify
    times = _seq([3.0, 4.0, 5.0, 5.0, 5.0])
    steals = _seq([9.0, 0.1, 0.1, 0.1, 0.1])
    best, st, n = timed_trials(times, min_trials=2, max_trials=5, steal_probe=steals)
    assert best == 3.0 and st == 9.0 and n == 5


def test_unmeasurable_steal_counts_as_clean():
    times = _seq([2.0, 1.5])
    best, st, n = timed_trials(
        times, min_trials=2, max_trials=5, steal_probe=lambda: None
    )
    assert (best, st, n) == (1.5, None, 2)


def test_window_gate_passes_immediately_when_healthy():
    clk = _Clock()
    healthy, hist = wait_for_healthy_window(
        max_wait_s=600, probe=_seq([_probe(0.4)]), sleep=clk.sleep, clock=clk
    )
    assert healthy and len(hist) == 1 and clk.t == 0.0


def test_window_gate_waits_out_a_degraded_parallel_leg():
    # clean steal + healthy scalar but parallel leg out of envelope —
    # exactly the 2026-08-17 state timed_trials' steal retry cannot see
    clk = _Clock()
    probes = _seq([_probe(2.2), _probe(0.9), _probe(0.45)])
    healthy, hist = wait_for_healthy_window(
        max_wait_s=600, interval_s=60, probe=probes, sleep=clk.sleep, clock=clk
    )
    assert healthy and len(hist) == 3 and clk.t == 120.0


def test_window_gate_gives_up_at_the_deadline_and_says_so():
    clk = _Clock()
    probes = _seq([_probe(2.2)] * 20)
    healthy, hist = wait_for_healthy_window(
        max_wait_s=150, interval_s=60, probe=probes, sleep=clk.sleep, clock=clk
    )
    # 0s, 60s, 120s probes are degraded; 150s deadline reached mid-wait
    assert not healthy and len(hist) == 4 and clk.t == 150.0


def test_window_gate_flags_steal_and_load_too():
    clk = _Clock()
    probes = _seq([_probe(0.4, steal=5.0), _probe(0.4, load=7.0), _probe(0.4)])
    healthy, hist = wait_for_healthy_window(
        max_wait_s=600, interval_s=60, probe=probes, sleep=clk.sleep, clock=clk
    )
    assert healthy and len(hist) == 3


def test_window_gate_flags_a_slow_scalar_leg():
    # observed live: scalar 6.5s (co-running process) with a clean
    # parallel leg — the gate must not call that window healthy
    clk = _Clock()
    slow = {"scalar_sec": 6.5, "parallel8_sec": 0.45, "steal_pct": 0.0,
            "load1": 1.0}
    healthy, hist = wait_for_healthy_window(
        max_wait_s=600, interval_s=60,
        probe=_seq([slow, _probe(0.4)]), sleep=clk.sleep, clock=clk
    )
    assert healthy and len(hist) == 2


def test_window_gate_zero_budget_probes_once_and_returns():
    clk = _Clock()
    healthy, hist = wait_for_healthy_window(
        max_wait_s=0.0, probe=_seq([_probe(2.2)]), sleep=clk.sleep, clock=clk
    )
    assert not healthy and len(hist) == 1 and clk.t == 0.0


# ---- probe_is_healthy: the shared gate/bracket predicate ----


def test_probe_missing_timing_is_not_healthy():
    # round-7 advice: a probe leg that failed to produce a number must
    # NOT certify a window (the old `or 0.0` coercion passed it)
    assert not probe_is_healthy(None)
    assert not probe_is_healthy({"scalar_sec": 0.9, "parallel8_sec": None,
                                 "steal_pct": 0.0, "load1": 0.5})
    assert not probe_is_healthy({"scalar_sec": None, "parallel8_sec": 0.4,
                                 "steal_pct": 0.0, "load1": 0.5})
    assert not probe_is_healthy({})


def test_probe_missing_steal_and_load_stay_tolerated():
    # off-Linux these are genuinely unmeasurable, not a probe failure
    assert probe_is_healthy({"scalar_sec": 0.9, "parallel8_sec": 0.4,
                             "steal_pct": None, "load1": None})


def test_window_gate_rejects_partially_failed_probe():
    clk = _Clock()
    broken = {"scalar_sec": 0.9, "parallel8_sec": None, "steal_pct": 0.0,
              "load1": 0.5}
    healthy, hist = wait_for_healthy_window(
        max_wait_s=60, interval_s=60, probe=_seq([broken, _probe(0.4)]),
        sleep=clk.sleep, clock=clk,
    )
    assert healthy and len(hist) == 2


# ---- bracketed legs/sweep: the round-7 gate-then-degrade hole ----


def _wait_ok(max_wait_s=0.0):
    return True, [_probe(0.4)]


def _wait_fail(max_wait_s=0.0):
    return False, [_probe(2.2)]


def test_bracketed_leg_healthy_runs_once():
    runs = []
    p0, p1, healthy, retried = bracketed_leg(
        lambda: runs.append(1), probe=_seq([_probe(0.4), _probe(0.45)]),
        wait=_wait_ok,
    )
    assert healthy and not retried and len(runs) == 1


def test_bracketed_leg_mid_run_degrade_retries_once_in_waited_window():
    # the r7 artifact's exact failure: gate passed, host degraded during
    # the leg (closing probe 1.7s).  The leg must re-run after a healthy
    # window and re-bracket.
    runs = []
    probes = _seq([_probe(0.4), _probe(1.7), _probe(0.45), _probe(0.5)])
    p0, p1, healthy, retried = bracketed_leg(
        lambda: runs.append(1), probe=probes, wait=_wait_ok
    )
    assert healthy and retried and len(runs) == 2
    assert p1["parallel8_sec"] == 0.5  # brackets are the RETRY's probes


def test_bracketed_leg_degraded_all_day_reports_unhealthy_without_retry():
    # the wait never clears: record the polluted number, adjudicated
    # unhealthy, and don't burn a second run in the same bad window
    runs = []
    probes = _seq([_probe(0.4), _probe(1.7)])
    _, _, healthy, retried = bracketed_leg(
        lambda: runs.append(1), probe=probes, wait=_wait_fail
    )
    assert not healthy and not retried and len(runs) == 1


def test_bracketed_sweep_all_healthy_no_retries():
    probes = _seq([_probe(0.4), _probe(0.45)])
    out = bracketed_sweep(
        ["a", "b", "c"], lambda n: (1.0, 0.1), probe=probes, wait=_wait_ok
    )
    assert out["healthy"] and out["retried"] == []
    assert set(out["timings"]) == {"a", "b", "c"}


def test_bracketed_sweep_retries_only_the_polluted_chunk():
    # chunk size 2: bracket (p0,p1) healthy for [a,b]; bracket (p1,p2)
    # degraded for [c]; after the wait, only c re-runs, in a healthy
    # retry bracket, and the sweep adjudicates healthy
    calls = []

    def run_query(name):
        calls.append(name)
        return (2.0 if calls.count(name) == 1 else 1.5), 0.0

    probes = _seq([
        _probe(0.4), _probe(0.45),      # chunk [a,b]: healthy
        _probe(1.9),                     # chunk [c]: closing probe degraded
        _probe(0.4), _probe(0.45),      # retry bracket for c: healthy
    ])
    out = bracketed_sweep(
        ["a", "b", "c"], run_query, probe=probes, wait=_wait_ok, chunk=2
    )
    assert out["retried"] == ["c"] and out["healthy"]
    assert calls == ["a", "b", "c", "c"]
    assert out["timings"]["c"] == 1.5  # min of the two runs kept


def test_bracketed_sweep_retry_keeps_min_timing():
    # retry ran SLOWER (cold cache): the original (inflated but smaller)
    # number is kept — pollution only ever inflates, min is safe
    seen = {}

    def run_query(name):
        seen[name] = seen.get(name, 0) + 1
        return (3.0 if seen[name] == 1 else 5.0), 0.0

    probes = _seq([_probe(1.9), _probe(0.4), _probe(0.4), _probe(0.45)])
    out = bracketed_sweep(["a"], run_query, probe=probes, wait=_wait_ok)
    assert out["timings"]["a"] == 3.0 and out["retried"] == ["a"]
    assert out["healthy"]  # retry bracket was healthy


def test_bracketed_sweep_degraded_all_day_is_self_declared_unhealthy():
    probes = _seq([_probe(1.9), _probe(1.8)])
    out = bracketed_sweep(
        ["a", "b"], lambda n: (1.0, 0.0), probe=probes, wait=_wait_fail
    )
    assert not out["healthy"] and out["retried"] == []


def test_bracket_probes_exempt_self_load():
    # certified r6 artifact: mid-bench probes read load1 7.0-9.7 (the
    # 1-min average of OUR OWN just-finished legs) with healthy scalar/
    # parallel timings — brackets must not false-flag that window
    runs = []
    hot_load = {"scalar_sec": 0.9, "parallel8_sec": 0.4, "steal_pct": 0.0,
                "load1": 9.7}
    _, _, healthy, retried = bracketed_leg(
        lambda: runs.append(1), probe=_seq([hot_load, dict(hot_load)]),
        wait=_wait_fail,
    )
    assert healthy and not retried and len(runs) == 1

    out = bracketed_sweep(
        ["a"], lambda n: (1.0, 0.0),
        probe=_seq([hot_load, dict(hot_load)]), wait=_wait_fail,
    )
    assert out["healthy"] and out["retried"] == []


def test_until_flat_keeps_trialing_through_a_warmup_descent():
    # r8 build-leg evidence: 13.9 -> 7.0 -> 4.9 -> 5.7 s.  A min-3 stop
    # would record 4.9's predecessor; until_flat runs trial 4 (no
    # improvement) and stops, keeping the 4.9 floor.
    times = _seq([13.9, 7.0, 4.9, 5.7])
    steals = _seq([0.1, 0.1, 0.1, 0.1])
    best, st, n = timed_trials(
        times, min_trials=3, max_trials=6, steal_probe=steals, until_flat=True
    )
    assert (best, n) == (4.9, 4)


def test_until_flat_stops_at_min_trials_when_already_flat():
    times = _seq([5.0, 4.9, 4.95])
    steals = _seq([0.1, 0.1, 0.1])
    best, st, n = timed_trials(
        times, min_trials=3, max_trials=6, steal_probe=steals, until_flat=True
    )
    assert (best, n) == (4.9, 3)  # 4.9 is within 5% of 5.0: flat


def test_until_flat_still_bounded_by_max_trials():
    times = _seq([32.0, 16.0, 8.0, 4.0, 2.0, 1.0])
    steals = _seq([0.1] * 6)
    best, st, n = timed_trials(
        times, min_trials=3, max_trials=5, steal_probe=steals, until_flat=True
    )
    assert (best, n) == (2.0, 5)


# ---------------------------------------------------------------------------
# The compact second stdout line (r9 verdict item 1): a harvester that
# keeps only ~2,000 trailing characters must be able to json-parse the
# LAST line on its own.
# ---------------------------------------------------------------------------

import json  # noqa: E402

from bench import compact_summary_line  # noqa: E402


def _tail_capture_last_line(stdout: str, window: int = 2000) -> str:
    return stdout[-window:].splitlines()[-1]


def test_compact_line_parses_from_a_simulated_tail_capture():
    timings = {f"query_{i:02d}": round(0.1 * i, 3) for i in range(31)}
    big_diag = json.dumps({"diagnostics": "x" * 6000, "queries": timings})
    line = compact_summary_line(timings, 45.9, 3.2e6, True, 0.1)
    stdout = big_diag + "\n" + line + "\n"
    got = json.loads(_tail_capture_last_line(stdout.rstrip("\n")))
    assert got["value"] == 45.9
    assert got["window_healthy"] is True
    assert got["queries"] == timings
    assert list(got)[-1] == "value"  # headline stays LAST
    assert len(line) <= 1800


def test_compact_line_truncates_keeping_the_slowest_queries():
    timings = {f"very_long_query_name_{i:03d}_padding_padding": float(i)
               for i in range(200)}
    line = compact_summary_line(timings, 99.0, 1.0, False, 0.1)
    assert len(line) <= 1800
    got = json.loads(line)
    assert got["value"] == 99.0
    assert got["queries_truncated"] > 0
    assert got["queries_truncated"] + len(got["queries"]) == len(timings)
    # the kept entries are exactly the slowest ones
    kept_vals = sorted(got["queries"].values())
    dropped_max = max(v for k, v in timings.items() if k not in got["queries"])
    assert min(kept_vals) >= dropped_max
    assert list(got)[-1] == "value"


def test_compact_line_small_dict_is_untouched():
    timings = {"a": 1.0, "b": 2.0}
    got = json.loads(compact_summary_line(timings, 3.0, 10.0, None, 0.001))
    assert "queries_truncated" not in got
    assert got["queries"] == timings
