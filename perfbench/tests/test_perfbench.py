"""The benchmark's own tests: generators, checks, self time, event log.

Pure Python, no Spark: ``python3 -m pytest perfbench/tests -q`` from the
repository root.
"""

from __future__ import annotations

import json
import sys
import types

import pandas as pd
import pytest

from perfbench import check, gen
from perfbench import workloads as W
from perfbench.trace import Tracer, covered, parse_event_log, per_op_type, self_times, span_stats

SMALL = gen.Sizes(n_events=2_000, n_keys=200, batch_rows=100, n_labels=50, n_orders=100, n_parts=30)


# -- generators -------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    for make in (
        lambda s: gen.history(s, SMALL),
        lambda s: gen.micro_batch(s, 3, SMALL),
        lambda s: gen.labels(s, SMALL),
        lambda s: gen.lineitem(s, SMALL),
        lambda s: pd.Series(gen.zipf_keys(gen.rng_for(s, 9), 500, s, SMALL)),
    ):
        pd.testing.assert_frame_equal(pd.DataFrame(make(7)), pd.DataFrame(make(7)))
        assert not pd.DataFrame(make(7)).equals(pd.DataFrame(make(8)))


def test_micro_batch_does_not_depend_on_earlier_cycles():
    later = gen.micro_batch(5, 4, SMALL)
    for c in range(4):
        gen.micro_batch(5, c, SMALL)
    pd.testing.assert_frame_equal(later, gen.micro_batch(5, 4, SMALL))


def test_event_times_are_unique_per_key():
    hist = gen.history(3, SMALL)
    batches = [gen.micro_batch(3, c, SMALL) for c in range(3)]
    assert not hist.duplicated([gen.KEY, gen.TIME]).any()
    for b in batches:
        assert not b.duplicated([gen.KEY, gen.TIME]).any()
        # batches use odd seconds, the history even ones: no cross ties
        assert set(zip(b[gen.KEY], b[gen.TIME])).isdisjoint(zip(hist[gen.KEY], hist[gen.TIME]))


def test_zipf_keys_are_skewed_and_include_absent_keys():
    keys = gen.zipf_keys(gen.rng_for(1, 9), 5_000, 1, SMALL)
    absent = keys >= SMALL.n_keys
    assert 0.02 < absent.mean() < 0.09
    top = pd.Series(keys[~absent]).value_counts()
    assert top.iloc[0] > 10 * top.median()


def test_reference_latest_wins_and_tombstones_hide():
    hist = pd.DataFrame({
        gen.KEY: [1, 1, 2, 3],
        gen.TIME: ["2024-01-01T00:00:02Z", "2024-01-01T00:00:04Z", "2024-01-01T00:00:02Z", "2024-01-01T00:00:02Z"],
        "purchase_value": [1.0, 2.0, 3.0, float("nan")],
        "loyalty_score": [0.1, 0.2, 0.3, float("nan")],
        gen.DELETED: [False, False, False, True],
    })
    ref = gen.Reference(hist)
    assert gen.record_values(ref.record(1)) == ["1", "2024-01-01T00:00:04Z", "2.0", "0.2"]
    assert ref.record(3) is None and ref.record(99) is None
    late = hist.iloc[[0]].assign(**{gen.TIME: "2024-01-01T00:00:03Z", "purchase_value": 9.0})
    ref.apply(late)  # older than key 1's latest: ignored
    assert gen.record_values(ref.record(1))[2] == "2.0"
    delete = hist.iloc[[2]].assign(**{gen.TIME: "2024-01-01T00:00:05Z", gen.DELETED: True})
    ref.apply(delete)
    assert ref.record(2) is None and set(ref.live()) == {1}


# -- checks -----------------------------------------------------------------


def _ref():
    return gen.Reference(gen.history(11, SMALL))


def test_checker_rejects_a_wrong_record():
    ref = _ref()
    key = next(k for k in ref.live())
    good = ref.record(key)
    assert check.check_get(good, ref.record(key)) == []
    wrong = [dict(f) for f in good]
    wrong[2]["ValueAsString"] = "0.01"
    assert check.check_get(wrong, ref.record(key))
    assert check.check_get(None, ref.record(key))


def test_checker_rejects_a_batch_with_a_deleted_or_missing_key():
    ref = _ref()
    live, dead = list(ref.live())[:3], list(ref.live())[3]
    ref.apply(pd.DataFrame({gen.KEY: [dead], gen.TIME: ["2099-01-01T00:00:01Z"], "purchase_value": [None],
                            "loyalty_score": [None], gen.DELETED: [True]}))
    want = {k: ref.record(k) for k in live + [dead, 10**9]}
    got = {k: ref.record(k) for k in live}
    assert check.check_batch_get(got, want) == []
    assert check.check_batch_get({**got, dead: ref.record(live[0])}, want)
    assert check.check_batch_get({k: got[k] for k in live[:2]}, want)


def test_a_fallback_lookup_is_timed_apart_and_not_failed():
    hist = gen.history(1, SMALL)
    ref = gen.Reference(hist)
    key = next(k for k, v in ref.latest.items() if not v[-1])

    class Store:
        def get_record(self, name, k):
            run.fallbacks += 1  # served from the derived latest view
            return ref.record(k)

    run = W.Run(1, types.SimpleNamespace(createDataFrame=lambda *a: None), Store(), hist, "", SMALL)
    run.recording = True
    run.do(("get", key))
    assert run.attempted == 1 and run.failed == 0 and not run.problems
    assert not run.samples["get"] and len(run.samples["get_fallback"]) == 1
    assert run.fallback_ops == ["get#1"]
    assert W._relabel("get@u#1", "get_fallback") == "get_fallback@u#1"
    assert W._relabel("get#1", None) == "get#1"


def test_checker_rejects_a_changed_training_row():
    hist = gen.history(2, SMALL)
    rows = gen.training_set(hist, gen.labels(2, SMALL), SMALL)
    assert len(rows) == SMALL.n_labels
    assert check.check_rows("t", list(reversed(rows)), rows) == []
    bad = list(rows)
    bad[0] = bad[0][:2] + (bad[0][2] + 1e-9,) + bad[0][3:]
    assert check.check_rows("t", bad, rows)
    assert check.check_rows("t", rows[1:], rows)


def test_training_reference_is_point_in_time():
    hist = pd.DataFrame({
        gen.KEY: [1, 1],
        gen.TIME: ["2024-01-20T00:00:00Z", "2024-01-22T00:00:00Z"],
        "purchase_value": [1.0, 2.0],
        "loyalty_score": [0.5, 0.6],
        gen.DELETED: [False, False],
    })
    probes = pd.DataFrame({gen.KEY: [1, 1, 2], "label_time": [
        "2024-01-21T00:00:00Z", "2024-01-23T00:00:00Z", "2024-01-23T00:00:00Z"], "label": [0.0, 1.0, 2.0]})
    rows = gen.training_set(hist, probes)
    assert [r[4] for r in rows[:2]] == [1.0, 2.0]
    assert pd.isna(rows[2][3])


# -- spans and self time ----------------------------------------------------


class FakeClock:
    def __init__(self, times):
        self.times = iter(times)

    def __call__(self):
        return next(self.times)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-1, 2), (9, 12)], 0, 10) == pytest.approx(3)
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    # op [0,10] > a [1,6] > a1 [2,4]; op > b [7,9]
    tr = Tracer(clock=FakeClock([0, 1, 2, 4, 6, 7, 9, 10]))
    tr.enabled = True
    tr.op("get#1")
    with tr.span("op"):
        with tr.span("a"):
            with tr.span("a1"):
                pass
        with tr.span("b"):
            pass
    by_name = {s.name: s for s in tr.spans}
    st = self_times(tr.spans)
    assert st[by_name["op"].id] == pytest.approx(10 - 5 - 2)
    assert st[by_name["a"].id] == pytest.approx(5 - 2)
    assert st[by_name["a1"].id] == pytest.approx(2)
    assert by_name["a1"].parent == by_name["a"].id and by_name["b"].parent == by_name["op"].id
    assert {s.op for s in tr.spans} == {"get#1"}
    assert span_stats(tr.spans)["op"]["self"] == [pytest.approx(3)]


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_wrap_module_reaches_names_imported_elsewhere(monkeypatch):
    home = types.ModuleType("pkgx.home")
    user = types.ModuleType("pkgx.user")

    def f(x):
        return x + 1

    home.f = f
    user.f = f
    monkeypatch.setitem(sys.modules, "pkgx.home", home)
    monkeypatch.setitem(sys.modules, "pkgx.user", user)
    tr = Tracer()
    tr.wrap_module(home, ["f"], "layer", "pkgx")
    tr.enabled = True
    assert user.f(1) == 2 and home.f(2) == 3
    assert [s.name for s in tr.spans] == ["layer.f", "layer.f"]
    tr.unwrap()
    assert home.f is f and user.f is f


# -- event log --------------------------------------------------------------


def _events():
    def job(jid, group, stages):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def stage_done(sid):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}

    def task(sid, cpu_ns, gc, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    evs = [
        job(0, "get#1", [0]), stage_done(0), task(0, 2_000_000, 1, 0),
        job(1, "get#1", [1, 2]), stage_done(2), task(2, 1_000_000, 0, 10), task(2, 1_000_000, 0, 5),
        job(2, "get#2", [3]), stage_done(3), task(3, 4_000_000, 3, 0),
        job(3, "get@u#3", [4]), stage_done(4), task(4, 1_000_000, 0, 0),
        job(4, None, [5]), stage_done(5), task(5, 1_000_000, 0, 0),
        {"Event": "SparkListenerApplicationEnd"},
    ]
    return [json.dumps(e) for e in evs]


def test_event_log_counts_jobs_per_job_group():
    g = parse_event_log(_events())
    assert g["get#1"]["jobs"] == 2 and g["get#2"]["jobs"] == 1 and g["get@u#3"]["jobs"] == 1
    assert g["get#1"]["stages"] == 2  # stage 1 was skipped: no completion
    assert g["get#1"]["tasks"] == 3 and g["get#1"]["cpu_ms"] == pytest.approx(4.0)
    assert g["get#1"]["shuffle_bytes"] == 15 and g["get#2"]["gc_ms"] == 3
    assert g[""]["jobs"] == 1


def test_per_op_type_takes_traced_groups_only():
    per = per_op_type(parse_event_log(_events()), "get")
    assert per["jobs"] == pytest.approx(1.5)  # median of 2 and 1; get@u excluded
    assert per_op_type({}, "refresh")["jobs"] == 0.0
