"""The bench-case registry's contract, checked without a Spark session."""

import json
import os
import sys
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import benchcases as bc  # noqa: E402
import probe_sf1  # noqa: E402


def test_bench_keys_match_the_recorded_bench_line():
    with open(os.path.join(REPO, "BENCH_SELF.json")) as fh:
        recorded = list(json.loads(fh.readline())["queries"])
    assert len(recorded) == 100
    assert bc.bench_keys() == recorded


def test_every_probe_default_key_resolves_to_a_declared_case():
    cases = bc.resolve(probe_sf1.DEFAULT_KEYS, probe=True)
    assert all(case in bc.CASES for case in cases)
    names = {c.name for c in cases} | {k for c in cases for k in c.keys_for(True)}
    assert set(probe_sf1.DEFAULT_KEYS) <= names


def test_probe_only_rows_shadow_same_named_registry_keys():
    # the probe's cc_update/pagerank_update rows are incremental-maintenance
    # stages, not the registry queries bench.py times under those names
    for name in ("cc_update", "pagerank_update"):
        (probe_case,) = bc.resolve([name], probe=True)
        (bench_case,) = bc.resolve([name])
        assert bc.PROBE_ONLY in probe_case.tags
        assert bc.REGISTRY in bench_case.tags


def test_registry_cases_name_queries_entries():
    queries = bc.entry_mod.queries()
    registry = [c for c in bc.CASES if bc.REGISTRY in c.tags]
    assert registry
    for case in registry:
        assert case.name in queries
        assert case.keys == (case.name,)


@pytest.mark.parametrize("probe", [False, True])
def test_no_two_cases_of_a_run_record_the_same_key(probe):
    if probe:
        cases = bc.resolve(probe_sf1.DEFAULT_KEYS, probe=True)
    else:
        cases = bc.bench_cases()
    keys = [k for c in cases for k in c.keys_for(probe)]
    assert len(keys) == len(set(keys))


def test_only_cc_update_is_recorded_by_two_cases():
    # one key name, two measurements: bench.py's registry query and the
    # probe's incremental-map row; every other key has one owner
    owners: dict[str, int] = {}
    for case in bc.CASES:
        for key in set(case.keys) | set(case.probe_keys or ()):
            owners[key] = owners.get(key, 0) + 1
    assert {k for k, n in owners.items() if n > 1} == {"cc_update"}


def test_file_count_bound_keys_match_bench_compare():
    import bench_compare

    tagged = {k for c in bc.bench_cases() if bc.FILE_COUNT_BOUND in c.tags for k in c.keys}
    assert tagged == bench_compare.FILE_COUNT_BOUND


class _FakeSpark:
    """Counts release_state calls; holds no cached RDDs."""

    def __init__(self):
        self.releases = 0
        self.catalog = self
        self.sparkContext = SimpleNamespace(_jsc=SimpleNamespace(getPersistentRDDs=dict))

    def clearCache(self):
        self.releases += 1


def _ctx(case, **kw):
    ctx = bc.Ctx(_FakeSpark(), "unused", **kw)
    ctx.case = case
    return ctx


def _case(*tags):
    return bc.Case("c", ("a", "b"), run=None, tags=tags)


def test_stressed_bench_repeats_file_count_bound_keys():
    ctx = _ctx(_case(bc.FILE_COUNT_BOUND))
    ctx.stressed = True
    assert ctx.time("a", lambda: "out") == "out"
    ctx.time("b", lambda: None)
    assert [len(ctx.rep_secs[k]) for k in ("a", "b")] == [bc.STRESS_REPS] * 2
    # every rep after the case's first starts from a released state
    assert ctx.spark.releases == 2 * bc.STRESS_REPS - 1
    assert list(ctx.timings) == ["a", "b"]


def test_unstressed_and_probe_runs_time_once():
    bench = _ctx(_case(bc.FILE_COUNT_BOUND))
    bench.time("a", lambda: None)
    probe = _ctx(_case(bc.FILE_COUNT_BOUND), probe=True)
    probe.stressed = True
    probe.time("a", lambda: None)
    probe.time("b", lambda: None)
    assert not bench.rep_secs and not probe.rep_secs
    assert probe.spark.releases == 0


def test_reps_and_only_select_what_is_recorded():
    ctx = _ctx(_case(), reps=4, only={"b"})
    calls = []
    ctx.time("a", calls.append, "a")
    ctx.time("b", calls.append, "b")
    assert calls == ["a"] + ["b"] * 4
    assert list(ctx.timings) == ["b"] and len(ctx.rep_secs["b"]) == 4


def test_undeclared_key_is_refused():
    with pytest.raises(KeyError):
        _ctx(_case()).time("z", lambda: None)


def test_canary_fields_keep_the_recorded_order():
    pre = {"host": 2.0, "write": 1.5, "smallfiles": 1.65}
    fields = bc.canary_fields(pre, pre)
    with open(os.path.join(REPO, "BENCH_SELF.json")) as fh:
        recorded = list(json.loads(fh.readline())["canary"])
    assert list(fields) == recorded[: len(fields)]
    assert fields["host_factor"] == round(2.0 / bc.CANARY_REF_SEC, 3)
