"""Self-tests of the benchmark: seeded inputs reproduce, the percentile
helper enforces its sample-count rule, the tracer's self time is right,
and the golden query answers match the program on a tiny chain.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import inputs, stats, workloads
from perfbench.spans import Tracer


def _tables(d: str) -> dict[str, object]:
    return {f: pq.read_table(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def test_chain_is_a_function_of_seed_and_size(tmp_path):
    a, gen_a = inputs.chain(str(tmp_path / "a"), seed=3, n_blocks=60,
                            n_files=2)
    b, _ = inputs.chain(str(tmp_path / "b"), seed=3, n_blocks=60, n_files=2)
    c, _ = inputs.chain(str(tmp_path / "c"), seed=4, n_blocks=60, n_files=2)
    assert gen_a > 0
    for sub in ("blocks", "vops"):
        ta, tb = _tables(os.path.join(a.path, sub)), \
            _tables(os.path.join(b.path, sub))
        assert list(ta) == ["part-00000.parquet", "part-00001.parquet"]
        assert all(ta[f].equals(tb[f]) for f in ta)
    assert a.ops == b.ops and a.channels == b.channels
    assert a.ops != c.ops
    # file i of both sources covers the same block range
    for f in ("part-00000.parquet", "part-00001.parquet"):
        blocks = set(pq.read_table(os.path.join(a.blocks_dir, f),
                                   columns=["block_num"]).column(0).to_pylist())
        vops = set(pq.read_table(os.path.join(a.vops_dir, f),
                                 columns=["block"]).column(0).to_pylist())
        assert vops <= blocks


def test_chain_cache_hit_costs_nothing(tmp_path):
    first, gen1 = inputs.chain(str(tmp_path), seed=5, n_blocks=30, n_files=1)
    again, gen2 = inputs.chain(str(tmp_path), seed=5, n_blocks=30, n_files=1)
    assert gen1 > 0 and gen2 == 0.0 and first.path == again.path


def test_documents_are_a_function_of_seed():
    a = inputs.gen_documents(300, seed=7)
    assert a.equals(inputs.gen_documents(300, seed=7))
    assert not a.equals(inputs.gen_documents(300, seed=8))
    batches = inputs.screen_batches(a)
    assert len(batches) == inputs.SCREEN_BATCHES
    reposts = [r for r in batches[-1] if r["doc_id"] >= 10_000_000]
    assert len(reposts) == 2 * len(range(0, 300, 21))


def test_percentile_needs_ten_samples_beyond():
    assert stats.min_samples(0.75) == 40
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.95) == 200
    with pytest.raises(ValueError):
        stats.percentile(range(39), 0.75)
    xs = list(np.random.default_rng(0).random(40))
    assert stats.percentile(xs, 0.75) == pytest.approx(np.percentile(xs, 75))
    assert stats.median([4.0]) == 4.0
    assert stats.median([3, 1, 2, 10]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tracer_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer") as outer:
        with t.span("child") as c1:
            pass
        with t.span("child") as c2:
            pass
    self_ms = t.self_times_ms()
    children = sum((c["end"] - c["start"]) * 1e3 for c in (c1, c2))
    total = (outer["end"] - outer["start"]) * 1e3
    assert self_ms["outer"] == pytest.approx(total - children)
    assert c1["parent"] == outer["id"] == c2["parent"]
    assert t.split_ms("outer")[0][1] == pytest.approx(children)


def test_tracer_patch_restores():
    import types
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    t = Tracer()
    t.patch(mod, "f", "f")
    assert mod.f(1) == 2 and len(t.durations_ms("f")) == 1
    t.restore()
    assert mod.f is orig


def test_golden_answers_on_a_tiny_chain(tmp_path):
    chain, _ = inputs.chain(str(tmp_path / "in"), seed=1, n_blocks=12,
                            n_files=2)
    golden = workloads.Golden(chain)
    by_key = {o["key"]: o for o in chain.ops}
    key = chain.ops[0]["key"]
    assert golden.answer("get", key) == [(key, by_key[key]["value"])]
    assert golden.answer("get", "hive:1:x:0:vote") == []
    first = chain.first_block
    assert golden.answer("has_block", first) is True
    assert golden.answer("has_block", chain.last_block + 1) is False
    assert golden.answer("scan_block", f"hive:{first}:*") == {
        o["key"] for o in chain.ops if o["block_num"] == first}
    votes = golden.answer("scan_type", "hive:*:vote")
    assert votes == {o["key"] for o in chain.ops if o["op_type"] == "vote"}


def test_query_plan_scans_every_type_in_order(tmp_path):
    """Type scans differ 10x in result size, so every seed's plan must
    scan the same types; only the other arguments depend on the seed."""
    chain, _ = inputs.chain(str(tmp_path / "in"), seed=1, n_blocks=12,
                            n_files=2)
    plans = [workloads.query_plan(chain, seed=s, n_cycles=4) for s in (1, 2)]
    for plan in plans:
        types = [a for k, a in plan if k == "scan_type"]
        n = 4 * workloads.QUERY_MIX["scan_type"]
        assert types == [f"hive:*:{t}" for t in
                         workloads.SCAN_TYPES * n][:n]
    assert plans[0] != plans[1]


def test_steal_share_is_a_percentage():
    steal = stats.Steal()
    sum(range(200_000))
    assert 0.0 <= steal.pct() <= 100.0
    assert stats._steal_pct([10, 0, 0, 0, 0, 0, 0, 0]) == 0.0
    assert stats._steal_pct([60, 0, 10, 500, 0, 0, 0, 30]) == 30.0


@pytest.fixture(scope="module")
def spark():
    from meeseeker_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    yield s
    s.stop()


def test_program_answers_equal_golden(spark, tmp_path):
    """Every query kind of the mix, through ``start_ingest`` and
    ``OpsStore``, answers exactly what the pure-Python golden says."""
    from meeseeker_spark.query import OpsStore
    chain, _ = inputs.chain(str(tmp_path / "in"), seed=2, n_blocks=40,
                            n_files=2)
    run = workloads.Run(str(tmp_path), seed=2, seconds=1, trace=False)
    run.spark = spark
    out = str(tmp_path / "store")
    workloads.ingest(run, chain, out)
    workloads.check_store(run, chain, out)
    assert run.failed == 0 and run.attempted == 2
    store = OpsStore(spark, os.path.join(out, "ops"))
    golden = workloads.Golden(chain)
    plan = workloads.query_plan(chain, seed=2, n_cycles=1)
    assert sorted(k for k, _ in plan) == sorted(
        k for k, n in workloads.QUERY_MIX.items() for _ in range(n))
    for kind, arg in plan:
        assert workloads.execute(store, kind, arg) == golden.answer(kind, arg)


def test_benchmark_json_lists_what_run_prints():
    import json

    from perfbench import run
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    for key, table in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        assert listed == table
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
