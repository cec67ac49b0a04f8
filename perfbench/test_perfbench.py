"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The last test starts a local Spark session and runs a workload pass
twice at sf0.001 (about a minute).
"""

from __future__ import annotations

import collections
import filecmp
import hashlib
import json
import os
import re
import sys
import types

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_name_registered_queries():
    from recommender_systems_spark import registry

    workloads = run.load_workloads()
    assert {w["name"] for w in benchmark_json()["workloads"]} == set(workloads)
    for name, w in workloads.items():
        assert w["queries"], name
        assert os.path.isdir(os.path.join(gen.BASE_DIR, w["scale"])), name
        assert len(set(w["queries"])) == len(w["queries"]), name
        unknown = [q for q in w["queries"] if q not in registry.QUERIES]
        assert not unknown, (name, unknown)
        assert set(w.get("warm_rerun", [])) <= set(w["queries"]), name
        rows_only = {q for q in w["queries"] if q not in registry.ORACLE}
        assert rows_only == set(w.get("rows_only", {})), name


def test_metric_names():
    bench = benchmark_json()
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
    for key in ("end_to_end", "per_layer"):
        for m in bench[key]:
            assert run.unit_of(m["name"]) == m["unit"], m


def _degree_histogram(values) -> collections.Counter:
    """How many keys occur how many times."""
    return collections.Counter(collections.Counter(values).values())


def test_seed_zero_is_the_base_data(tmp_path):
    out = gen.generate(str(tmp_path), "sf0.001", 0)
    for t in gen.TABLES:
        assert filecmp.cmp(
            os.path.join(out, f"{t}.parquet"),
            os.path.join(gen.BASE_DIR, "sf0.001", f"{t}.parquet"),
            shallow=False,
        ), t


@pytest.mark.parametrize("seed", [1, 7])
def test_seed_keeps_rows_and_degrees(tmp_path, seed):
    base = gen.generate(str(tmp_path), "sf0.001", 0)
    out = gen.generate(str(tmp_path), "sf0.001", seed)
    tables = {}
    for t in gen.TABLES:
        a = pq.read_table(os.path.join(base, f"{t}.parquet"))
        b = pq.read_table(os.path.join(out, f"{t}.parquet"))
        assert a.schema.remove_metadata().equals(b.schema), t
        assert a.num_rows == b.num_rows, t
        tables[t] = (a, b)
    changed = 0
    for space, cols in gen.KEY_SPACES.items():
        keys_a, keys_b = set(), set()
        for t, col in cols:
            a, b = (x.column(col).to_pylist() for x in tables[t])
            assert _degree_histogram(a) == _degree_histogram(b), (t, col)
            keys_a.update(a)
            keys_b.update(b)
            changed += a != b
        assert keys_a == keys_b, space
    assert changed, "relabelling changed no key column"


def test_foreign_keys_stay_consistent(tmp_path):
    import duckdb

    def joined(d):
        con = duckdb.connect()
        try:
            return con.execute(
                f"SELECT count(*) FROM '{d}/lineitem.parquet' l "
                f"JOIN '{d}/orders.parquet' o ON o.o_orderkey = l.l_orderkey "
                f"JOIN '{d}/part.parquet' p ON p.p_partkey = l.l_partkey "
                f"JOIN '{d}/supplier.parquet' s ON s.s_suppkey = l.l_suppkey "
                f"JOIN '{d}/customer.parquet' c ON c.c_custkey = o.o_custkey"
            ).fetchone()[0]
        finally:
            con.close()

    def events_joined(d):
        con = duckdb.connect()
        try:
            return con.execute(
                f"SELECT count(*) FROM '{d}/events.parquet' e "
                f"JOIN '{d}/customer.parquet' c ON c.c_custkey = e.user_id"
            ).fetchone()[0]
        finally:
            con.close()

    base, other = gen.generate(str(tmp_path), "sf0.001", 0), gen.generate(str(tmp_path), "sf0.001", 3)
    assert joined(base) == joined(other)
    assert events_joined(base) == events_joined(other) > 0


def test_rows_only_checks():
    from check import check_rows_only

    loss = pd.DataFrame({"iter": [1, 2], "rmse": [2.0, 1.5]})
    spec = {"rows": 2, "finite": ["rmse"], "non_increasing": {"column": "rmse"}}
    assert check_rows_only(loss, spec) is None
    assert check_rows_only(loss.iloc[::-1], spec) is not None
    assert check_rows_only(loss.assign(rmse=[float("nan"), 1.0]), spec) is not None
    assert check_rows_only(loss.iloc[:1], spec) is not None
    pr = pd.DataFrame({"p": [0.2], "r": [1.5]})
    assert check_rows_only(pr, {"rows": 1, "unit_interval": ["p"]}) is None
    assert check_rows_only(pr, {"rows": 1, "unit_interval": ["p", "r"]}) is not None
    shape = pd.DataFrame({"metric": ["rank"], "value": [8]})
    assert check_rows_only(shape, {"rows": 1, "equals": [["rank", 8]]}) is None
    assert check_rows_only(shape, {"rows": 1, "equals": [["rank", 4]]}) is not None


def test_wipe_removes_only_own_artifacts(tmp_path):
    cache = tmp_path / "cache"
    cache.mkdir()
    own = tmp_path / "data" / "sf0.001-seed1-g1"
    sources = {"ivf_index_own": own, "ivf_index_seed2": tmp_path / "data" / "sf0.001-seed2-g1",
               "ivf_index_testdata": "/data/sf0.1"}
    with open(cache / "MANIFEST.jsonl", "w") as fh:
        for d, src in sources.items():
            (cache / d).mkdir()
            fh.write(json.dumps({"dir": d, "prefix": "ivf_index", "sf_dir": str(src), "tables": []}) + "\n")
        fh.write("not json\n")
    assert run.wipe_own_artifacts(str(cache), str(own)) == ["ivf_index_own"]
    assert sorted(os.listdir(cache)) == ["MANIFEST.jsonl", "ivf_index_seed2", "ivf_index_testdata"]


def test_remove_table_copies_matches_the_engine(tmp_path):
    from recommender_systems_spark import io

    sf_dir = gen.generate(str(tmp_path), "sf0.001", 0)
    copy = io._microsecond_copy(f"{sf_dir}/events.parquet")
    os.makedirs(copy[: -len(".parquet")] + "_streamdir")
    assert os.path.dirname(copy) == run.CACHE_ROOT
    run.remove_table_copies(run.CACHE_ROOT, sf_dir)
    assert not os.path.exists(copy)
    assert not os.path.exists(copy[: -len(".parquet")] + "_streamdir")


class RecordingChecker:
    """Checks outputs like ``check.Checker`` and keeps a digest of each."""

    def __init__(self, inner):
        self.inner = inner
        self.digests: dict[str, list[str]] = collections.defaultdict(list)

    def check(self, name, got):
        from tests.oracle_harness import canonicalize

        canon = canonicalize(got)
        self.digests[name].append(hashlib.sha1(canon.to_csv(index=False).encode()).hexdigest())
        return self.inner.check(name, got)


def test_traced_and_untraced_outputs_match(tmp_path):
    from check import Checker
    from instruments import Tracer, per_layer
    from recommender_systems_spark import registry
    from recommender_systems_spark.session import get_spark

    workload = run.load_workloads()["analytics_tail"]
    sf_dir = gen.generate(str(tmp_path), "sf0.001", 2)
    inner = Checker(sf_dir, registry.ORACLE, workload["rows_only"])
    inner.prepare(workload["queries"])
    args = types.SimpleNamespace(seed=2, seconds=0.001)

    def one_pass(trace: bool):
        checker = RecordingChecker(inner)
        bench = run.Bench(args, workload, sf_dir, checker)
        bench.spark = spark
        bench.layer = {"session.get_spark_s": 0.0, "deploy.ensure_shipped_s": 0.0}
        if trace:
            bench.tracer = Tracer(spark)
            bench.tracer.install()
            try:
                bench.run()
            finally:
                bench.tracer.uninstall()
            metrics = per_layer(bench, str(tmp_path / "trace.json"))
            assert set(metrics) == {m["name"] for m in benchmark_json()["per_layer"]}
            for layer in ("operators.two_phase_midrank_s", "operators.global_running_totals_s",
                          "ml.fold_in_s", "streaming.run_s", "streaming.trigger_s", "io.load_table_s"):
                assert metrics[layer] > 0, layer
            assert metrics["streaming.batches"] >= 1
            assert metrics["queries.execute.jobs"] >= len(workload["queries"])
        else:
            bench.run()
            bench.setup_s = 0.0
            assert set(bench.end_to_end()) == {m["name"] for m in benchmark_json()["end_to_end"]}
        assert bench.failed == 0, bench.failures
        return checker.digests

    spark = get_spark("perfbench-test")
    try:
        untraced = one_pass(False)
        traced = one_pass(True)
    finally:
        spark.stop()
        run.wipe_own_artifacts(run.CACHE_ROOT, sf_dir)
        run.remove_table_copies(run.CACHE_ROOT, sf_dir)
    assert untraced == traced
    assert set(untraced) == set(workload["queries"])
