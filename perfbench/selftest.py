"""Self-tests of the benchmark.  From the root of a checkout::

    python3 -m pytest perfbench/selftest.py -q

The fast tests cover the generator, the DuckDB form of the oracle rule
and the metric lists.  The smoke tests run every workload once at a small
input size, untraced and traced (a few minutes on four cores).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _manifest(tmp_path, name, seed):
    return gen.generate(str(tmp_path / name), seed, n_events=3000,
                        n_docs=300, n_vecs=200)


def test_generator_is_deterministic_per_seed_and_differs_across_seeds(
        tmp_path):
    a = _manifest(tmp_path, "a", 1)
    b = _manifest(tmp_path, "b", 1)
    c = _manifest(tmp_path, "c", 2)
    for t in ("events", "documents", "embeddings"):
        assert a[t] == b[t]
        assert a[t]["sha256"] != c[t]["sha256"]
        assert a[t]["rows"] == c[t]["rows"]


def test_generated_events_have_the_properties_the_ops_rely_on(tmp_path):
    _manifest(tmp_path, "d", 3)
    con = oracle.connect(str(tmp_path / "d"))
    dup_ts, nulls, gaps = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT user_id, ts FROM events "
        "GROUP BY ALL HAVING count(*) > 1)), "
        "(SELECT count(*) FROM events WHERE value IS NULL), "
        "(SELECT count(*) FROM events WHERE value > 150)").fetchone()
    assert dup_ts == 0 and nulls == 0 and gaps > 0
    texts = pq.read_table(str(tmp_path / "d" / "documents.parquet"))[
        "text"].to_pylist()
    words = [set(t.split()) for t in texts]
    near_dups = sum(len(a & b) / len(a | b) > 0.8
                    for i, a in enumerate(words) for b in words[:i])
    assert near_dups > 0


def test_duckdb_canonical_form_matches_the_oracle_check_script():
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from oracle_check import row_multiset

    table = pa.table({
        "b": pa.array([1.5, -0.0, float("nan"), None, 2.0000004]),
        "a": pa.array([1, 2, None, 4, 5], type=pa.int64()),
        "t": pa.array([dt.datetime(2024, 1, 2, 3, 4, 5, 6), None,
                       dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1),
                       dt.datetime(2024, 2, 29, 23, 59, 59, 999999)],
                      type=pa.timestamp("us", tz="UTC")),
        "s": pa.array(["x", "y", None, "w|v", "é"]),
        "f": pa.array([True, False, None, True, False]),
    })
    con = oracle.connect()
    con.register("tbl", table)
    got = Counter(k for (k,) in con.execute(
        oracle._canon_rows(con, "tbl")).fetchall())
    rows = [tuple(r.values()) for r in table.to_pylist()]
    for i, r in enumerate(rows):      # the script sees naive UTC datetimes
        rows[i] = tuple(v.replace(tzinfo=None) if isinstance(v, dt.datetime)
                        else v for v in r)
    assert got == row_multiset(rows, table.column_names)


def test_multiset_diff_reports_a_changed_value():
    con = oracle.connect()
    sql = "SELECT * FROM (VALUES (1, 0.5), (2, 0.25)) t(id, v)"
    same = pa.table({"v": [0.25, 0.5], "id": [2, 1]})
    assert oracle.multiset_diff(con, same, sql) is None
    off = pa.table({"v": [0.25, 0.5001], "id": [2, 1]})
    assert "only in spark" in oracle.multiset_diff(con, off, sql)
    # one unit in the sixth decimal is a rounding straddle, not a change
    near = pa.table({"v": [0.250001, 0.5], "id": [2, 1]})
    assert oracle.multiset_diff(con, near, sql) is None
    near_id = pa.table({"v": [0.250001, 0.5], "id": [3, 1]})
    assert "only in spark" in oracle.multiset_diff(con, near_id, sql)


def test_parse_sql_metric():
    assert spans.parse_sql_metric("12 ms") == pytest.approx(0.012)
    assert spans.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n3.8 s (932 ms, 941 ms, "
        "945 ms (stage 3.0: task 5))") == pytest.approx(3.8)
    assert spans.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1612.6 KiB (...)") \
        == pytest.approx(1612.6 * 1024)
    assert spans.parse_sql_metric("1,234") == 1234


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] \
        == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_out",
                                                  "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(tmp_path, "--workload", "interactive_mix", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_emits_every_metric_without_errors(workload):
    for trace, names in (("0", run.END_TO_END), ("1", run.PER_LAYER)):
        p = _bench(ROOT, "--workload", workload, "--seed", "7",
                   "--seconds", "0", "--trace", trace, "--scale", "0.02")
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert out["failed"] == 0 and out["correct"], p.stderr[-3000:]
        assert out["attempted"] >= 1
        assert [(k, v["unit"]) for k, v in out["metrics"].items()] == names
