"""Fast tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

They check that the metric names a run prints are the ones
``BENCHMARK.json`` declares, that the generator is deterministic per
seed, and that the correctness checks flag a deliberately wrong result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = "0.02"


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return spec, e2e, layer


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", TINY],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=True)
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_declared_names_match_code():
    spec, e2e, layer = _declared()
    assert e2e == workloads.E2E
    assert layer == workloads.LAYERS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload,trace", [
    ("events_filter_read", 1),
    ("events_partitioned_write", 0),
    ("corpus_prepare", 0),
])
def test_printed_metrics_match_benchmark_json(workload, trace):
    _, e2e, layer = _declared()
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["failed_checks"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    want = layer if trace else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float)
               for v in result["metrics"].values())


def test_missing_library_exits_nonzero(tmp_path):
    # a directory holding only the benchmark: no library to import
    import shutil

    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "events_filter_read", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def test_generator_deterministic_per_seed():
    a = gen.checksum(gen.make_events(5, 500))
    assert a == gen.checksum(gen.make_events(5, 500))
    assert a != gen.checksum(gen.make_events(6, 500))
    assert (gen.checksum(gen.make_write_batch(5, 200))
            != gen.checksum(gen.make_events(5, 200)))
    assert gen.make_read_queries(5, 30) == gen.make_read_queries(5, 30)
    assert gen.make_read_queries(5, 30) != gen.make_read_queries(6, 30)
    assert (gen.make_read_queries(5, 30)
            != gen.make_read_queries(5, 30, warmup=True))
    d1, e1, m1 = gen.make_corpus(5, 60)
    d2, e2, m2 = gen.make_corpus(5, 60)
    assert gen.checksum(d1, e1) == gen.checksum(d2, e2) and m1 == m2
    d3, e3, _ = gen.make_corpus(6, 60)
    assert gen.checksum(d1, e1) != gen.checksum(d3, e3)


def test_corpus_plants_match_manifest():
    docs, ev, man = gen.make_corpus(9, 200)
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(text) == len(docs)
    by_text = {}
    for doc_id, t in text.items():
        by_text.setdefault(t, []).append(doc_id)
    for dup in man["exact_dup"]:
        assert len(by_text[text[dup]]) == 2       # the copy and its source
    eval_words = [t.split() for t in ev["text"]]
    for doc_id in man["contaminated"]:
        words = text[doc_id].split()
        grams = {tuple(words[i:i + 8]) for i in range(len(words) - 7)}
        assert any(tuple(w[i:i + 8]) in grams
                   for w in eval_words for i in range(len(w) - 7))
    planted = set(man["exact_dup"]) | set(man["near_dup"])
    assert not planted & set(man["unique"])


def test_events_props_have_absent_and_null_keys():
    ev = gen.make_events(2, 2000)
    props = [json.loads(p) for p in ev["props"] if p is not None]
    assert any("campaign" not in p for p in props)
    assert any(p.get("campaign", {}).get("cost", 0) is None
               for p in props if "campaign" in p)
    assert any("ab" in p and p["ab"] is None for p in props)
    assert ev["props"].isna().any() and ev["price"].isna().any()
    top = ev["user_id"].value_counts()
    assert top.iloc[0] > 20 * top.median()          # Zipf skew


# ---------------------------------------------------------------------------
# checks catch wrong results
# ---------------------------------------------------------------------------


def test_tail_percentile_has_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    value, p = run.tail(xs)
    assert p == 90 and sum(x > value for x in xs) >= 10
    assert run.tail([1.0, 2.0, 3.0]) == (2.0, 50)


def test_oracle_sql_semantics(tmp_path):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                "(1, 'a', NULL, '{\"k\":{\"x\":1}}'), "
                "(2, 'b', 5, '{\"k\":null,\"top\":null}'), "
                "(3, NULL, 7, NULL)) v(id, s, n, j)")
    cols = {"id": "INTEGER", "s": "VARCHAR", "n": "INTEGER", "j": "VARCHAR"}

    def ids(spec, json_col=None):
        where = oracle.spec_to_sql(spec, cols, json_col)
        return sorted(r[0] for r in con.execute(
            f"SELECT id FROM t WHERE {where}").fetchall())

    assert ids([{"s": [{"anything-but": ["a"]}]}]) == [2, 3]
    assert ids([{"s": [{"anything-but": ["a", None]}]}]) == [2]
    assert ids([{"n": [None]}]) == [1]
    assert ids([{"n": [{"numeric": [">", 4, "<", 7]}]}]) == [2]
    assert ids([{"missing": [{"exists": False}]}]) == [1, 2, 3]
    assert ids([{"missing": ["a"]}]) == []
    assert ids([{"s": ["a"]}, {"n": [7]}]) == [1, 3]
    assert ids([{"top": [{"exists": True}]}], "j") == [2]
    assert ids([{"k": {"x": [1]}}], "j") == [1]
    assert ids([{"k": {"x": [{"exists": False}]}}], "j") == [2, 3]


def test_recall_check_catches_unremoved_duplicates():
    _, _, man = gen.make_corpus(4, 100)
    everything = {d: w for d, w in man["words"].items()}
    bad = workloads._outcomes(man, everything)
    assert bad["exact_dup_recall"] == 0.0 and bad["near_dup_recall"] == 0.0
    assert bad["contamination_recall"] == 0.0
    good = {d: w for d, w in everything.items()
            if d not in set(man["exact_dup"]) | set(man["near_dup"])
            | set(man["contaminated"])}
    ok = workloads._outcomes(man, good)
    assert ok["exact_dup_recall"] == ok["contamination_recall"] == 1.0
    assert ok["false_drop_ratio"] == 0.0


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    b = run.Bench("events_filter_read", seed=7, seconds=1.0, traced=False,
                  work=str(tmp_path_factory.mktemp("bench")), scale=0.02)
    b.start_session()
    yield b
    b.stop()


def test_read_check_flags_a_wrong_spark_result(bench, monkeypatch):
    real = workloads._digest
    monkeypatch.setattr(workloads, "_digest",
                        lambda df: (real(df)[0] + 1,) + real(df)[1:])
    workloads.run_events_filter_read(bench)
    assert bench.attempted >= 1 and bench.failed == bench.attempted
    assert "!= duckdb" in bench.failures[0]


def test_write_check_flags_a_wrong_read_back(bench, tmp_path):
    from data_toolz_spark import DataIO

    pdf = gen.make_write_batch(1, 300)
    io = DataIO()
    out = str(tmp_path / "dsv")
    workloads._layout_write(io, io, "dsv_chunked",
                            bench.spark.createDataFrame(pdf), out)
    countries = sorted(pdf["country"].unique())
    right = (len(pdf), int(pdf["event_id"].sum()), int(pdf["amount"].sum()))
    assert workloads._check_write(bench, io, "dsv_chunked", out, right,
                                  countries)
    wrong = (right[0], right[1] + 1, right[2])
    assert not workloads._check_write(bench, io, "dsv_chunked", out, wrong,
                                      countries)
    assert not workloads._check_write(bench, io, "dsv_chunked", out, right,
                                      countries + ["XX"])
