"""The three benchmark workloads and the metrics they report.

Each runner takes a ``run.Bench`` with a started session, builds its
inputs from the seed, warms up untimed, then measures a closed loop for
``bench.seconds`` and returns the metrics of the run: the end-to-end set
(``E2E``) untraced, the per-layer set (``LAYERS``) traced.  Both sets are
the same for every workload, so every run prints every name; a layer
metric that a workload does not exercise reads 0 and is listed under
``not_exercised`` in the detail line.

In the traced run operations alternate: on odd ones the benchmark sets a
job group and reads the REST counters after the operation ends, on even
ones it does not.  Spans are recorded for every operation of a traced
run, so ``trace.overhead_ratio`` compares the two halves and measures
the cost of the collection.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib

import gen
from run import peak_rss_mb, timing_summary

E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "rows/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "stored_bytes_per_input_byte": "ratio",
}

LAYOUTS = ("parquet_part", "parquet_part_renamed", "parquet_cluster",
           "jsonl_gzip_part", "dsv_chunked")
OPERATORS = ("keep_document", "line_dedup", "remove_duplicate_spans",
             "minhash_components", "fingerprint_components",
             "ngram_decontaminate", "chunk_documents", "pack_greedy",
             "pack_token_sequences")
SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.spill_disk_bytes": "bytes",
    "spark.task_failures": "count", "spark.driver_only_s": "s",
    "spark.slot_idle_ratio": "ratio",
}


def _layers() -> dict[str, str]:
    out = {"session.get_spark_s": "s", "session.warmup_s": "s",
           "plans.compile_filter_ms": "ms"}
    for kind in ("typed", "json"):
        out[f"sources.read_call_ms.{kind}"] = "ms"
        out[f"sources.read_jobs_per_query.{kind}"] = "count"
        out[f"sources.rows_scanned_per_row_returned.{kind}"] = "ratio"
        out[f"sources.input_bytes_per_query.{kind}"] = "bytes"
    for lay in LAYOUTS:
        out[f"sources.write_s.{lay}"] = "s"
        out[f"sources.write_jobs.{lay}"] = "count"
        out[f"sources.files_written.{lay}"] = "count"
        out[f"sources.bytes_written.{lay}"] = "bytes"
    out["fs.rename_pass_s"] = "s"
    for m in ("build_s", "build_driver_s", "execute_s"):
        out[f"pipelines.{m}"] = "s"
    out["pipelines.build_jobs"] = "count"
    out["pipelines.execute_jobs"] = "count"
    for fn in OPERATORS:
        out[f"operators.{fn}_s"] = "s"
    for r in ("exact_dup_recall", "near_dup_recall", "contamination_recall",
              "false_drop_ratio"):
        out[f"operators.{r}"] = "ratio"
    out.update(SPARK)
    out["trace.op_p50_ms"] = "ms"
    out["trace.untraced_op_p50_ms"] = "ms"
    out["trace.overhead_ratio"] = "ratio"
    return out


LAYERS = _layers()

# full-size inputs; ``--scale`` shrinks them for the benchmark's tests
SIZES = {"events": 40_000, "batch": 20_000, "corpus_docs": 150}
WARMUP_S = {"events_filter_read": 12.0, "events_partitioned_write": 4.0}


def _size(bench, key: str) -> int:
    return max(50, int(SIZES[key] * bench.scale))


def _data_files(path: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files
                if not f.startswith((".", "_"))]
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


class _OpLog:
    """Per-operation samples; ``counters`` only for traced operations."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, **row) -> dict:
        self.rows.append(row)
        return row

    def secs(self, kind=None, traced=None) -> list[float]:
        return [r["s"] for r in self.rows
                if (kind is None or r["kind"] == kind)
                and (traced is None or r["traced"] == traced)]


def _spark_counters(bench, groups: list[str], t0: float, t1: float) -> dict:
    """Summed REST counters of ``groups`` plus the two derived times."""
    from spans import union_seconds

    total: dict = {}
    intervals: list = []
    for g in groups:
        c = bench.counters.group(g)
        mine = c.pop("job_intervals")
        intervals += mine
        for k, v in c.items():
            total[k] = total.get(k, 0) + v
        part = g.split(".")[-1]
        total[f"jobs.{part}"] = c["jobs"]
        total[f"busy.{part}"] = union_seconds(mine, t0, t1)
    busy = union_seconds(intervals, t0, t1)
    total["driver_only_s"] = max(0.0, (t1 - t0) - busy)
    run_s = total["executor_run_ms"] / 1000.0
    total["slot_idle_ratio"] = (1.0 - run_s / (busy * bench.cores)
                                if busy > 0 else 0.0)
    return total


def _spark_layer(counted: list[dict]) -> dict:
    """Mean per traced operation of each ``spark.*`` counter."""
    if not counted:
        return {k: 0.0 for k in SPARK}
    n = len(counted)

    def mean(key, scale=1.0):
        return sum(c[key] for c in counted) * scale / n

    return {
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"),
        "spark.executor_run_s": mean("executor_run_ms", 1e-3),
        "spark.executor_cpu_s": mean("executor_cpu_ns", 1e-9),
        "spark.jvm_gc_s": mean("jvm_gc_ms", 1e-3),
        "spark.input_bytes": mean("input_bytes"),
        "spark.output_bytes": mean("output_bytes"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.spill_disk_bytes": mean("spill_disk_bytes"),
        "spark.task_failures": mean("task_failures"),
        "spark.driver_only_s": mean("driver_only_s"),
        "spark.slot_idle_ratio": mean("slot_idle_ratio"),
    }


def _finish(bench, log: _OpLog, e2e: dict, layer: dict, primary: str | None,
            aliases: dict) -> dict:
    """Assemble the run's metric set and the detail line."""
    bench.detail["setup_phases_s"] = dict(bench.setup)
    bench.detail["workload_metrics"] = aliases
    if not bench.traced:
        e2e["setup_s"] = bench.setup_s()
        e2e["peak_rss_mb"] = peak_rss_mb(bench.spark)
        return {k: {"value": float(e2e[k]), "unit": u}
                for k, u in E2E.items()}
    traced = log.secs(primary, traced=True)
    plain = log.secs(primary, traced=False)
    t50, u50 = _median(traced) * 1e3, _median(plain) * 1e3
    layer.update({
        "session.get_spark_s": bench.setup.get("session", 0.0),
        "session.warmup_s": bench.setup.get("warmup", 0.0),
        "trace.op_p50_ms": t50, "trace.untraced_op_p50_ms": u50,
        "trace.overhead_ratio": (t50 / u50 - 1.0) if u50 else 0.0,
    })
    layer.update(_spark_layer([r["counters"] for r in log.rows
                               if r.get("counters")]))
    bench.detail["not_exercised"] = sorted(k for k in LAYERS
                                           if k not in layer)
    bench.detail["self_s"] = bench.tracer.self_times()
    return {k: {"value": float(layer.get(k, 0.0)), "unit": u}
            for k, u in LAYERS.items()}


def _deadline_loop(bench, n_min: int = 1, step: int = 1):
    """Operation indices until ``bench.seconds`` of loop time have passed
    (at least ``n_min``; stops only on a multiple of ``step``)."""
    start = time.perf_counter()
    i = 0
    while (i < n_min or time.perf_counter() - start < bench.seconds
           or i % step):
        yield i
        i += 1


# ---------------------------------------------------------------------------
# events_filter_read
# ---------------------------------------------------------------------------

def _digest(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("event_id"), F.lit(0)),
                 F.coalesce(F.sum("amount"), F.lit(0))).collect()[0]
    return tuple(int(v) for v in row)


def run_events_filter_read(bench) -> dict:
    from data_toolz_spark import DataIO, Filter, compile_filter
    from data_toolz_spark.cache import clear_session_caches
    from oracle import EventsOracle

    spark, tr, io = bench.spark, bench.tracer, DataIO()
    n = _size(bench, "events")
    path = os.path.join(bench.work, "events")

    def inputs():
        pdf = gen.make_events(bench.seed, n)
        shutil.rmtree(path, ignore_errors=True)
        with tr.span("DataIO.write"):
            io.write(spark.createDataFrame(pdf), path,
                     partition_by=["country", "day"])
        return pdf

    pdf = bench.repeat_setup(inputs)
    bench.detail["input_checksum"] = gen.checksum(pdf)
    stored = _dir_bytes(path) / gen.jsonl_bytes(pdf)
    oracle = EventsOracle(path)
    schema = io.read(spark, path).schema

    def query(kind, spec):
        with tr.span("DataIO.read"):
            r0 = time.perf_counter()
            if kind == "typed":
                df = io.read(spark, path, filters=spec)
            else:
                df = io.read(spark, path)
            r1 = time.perf_counter()
            if kind == "json":
                df = Filter(spec).apply(df, json_column="props")
        return df, r1 - r0

    # untimed warm-up on queries the measured loop never asks
    t0 = time.perf_counter()
    warm = gen.make_read_queries(bench.seed, 1000, warmup=True)
    i = 0
    while time.perf_counter() - t0 < WARMUP_S[bench.workload] * bench.scale:
        df, _ = query(*warm[i % len(warm)])
        with tr.span("action"):
            _digest(df)
        i += 1
    bench.setup["warmup"] = time.perf_counter() - t0
    bench.detail["warmup_ops"] = i

    queries = gen.make_read_queries(bench.seed, 10_000)
    log, compile_ms, read_ms = _OpLog(), [], {"typed": [], "json": []}
    for i in _deadline_loop(bench, n_min=3):
        kind, spec = queries[i % len(queries)]
        clear_session_caches(spark)
        traced = bench.traced and i % 2 == 1
        tr.op = f"op{i}" if traced else None
        if traced:
            with tr.span("compile_filter"):
                c0 = time.perf_counter()
                if kind == "typed":
                    compile_filter(spec, schema=schema)
                else:
                    Filter(spec).column(mode="json", json_column="props")
                compile_ms.append((time.perf_counter() - c0) * 1e3)
            bench.group(f"op{i}.read")
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df, read_s = query(kind, spec)
            if traced:
                bench.group(f"op{i}.act")
            with tr.span("action"):
                got = _digest(df)
        except Exception as exc:  # a failed query is a failed operation
            bench.group(None)
            bench.count(bench.check(
                False, f"op{i} {kind} raised {type(exc).__name__}: "
                f"{str(exc)[:200]}"))
            continue
        elapsed = time.perf_counter() - t0
        w1 = time.time()
        bench.group(None)
        tr.op = None
        row = log.add(kind=kind, s=elapsed, traced=traced, rows=got[0])
        if traced:
            row["counters"] = _spark_counters(
                bench, [f"op{i}.read", f"op{i}.act"], w0, w1)
            read_ms[kind].append(read_s * 1e3)
        want = oracle.digest(spec,
                             json_col="props" if kind == "json" else None)
        bench.count(bench.check(
            got == want, f"op{i} {kind} {spec}: spark {got} != duckdb {want}"))
    oracle.close()

    typed = timing_summary(log.secs("typed"))
    js = timing_summary(log.secs("json"))
    total_s = sum(log.secs())
    e2e = {"rows_per_s": n * len(log.rows) / total_s,
           "op_p50_ms": typed["p50_ms"], "op_tail_ms": typed["tail_ms"],
           "stored_bytes_per_input_byte": stored}
    bench.detail["samples"] = {"typed": typed, "json": js}
    t_secs = log.secs("typed")
    half = len(t_secs) // 2
    if half:
        bench.detail["typed_drift"] = {
            "first_half_p50_ms": _median(t_secs[:half]) * 1e3,
            "second_half_p50_ms": _median(t_secs[half:]) * 1e3}
    aliases = {"read_typed_p50_ms": typed["p50_ms"],
               "read_typed_tail_ms": typed["tail_ms"],
               "read_json_p50_ms": js["p50_ms"],
               "read_json_tail_ms": js["tail_ms"]}
    layer = {"plans.compile_filter_ms": _median(compile_ms)}
    for kind in ("typed", "json"):
        counted = [r["counters"] for r in log.rows
                   if r["kind"] == kind and r.get("counters")]
        rows = sum(r["rows"] for r in log.rows
                   if r["kind"] == kind and r.get("counters"))
        scanned = sum(c["input_records"] for c in counted)
        layer[f"sources.read_call_ms.{kind}"] = _median(read_ms[kind])
        if counted:
            layer[f"sources.read_jobs_per_query.{kind}"] = (
                sum(c["jobs.read"] for c in counted) / len(counted))
            layer[f"sources.input_bytes_per_query.{kind}"] = (
                sum(c["input_bytes"] for c in counted) / len(counted))
            layer[f"sources.rows_scanned_per_row_returned.{kind}"] = (
                scanned / rows if rows else 0.0)
    if bench.traced:
        # the write side of `sources` and the `fs` rename pass, one
        # write per layout of the same events, so a run of this
        # workload alone traces both sides of the layer
        expected = (len(pdf), int(pdf["event_id"].sum()),
                    int(pdf["amount"].sum()))
        layer.update(_traced_layout_writes(
            bench, io.read(spark, path), expected,
            sorted(pdf["country"].unique())))
    return _finish(bench, log, e2e, layer, "typed", aliases)


# ---------------------------------------------------------------------------
# events_partitioned_write
# ---------------------------------------------------------------------------


def _renamed_dir(prefix: str, cols, values) -> str:
    """Partition transformer: ``prefix/<country>_d<day>`` (one level)."""
    return f"{prefix.rstrip('/')}/{values[0].lower()}_d{values[1]}"


SUFFIX = ["a", "b", "c"]


def _layout_write(io_plain, io_renamed, layout: str, df, path: str) -> None:
    if layout == "parquet_part":
        io_plain.write(df, path, partition_by=["country", "day"])
    elif layout == "parquet_part_renamed":
        io_renamed.write(df, path, partition_by=["country", "day"])
    elif layout == "parquet_cluster":
        io_plain.write(df, path, cluster_by=["user_id"], cluster_files=4)
    elif layout == "jsonl_gzip_part":
        io_plain.write(df, path, "jsonlines", partition_by=["country"],
                       gzip=True)
    else:
        io_plain.write(df, path, "dsv", partition_by=["country"],
                       suffix=SUFFIX)


def _read_back(io, spark, layout: str, path: str):
    from pyspark.sql import functions as F

    if layout == "parquet_part_renamed":
        return io.read(spark, f"{path}/*")
    if layout == "jsonl_gzip_part":
        return io.read(spark, path, "jsonlines")
    if layout == "dsv_chunked":
        df = io.read(spark, path, "dsv")
        return df.select(F.col("event_id").cast("long").alias("event_id"),
                         F.col("amount").cast("long").alias("amount"))
    return io.read(spark, path)


def _check_write(bench, io, layout: str, path: str, expected, countries):
    got = _digest(_read_back(io, bench.spark, layout, path))
    ok = bench.check(got == expected,
                     f"{layout}: read back {got} != written {expected}")
    if layout == "dsv_chunked":
        per_dir = {}
        for f in _data_files(path):
            d = os.path.basename(os.path.dirname(f))
            per_dir[d] = per_dir.get(d, 0) + 1
        want = {f"country={c}": len(SUFFIX) for c in countries}
        ok = bench.check(per_dir == want,
                         f"dsv_chunked: files per partition {per_dir}") and ok
    return ok


def _traced_layout_writes(bench, df, expected, countries) -> dict:
    """One traced, checked write per layout: its per-layer metrics."""
    from data_toolz_spark import DataIO

    io, io_renamed = DataIO(), DataIO(partition_transformer=_renamed_dir)
    layer = {}
    for lay in LAYOUTS:
        out = os.path.join(bench.work, f"traced-{lay}")
        bench.tracer.op = f"write.{lay}"
        bench.group(f"write.{lay}")
        w0 = time.time()
        try:
            with bench.tracer.span("DataIO.write"):
                _layout_write(io, io_renamed, lay, df, out)
        except Exception as exc:
            bench.count(bench.check(
                False, f"{lay} raised {type(exc).__name__}: "
                f"{str(exc)[:200]}"))
            continue
        finally:
            bench.group(None)
            bench.tracer.op = None
        w1 = time.time()
        data = _data_files(out)
        layer[f"sources.write_s.{lay}"] = w1 - w0
        layer[f"sources.write_jobs.{lay}"] = bench.counters.group(
            f"write.{lay}")["jobs"]
        layer[f"sources.files_written.{lay}"] = len(data)
        layer[f"sources.bytes_written.{lay}"] = sum(
            os.path.getsize(f) for f in data)
        bench.count(_check_write(bench, io, lay, out, expected, countries))
        shutil.rmtree(out, ignore_errors=True)
    if {"sources.write_s.parquet_part_renamed",
            "sources.write_s.parquet_part"} <= set(layer):
        layer["fs.rename_pass_s"] = (
            layer["sources.write_s.parquet_part_renamed"]
            - layer["sources.write_s.parquet_part"])
    return layer


def run_events_partitioned_write(bench) -> dict:
    from data_toolz_spark import DataIO
    from data_toolz_spark.cache import clear_session_caches

    spark, tr = bench.spark, bench.tracer
    io, io_renamed = DataIO(), DataIO(partition_transformer=_renamed_dir)
    n = _size(bench, "batch")
    src = os.path.join(bench.work, "batch")

    def inputs():
        pdf = gen.make_write_batch(bench.seed, n)
        shutil.rmtree(src, ignore_errors=True)
        with tr.span("DataIO.write"):
            io.write(spark.createDataFrame(pdf), src)
        return pdf

    pdf = bench.repeat_setup(inputs)
    bench.detail["input_checksum"] = gen.checksum(pdf)
    base = gen.jsonl_bytes(pdf)
    expected = (len(pdf), int(pdf["event_id"].sum()), int(pdf["amount"].sum()))
    countries = sorted(pdf["country"].unique())

    def write(i: int, layout: str, traced: bool):
        out = os.path.join(bench.work, f"out{i}")
        df = io.read(spark, src)
        if traced:
            bench.group(f"op{i}.write")
        w0 = time.time()
        t0 = time.perf_counter()
        with tr.span("DataIO.write"):
            _layout_write(io, io_renamed, layout, df, out)
        elapsed = time.perf_counter() - t0
        w1 = time.time()
        bench.group(None)
        return out, elapsed, w0, w1

    # untimed warm-up: whole layout cycles until the warm-up time is spent
    t0 = time.perf_counter()
    i = 0
    while (time.perf_counter() - t0 < WARMUP_S[bench.workload] * bench.scale
           or i % len(LAYOUTS)):
        out, *_ = write(-1 - i, LAYOUTS[i % len(LAYOUTS)], False)
        shutil.rmtree(out, ignore_errors=True)
        i += 1
    bench.setup["warmup"] = time.perf_counter() - t0
    bench.detail["warmup_ops"] = i

    log = _OpLog()
    files: dict[str, list] = {lay: [] for lay in LAYOUTS}
    nbytes: dict[str, list] = {lay: [] for lay in LAYOUTS}
    for i in _deadline_loop(bench, n_min=len(LAYOUTS) * (2 if bench.traced
                                                         else 1),
                            step=len(LAYOUTS)):
        layout = LAYOUTS[i % len(LAYOUTS)]
        clear_session_caches(spark)
        # alternate whole cycles so every layout has traced samples
        traced = bench.traced and (i // len(LAYOUTS)) % 2 == 1
        tr.op = f"op{i}" if traced else None
        try:
            out, elapsed, w0, w1 = write(i, layout, traced)
        except Exception as exc:
            bench.group(None)
            bench.count(bench.check(
                False, f"op{i} {layout} raised {type(exc).__name__}: "
                f"{str(exc)[:200]}"))
            continue
        tr.op = None
        row = log.add(kind=layout, s=elapsed, traced=traced)
        if traced:
            row["counters"] = _spark_counters(bench, [f"op{i}.write"], w0, w1)
        data = _data_files(out)
        files[layout].append(len(data))
        nbytes[layout].append(sum(os.path.getsize(f) for f in data))
        bench.count(_check_write(bench, io, layout, out, expected,
                                 countries))
        shutil.rmtree(out, ignore_errors=True)

    summary = timing_summary(log.secs())
    per_layout = {lay: timing_summary(log.secs(lay)) for lay in LAYOUTS
                  if log.secs(lay)}
    stored = statistics.fmean(_median(nbytes[lay]) / base for lay in LAYOUTS
                              if nbytes[lay])
    e2e = {"rows_per_s": n * len(log.rows) / sum(log.secs()),
           "op_p50_ms": summary["p50_ms"], "op_tail_ms": summary["tail_ms"],
           "stored_bytes_per_input_byte": stored}
    bench.detail["samples"] = {"all": summary, **per_layout}
    bench.detail["stored_base_bytes"] = base
    aliases = {"write_rows_per_s": e2e["rows_per_s"],
               "stored_bytes_per_input_byte": stored}
    layer = {}
    for lay in LAYOUTS:
        secs = log.secs(lay, traced=True)
        counted = [r["counters"] for r in log.rows
                   if r["kind"] == lay and r.get("counters")]
        if not secs:
            continue
        layer[f"sources.write_s.{lay}"] = _median(secs)
        layer[f"sources.write_jobs.{lay}"] = _median(
            [c["jobs"] for c in counted])
        layer[f"sources.files_written.{lay}"] = _median(files[lay])
        layer[f"sources.bytes_written.{lay}"] = _median(nbytes[lay])
    if {"sources.write_s.parquet_part_renamed",
            "sources.write_s.parquet_part"} <= set(layer):
        layer["fs.rename_pass_s"] = (
            layer["sources.write_s.parquet_part_renamed"]
            - layer["sources.write_s.parquet_part"])
    return _finish(bench, log, e2e, layer, None, aliases)


# ---------------------------------------------------------------------------
# corpus_prepare
# ---------------------------------------------------------------------------

CORPUS_CONFIG = dict(
    quality_thresholds={"min_tokens": 5},
    line_dedup_max_doc_freq=5,
    span_dedup_n=8,
    near_dup_threshold=0.8,
    decontaminate_n=8,
    chunk_max_words=64,
    chunk_overlap=8,
    pack_budget=2048,
)
# planted-outcome floors: below them the library lost its dedup or
# decontamination behaviour on this corpus
RECALL_FLOOR = {"exact_dup_recall": 0.99, "near_dup_recall": 0.9,
                "contamination_recall": 0.8}
FALSE_DROP_CEILING = 0.02


ROW_COLS = ("doc_id", "chunk_index", "n_words", "split", "pack_bin.shard",
            "pack_bin.bin")


def _row_code(doc_id: int, chunk_index: int, n_words: int, split: str,
              shard: int, bin_: int) -> int:
    """Order-independent digest term of one output row (``ROW_COLS``)."""
    return (doc_id * 1_000_003 + chunk_index * 1_009 + n_words * 7
            + shard * 13 + bin_ * 17 + zlib.crc32(split.encode()))


def _observed_digest(out):
    """``out`` with an Observation computing the same digest as
    ``_row_code`` summed, filled by the action that forces ``out``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    code = (F.col("doc_id") * 1_000_003 + F.col("chunk_index") * 1_009
            + F.col("n_words") * 7 + F.col("pack_bin.shard") * 13
            + F.col("pack_bin.bin") * 17 + F.crc32(F.col("split")))
    return out.observe(obs, F.count(F.lit(1)).alias("n"),
                       F.sum(code).alias("code")), obs


def _outcomes(manifest: dict, survivors: dict[int, int]) -> dict:
    """Planted ground truth vs surviving words per document.

    A document counts as removed when fewer than half of its input words
    survive — span dedup may cut a duplicate down to fragments that the
    near-dup stage then no longer sees, and the fragment still leaves the
    duplicate's content out of the corpus.  Contaminated documents must
    be gone entirely.
    """
    words = manifest["words"]

    def removed(ids):
        return sum(1 for d in ids if survivors.get(d, 0) < 0.5 * words[d])

    return {
        "exact_dup_recall": removed(manifest["exact_dup"])
        / len(manifest["exact_dup"]),
        "near_dup_recall": removed(manifest["near_dup"])
        / len(manifest["near_dup"]),
        "contamination_recall": sum(
            1 for d in manifest["contaminated"] if d not in survivors)
        / len(manifest["contaminated"]),
        "false_drop_ratio": removed(manifest["unique"])
        / len(manifest["unique"]),
    }


def _standalone_operators(bench, docs, eval_df) -> dict:
    """Each operator the pipeline composes, called alone and forced."""
    from pyspark.sql import functions as F

    from data_toolz_spark.operators.decontamination import (
        ngram_decontaminate,
    )
    from data_toolz_spark.operators.dedup import (
        fingerprint_components,
        minhash_components,
        simhash_expr,
    )
    from data_toolz_spark.operators.sampling import (
        pack_greedy,
        pack_token_sequences,
    )
    from data_toolz_spark.operators.text_analysis import (
        chunk_documents,
        keep_document,
        line_dedup,
        remove_duplicate_spans,
    )

    cfg = CORPUS_CONFIG
    chunks = chunk_documents(docs, max_words=cfg["chunk_max_words"],
                             overlap=cfg["chunk_overlap"]).withColumn(
        "chunk_key", F.concat_ws("#", "doc_id", "chunk_index"))
    ids = docs.select("doc_id", F.transform(
        F.split("text", r"\s+"),
        lambda w: F.pmod(F.xxhash64(w), F.lit(30_000)) + 1).alias("ids"))
    calls = {
        "keep_document": lambda: keep_document(
            docs, "text", thresholds=cfg["quality_thresholds"]),
        "line_dedup": lambda: line_dedup(
            docs, max_doc_freq=cfg["line_dedup_max_doc_freq"]),
        "remove_duplicate_spans": lambda: remove_duplicate_spans(
            docs, n=cfg["span_dedup_n"]),
        "minhash_components": lambda: minhash_components(
            docs, "doc_id", "text", threshold=cfg["near_dup_threshold"]),
        "fingerprint_components": lambda: fingerprint_components(
            docs.withColumn("fp", simhash_expr("text")), "doc_id", "fp",
            max_hamming=3, bits=32),
        "ngram_decontaminate": lambda: ngram_decontaminate(
            docs, eval_df, n=cfg["decontaminate_n"]),
        "chunk_documents": lambda: chunk_documents(
            docs, max_words=cfg["chunk_max_words"],
            overlap=cfg["chunk_overlap"]),
        "pack_greedy": lambda: pack_greedy(
            chunks, id_col="chunk_key", token_col="n_words",
            budget=cfg["pack_budget"]),
        "pack_token_sequences": lambda: pack_token_sequences(
            ids, id_col="doc_id", ids_col="ids", seq_len=256, eos_id=0),
    }
    from data_toolz_spark.cache import clear_session_caches

    out = {}
    for name, call in calls.items():
        clear_session_caches(bench.spark)
        bench.tracer.op = f"operator.{name}"
        t0 = time.perf_counter()
        try:
            with bench.tracer.span(name):
                frame = call()
                with bench.tracer.span("action"):
                    frame.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            bench.count(bench.check(
                False, f"{name} raised {type(exc).__name__}: "
                f"{str(exc)[:200]}"))
            continue
        out[f"operators.{name}_s"] = time.perf_counter() - t0
    bench.tracer.op = None
    clear_session_caches(bench.spark)
    return out


def run_corpus_prepare(bench) -> dict:
    from data_toolz_spark import DataIO, prepare_training_corpus
    from data_toolz_spark.cache import clear_session_caches

    spark, tr, io = bench.spark, bench.tracer, DataIO()
    n = _size(bench, "corpus_docs")
    root = os.path.join(bench.work, "corpus")

    def inputs():
        docs, ev, manifest = gen.make_corpus(bench.seed, n)
        shutil.rmtree(root, ignore_errors=True)
        with tr.span("DataIO.write"):
            io.write(spark.createDataFrame(docs), f"{root}/docs")
            io.write(spark.createDataFrame(ev), f"{root}/eval")
        return docs, ev, manifest

    docs_pd, ev_pd, manifest = bench.repeat_setup(inputs)
    bench.detail["input_checksum"] = gen.checksum(docs_pd, ev_pd)
    stored = (_dir_bytes(f"{root}/docs") + _dir_bytes(f"{root}/eval")) / (
        gen.jsonl_bytes(docs_pd) + gen.jsonl_bytes(ev_pd))
    docs = io.read(spark, f"{root}/docs")
    eval_df = io.read(spark, f"{root}/eval")

    # untimed warm-up: one whole pass, so the measured passes run plans
    # whose generated code is compiled and whose JIT profile is warm.
    # Its collected output is the reference every measured pass must
    # reproduce and the input of the planted-outcome check
    t0 = time.perf_counter()
    clear_session_caches(spark)
    with tr.span("prepare_training_corpus"):
        warm = prepare_training_corpus(docs, eval_df, **CORPUS_CONFIG)
    with tr.span("action"):
        rows = warm.select(*ROW_COLS).collect()
    bench.setup["warmup"] = time.perf_counter() - t0
    reference = (len(rows), sum(_row_code(*r) for r in rows))
    survivors: dict[int, int] = {}
    for r in rows:
        survivors[r[0]] = survivors.get(r[0], 0) + r[2]
    outcomes = _outcomes(manifest, survivors)
    ok = [bench.check(outcomes[key] >= floor,
                      f"{key} {outcomes[key]:.3f} below {floor}")
          for key, floor in RECALL_FLOOR.items()]
    ok.append(bench.check(
        outcomes["false_drop_ratio"] <= FALSE_DROP_CEILING,
        f"false_drop_ratio {outcomes['false_drop_ratio']:.3f} above "
        f"{FALSE_DROP_CEILING}"))
    bench.count(all(ok))
    bench.detail["outcomes"] = outcomes

    log = _OpLog()
    build, execute = [], []
    # a pass outlasts the run time, so an untraced run times one pass and a
    # traced run one untraced and one traced pass
    for i in _deadline_loop(bench, n_min=2 if bench.traced else 1):
        traced = bench.traced and i % 2 == 1
        tr.op = f"op{i}" if traced else None
        clear_session_caches(spark)
        if traced:
            bench.group(f"op{i}.build")
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with tr.span("prepare_training_corpus"):
                out = prepare_training_corpus(docs, eval_df, **CORPUS_CONFIG)
            t1 = time.perf_counter()
            observed, obs = _observed_digest(out)
            if traced:
                bench.group(f"op{i}.exec")
            with tr.span("action"):
                observed.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            bench.group(None)
            bench.count(bench.check(
                False, f"pass {i} raised {type(exc).__name__}: "
                f"{str(exc)[:200]}"))
            continue
        t2 = time.perf_counter()
        w2 = time.time()
        bench.group(None)
        tr.op = None
        row = log.add(kind="pass", s=t2 - t0, traced=traced)
        if traced:
            c = _spark_counters(bench, [f"op{i}.build", f"op{i}.exec"],
                                w0, w2)
            row["counters"] = c
            # build-time jobs all end before the build returns, so the
            # build's busy time needs no clipping at the build's end
            build.append((t1 - t0, c["jobs.build"],
                          t1 - t0 - c["busy.build"]))
            execute.append((t2 - t1, c["jobs.exec"]))
        got = (obs.get["n"], obs.get["code"])
        bench.count(bench.check(
            got == reference, f"pass {i}: output {got} != {reference}"))

    clear_session_caches(spark)

    summary = timing_summary(log.secs())
    e2e = {"rows_per_s": len(docs_pd) / (summary["p50_ms"] / 1e3),
           "op_p50_ms": summary["p50_ms"], "op_tail_ms": summary["tail_ms"],
           "stored_bytes_per_input_byte": stored}
    bench.detail["samples"] = {"pass": summary}
    aliases = {"corpus_docs_per_s": e2e["rows_per_s"]}
    layer = {f"operators.{k}": v for k, v in outcomes.items()}
    if build:
        layer.update({
            "pipelines.build_s": _median([b[0] for b in build]),
            "pipelines.build_jobs": _median([b[1] for b in build]),
            "pipelines.build_driver_s": _median([b[2] for b in build]),
            "pipelines.execute_s": _median([e[0] for e in execute]),
            "pipelines.execute_jobs": _median([e[1] for e in execute]),
        })
    if bench.traced:
        layer.update(_standalone_operators(bench, docs, eval_df))
    return _finish(bench, log, e2e, layer, None, aliases)


RUNNERS = {
    "events_filter_read": run_events_filter_read,
    "events_partitioned_write": run_events_partitioned_write,
    "corpus_prepare": run_corpus_prepare,
}
