"""Spans and Spark counters for the traced run.

``Tracer`` records spans in memory — name, operation id, parent, start,
end — around calls the benchmark makes into the library, and writes them
out once at the end.  A disabled tracer's ``span`` only yields, so the
untraced run records nothing.

``SparkCounters`` reads Spark's own monitoring REST API (served by the
driver UI on ``localhost``) for the jobs of one job group, which the
benchmark sets around each operation in the traced run only.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import time
import urllib.request


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time (span minus its children's cover) per name."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()},
                      fh)


def _epoch(stamp: str) -> float:
    # REST timestamps look like 2026-10-17T05:09:45.746GMT
    return _dt.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=_dt.timezone.utc).timestamp()


def union_seconds(intervals: list[tuple[float, float]],
                  lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkCounters:
    """Per-job-group counters from the driver's monitoring REST API."""

    STAGE_FIELDS = {
        "executorRunTime": "executor_run_ms",
        "executorCpuTime": "executor_cpu_ns",
        "jvmGcTime": "jvm_gc_ms",
        "inputBytes": "input_bytes",
        "inputRecords": "input_records",
        "outputBytes": "output_bytes",
        "shuffleWriteBytes": "shuffle_write_bytes",
        "shuffleReadBytes": "shuffle_read_bytes",
        "diskBytesSpilled": "spill_disk_bytes",
        "numFailedTasks": "task_failures",
        "numTasks": "tasks",
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        url = self.sc.uiWebUrl
        if not url:
            raise RuntimeError("the traced run needs the Spark UI enabled")
        self.base = f"{url}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, rel: str):
        with urllib.request.urlopen(f"{self.base}/{rel}", timeout=10) as r:
            return json.loads(r.read())

    def group(self, group: str, timeout_s: float = 10.0) -> dict:
        """Counters summed over every job of ``group`` once all ended."""
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] in job_ids]
            done = [j for j in jobs if j.get("completionTime")]
            if len(done) == len(job_ids) or time.time() > deadline:
                break
            time.sleep(0.05)
        stage_ids = {s for j in done for s in j["stageIds"]}
        totals = {v: 0 for v in self.STAGE_FIELDS.values()}
        n_stages = 0
        if stage_ids:
            for st in self._get("stages?status=complete&status=failed"):
                if st["stageId"] not in stage_ids:
                    continue
                n_stages += 1
                for k, v in self.STAGE_FIELDS.items():
                    totals[v] += st.get(k, 0)
        totals["jobs"] = len(job_ids)
        totals["stages"] = n_stages
        totals["job_intervals"] = [
            (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            for j in done if j.get("submissionTime")]
        return totals
