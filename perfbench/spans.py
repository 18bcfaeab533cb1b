"""Process counters and the traced run's span recorder.

Untraced runs use only :class:`Proc` (CPU and RSS from ``/proc``). The
traced run wraps each call into the program's layers in a span; every
span runs under its own Spark job group, so the jobs it caused can be
looked up afterwards through ``statusTracker`` and their stage counters
read from the Spark UI's REST API. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import json
import os
import re
import resource
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")


class Proc:
    """CPU seconds and peak RSS of this Python process plus the driver JVM."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        t = os.times()
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return t.user + t.system + (int(f[11]) + int(f[12])) / _TICK

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0


class Tracer:
    """Spans (name, start, end, parent, op id) around calls into the
    program, each under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int):
        """Time the body under a fresh job group; yields a dict the body
        fills with the counts it measured."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", "counts": {}}
        self.spans.append(rec)
        outer = self.spans[self._stack[-1]]["group"] if self._stack else None
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(outer, self.spans[self._stack[-1]]["name"])

    def dur(self, span: dict) -> float:
        return span["end"] - span["start"]

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # ------------------------------------------------------ Spark counters

    def _rest(self, path: str):
        url = self.sc.uiWebUrl
        port = url.rsplit(":", 1)[1]
        app = self.sc.applicationId
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}", timeout=30
        ) as r:
            return json.load(r)

    def attach_spark_counters(self) -> None:
        """Give every span the stage counters of the jobs its own group ran
        (jobs of child spans stay with the child). Waits for the UI's
        listener to catch up with the status tracker first."""
        st = self.sc.statusTracker()
        want = {}
        for s in self.spans:
            want[s["group"]] = sorted(st.getJobIdsForGroup(s["group"]))
        n_jobs = sum(len(v) for v in want.values())
        jobs = {}
        deadline = time.time() + 30
        while time.time() < deadline:
            jobs = {j["jobId"]: j for j in self._rest("jobs")}
            done = [j for ids in want.values() for j in ids
                    if jobs.get(j, {}).get("status") in ("SUCCEEDED", "FAILED")]
            if len(done) == n_jobs:
                break
            time.sleep(0.2)
        stages = {}
        for st_ in self._rest("stages"):
            stages.setdefault(st_["stageId"], st_)
        # bytes of parquet files the scans selected, per job: the SQL
        # scan metric (stage inputBytes under-counts vectorized reads)
        scan_bytes = {}
        for ex in self._rest("sql?details=true&planDescription=false&length=1000000"):
            n = sum(_size(m["value"]) for node in ex.get("nodes", [])
                    if node["nodeName"].startswith("Scan")
                    for m in node.get("metrics", []) if m["name"] == "size of files read")
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if ids:
                scan_bytes[min(ids)] = n
        for s in self.spans:
            c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                 "single_task_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                 "input_bytes": 0, "output_bytes": 0, "input_records": 0,
                 "output_records": 0, "job_wall_s": 0.0, "scan_bytes": 0}
            for jid in want[s["group"]]:
                j = jobs.get(jid)
                if j is None:
                    continue
                c["jobs"] += 1
                c["job_wall_s"] += _wall(j)
                c["scan_bytes"] += scan_bytes.get(jid, 0)
                for sid in j["stageIds"]:
                    g = stages.get(sid)
                    if g is None or g["status"] != "COMPLETE":
                        continue  # skipped (reused shuffle output)
                    run = g["executorRunTime"] / 1000.0
                    c["stages"] += 1
                    c["tasks"] += g["numCompleteTasks"]
                    c["executor_run_s"] += run
                    if g["numTasks"] == 1:
                        c["single_task_run_s"] += run
                    c["gc_s"] += g["jvmGcTime"] / 1000.0
                    c["shuffle_write_bytes"] += g["shuffleWriteBytes"]
                    c["input_bytes"] += g["inputBytes"]
                    c["output_bytes"] += g["outputBytes"]
                    c["input_records"] += g["inputRecords"]
                    c["output_records"] += g["outputRecords"]
            s["spark"] = c

    def spark_total(self, spans: list[dict], key: str) -> float:
        """``key`` summed over ``spans`` and all their descendants."""
        ids = {s["id"] for s in spans}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            grew = bool(more)
            ids |= more
        return sum(self.spans[i]["spark"][key] for i in ids)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size(text: str) -> int:
    """Bytes from a formatted SQL size metric ("9.3 MiB", or a
    "total (min, med, max ...)" block whose last line starts with the total)."""
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", text.strip().split("\n")[-1])
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) if m else 0


def _wall(job: dict) -> float:
    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
    try:
        a = datetime.strptime(job["submissionTime"], fmt)
        b = datetime.strptime(job["completionTime"], fmt)
    except (KeyError, ValueError):
        return 0.0
    return (b - a).total_seconds()


def plan_rows(df, match) -> int:
    """Sum of ``numOutputRows`` over the executed physical plan nodes of
    ``df``'s last action for which ``match(simple_string)`` holds, looking
    through adaptive query stages. Used for counts a layer computes inside
    one plan (e.g. candidate pairs before verification). Raises if no
    node matches, so a plan that changed shape cannot read as 0."""
    total, matched = 0, 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(node.plan())
            continue
        if match(node.simpleString(200)):
            m = node.metrics().get("numOutputRows")
            if m.isDefined():
                total += int(m.get().value())
                matched += 1
        ch = node.children()
        for i in range(ch.size()):
            todo.append(ch.apply(i))
    if not matched:
        raise RuntimeError("plan_rows: no plan node matched; the plan changed shape")
    return total
