"""In-memory spans around calls into the package, plus the plan metrics of
the Spark jobs each span covered, read from the driver's own status REST
API (the local UI port; nothing leaves the host).

A span is opened around one call; every Spark job started inside it runs
under a job group named after the span, so the span learns its job ids from
the status tracker. Plan metrics are fetched after the span closes, outside
its interval. When the REST API is unreachable the metrics are absent,
never 0.
"""

from __future__ import annotations

import json
import re
import time
import urllib.error
import urllib.request
from contextlib import contextmanager

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_QTY = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)$")


def parse_metric(value: str) -> float | None:
    """Total of a formatted Spark SQL metric: '18.6 MiB', '8,664', or the
    'total (min, med, max ...)\\n3.7 s (...)' form. Sizes come back in bytes,
    times in seconds."""
    text = value.split("\n", 1)[1] if "\n" in value else value
    text = text.split(" (", 1)[0].strip()
    m = _QTY.match(text)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    return num * _UNITS[unit] if unit in _UNITS else None


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        self.bind(spark)

    def bind(self, spark) -> None:
        """Attach to a (new) session: spans after this read its REST API."""
        sc = spark.sparkContext
        self.sc = sc
        url = sc.uiWebUrl
        port = url.rsplit(":", 1)[1] if url else None
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}" if port else None
        )

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"perfbench-span-{self._seq}"
        rec = {
            "id": self._seq,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            "base": self.base,
        }
        self.spans.append(rec)
        self._stack.append(self._seq)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            rec["job_ids"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            if self._stack:
                parent = self.spans[self._stack[-1] - 1]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- plan metrics ------------------------------------------------------

    def _get(self, base: str, path: str):
        with urllib.request.urlopen(base + path, timeout=10) as r:
            return json.load(r)

    def collect_plan_metrics(self, rec: dict) -> None:
        """Fill rec['plan'] with the stage totals of the span's jobs and
        the metrics of every node of their SQL plans, one entry per node.
        Leaves it absent when the API cannot be read."""
        base = rec.get("base")
        if base is None or not rec.get("job_ids"):
            return
        try:
            plan = {"tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
                    "executor_run_s": 0.0, "sql": []}
            seen_stages = set()
            for jid in rec["job_ids"]:
                job = self._get(base, f"/jobs/{jid}")
                for sid in job["stageIds"]:
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    for st in self._get(base, f"/stages/{sid}"):
                        if st.get("status") != "COMPLETE":
                            continue
                        plan["tasks"] += st["numTasks"]
                        plan["input_bytes"] += st["inputBytes"]
                        plan["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                        plan["executor_run_s"] += st["executorRunTime"] / 1000.0
            jobs = set(rec["job_ids"])
            for ex in self._get(base, "/sql?details=true&planDescription=false&length=100000"):
                if not jobs & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                                  + ex.get("runningJobIds", [])):
                    continue
                for node in ex.get("nodes", []):
                    metrics = {}
                    for m in node.get("metrics", []):
                        v = parse_metric(m["value"])
                        if v is not None:
                            metrics[m["name"]] = v
                    plan["sql"].append({
                        "execution": ex["id"], "node": node["nodeId"],
                        "name": node["nodeName"].split(" (")[0], "metrics": metrics,
                    })
            # Spark numbers a plan's nodes parent first, so within one
            # execution a lower node id is nearer the sink.
            plan["sql"].sort(key=lambda n: (n["execution"], n["node"]))
            rec["plan"] = plan
        except (urllib.error.URLError, OSError, ValueError, KeyError):
            rec.pop("plan", None)

    def dump(self, path: str) -> None:
        keep = ("id", "name", "parent", "start", "end", "job_ids", "plan")
        with open(path, "w") as f:
            json.dump([{k: s[k] for k in keep if k in s} for s in self.spans], f, indent=1)
