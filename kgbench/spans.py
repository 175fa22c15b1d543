"""In-memory spans for the traced run.

One span per layer call, recorded from the benchmark's own code around
each call into ``rdf_spark``: name, start, end, parent span, run id and
the Spark job/stage/task counts of the jobs the call ran.  Spans stay in
memory and are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, jobs=None):
        self.run_id = run_id
        self.jobs = jobs  # common.JobCounter or None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "run": self.run_id, "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        gid = self.jobs.group(name) if self.jobs is not None else None
        rec["_gid"] = gid
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if gid is not None:
                rec.update(self.jobs.counts(gid))
                for c in self.spans[sid + 1:]:  # children ran in their own groups
                    if c["parent"] == sid:
                        for k in ("jobs", "stages", "tasks"):
                            rec[k] += c[k]
                # restore the enclosing span's group for its later jobs
                parent = self.spans[rec["parent"]] if rec["parent"] is not None else None
                if parent is not None and "_gid" in parent:
                    self.jobs.sc.setJobGroup(parent["_gid"], parent["name"])
                else:
                    self.jobs.sc.setJobGroup("kgbench-untraced", "outside any span")

    def find(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[sid]
        ivs = sorted((c["start"], c["end"]) for c in self.spans
                     if c["parent"] == sid)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if not k.startswith("_")}
                rec["start"] -= t0
                rec["end"] -= t0
                rec["self_s"] = self.self_time(s["id"])
                f.write(json.dumps(rec) + "\n")
