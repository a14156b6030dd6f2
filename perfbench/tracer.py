"""Layer spans for the traced benchmark run, recorded from outside the engine.

``Tracer.install`` replaces every public function of each layer module (and
the ``FeatureStore`` methods) with a ``Traced`` wrapper, in every engine
module that holds a reference to it. A wrapper opens a span only when the
call crosses into its layer from another one, on the benchmark's own thread;
calls inside a layer, and calls from engine threads, pass straight through.

Each span carries a Spark job tag, so every job the JVM runs while the span
is innermost is attributed to it. Stage metrics come from the UI's REST API
(``/api/v1/applications/<app>/jobs`` and ``/stages``) once the run is over.
Py4J round trips are counted by wrapping the gateway client's
``send_command``. Spans stay in memory until ``layer_table`` aggregates
them; ``records`` then holds one row per span for writing out.
"""

from __future__ import annotations

import copy
import functools
import inspect
import json
import statistics
import sys
import threading
import time
import types
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

PKG = "feature_store_ml_spark"

#: layer name -> engine module whose public functions form its surface
LAYERS = {
    "session": f"{PKG}.session",
    "io.sources": f"{PKG}.io.sources",
    "queries": f"{PKG}.queries",
    "feature_store": f"{PKG}.feature_store",
    "io.lakehouse": f"{PKG}.io.lakehouse",
    "io.iceberg": f"{PKG}.io.iceberg",
    "io.skipping": f"{PKG}.io.skipping",
    "operators.features": f"{PKG}.operators.features",
    "operators.text": f"{PKG}.operators.text",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.similarity": f"{PKG}.operators.similarity",
}

#: per-layer metrics, all per timed pass except ``session`` (per run)
LAYER_FIELDS = (
    "calls", "self_s", "driver_s", "py4j", "py4j_spread",
    "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb",
)

TAG_PREFIX = "pbspan-"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    pass_no: int
    t0: float = 0.0
    t1: float = 0.0
    py4j: int = 0
    children: list[tuple[float, float]] = field(default_factory=list)


class Traced:
    """Stand-in for one engine function. Pickles as the function itself,
    so a Python UDF that closes over it ships the original to workers."""

    def __init__(self, fn, layer: str, tracer: "Tracer"):
        functools.update_wrapper(self, fn)
        self.fn, self.layer, self.tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        tr = self.tracer
        if not tr.crossing(self.layer):
            return self.fn(*args, **kwargs)
        with tr.span(self.layer, self.fn.__name__):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, owner=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return copy.copy, (self.fn,)


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.pass_no = -1
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.sc = None
        self.windows: list[tuple[float, float]] = []  # traced passes
        self.records: list[dict] = []  # finished spans with their Spark work
        self._own_call = False
        self._thread = threading.main_thread()
        self._next = 0

    # -- spans --------------------------------------------------------------
    def crossing(self, layer: str) -> bool:
        return (
            self.active
            and threading.current_thread() is self._thread
            and (not self.stack or self.stack[-1].layer != layer)
        )

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _tag(self, op: str, sid: int) -> None:
        if self.sc is None:
            return
        self._own_call = True
        try:
            getattr(self.sc, op)(f"{TAG_PREFIX}{sid}")
        finally:
            self._own_call = False

    # -- wiring -------------------------------------------------------------
    def attach(self, sc) -> None:
        """Count py4j round trips of the benchmark thread per innermost span."""
        self.sc = sc
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if (
                self.active
                and self.stack
                and not self._own_call
                and threading.current_thread() is self._thread
            ):
                self.stack[-1].py4j += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def install(self) -> int:
        """Wrap each layer's public functions wherever the engine refers to
        them. Returns the number of wrapped functions."""
        import importlib

        swap = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    swap[obj] = Traced(obj, layer, self)
        fs = importlib.import_module(LAYERS["feature_store"]).FeatureStore
        for name, obj in list(vars(fs).items()):
            if not name.startswith("_") and inspect.isfunction(obj):
                setattr(fs, name, Traced(obj, "feature_store", self))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in swap:
                    setattr(mod, name, swap[obj])
        return len(swap)

    # -- collection ---------------------------------------------------------
    def _rest(self, what: str) -> list[dict]:
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{what}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def settled_jobs(self) -> list[dict]:
        """All jobs, once the UI's listener has caught up with the JVM."""
        last = -1
        for _ in range(100):
            jobs = self._rest("jobs")
            if len(jobs) == last and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            last = len(jobs)
            time.sleep(0.2)
        return jobs

    def begin_pass(self, pass_no: int, traced: bool) -> None:
        self.pass_no, self.active = pass_no, traced
        if traced:
            self.windows.append((time.time(), float("inf")))

    def end_pass(self) -> None:
        if self.windows and self.windows[-1][1] == float("inf"):
            self.windows[-1] = (self.windows[-1][0], time.time())
        self.active = False

    def _in_window(self, job: dict) -> bool:
        t = _ts(job.get("submissionTime"))
        return t is not None and any(a <= t <= b for a, b in self.windows)

    def layer_table(self, passes: int) -> dict[str, float]:
        """Per-layer metrics: timed-phase sums divided by ``passes``; the
        ``session`` layer is reported per run. Also ``spark.*``."""
        jobs = [j for j in self.settled_jobs() if self._in_window(j)]
        stages = {(s["stageId"], s["attemptId"]): s for s in self._rest("stages")}
        by_stage: dict[int, list[dict]] = {}
        for s in stages.values():
            by_stage.setdefault(s["stageId"], []).append(s)
        per_span: dict[int, dict] = {}
        seen_stages: set[int] = set()
        unattributed = 0
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sids = [
                int(t[len(TAG_PREFIX):]) for t in j.get("jobTags", ())
                if t.startswith(TAG_PREFIX)
            ]
            if not sids:
                unattributed += 1
                continue
            acc = per_span.setdefault(
                max(sids),
                {"jobs": 0, "tasks": 0, "cpu_ns": 0, "shuffle": 0, "spill": 0, "iv": []},
            )
            acc["jobs"] += 1
            acc["iv"].append((_ts(j.get("submissionTime")), _ts(j.get("completionTime"))))
            for sid in j["stageIds"]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for s in by_stage.get(sid, ()):
                    acc["tasks"] += s["numCompleteTasks"]
                    acc["cpu_ns"] += s["executorCpuTime"]
                    acc["shuffle"] += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                    acc["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]

        out: dict[str, float] = {}
        per_round_py4j: dict[str, dict[int, int]] = {}
        totals = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        for sp in self.spans:
            t = totals[sp.layer]
            own = _subtract([(sp.t0, sp.t1)], sp.children)
            self_s = _length(own)
            acc = per_span.get(sp.sid)
            job_iv = [(a, b) for a, b in (acc["iv"] if acc else ()) if a and b]
            self.records.append({
                "sid": sp.sid, "parent": sp.parent, "layer": sp.layer, "name": sp.name,
                "round": sp.pass_no, "t0": sp.t0, "t1": sp.t1, "self_s": self_s,
                "py4j": sp.py4j,
                **{k: v for k, v in (acc or {}).items() if k != "iv"},
            })
            t["calls"] += 1
            t["self_s"] += self_s
            t["driver_s"] += self_s - _length(_intersect(own, _union(job_iv)))
            t["py4j"] += sp.py4j
            per_round_py4j.setdefault(sp.layer, {}).setdefault(sp.pass_no, 0)
            per_round_py4j[sp.layer][sp.pass_no] += sp.py4j
            if acc:
                t["jobs"] += acc["jobs"]
                t["tasks"] += acc["tasks"]
                t["cpu_s"] += acc["cpu_ns"] / 1e9
                t["shuffle_mb"] += acc["shuffle"] / 2**20
                t["spill_mb"] += acc["spill"] / 2**20
        for layer, t in totals.items():
            div = 1 if layer == "session" else max(passes, 1)
            counts = [v for p, v in per_round_py4j.get(layer, {}).items() if p >= 0]
            for k in LAYER_FIELDS:
                out[f"{layer}.{k}"] = t[k] / div
            out[f"{layer}.py4j_spread"] = _spread(counts)
        out["spark.jobs"] = len(jobs) / max(passes, 1)
        out["spark.unattributed_jobs"] = unattributed / max(passes, 1)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tr, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span | None:
        tr = self.tr
        if not tr.active:
            self.sp = None
            return None
        tr._next += 1
        parent = tr.stack[-1].sid if tr.stack else None
        self.sp = Span(tr._next, parent, self.layer, self.name, tr.pass_no)
        tr._tag("addJobTag", self.sp.sid)
        tr.stack.append(self.sp)
        self.sp.t0 = time.time()
        return self.sp

    def __exit__(self, *exc) -> None:
        sp, tr = self.sp, self.tr
        if sp is None:
            return
        sp.t1 = time.time()
        tr.stack.pop()
        tr._tag("removeJobTag", sp.sid)
        if tr.stack:
            tr.stack[-1].children.append((sp.t0, sp.t1))
        tr.spans.append(sp)


class NullTracer(Tracer):
    """The untraced run: spans cost one attribute test."""

    def span(self, layer: str, name: str):
        return _NULL


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return None


_NULL = _Null()


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _intersect(xs, ys) -> list[tuple[float, float]]:
    return [
        (max(a, c), min(b, d))
        for a, b in xs for c, d in ys
        if min(b, d) > max(a, c)
    ]


def _subtract(xs, holes) -> list[tuple[float, float]]:
    out = list(xs)
    for c, d in _union(holes):
        nxt = []
        for a, b in out:
            if d <= a or c >= b:
                nxt.append((a, b))
                continue
            if c > a:
                nxt.append((a, c))
            if d < b:
                nxt.append((d, b))
        out = nxt
    return out


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


def _spread(values: list[int]) -> float:
    """(max - min) / median of per-pass counts; 0 for fewer than two."""
    if len(values) < 2:
        return 0.0
    med = statistics.median(values)
    return (max(values) - min(values)) / med if med else 0.0
