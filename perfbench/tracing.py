"""Spans for the traced run, recorded from the benchmark's own files.

:class:`Tracer` wraps the engine's public seams — the worker plugin and
writer registries, ``plans.pipeline.message_to_jobs``,
``sinks.save.callback_move`` and ``streaming.runner.process_message`` —
with timing wrappers, and restores the originals on :meth:`uninstall`.
Each span records name, start, end, parent span and job id; spans stay
in memory until :meth:`dump`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time

# worker plugin -> span name (its layer)
PLUGIN_SPANS = {
    "create_scene": "sources.create_scene",
    "scene_to_wide": "sources.to_wide",
    "check_metadata": "operators.checks",
    "sza_check": "operators.checks",
    "check_sunlight_coverage": "operators.checks",
    "covers": "operators.checks",
    "check_valid_data_fraction": "operators.valid_fraction",
    "load_composites": "operators.composites",
    "resample": "operators.resample",
    "save_datasets": "sinks.save",
    "publish": "sinks.publish",
}

#: plugins that prune work items; their kept/checked counts feed
#: operators.items_kept_ratio
PRUNING_PLUGINS = {"check_metadata", "sza_check", "check_sunlight_coverage", "covers",
                   "check_valid_data_fraction"}


def _path_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.job_groups: dict[str, set[str]] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, job: str | None = None, **attrs):
        st = self._stack()
        parent = st[-1] if st else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "job": job if job is not None else (parent["job"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    def current_job(self) -> str | None:
        st = self._stack()
        return st[-1]["job"] if st else None

    # -- wrappers ------------------------------------------------------------

    def _set(self, owner, key, value) -> None:
        if isinstance(owner, dict):
            old = owner[key]
            owner[key] = value
            self._undo.append(lambda: owner.__setitem__(key, old))
        else:
            old = getattr(owner, key)
            setattr(owner, key, value)
            self._undo.append(lambda: setattr(owner, key, old))

    def _plugin(self, name: str, fn):
        span_name = PLUGIN_SPANS.get(name, f"plugins.{name}")

        @functools.wraps(fn)
        def wrapper(job, *args, **kwargs):
            n_in = len(job.get("work_items") or [])
            with self.span(span_name, plugin=name, items_in=n_in) as rec:
                if name == "create_scene":
                    rec["input_bytes"] = sum(_path_bytes(p) for p in job["input_filenames"])
                try:
                    return fn(job, *args, **kwargs)
                except Exception:
                    rec["items_out"] = 0
                    rec["aborted"] = True
                    raise
                finally:
                    rec.setdefault("items_out", len(job.get("work_items") or []))

        return wrapper

    def _timed(self, span_name: str, fn, job_of=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            job = job_of(*args, **kwargs) if job_of else None
            with self.span(span_name, job=job) as rec:
                out = fn(*args, **kwargs)
                if span_name == "config.expand":
                    rec["priority_batches"] = len(out)
                    rec["leaves"] = sum(len(j["work_items"]) for j in out.values())
                return out

        return wrapper

    def install(self, spark) -> None:
        from trollflow2_spark.plans import pipeline
        from trollflow2_spark.sinks import save
        from trollflow2_spark.streaming import runner

        for name, fn in list(pipeline.PLUGIN_REGISTRY.items()):
            self._set(pipeline.PLUGIN_REGISTRY, name, self._plugin(name, fn))
        for name, fn in list(save.WRITER_REGISTRY.items()):
            self._set(save.WRITER_REGISTRY, name, self._timed(f"sinks.write.{name}", fn))
        self._set(pipeline, "message_to_jobs",
                  self._timed("config.expand", pipeline.message_to_jobs))
        self._set(save, "callback_move", self._timed("sinks.commit", save.callback_move))
        self._set(runner, "process_message",
                  self._timed("plans.process_message", runner.process_message,
                              job_of=lambda _spark, message, *a, **k: message.get("uid")))

        # job groups name the Spark jobs of each priority batch; the
        # status tracker later counts the jobs per group
        sc = spark.sparkContext
        orig = sc.setJobGroup

        def set_job_group(group_id, description, interruptOnCancel=False):
            job = self.current_job()
            if group_id and job is not None:
                with self._lock:
                    self.job_groups.setdefault(job, set()).add(group_id)
            return orig(group_id, description, interruptOnCancel)

        sc.setJobGroup = set_job_group
        self._undo.append(lambda: delattr(sc, "setJobGroup"))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def spark_jobs(self, spark, job: str) -> int:
        tracker = spark.sparkContext.statusTracker()
        return sum(len(tracker.getJobIdsForGroup(g)) for g in self.job_groups.get(job, ()))

    # -- analysis ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps({**s, "self": selfs[s["id"]]}, default=str) + "\n")
