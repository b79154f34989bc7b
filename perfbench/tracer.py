"""Tracing from outside the program.

``Tracer.install()`` replaces the public calls each layer exposes with
timed wrappers, from the benchmark's own files; the program itself
carries no instrumentation. Each span records (name, start, end,
parent, run id) in memory, runs under its own Spark job group so the
status tracker attributes jobs, stages, tasks and failed tasks to it,
and the spans are written out as JSON lines when the run ends.

Layer names and what is wrapped:

===============  =====================================================
layer            wrapped call (module attribute or class method)
===============  =====================================================
pipeline         ``KGConstructionPipeline.run`` / ``run_incremental``
pages            ``extract_page_triples`` as imported by the pipeline
materialize      ``materialize_table``, ``read_latest_snapshot``
local_extract    ``KGConstructionPipeline._extract_entities_sink`` (the
                 sink-fused stage: kernel run and snapshot commit)
extract          ``BulkCBDShapeExtractor.extract``
linking          ``link_mentions`` as imported by the pipeline
closure          ``connected_components_driver`` / ``connected_components``
bgp              ``bgp.bgp_describe``
===============  =====================================================

Three layers return lazy plans that the program executes later, inside
another layer's call: the page parse and the linking join run inside
``materialize_table``'s write. Their wrappers therefore drive a copy of
the returned plan into Spark's ``noop`` sink inside the layer's span
(counting its rows with an ``Observation``) and hand the untouched plan
back to the program. That work is done twice in a traced run; it is
part of what ``Tracer.overhead_s`` reports.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List


class NullTracer:
    """Stand-in for an untraced run: spans cost nothing and record
    nothing."""

    @contextmanager
    def span(self, name: str, **attrs):
        yield {}

    def count(self, key: str, value: float) -> None:
        pass


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: List[dict] = []
        self.counts: Dict[str, float] = defaultdict(float)
        self._stack: List[dict] = []
        self._restore: List[tuple] = []
        self.bookkeeping_s = 0.0  # time spent recording spans

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, **attrs}
        rec["group"] = f"{self.run_id}-{rec['id']}"
        t0 = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        except BaseException as e:
            rec["error"] = type(e).__name__
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._job_stats(rec["group"]))
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def _job_stats(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks, failed = 0, 0, 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:  # skipped (reused shuffle output)
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    def count(self, key: str, value: float) -> None:
        self.counts[key] += value

    # --------------------------------------------------------- patching

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _plain(self, layer: str, **attrs):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(layer, **attrs):
                    return orig(*a, **kw)
            return wrapper
        return make

    def _driven(self, layer: str, rows_key: str, observe_input=None):
        """Wrapper for a call returning a lazy plan: time a noop-sink run
        of a copy of the plan inside the span."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def make(orig):
            def wrapper(*a, **kw):
                out = orig(*a, **kw)
                with self.span(layer):
                    obs_out = Observation()
                    args = list(a)
                    obs_in = None
                    if observe_input is not None:
                        obs_in = Observation()
                        args[0] = args[0].observe(
                            obs_in, F.count(F.lit(1)).alias("n"))
                    orig(*args, **kw).observe(
                        obs_out, F.count(F.lit(1)).alias("n")
                    ).write.format("noop").mode("overwrite").save()
                self.count(rows_key, obs_out.get["n"])
                if obs_in is not None:
                    self.count(observe_input, obs_in.get["n"])
                return out
            return wrapper
        return make

    def _materialize(self, orig):
        import os

        def wrapper(df, path, stage, *a, **kw):
            table = os.path.basename(path.rstrip("/"))
            with self.span("materialize", table=table):
                m = orig(df, path, stage, *a, **kw)
            own = os.path.join(path, m["data_dirs"][-1])
            n_files, n_bytes = 0, 0
            for root, _d, files in os.walk(own):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n_files += 1
                        n_bytes += os.path.getsize(os.path.join(root, fn))
            self.count("materialize.files_written", n_files)
            self.count("materialize.bytes_written", n_bytes)
            self.count("materialize.rows_written",
                       m.get("delta_rows", m["rows"]))
            if table == "raw_triples":  # the fan-out every read opens
                self.counts["materialize.data_dirs_last"] = len(
                    m["data_dirs"])
            return m
        return wrapper

    def _local_extract(self, orig):
        def wrapper(*a, **kw):
            with self.span("local_extract"):
                m = orig(*a, **kw)
            self.count("local_extract.quads_out",
                       m.get("delta_rows", m["rows"]))
            return m
        return wrapper

    def _closure(self, orig):
        def wrapper(edges, *a, **kw):
            with self.span("closure"):
                comps = orig(edges, *a, **kw)
            with self.span("trace.count"):
                self.count("closure.edges_in", edges.count())
                self.count("closure.components",
                           comps.select("component").distinct().count())
            return comps
        return wrapper

    def install(self) -> "Tracer":
        from extract_cbd_shape_spark.operators import bgp as bgp_mod
        from extract_cbd_shape_spark.operators.extract import (
            BulkCBDShapeExtractor,
        )
        from extract_cbd_shape_spark.plans import pipeline as pl
        from extract_cbd_shape_spark.sinks import materialize as mat

        P = pl.KGConstructionPipeline
        self._patch(P, "run", self._plain("pipeline", op="run"))
        self._patch(P, "run_incremental",
                    self._plain("pipeline", op="run_incremental"))
        self._patch(pl, "extract_page_triples",
                    self._driven("pages", "pages.triples_out"))
        self._patch(pl, "materialize_table", self._materialize)
        for owner in (pl, mat):
            self._patch(owner, "read_latest_snapshot",
                        self._plain("materialize.read"))
        self._patch(P, "_extract_entities_sink", self._local_extract)
        self._patch(BulkCBDShapeExtractor, "extract", self._plain("extract"))
        self._patch(pl, "link_mentions",
                    self._driven("linking", "linking.links_out",
                                 observe_input="linking.mentions_in"))
        self._patch(pl, "connected_components_driver", self._closure)
        self._patch(pl, "connected_components", self._closure)
        self._patch(bgp_mod, "bgp_describe", self._plain("bgp"))
        return self

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------------- reporting

    def layer_totals(self) -> dict:
        """Per span name: self time (span time minus the time its direct
        children cover), jobs, stages, tasks, failed tasks."""
        spans = [s for s in self.spans if "end" in s]
        child_time: Dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, Dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for s in spans:
            t = out[s["name"]]
            t["self_s"] += s["end"] - s["start"] - child_time[s["id"]]
            t["spans"] += 1
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                t[k] += s.get(k, 0)
            if "table" in s:
                out[f"materialize.{s['table']}"]["self_s"] += (
                    s["end"] - s["start"] - child_time[s["id"]])
        return out

    def overhead_s(self) -> float:
        """Time the tracer added to the traced ops: the ``noop``
        re-runs of lazy layers, its counting jobs and span bookkeeping."""
        T = self.layer_totals()
        return self.bookkeeping_s + sum(
            T[k]["self_s"] for k in ("pages", "linking", "trace.count")
            if k in T)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
