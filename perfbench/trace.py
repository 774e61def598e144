"""Spans around calls into the program's layers, and their Spark stage
metrics folded from a local event log.

A span is (id, name, parent, start, end), kept in memory.  While a span is
open, its id rides on the Spark local property ``perfbench.span``, so every
job the call submits carries it into the event log; after the session
stops, :func:`read_event_log` reads the log back and credits each stage to
the innermost span that was open when its job started.

The program is never edited: the spans come from the benchmark's own calls
and from wrappers it installs on the layers' public functions for the
traced run only (:meth:`Tracer.install`).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
EXTRACT_TOKEN = "MapInPandas _nerzo_extract_link("
# catalog_mix queries whose plans cross into Python workers
PYTHON_QUERIES = ("e1_recall_at_k", "e2_rprecision")
MB = 1e6


class Tracer:
    """Span recorder.  ``enabled=False`` makes :meth:`span` a plain
    pass-through, so untraced runs execute the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": str(len(self.spans)), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, rec["id"])
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, prev)

    def _wrap(self, owner, attr: str, name: str, when=None) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if when is not None and not when(*args, **kwargs):
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public layer entry points that the pipeline reaches
        from inside other layers.  Module attributes are patched where the
        caller looks them up (a name imported at module top is looked up in
        the importing module)."""
        from pyspark.sql.readwriter import DataFrameWriter

        import nerzo_spark.operators.canonicalize as canonicalize
        import nerzo_spark.operators.dedup as dedup
        import nerzo_spark.operators.topk as topk
        import nerzo_spark.pipeline.incremental as incremental
        import nerzo_spark.pipeline.kg as kg
        import nerzo_spark.sources.iceberg as iceberg
        from nerzo_spark.pipeline.manifest import ManifestStore

        canon = "operators.canonicalize.canonical_overrides"
        catalog = "pipeline.kg.build_label_catalog"
        self._wrap(canonicalize, "canonical_overrides", canon)
        self._wrap(incremental, "canonical_overrides", canon)
        self._wrap(kg, "build_label_catalog", catalog)
        self._wrap(incremental, "build_label_catalog", catalog)
        self._wrap(iceberg, "write_overwrite_dynamic",
                   "sources.iceberg.write_overwrite_dynamic")
        self._wrap(ManifestStore, "filter_uncommitted",
                   "pipeline.manifest.filter_uncommitted")
        self._wrap(ManifestStore, "commit", "pipeline.manifest.commit")
        self._wrap(topk, "knn_self_join", "operators.topk.knn_self_join")
        self._wrap(dedup, "minhash_lsh_pairs_rowform",
                   "operators.dedup.minhash_lsh_pairs_rowform")
        # build_triples only builds a lazy plan; it runs when the resumable
        # sink writes the triples table, so that write is its span.
        self._wrap(DataFrameWriter, "parquet", "pipeline.kg.build_triples",
                   when=lambda _w, path, *a, **k: str(path).rstrip("/").endswith("/triples"))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def _walk_plan(node: dict, acc_meta: dict) -> None:
    for m in node.get("metrics", []):
        acc_meta[m["accumulatorId"]] = (node["nodeName"], node.get("simpleString", ""), m["name"])
    for child in node.get("children", []):
        _walk_plan(child, acc_meta)


def read_event_log(log_dir: str) -> dict:
    """Fold one application's event log into per-stage records.

    Returns ``{"stages": [...], "acc_meta": {acc_id: (node, plan, metric)},
    "exec_accums": {exec_id: {acc_id: value}}}``.  Each stage record holds
    its span id, wall seconds, summed task metrics and the per-accumulator
    sum of its task updates (SQL metrics such as the Python worker times).
    """
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    acc_meta: dict = {}
    exec_accums: dict = defaultdict(lambda: defaultdict(int))
    job_props: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"], acc_meta)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    exec_accums[ev["executionId"]][acc_id] += int(value)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_props[ev["Job ID"]] = props
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                tm = ev.get("Task Metrics") or {}
                st["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                srm = tm.get("Shuffle Read Metrics", {})
                st["shuffle_read_b"] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                st["shuffle_write_b"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                st["output_b"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in ev["Task Info"].get("Accumulables", []):
                    upd = acc.get("Update")
                    if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                        st["accums"][acc["ID"]] += int(upd)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                sub, done = info.get("Submission Time"), info.get("Completion Time")
                if sub and done:
                    st["wall_s"] += (done - sub) / 1e3
    out = []
    for sid, st in stages.items():
        props = job_props.get(stage_job.get(sid), {})
        st["id"] = sid
        st["job"] = stage_job.get(sid)
        st["span"] = props.get(SPAN_PROP)
        ex = props.get("spark.sql.execution.id")
        st["exec"] = int(ex) if ex is not None else None
        out.append(st)
    return {"stages": out, "acc_meta": acc_meta, "exec_accums": exec_accums,
            "jobs": {j: p.get(SPAN_PROP) for j, p in job_props.items()}}


def _new_stage() -> dict:
    return {"wall_s": 0.0, "task_s": 0.0, "gc_s": 0.0, "shuffle_read_b": 0,
            "shuffle_write_b": 0, "spill_b": 0, "output_b": 0,
            "accums": defaultdict(int)}


class Folded:
    """Queries over the folded log, restricted to the spans of timed ops."""

    def __init__(self, log: dict, spans: list[dict]):
        self.log = log
        self.spans = {s["id"]: s for s in spans}
        self.children: dict = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])

    def subtree(self, span_id: str) -> set[str]:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(self.children[sid])
        return out

    def named(self, name: str, within: set[str]) -> list[str]:
        return [sid for sid in within if self.spans[sid]["name"] == name]

    def stages_in(self, span_ids: set[str]) -> list[dict]:
        return [st for st in self.log["stages"] if st["span"] in span_ids]

    def jobs_in(self, span_ids: set[str]) -> int:
        return sum(1 for sp in self.log["jobs"].values() if sp in span_ids)

    def accum_ids(self, metric: str, node_pred) -> set[int]:
        return {acc for acc, (node, plan, name) in self.log["acc_meta"].items()
                if name == metric and node_pred(node, plan)}

    def accum_sum(self, stages: list[dict], ids: set[int]) -> int:
        return sum(v for st in stages for acc, v in st["accums"].items() if acc in ids)

    def exec_sum(self, stages: list[dict], ids: set[int]) -> int:
        execs = {st["exec"] for st in stages if st["exec"] is not None}
        return sum(v for ex in execs for acc, v in self.log["exec_accums"].get(ex, {}).items()
                   if acc in ids)

    def wall(self, span_ids) -> float:
        return sum(self.spans[s]["end"] - self.spans[s]["start"] for s in span_ids)


def _is_extract(node: str, plan: str) -> bool:
    return EXTRACT_TOKEN in plan


def _is_python(node: str, plan: str) -> bool:
    return "Python" in node or "Pandas" in node or "Arrow" in node


def layer_metrics(log: dict, spans: list[dict], op_span_ids: list[str],
                  query_names: list[str]) -> dict[str, float]:
    """Per-op layer metrics over the timed ops ``op_span_ids``."""
    f = Folded(log, spans)
    n_ops = max(len(op_span_ids), 1)
    scope: set[str] = set()
    for sid in op_span_ids:
        scope |= f.subtree(sid)
    m: dict[str, float] = {}

    def per_op(v: float) -> float:
        return v / n_ops

    def subtree_of(name: str) -> set[str]:
        out: set[str] = set()
        for sid in f.named(name, scope):
            out |= f.subtree(sid)
        return out

    all_stages = f.stages_in(scope)
    py_time = f.accum_ids("time to run Python workers", _is_python)
    py_sent = f.accum_ids("data sent to Python workers", _is_python)
    py_back = f.accum_ids("data returned from Python workers", _is_python)
    py_rows = f.accum_ids("number of output rows", _is_python)
    written_files = f.accum_ids("number of written files", lambda n, p: True)

    # extract_link: credited through the stages that run its MapInPandas.
    ex = {name: f.accum_ids(name, _is_extract) for name in (
        "time to run Python workers", "time to initialize Python workers",
        "data sent to Python workers", "data returned from Python workers",
        "number of output rows")}
    ex_any = set().union(*ex.values())
    ex_stages = [st for st in all_stages if any(a in ex_any for a in st["accums"])]
    rows_out = f.accum_sum(ex_stages, ex["number of output rows"])
    out_b = f.accum_sum(ex_stages, ex["data returned from Python workers"])
    p = "operators.extract_link."
    m[p + "wall_s"] = per_op(sum(st["wall_s"] for st in ex_stages))
    m[p + "task_s"] = per_op(sum(st["task_s"] for st in ex_stages))
    m[p + "python_s"] = per_op(f.accum_sum(ex_stages, ex["time to run Python workers"]) / 1e3)
    m[p + "python_init_s"] = per_op(f.accum_sum(ex_stages, ex["time to initialize Python workers"]) / 1e3)
    m[p + "arrow_in_mb"] = per_op(f.accum_sum(ex_stages, ex["data sent to Python workers"]) / MB)
    m[p + "arrow_out_mb"] = per_op(out_b / MB)
    m[p + "rows_out"] = per_op(rows_out)
    m[p + "arrow_out_bytes_per_row"] = out_b / rows_out if rows_out else 0.0

    m["pipeline.kg.build_label_catalog.wall_s"] = per_op(
        f.wall(f.named("pipeline.kg.build_label_catalog", scope)))

    # surface aggregate: the stages run_kg_pipeline submits itself (not in a
    # child span) other than the extraction stage feeding them.
    ex_ids = {st["id"] for st in ex_stages}
    own = set(f.named("pipeline.kg.run_kg_pipeline", scope))
    agg = [st for st in f.stages_in(own) if st["id"] not in ex_ids]
    m["pipeline.kg.surface_agg.wall_s"] = per_op(sum(st["wall_s"] for st in agg))
    m["pipeline.kg.surface_agg.shuffle_mb"] = per_op(sum(st["shuffle_read_b"] for st in agg) / MB)

    canon = subtree_of("operators.canonicalize.canonical_overrides")
    p = "operators.canonicalize.canonical_overrides."
    m[p + "wall_s"] = per_op(f.wall(f.named("operators.canonicalize.canonical_overrides", scope)))
    m[p + "jobs"] = per_op(f.jobs_in(canon))
    m[p + "shuffle_mb"] = per_op(sum(st["shuffle_write_b"] for st in f.stages_in(canon)) / MB)

    tc = subtree_of("pipeline.kg.triples_count")
    tc_stages = f.stages_in(tc)
    p = "pipeline.kg.triples_count."
    m[p + "wall_s"] = per_op(f.wall(f.named("pipeline.kg.triples_count", scope)))
    m[p + "python_s"] = per_op(f.accum_sum(tc_stages, py_time) / 1e3)
    m[p + "arrow_in_mb"] = per_op(f.accum_sum(tc_stages, py_sent) / MB)

    for name, span_name in (("pipeline.kg.build_triples", "pipeline.kg.build_triples"),
                            ("sources.iceberg.write_overwrite_dynamic",
                             "sources.iceberg.write_overwrite_dynamic")):
        sub = subtree_of(span_name)
        stg = f.stages_in(sub)
        m[name + ".wall_s"] = per_op(f.wall(f.named(span_name, scope)))
        m[name + ".files_written"] = per_op(f.exec_sum(stg, written_files))
        if name == "pipeline.kg.build_triples":
            m[name + ".shuffle_mb"] = per_op(sum(st["shuffle_write_b"] for st in stg) / MB)
        else:
            m[name + ".bytes_written_mb"] = per_op(sum(st["output_b"] for st in stg) / MB)

    for name in ("pipeline.manifest.filter_uncommitted", "pipeline.manifest.commit",
                 "operators.topk.knn_self_join", "operators.dedup.minhash_lsh_pairs_rowform"):
        m[name + ".wall_s"] = per_op(f.wall(f.named(name, scope)))
    for name in ("operators.topk.knn_self_join", "operators.dedup.minhash_lsh_pairs_rowform"):
        m[name + ".jobs"] = per_op(f.jobs_in(subtree_of(name)))

    for q in query_names:
        sub = subtree_of(f"plans.{q}")
        stg = f.stages_in(sub)
        p = f"plans.{q}."
        m[p + "wall_s"] = per_op(f.wall(f.named(f"plans.{q}", scope)))
        m[p + "jobs"] = per_op(f.jobs_in(sub))
        m[p + "shuffle_mb"] = per_op(sum(st["shuffle_write_b"] for st in stg) / MB)
        if q in PYTHON_QUERIES:
            m[p + "python_s"] = per_op(f.accum_sum(stg, py_time) / 1e3)
            m[p + "arrow_out_rows"] = per_op(f.accum_sum(stg, py_rows))
            m[p + "arrow_out_mb"] = per_op(f.accum_sum(stg, py_back) / MB)

    m["spark.gc_s"] = per_op(sum(st["gc_s"] for st in all_stages))
    m["spark.spill_mb"] = per_op(sum(st["spill_b"] for st in all_stages) / MB)
    return m
