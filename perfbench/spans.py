"""Benchmark-side tracing: spans around calls into the engine's modules.

A :class:`Tracer` records nested spans in memory. :func:`instrument`
replaces the engine's public functions with wrappers that open a span
around each call; every module-level binding of a function is patched,
so both ``module.fn`` and names imported with ``from module import fn``
go through the wrapper. Each span runs under its own Spark job group.
After the run, :meth:`Tracer.attach_spark` resolves each group's jobs,
stages and task counts through ``statusTracker()``, and
:meth:`Tracer.attach_task_metrics` its task metrics from the session's
event log. :func:`layer_metrics` turns the span
list into the ``<module>.<metric>`` figures listed in BENCHMARK.json.

Where a wrapped function returns a lazy DataFrame, the wrapper caches
and counts it inside the span, so the work lands in the layer that
planned it rather than in the next eager call. The cached frames are
released when the enclosing top-level operation ends.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import sys
import time

# (module, function, span name, materialize the returned DataFrame)
TARGETS = [
    ("raptor_rag_spark.operators.extract", "extract_pages", "extract", True),
    ("raptor_rag_spark.operators.chunk", "chunk_documents", "chunk", True),
    ("raptor_rag_spark.operators.embed", "embed_texts", "embed", True),
    ("raptor_rag_spark.operators.tile", "reduce_2d", "tile.reduce", True),
    ("raptor_rag_spark.operators.tree", "build_tree", "tree.build_tree", False),
    ("raptor_rag_spark.operators.tree", "build_level", "tree.build_level", True),
    ("raptor_rag_spark.operators.tree", "write_level", "tree.write_level", False),
    ("raptor_rag_spark.operators.tree", "read_level", "tree.read_level", False),
    ("raptor_rag_spark.operators.tree", "read_level_pruned", "tree.read_level_pruned", False),
    ("raptor_rag_spark.operators.tree", "refresh_manifest", "tree.refresh_manifest", False),
    ("raptor_rag_spark.operators.tree", "update_manifest_delta", "tree.update_manifest_delta", False),
    ("raptor_rag_spark.operators.tree", "storage_partition_counts", "tree.storage_partition_counts", False),
    ("raptor_rag_spark.streaming.incremental", "incremental_update", "incremental.update", False),
    ("raptor_rag_spark.streaming.incremental", "incremental_update_planned", "incremental.update", False),
    ("raptor_rag_spark.streaming.incremental", "append_level", "incremental.append_level", False),
    ("raptor_rag_spark.operators.retrieve", "embed_queries", "retrieve.embed_queries", True),
    ("raptor_rag_spark.operators.retrieve", "retrieve_collapsed", "retrieve.collapsed", True),
    ("raptor_rag_spark.operators.retrieve", "retrieve_traversal", "retrieve.traversal", True),
    ("raptor_rag_spark.operators.knn", "brute_force_knn", "knn.brute", True),
    ("raptor_rag_spark.operators.knn", "tile_knn", "knn.tile", True),
    ("raptor_rag_spark.operators.knn", "tile_knn_candidates", "knn.candidates", True),
]

LEVELS = 3  # tree levels above the leaves at the benchmark's corpus size

# wrapped functions whose first DataFrame result carries n_tokens
_TOKEN_SPANS = {"chunk", "retrieve.collapsed", "retrieve.traversal"}


class Tracer:
    """In-memory span recorder. One per traced run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"perfbench-{len(self.spans)}",
            "attrs": {},
            "start": time.perf_counter() - self.t0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                for df in self._cached:
                    df.unpersist()
                self._cached.clear()

    def materialize(self, df, rec: dict, tokens: bool) -> None:
        """Cache and count ``df`` inside the current span."""
        df.cache()
        self._cached.append(df)
        rec["attrs"]["rows_out"] = df.count()
        if tokens and "n_tokens" in df.columns:
            from pyspark.sql import functions as F

            rec["attrs"]["tokens_out"] = df.agg(F.sum("n_tokens")).first()[0] or 0

    def attach_spark(self) -> None:
        """Resolve each span's own Spark jobs, stages and tasks through
        ``statusTracker()``. Call after the last job, before the session
        stops."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["group"]))
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = failed = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
                    failed += info.numFailedTasks
            rec["spark"] = {
                "jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed, "stage_ids": sorted(stages),
            }

    def attach_task_metrics(self, event_log_dir: str) -> None:
        """Add each span's task run time, shuffle-write and spill bytes
        from the event log. Call after the session has stopped."""
        stage_metrics = _read_event_log(event_log_dir)
        for rec in self.spans:
            sp = rec["spark"]
            sp["executor_run_s"] = sp["shuffle_write_bytes"] = sp["spill_bytes"] = 0
            for s in sp.pop("stage_ids"):
                m = stage_metrics.get(s)
                if m:
                    sp["executor_run_s"] += m["run_ms"] / 1000.0
                    sp["shuffle_write_bytes"] += m["shuffle_write"]
                    sp["spill_bytes"] += m["spill"]

    def finish(self) -> list[dict]:
        """Add inclusive Spark figures and self time to every span."""
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        for rec in reversed(self.spans):  # children are recorded after parents
            rec["wall_s"] = rec["end"] - rec["start"]
            ch = kids.get(rec["id"], [])
            rec["self_s"] = rec["wall_s"] - sum(c["wall_s"] for c in ch)
            incl = dict(rec["spark"])
            for c in ch:
                for k, v in c["spark_incl"].items():
                    incl[k] += v
            rec["spark_incl"] = incl
        return self.spans


def _read_event_log(directory: str) -> dict[int, dict]:
    """Per-stage task metrics summed from SparkListenerTaskEnd events."""
    out: dict[int, dict] = {}
    for path in glob.glob(f"{directory}/**", recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith((".", "appstatus")):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                tm = ev.get("Task Metrics") or {}
                m = out.setdefault(ev["Stage ID"], {"run_ms": 0, "shuffle_write": 0, "spill": 0})
                m["run_ms"] += tm.get("Executor Run Time", 0)
                m["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return out


def new_files(root: str, since: float) -> list[tuple[str, int]]:
    """(path, size) of every file under ``root`` modified at or after
    the wall-clock time ``since``."""
    out = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime >= since:
                out.append((os.path.join(dirpath, fn), st.st_size))
    return out


def _wrap(tracer: Tracer, fn, name: str, materialize: bool):
    from pyspark.sql import DataFrame

    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            if name == "tree.build_level":
                rec["attrs"]["layer"] = args[1]
            elif name == "tree.write_level":
                rec["attrs"]["layer"] = args[2]
            since = time.time()
            out = fn(*args, **kwargs)
            first = out[0] if isinstance(out, tuple) else out
            if materialize and isinstance(first, DataFrame):
                tracer.materialize(first, rec, name in _TOKEN_SPANS)
            if name == "tree.write_level":
                rec["attrs"]["rows_out"] = out["rows"]
                level_dir = os.path.join(args[1], f"level={args[2]}")
                rec["attrs"]["bytes_written"] = sum(
                    size for _, size in new_files(level_dir, since)
                )
            return out

    wrapper.__wrapped__ = fn
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Route every engine-module binding of each target through a span,
    plus ``DataFrameWriter.parquet`` (the inline level writes of
    incremental maintenance call it directly)."""
    from pyspark.sql.readwriter import DataFrameWriter

    for modname, fname, span_name, mat in TARGETS:
        orig = getattr(importlib.import_module(modname), fname)
        wrapped = _wrap(tracer, orig, span_name, mat)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("raptor_rag_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapped)

    orig_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        with tracer.span("io.write_parquet"):
            return orig_parquet(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet


# ------------------------------------------------------------ metrics

def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], ops: list[dict], session_start_s: float) -> dict[str, float]:
    """Per-layer figures. Each is the median, over the top-level
    operations that reached the layer, of that operation's total;
    ``ops`` are the benchmark's operation records (top-level span id,
    questions asked, write-side figures)."""
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    per_op: dict[int, list[dict]] = {}
    for s in spans:
        top = s if s["parent"] is None else list(ancestors(s))[-1]
        per_op.setdefault(top["id"], []).append(s)

    def named(*names, layer=None):
        return lambda s: s["name"] in names and (layer is None or s["attrs"].get("layer") == layer)

    def per_op_total(match, value, within=None):
        """Median over operations of the summed ``value`` of the
        outermost spans that ``match`` (under a ``within`` span)."""
        vals = []
        for op_spans in per_op.values():
            hit = [
                s for s in op_spans
                if match(s)
                and not any(match(a) for a in ancestors(s))
                and (within is None or any(a["name"] == within for a in ancestors(s)))
            ]
            if hit:
                vals.append(sum(value(s) for s in hit))
        return _median(vals)

    wall = lambda s: s["wall_s"]  # noqa: E731
    rows = lambda s: s["attrs"].get("rows_out", 0)  # noqa: E731
    spark = lambda key: lambda s: s["spark_incl"][key]  # noqa: E731
    m: dict[str, float] = {"session.start_s": session_start_s}
    m["extract.wall_s"] = per_op_total(named("extract"), wall)
    m["extract.rows_out"] = per_op_total(named("extract"), rows)
    m["chunk.wall_s"] = per_op_total(named("chunk"), wall)
    m["chunk.chunks_out"] = per_op_total(named("chunk"), rows)
    m["chunk.tokens_out"] = per_op_total(named("chunk"), lambda s: s["attrs"].get("tokens_out", 0))
    m["embed.wall_s"] = per_op_total(named("embed"), wall)
    m["tile.reduce_s"] = per_op_total(named("tile.reduce"), wall)

    for layer in range(1, LEVELS + 1):
        both = named("tree.build_level", "tree.write_level", layer=layer)
        m[f"tree.l{layer}.wall_s"] = per_op_total(both, wall)
        m[f"tree.l{layer}.rows_out"] = per_op_total(named("tree.build_level", layer=layer), rows)
        m[f"tree.l{layer}.jobs"] = per_op_total(both, spark("jobs"))
        m[f"tree.l{layer}.tasks"] = per_op_total(both, spark("tasks"))
        m[f"tree.l{layer}.shuffle_write_bytes"] = per_op_total(both, spark("shuffle_write_bytes"))
        m[f"tree.l{layer}.bytes_written"] = per_op_total(
            named("tree.write_level", layer=layer), lambda s: s["attrs"]["bytes_written"]
        )
    manifest = named("tree.refresh_manifest", "tree.update_manifest_delta", "tree.storage_partition_counts")
    m["tree.manifest_s"] = per_op_total(manifest, wall)
    m["tree.read_level_s"] = per_op_total(named("tree.read_level", "tree.read_level_pruned"), wall)

    inc = "incremental.update"
    m["incremental.update_s"] = per_op_total(named(inc), wall)
    m["incremental.read_pruned_s"] = per_op_total(named("tree.read_level_pruned"), wall, within=inc)
    m["incremental.write_s"] = per_op_total(named("io.write_parquet"), wall, within=inc)
    m["incremental.manifest_delta_s"] = per_op_total(manifest, wall, within=inc)
    m["incremental.jobs"] = per_op_total(named(inc), spark("jobs"))
    writes = [o for o in ops if o.get("write")]
    m["incremental.pending_cells"] = max([o["pending_cells"] for o in writes], default=0)
    parents = sum(o["parents"] for o in writes)
    m["incremental.recompute_frac"] = (
        sum(o["recomputed_parents"] for o in writes) / parents if parents else 0.0
    )
    m["incremental.partitions_rewritten"] = _median(
        [o["partitions_rewritten"] for o in writes if o["recomputed_parents"]]
    )
    m["incremental.write_amp"] = _median(
        [o["bytes_new"] / o["text_bytes"] for o in writes if o["text_bytes"]]
    )

    m["api.nodes_refresh_s"] = per_op_total(named("api.nodes_refresh"), wall)
    m["retrieve.embed_queries_s"] = per_op_total(named("retrieve.embed_queries"), wall)
    m["retrieve.collapsed_s"] = per_op_total(named("retrieve.collapsed"), wall)
    m["retrieve.traversal_s"] = per_op_total(named("retrieve.traversal"), wall)
    q_ops = {o["span"]: o for o in ops if o.get("questions")}
    ctx = []
    for sid, o in q_ops.items():
        toks = sum(
            s["attrs"].get("tokens_out", 0) for s in per_op.get(sid, [])
            if s["name"] in ("retrieve.collapsed", "retrieve.traversal")
        )
        ctx.append(toks / o["questions"])
    m["retrieve.context_tokens"] = _median(ctx)

    knn = named("knn.brute", "knn.tile")
    m["knn.brute_s"] = per_op_total(named("knn.brute"), wall)
    m["knn.tile_s"] = per_op_total(named("knn.tile"), wall)
    m["knn.jobs_per_batch"] = per_op_total(knn, spark("jobs"))
    m["knn.tasks_per_batch"] = per_op_total(knn, spark("tasks"))
    cands = []
    for sid, o in q_ops.items():
        n = sum(s["attrs"].get("rows_out", 0) for s in per_op.get(sid, []) if s["name"] == "knn.candidates")
        if n:
            cands.append(n / (o["questions"] * o["k"]))
    m["knn.candidates_per_result"] = _median(cands)

    tops = [s for s in spans if s["parent"] is None and s["name"].startswith("op.")]
    for key in ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{key}"] = _median([s["spark_incl"][key] for s in tops])
    return m
