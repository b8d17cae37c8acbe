"""End-to-end benchmark of the RaptorEngine user surface.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

One client drives ``raptor_rag_spark.api.RaptorEngine`` in a closed
loop (the next operation starts when the previous one returned) on one
driver process with ``local[<cpus>]``. Inputs come from
``datagen.synthetic_pages(seed=...)`` through ``extract_pages``.

The base corpus and the recall questions are fixed; ``--seed`` picks
the append batches and the questions of the measured retrieves.

Set-up (timed as ``setup_s``): session start, data generation, the
base tree build (which also warms the build path), then a warm-up, so
measured operations do not pay first-use costs (Python workers, Arrow
UDFs, codegen): a brute and a tiled ``retrieve`` of the fixed recall
questions on the base tree (the pair ``tiled_recall_at_5`` is computed
from), then on ``ingest`` one small deferred append and node-table
refresh. Traversal retrieval is not warmed (a warm-up costs more than
its first use), so the measured traversal pays its first-use cost.

Workloads (closed loop after set-up):

- ``ingest``: cycles of one daily 1% page batch appended with
  ``deferred=True`` and a 16-question brute fresh query; then one
  eager recrawl batch of one hot region (``hot_frac=1.0``), which first
  flushes the pending ledger, and a 16-question tiled fresh query. A
  fresh query is the first action on the engine's node table after
  the write (which fills its cache), then the ``retrieve``.
- ``query``: cycles of one 16-question batch through brute, tiled and
  traversal retrieval; then one bulk DataFrame batch per collapsed
  method into a noop sink.

The number of cycles is ``--seconds`` over the workload's nominal cycle
time (at least one), so every run of a workload does the same work.
Every operation's output is checked; a failed check counts as a failed
operation. The last stdout line is one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (spans from
``perfbench/spans.py``; the span record is written under
``.perfbench/traces/``). The line before it is a JSON detail record
with the per-operation-type figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "query")
K = 5  # RaptorEngine's default top_k
CYCLE_S = {"ingest": 8.0, "query": 11.0}  # nominal cycle wall time on 4 cores
BASE_SEED = 7919  # the base corpus, the same in every run
RECALL_SEED = 104729  # the recall questions, the same in every run


def sizes(pages: int) -> dict:
    return {
        "base_pages": pages,
        "day_pages": max(pages // 100, 2),  # one scattered "daily" 1% batch
        "recrawl_pages": max(pages // 50, 2),  # one hot-region recrawl batch
        "interactive_q": 16,
        "bulk_q": 64,
    }


# ------------------------------------------------------------ helpers

def _ppids() -> dict[int, int]:
    """Parent pid of every live process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return parent


def _proc_tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    parent = _ppids()
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period, self.peak_kb = period, 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, _proc_tree_rss_kb(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def tail(xs: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it (the
    maximum when there are fewer than eleven samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return xs[-1], f"max of {n}"
    pct = int(100 * (n - 10) / n)
    return xs[max(0, -(-pct * n // 100) - 1)], f"p{pct} of {n}"


def _median(xs):
    return float(statistics.median(xs)) if xs else None


# ------------------------------------------------------------ the run

class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.sz = sizes(args.pages)
        self.cycles = max(1, int(args.seconds // CYCLE_S[args.workload]))
        self.work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
        self.ops: list[dict] = []
        self.failed = 0
        self.tracer = None

    # -- environment ----------------------------------------------------
    def start_session(self):
        for d in ("spark-local", "tmp", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1536m")
        from raptor_rag_spark.session import get_spark

        conf = {
            # keep the JVM's temp files and perf data out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark("perfbench", cores=cores, extra_conf=conf)
        self.spark.range(1).count()
        self.cores = cores

    # -- operations -----------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, kind: str, fn, check=None, measured: bool = True, **info):
        """Run ``fn`` as one timed operation (inside a top-level span
        when tracing), then ``check`` its result, untimed; ``check``
        returns a list of problems. A measured operation that raises or
        fails its check counts as failed; a set-up one stops the run."""
        rec = {"kind": kind, "measured": measured, **info}
        rec["since"] = time.time()
        problems = []
        with self.span(f"op.{kind}") as span:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # an engine error is a failed operation
                if not measured:
                    raise
                traceback.print_exc()
                out, problems = None, [f"{type(exc).__name__}: {exc}"]
            rec["wall_s"] = time.perf_counter() - t0
        rec["span"] = span["id"] if span else None
        if check is not None and not problems:
            problems = check(out)
        if problems and not measured:
            raise RuntimeError(f"set-up {kind} failed its checks: {problems}")
        if measured:
            self.ops.append(rec)
            if problems:
                self.failed += 1
                rec["problems"] = problems
                print(f"check failed in {kind}: {problems}", file=sys.stderr)
        return rec

    def docs(self, name: str, lo: int, hi: int, offset: int):
        from pyspark.sql import functions as F

        from raptor_rag_spark.operators.extract import extract_pages

        pages = self.spark.read.parquet(self.data_path(name))
        pages = pages.filter((F.col("page_id") >= lo) & (F.col("page_id") < hi))
        return extract_pages(pages, passthrough=("page_id",)).select(
            (F.col("page_id") + F.lit(offset)).alias("doc_id"), "text"
        )

    def data_path(self, name: str) -> str:
        return os.path.join(self.work, "data", f"set={name}")

    def gen_data(self) -> None:
        """Write every input page set of the run under the work dir, in
        one Spark job."""
        from functools import reduce

        import numpy as np
        import pyarrow.parquet as pq
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from raptor_rag_spark.datagen import synthetic_pages

        sz, s = self.sz, self.args.seed * 7919 % 1_000_000
        plan = [("base", sz["base_pages"], BASE_SEED, 0.0)]
        if self.args.workload == "ingest":
            # one daily batch per cycle plus one for the warm-up append
            plan += [
                ("days", (self.cycles + 1) * sz["day_pages"], s + 20_000_000, 0.0),
                ("recrawl", sz["recrawl_pages"], s + 30_000_000, 1.0),
            ]
        reduce(DataFrame.unionByName, [
            synthetic_pages(self.spark, n=n, seed=seed, partitions=self.cores, hot_frac=hot)
            .withColumn("set", F.lit(name))
            for name, n, seed, hot in plan
        ]).write.partitionBy("set").parquet(os.path.join(self.work, "data"))
        if self.args.trace:  # appended text bytes, the base of ``incremental.write_amp``
            self.text_bytes = {
                name: pq.read_table(self.data_path(name), columns=["page_id", "text"])
                .to_pandas().set_index("page_id")["text"].str.encode("utf-8").str.len()
                for name, *_ in plan[1:]
            }
        texts = pq.read_table(self.data_path("base"), columns=["text"]).column(0).to_pylist()

        def question(rng) -> str:
            words = texts[rng.randint(len(texts))].split()
            n = min(len(words), rng.randint(6, 13))
            start = rng.randint(0, len(words) - n + 1)
            return " ".join(words[start:start + n])

        rng = np.random.RandomState(self.args.seed)
        self.q_sets = [[question(rng) for _ in range(sz["interactive_q"])] for _ in range(64)]
        self.q_bulk = [question(rng) for _ in range(sz["bulk_q"])]
        rng = np.random.RandomState(RECALL_SEED)
        self.q_recall = [question(rng) for _ in range(sz["interactive_q"])]

    # -- checks ---------------------------------------------------------
    def check_contexts(self, ctx: dict, n: int) -> list[str]:
        from raptor_rag_spark.tokenizer import token_count

        bad = []
        if sorted(ctx) != list(range(n)):
            bad.append(f"{len(ctx)} contexts for {n} questions")
        for qid, text in ctx.items():
            if not text or not text.strip():
                bad.append(f"empty context for question {qid}")
            elif token_count(text) > self.cfg.retrieve_max_tokens:
                bad.append(f"context {qid} over retrieve_max_tokens")
        return bad

    def check_tree(self, base: str, flushed: bool) -> list[str]:
        from raptor_rag_spark.operators.tree import _level_path, last_complete_level, read_manifest
        from raptor_rag_spark.streaming.incremental import read_pending

        bad = []
        for layer in range(last_complete_level(base) + 1):
            man = read_manifest(base, layer)
            disk = self.partition_counts(_level_path(base, layer), man.get("partitions_by") == "cell_pfx")
            if man["rows"] != sum(disk.values()):
                bad.append(f"level {layer}: manifest rows {man['rows']} != storage {sum(disk.values())}")
            # cell_pfx partitions are the recompute units; write-task
            # keys of unpartitioned levels carry no meaning after appends
            if man.get("partitions_by") == "cell_pfx" and {k: int(v) for k, v in man["partitions"].items()} != disk:
                bad.append(f"level {layer}: manifest partitions differ from storage")
        if flushed:
            pending = {c: n for c, n in read_pending(base)["cells"].items() if n}
            if pending:
                bad.append(f"{len(pending)} cells still pending after flush")
        return bad

    # -- traced-run write figures ------------------------------------------
    def write_figures(self, rec: dict, base: str, text_bytes: int) -> None:
        from raptor_rag_spark.operators.tree import last_complete_level, read_manifest
        from raptor_rag_spark.streaming.incremental import read_pending

        from spans import new_files

        fresh = new_files(base, rec["since"])
        rec["bytes_new"] = sum(size for _, size in fresh)
        rec["text_bytes"] = text_bytes
        rec["partitions_rewritten"] = len({
            os.path.dirname(p) for p, _ in fresh
            if "cell_pfx=" in p and "/level=0/" not in p
        })
        rec["pending_cells"] = sum(1 for n in read_pending(base)["cells"].values() if n)
        rec["parents"] = rec["recomputed_parents"] = 0
        for layer in range(1, last_complete_level(base) + 1):
            man = read_manifest(base, layer)
            rec["parents"] += man["rows"]
            if man["written_at_epoch"] >= int(rec["since"]):
                rec["recomputed_parents"] += int(man["lineage"].get("recomputed_parents", man["rows"]))
        rec["write"] = True

    def nodes_refresh(self) -> int:
        """The first action on the engine's node table after a build or
        an append, which fills its cache."""
        with self.span("api.nodes_refresh"):
            return self.eng.nodes.count()

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from raptor_rag_spark.api import RaptorEngine
        from raptor_rag_spark.config import EngineConfig
        from raptor_rag_spark.operators.tree import storage_partition_counts

        t0 = time.perf_counter()
        self.rss = RssSampler()
        self.rss.start()
        self.start_session()
        self.session_start_s = time.perf_counter() - t0
        self.partition_counts = storage_partition_counts  # unwrapped: checks stay out of the trace
        if self.args.trace:
            import spans as tr

            self.tracer = tr.Tracer(self.spark.sparkContext)
            tr.instrument(self.tracer)
        self.cfg = EngineConfig()
        t1 = time.perf_counter()
        self.gen_data()
        self.gen_s = time.perf_counter() - t1

        sz = self.sz
        self.base = os.path.join(self.work, "tree")
        self.eng = RaptorEngine(self.spark, self.base, self.cfg)
        rec = self.op("build", lambda: self.eng.add_documents(self.docs("base", 0, sz["base_pages"], 0)),
                      lambda _: self.check_tree(self.base, False), measured=False)
        self.build_s = rec["wall_s"]
        # warm-up: the build above warmed the build path, the recall
        # pair warms brute and tiled retrieval, and on ingest a deferred
        # append and refresh warm the append path
        t1 = time.perf_counter()
        self.recall_pair = [
            self.retrieve_op("warmup.recall", self.q_recall, measured=False, method=method)["contexts"]
            for method in ("tiled", "brute")
        ]
        if self.args.workload == "ingest":
            lo = self.cycles * sz["day_pages"]
            self.op("warmup.append", lambda: self.eng.append_documents(
                self.docs("days", lo, lo + sz["day_pages"], 900_000_000), deferred=True),
                lambda _: self.check_tree(self.base, False), measured=False)
            self.op("warmup.nodes", self.nodes_refresh, measured=False)
        self.warmup_s = time.perf_counter() - t1
        self.setup_s = time.perf_counter() - t0

    # -- workloads --------------------------------------------------------
    def retrieve_op(self, kind: str, questions: list[str], measured=True, fresh=False, **kw):
        """A ``retrieve`` of ``questions``; a ``fresh`` one (right after
        a write) first refreshes the node table, inside the operation."""
        got = {}

        def call():
            if fresh:
                self.nodes_refresh()
            return self.eng.retrieve(questions, **kw)

        def check(ctx):
            got["contexts"] = ctx
            return self.check_contexts(ctx, len(questions))

        rec = self.op(kind, call, check,
                      measured=measured, questions=len(questions), k=K, interactive=True)
        rec["contexts"] = got.get("contexts")
        return rec

    def ingest_cycle(self, c: int) -> None:
        """One daily 1% batch appended with ``deferred=True``, then a
        16-question brute fresh query."""
        lo, hi = c * self.sz["day_pages"], (c + 1) * self.sz["day_pages"]
        self.write_op("append", "days", lo, hi, (c + 1) * 10_000_000,
                      lambda docs: self.eng.append_documents(docs, deferred=True), flushed=False)
        self.fresh_query(method="brute")

    def ingest_end(self) -> None:
        """An eager recrawl append (on a tree with a pending ledger it
        first flushes every pending cell), then a tiled fresh query."""
        self.write_op("recrawl", "recrawl", 0, self.sz["recrawl_pages"], 700_000_000,
                      lambda docs: self.eng.append_documents(docs), flushed=True)
        self.fresh_query(method="tiled")

    def write_op(self, kind, data, lo, hi, offset, call, flushed: bool) -> None:
        rec = self.op(kind, lambda: call(self.docs(data, lo, hi, offset)),
                      lambda _: self.check_tree(self.base, flushed), pages=hi - lo)
        if self.tracer:
            self.write_figures(rec, self.base, int(self.text_bytes[data].loc[lo:hi - 1].sum()))

    def fresh_query(self, **kw) -> None:
        """A 16-question retrieve right after a write."""
        self._q_next = getattr(self, "_q_next", -1) + 1
        self.retrieve_op("fresh_query", self.q_sets[self._q_next % len(self.q_sets)], fresh=True, **kw)

    def query_cycle(self, c: int) -> None:
        """One 16-question batch through brute, tiled and traversal
        retrieval."""
        qs = self.q_sets[c % len(self.q_sets)]
        self.retrieve_op("brute", qs, method="brute")
        self.retrieve_op("tiled", qs, method="tiled")
        self.retrieve_op("traversal", qs, collapse_tree=False)

    def query_end(self) -> None:
        """One bulk DataFrame batch per collapsed method, noop sink."""
        for method in ("brute", "tiled"):
            self.op(f"bulk_{method}", lambda m=method: self.bulk(m), self.check_bulk,
                    questions=len(self.q_bulk), k=K)

    def bulk(self, method: str) -> list[str]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from raptor_rag_spark.functions.localtab import local_df

        qdf = local_df(self.spark, list(enumerate(self.q_bulk)), "query_id long, text string")
        obs = Observation(f"bulk_{method}_{len(self.ops)}")
        ctx = self.eng.retrieve(qdf, method=method).observe(
            obs, F.count(F.lit(1)).alias("n"),
            F.sum((F.length(F.trim("context")) > 0).cast("int")).alias("nonempty"),
        )
        ctx.write.format("noop").mode("overwrite").save()
        return obs.get

    def check_bulk(self, got: dict) -> list[str]:
        n = len(self.q_bulk)
        return [] if got["n"] == n and got["nonempty"] == n else [f"bulk: {got} for {n} questions"]

    def recall(self) -> float:
        """Top-5 overlap of tiled with brute results for the fixed
        recall questions on the base tree: retrieved passages of each
        context, counted as multisets."""
        tiled, brute = self.recall_pair
        hit = tot = 0
        for qid, ctx in brute.items():
            b = Counter(p for p in ctx.split("\n\n") if p)
            t = Counter(p for p in tiled.get(qid, "").split("\n\n") if p)
            hit += sum((b & t).values())
            tot += sum(b.values())
        return hit / tot if tot else 0.0

    def loop(self) -> None:
        """``--seconds`` worth of cycles at the workload's nominal cycle
        length (at least one), then the workload's closing operations.
        The operation plan depends on ``--seconds`` only, never on how
        fast the run goes, so every run of a workload does the same work."""
        ingest = self.args.workload == "ingest"
        cycle = self.ingest_cycle if ingest else self.query_cycle
        t0 = time.perf_counter()
        for c in range(self.cycles):
            cycle(c)
        (self.ingest_end if ingest else self.query_end)()
        self.loop_s = time.perf_counter() - t0

    # -- report ---------------------------------------------------------
    def report(self, load0, cpu0) -> dict:
        ops = self.ops
        by = lambda *kinds: [o["wall_s"] for o in ops if o["kind"] in kinds]  # noqa: E731
        interactive = [o["wall_s"] for o in ops if o.get("interactive")]
        if self.args.workload == "ingest":
            writes = [o for o in ops if o["kind"] in ("append", "recrawl")]
            work = sum(o.get("pages", 0) for o in writes) / sum(o["wall_s"] for o in writes)
        else:
            work = sum(o["questions"] for o in ops) / sum(o["wall_s"] for o in ops)
        op_tail, tail_desc = tail([o["wall_s"] for o in ops])
        q_recall = self.recall()
        q_tail, q_tail_desc = tail(interactive)
        steal1, total1 = _cpu_ticks()
        detail = {
            "workload": self.args.workload, "seed": self.args.seed, "trace": self.args.trace,
            "cycles": self.cycles, "loop_s": self.loop_s, "ops": len(ops),
            "op_s_tail": op_tail, "op_s_tail_is": tail_desc, "tiled_recall_at_5": q_recall,
            "build_docs_per_s_cold": self.sz["base_pages"] / self.build_s,
            "op_s_p50": _median([o["wall_s"] for o in ops]), "work_per_s": work, "query_s_tail": q_tail, "query_s_tail_is": q_tail_desc,
            "append_s_p50": _median(by("append")),
            "recrawl_s_p50": _median(by("recrawl")), "fresh_query_s_p50": _median(by("fresh_query")),
            "brute_s_p50": _median(by("brute")), "tiled_s_p50": _median(by("tiled")),
            "traversal_s_p50": _median(by("traversal")),
            "bulk_brute_qps": _qps(ops, "bulk_brute"), "bulk_tiled_qps": _qps(ops, "bulk_tiled"),
            "ops_failed_frac": self.failed / len(self.ops),
            "session_start_s": self.session_start_s, "gen_s": self.gen_s, "build_s": self.build_s,
            "warmup_s": self.warmup_s,
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": (steal1 - cpu0[0]) / max(total1 - cpu0[1], 1),
        }
        self.detail = detail
        return {
            "setup_s": (self.setup_s, "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "retrieve_s_mean": (statistics.fmean(interactive), "s"),
            "ops_s_total": (sum(o["wall_s"] for o in ops), "s"),
            "tiled_recall_at_5": (q_recall, "ratio"),
        }


def _qps(ops, kind):
    xs = [o for o in ops if o["kind"] == kind]
    return sum(o["questions"] for o in xs) / sum(o["wall_s"] for o in xs) if xs else None


def _stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM the session launched (it exits when its stdin
    closes) and wait until every child process of this one has ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while time.time() < deadline and _children(os.getpid()):
        time.sleep(0.2)
    for pid in _children(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def _children(pid: int) -> list[int]:
    return [c for c, p in _ppids().items() if p == pid]


def write_trace(run: Run, spec: dict) -> dict:
    """Per-layer metrics of a traced run; writes its span record."""
    import spans as tr

    run.tracer.attach_task_metrics(os.path.join(run.work, "eventlog"))
    spans = run.tracer.finish()
    values = tr.layer_metrics(spans, run.ops, run.session_start_s)
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run.args.workload}-seed{run.args.seed}.jsonl"), "w") as fh:
        for s in spans:
            fh.write(json.dumps({k: v for k, v in s.items() if k != "group"}) + "\n")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=2000, help="base corpus pages (smaller for smoke runs)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "raptor_rag_spark", "__init__.py")):
        print(f"raptor_rag_spark/ not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    run = Run(args)
    load0, cpu0 = os.getloadavg(), _cpu_ticks()
    try:
        try:
            run.setup()
            run.loop()
            if run.tracer:
                run.tracer.attach_spark()
        finally:
            if getattr(run, "spark", None) is not None:
                run.spark.stop()
                _stop_jvm()
            run.peak_rss_mb = run.rss.stop() if hasattr(run, "rss") else 0.0
        e2e = run.report(load0, cpu0)
        if run.tracer:
            metrics = write_trace(run, spec)
            run.detail["traced_end_to_end"] = {k: v for k, (v, _) in e2e.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(run.detail, default=float))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": len(run.ops),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
