"""Per-layer trace of one benchmark run.

Spans are recorded from the benchmark's side: `Tracer.install` replaces
the layer functions at the module attributes the pipeline and the
incremental planner import, and the catalog's commit methods, with shims
that open a span and set the Spark job group to it.  After the session
stops, the JSON event log is read back and every job, stage and task is
attributed to the innermost span that launched it and to that span's
ancestors.

Layers (the names of the per-layer metrics):

    signatures  compute_signatures + the signatures commit (scan, UDFs)
    bands       band_keys + the priors_bands commit
    candidates  candidate_pairs_from_bands / candidate_pairs (banded
                kernel) + the candidate_pairs and band_stats commits
    verify      verify_pairs + the verified_pairs commit
    components  connected_components + the assignments commit
    members     build_cluster_members + the cluster_members / clusters commits
    catalog     every commit (write_table, append_table, write_table_local)
    link        run_link
    merge       run_incremental_match
    pairscore   collect_bounded_matrix and the broadcast scorers
    minhash_lsh_pairs, simhash_pairs, lsh_topk   the document operators

A span's phase is "compose" when the wrapped call only builds a plan
(returns a DataFrame); jobs launched inside it count as `compose_jobs`.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

LAYERS = (
    "signatures", "bands", "candidates", "verify", "components", "members",
    "catalog", "link", "merge", "pairscore",
    "minhash_lsh_pairs", "simhash_pairs", "lsh_topk",
)

# committed table -> the layer whose output it is
TABLE_LAYER = {
    "signatures": "signatures",
    "incoming_signatures": "signatures",
    "priors_bands": "bands",
    "candidate_pairs": "candidates",
    "band_stats": "candidates",
    "verified_pairs": "verify",
    "assignments": "components",
    "cc_edges": "components",
    "cluster_members": "members",
    "clusters": "members",
}


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    @contextlib.contextmanager
    def span(self, layer: str, phase: str = "run"):
        yield None


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.counters: dict[int | None, dict] = defaultdict(
            lambda: defaultdict(float))
        self._undo: list[tuple] = []

    @contextlib.contextmanager
    def span(self, layer: str, phase: str = "run"):
        sid = len(self.spans)
        rec = {"id": sid, "layer": layer, "phase": phase, "op": self.op,
               "parent": self.stack[-1] if self.stack else None,
               "t0": time.time(), "t1": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"pb:{sid}", layer)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.stack.pop()
            self.sc.setJobGroup(
                f"pb:{self.stack[-1]}" if self.stack else "pb:none",
                "untraced")

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[self.op][name] += value

    def _wrap(self, owner, attr: str, layer: str, phase: str = "run",
              after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with self.span(layer, phase) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, args, kwargs, out)
                return out

        setattr(owner, attr, shim)
        self._undo.append((owner, attr, orig))

    def _wrap_commit(self, attr: str):
        from customer_er_spark.catalog import SparkCatalog

        orig = getattr(SparkCatalog, attr)
        tracer = self

        @functools.wraps(orig)
        def shim(catalog, data, name, *args, **kwargs):
            layer = TABLE_LAYER.get(name)
            outer = tracer.span(layer) if layer else contextlib.nullcontext()
            with outer, tracer.span("catalog", "commit"):
                manifest = orig(catalog, data, name, *args, **kwargs)
            files = [f for f in glob.glob(
                os.path.join(catalog._abs(manifest["path"]), "**", "*"),
                recursive=True) if os.path.isfile(f)
                and not os.path.basename(f).startswith((".", "_"))]
            tracer.count("catalog.commits")
            tracer.count("catalog.files_written", len(files))
            tracer.count("catalog.bytes_written",
                         sum(os.path.getsize(f) for f in files))
            if attr == "append_table":
                tracer.count("merge.appends")
            return manifest

        setattr(SparkCatalog, attr, shim)
        self._undo.append((SparkCatalog, attr, orig))

    def install(self) -> None:
        from customer_er_spark.functions import pairscore
        from customer_er_spark.operators import components, dedup, similarity
        from customer_er_spark.plans import incremental, pipeline

        for mod in (pipeline, incremental):
            self._wrap(mod, "compute_signatures", "signatures", "compose")
            self._wrap(mod, "band_keys", "bands", "compose")
            self._wrap(mod, "verify_pairs", "verify", "compose")
            self._wrap(mod, "connected_components", "components")
        self._wrap(pipeline, "candidate_pairs_from_bands", "candidates",
                   "compose")
        self._wrap(incremental, "candidate_pairs", "candidates", "compose")
        self._wrap(pipeline, "build_cluster_members", "members", "compose")

        def link_done(rec, args, kwargs, out):
            scan = out.get("registry_scan") or {}
            if scan.get("bytes_total"):
                self.count("link.scan_read_ratio",
                           scan["bytes_read"] / scan["bytes_total"])
            self.count("link.candidates", out.get("candidates") or 0)
            decided = out.get("decisions") or {}
            if decided:
                self.count("link.accept_ratio",
                           decided.get("accept", 0) / sum(decided.values()))

        self._wrap(incremental, "run_link", "link", after=link_done)
        self._wrap(incremental, "run_incremental_match", "merge")

        def driver_path(rec, args, kwargs, out):
            self.count("components.driver_path")

        self._wrap(components, "_driver_components", "components",
                   after=driver_path)

        def matrix_done(rec, args, kwargs, out):
            self.count("pairscore.collect_s", time.time() - rec["t0"])
            if out is not None:
                self.count("pairscore.matrix_rows", len(out[0]))
                self.count("pairscore.broadcast_path")

        self._wrap(pairscore, "collect_bounded_matrix", "pairscore",
                   after=matrix_done)
        self._wrap(pairscore, "cosine_pair_scores", "pairscore", "compose")
        self._wrap(pairscore, "equality_fraction_pair_scores", "pairscore",
                   "compose")
        self._wrap(dedup, "minhash_lsh_pairs", "minhash_lsh_pairs", "compose")
        self._wrap(dedup, "simhash_pairs", "simhash_pairs", "compose")
        self._wrap(similarity, "lsh_topk", "lsh_topk", "compose")
        for attr in ("write_table", "append_table", "write_table_local"):
            self._wrap_commit(attr)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# --------------------------------------------------------------------------
# event log -> per-layer table
# --------------------------------------------------------------------------

def read_event_log(log_dir: str, app_id: str) -> tuple[dict, dict]:
    """(jobs, stage tasks) from one uncompressed, non-rolling event log.

    jobs:  job id -> {"span": int | None, "t0": s, "t1": s, "stages": [...]}
    tasks: stage id -> [(run_ms, cpu_ms, shuffle_write_bytes,
                         disk_spill_bytes, peak_exec_mem_bytes)]
    """
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    with open(os.path.join(log_dir, app_id)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                span = (int(group[3:]) if group and group.startswith("pb:")
                        and group[3:].isdigit() else None)
                jobs[ev["Job ID"]] = {
                    "span": span, "t0": ev["Submission Time"] / 1e3,
                    "t1": None, "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks[ev["Stage ID"]].append((
                    m.get("Executor Run Time", 0),
                    m.get("Executor CPU Time", 0) / 1e6,
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                    m.get("Peak Execution Memory", 0),
                ))
    return jobs, tasks


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def _overlap(xs, ys) -> float:
    return sum(max(0.0, min(b, d) - max(a, c)) for a, b in xs for c, d in ys)


def layer_table(spans: list[dict], jobs: dict, tasks: dict, op: int) -> dict:
    """Every measure of every layer for one operation."""
    by_id = {s["id"]: s for s in spans}

    def chain(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    job_stages: dict[int, list] = defaultdict(list)
    for st, jid in stage_job.items():
        job_stages[jid].append(st)

    busy = _union([(j["t0"], j["t1"]) for j in jobs.values() if j["t1"]])
    out: dict[str, float] = {}
    for layer in LAYERS:
        own = [s for s in spans if s["op"] == op and s["layer"] == layer]
        wall = _union([(s["t0"], s["t1"]) for s in own])
        ids = {s["id"] for s in own}
        mine, composing = [], 0
        for jid, j in jobs.items():
            anc = list(chain(j["span"])) if j["span"] in by_id else []
            if any(s["id"] in ids for s in anc):
                mine.append(jid)
                if any(s["id"] in ids and s["phase"] == "compose" for s in anc):
                    composing += 1
        ts = [t for jid in mine for st in job_stages[jid] for t in tasks[st]]
        run_ms = sum(t[0] for t in ts)
        cpu_ms = sum(t[1] for t in ts)
        skew = [max(t[0] for t in tasks[st])
                / max(1.0, statistics.median(t[0] for t in tasks[st]))
                for jid in mine for st in job_stages[jid]
                if len(tasks[st]) > 1]
        row = {
            "wall_s": _length(wall),
            "driver_s": _length(wall) - _overlap(wall, busy),
            "jobs": len(mine),
            "compose_jobs": composing,
            "executor_ms": run_ms,
            "jvm_cpu_ms": cpu_ms,
            "python_gap_ms": run_ms - cpu_ms,
            "shuffle_bytes": sum(t[2] for t in ts),
            "spill_bytes": sum(t[3] for t in ts),
            "peak_exec_mem_mb": max((t[4] for t in ts), default=0) / 2**20,
            "task_skew": max(skew, default=1.0),
        }
        for k, v in row.items():
            out[f"{layer}.{k}"] = v
    return out


def median_table(rows: list[dict]) -> dict:
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
