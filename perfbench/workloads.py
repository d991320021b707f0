"""The two workloads: kg_build and kg_live.

Each drives only public entry points (``plans.pipeline.build_graph``,
``operators.incremental.incremental_update``, ``http_api.AciHttpServer``),
checks every operation's output outside the timed interval, and returns the
operation durations with the attempted / failed counts.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlencode

import pyarrow.parquet as pq

from augmented_codebase_indexer_spark import http_api
from augmented_codebase_indexer_spark.operators import incremental
from augmented_codebase_indexer_spark.plans import pipeline
from augmented_codebase_indexer_spark.sources.catalog import Warehouse

from inputs import Expected, Inputs
from tracing import Tracer

RUN_ID = "bench"
ROUTES = ("search", "rerank", "graph", "context", "stats")
GRAPH_DEPTH = 2
CONTEXT_DEPTH = 2
# timed calls per operation: a build; an update plus one rotation of GETs
CALLS_PER_OP = {"kg_build": 1, "kg_live": 1 + len(ROUTES)}
# the first build in a JVM runs ~1.8x slow and the second still ~10% slow
WARMUP_BUILDS = 2


@dataclass
class Ctx:
    spark: object
    inputs: Inputs
    work: str
    seconds: float
    tracer: Tracer
    setup_start: float          # perf_counter at session start
    setup_s: float | None = None


@dataclass
class Phase:
    """One timed interval: operation durations, labels and failures."""

    durations: list[float] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)
    failed: int = 0
    units: int = 0

    def ops(self, per_op: int) -> list[float]:
        """Operation latencies: each ``per_op`` consecutive calls are one."""
        d = self.durations
        return [sum(d[i:i + per_op]) for i in range(0, len(d) - per_op + 1, per_op)]

    def more(self, seconds: float) -> bool:
        """Start another unit unless the interval would then end further
        past ``seconds`` than it now falls short of it."""
        if self.units == 0:
            return True
        spent = sum(self.durations)
        return spent + spent / self.units / 2 < seconds


def _edge_keys(table_dir: str) -> list[tuple]:
    t = pq.read_table(table_dir, columns=["subj_id", "pred", "obj_id", "url", "pos"])
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _node_rows(table_dir: str) -> dict[str, tuple]:
    cols = ["node_id", "canonical_name", "entity_type", "first_url", "mention_count"]
    t = pq.read_table(table_dir, columns=cols)
    return {r[0]: r for r in zip(*(t.column(c).to_pylist() for c in cols))}


def check_graph(root: str, want: Expected, nodes: bool) -> bool:
    if _edge_keys(os.path.join(root, "edges")) != want.edges:
        return False
    return not nodes or _node_rows(os.path.join(root, "nodes")) == want.nodes


def run_op(ctx: Ctx, phase: Phase, label: str, op, check, timed: bool = True) -> None:
    """Time ``op()``; ``check(result)`` runs after the clock stops. An
    exception or a failed check counts the operation as failed."""
    ctx.tracer.begin_op(label, timed)
    if timed and ctx.setup_s is None:
        ctx.setup_s = time.perf_counter() - ctx.setup_start
    t = time.perf_counter()
    try:
        out = op()
        ok = None
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    dt = time.perf_counter() - t
    ctx.tracer.ops[-1]["ms"] = dt * 1000.0
    ctx.tracer.op = None
    if ok is None:
        try:
            ok = bool(check(out))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
    if not ok:
        print(f"check failed: {label}", file=sys.stderr)
        phase.failed += 1
    phase.durations.append(dt)
    phase.labels.append(label)


def _build(ctx: Ctx, root: str) -> dict:
    spark = ctx.spark
    return pipeline.build_graph(
        spark, spark.read.parquet(ctx.inputs.paths["pages"]),
        spark.read.parquet(ctx.inputs.paths["gazetteer"]), root, run_id=RUN_ID)


def _setup_warehouse(ctx: Ctx, phase: Phase) -> str:
    root = os.path.join(ctx.work, "warehouse")
    run_op(ctx, phase, "build", lambda: _build(ctx, root),
           lambda _: check_graph(root, ctx.inputs.expected, nodes=True), timed=False)
    return root


# -- kg_build -------------------------------------------------------------------

def kg_build(ctx: Ctx, phases: list[tuple[Phase, bool]]) -> dict:
    """Full builds into fresh warehouses, after ``WARMUP_BUILDS`` warm-up
    builds in set-up."""
    exp = ctx.inputs.expected
    n = 0

    def one(phase: Phase, timed: bool) -> None:
        nonlocal n
        root = os.path.join(ctx.work, f"build{n}")
        n += 1
        run_op(ctx, phase, "build", lambda: _build(ctx, root),
               lambda s: s["edges"] == len(exp.edges) and check_graph(root, exp, nodes=True),
               timed=timed)
        shutil.rmtree(root, ignore_errors=True)

    setup = Phase()
    for _ in range(WARMUP_BUILDS):
        one(setup, False)
    timed_units(ctx, phases, lambda phase: one(phase, True))
    return {"setup": setup}


# -- kg_live --------------------------------------------------------------------

def kg_live(ctx: Ctx, phases: list[tuple[Phase, bool]], seed: int) -> dict:
    """A warehouse kept fresh while it serves. One operation applies one
    ``incremental_update`` (the snapshot alternates A→B→A, so the state the
    next operation sees does not drift) and then serves one closed-loop
    rotation of five GETs, one client on one connection, against the
    updated warehouse. Set-up builds A, answers the rotation on A, runs a
    warm-up update to B (which also seeds the edge-index sidecar), answers
    the rotation on B and runs a warm-up update back to A."""
    inp = ctx.inputs
    setup = Phase()
    root = _setup_warehouse(ctx, setup)
    server = http_api.AciHttpServer(root)
    port = server.start()
    paths = serve_requests(inp, seed)
    snaps = {"a": (inp.paths["pages"], inp.expected), "b": (inp.paths["pages_b"], inp.expected_b)}
    answers: dict[str, dict[str, object]] = {"a": {}, "b": {}}
    current = ["a"]

    def update(phase: Phase, timed: bool) -> None:
        snap = "b" if current[0] == "a" else "a"
        pages, want = snaps[snap]
        spark = ctx.spark
        run_op(ctx, phase, f"to_{snap}", lambda: incremental.incremental_update(
            spark, Warehouse(root, RUN_ID), spark.read.parquet(pages),
            spark.read.parquet(inp.paths["gazetteer"])),
            lambda _: check_graph(root, want, nodes=False), timed=timed)
        current[0] = snap

    def first_answer(snap: str, path: str, res) -> bool:
        status, body = res
        if status != 200:
            return False
        answers[snap][path] = json.loads(body)
        if path.startswith("/graph"):
            got = answers[snap][path]
            return got["neighbors"] == bfs_out(snaps[snap][1].edges, got["entity"], GRAPH_DEPTH)
        return True

    def rotation(phase: Phase, timed: bool) -> None:
        snap = current[0]
        for route, path in zip(ROUTES, paths):
            if timed:
                check = lambda res: res[0] == 200 and same(json.loads(res[1]), answers[snap][path])  # noqa: E731
            else:
                check = lambda res: first_answer(snap, path, res)  # noqa: E731
            run_op(ctx, phase, route, lambda: _get(port, path), check, timed=timed)

    try:
        rotation(setup, False)
        update(setup, False)
        rotation(setup, False)
        update(setup, False)  # back to A: the first revert runs slow too
        # a unit is one operation each way, so both directions weigh equally
        timed_units(ctx, phases, lambda phase: [
            (update(phase, True), rotation(phase, True)) for _ in range(2)])
    finally:
        server.stop()
    return {"setup": setup, "warehouse": root}


def refresh_storage(root: str) -> dict[str, float]:
    """Storage-drift and delta-size numbers read from the warehouse itself:
    index sidecar file count, and per-update medians of the bucket
    rewrite ratio and touched-page ratio from its ``_metrics`` table."""
    idx = os.path.join(root, "edges.__idx__")
    idx_files = sum(f.endswith(".parquet") for _, _, fs in os.walk(idx) for f in fs)
    per_file: dict[str, dict[str, int]] = defaultdict(dict)
    mdir = os.path.join(root, "_metrics")
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".parquet"):
            for r in pq.read_table(os.path.join(mdir, f)).to_pylist():
                if r["source"] == "incremental":
                    per_file[f][r["metric"]] = r["value"]
    ups = [m for m in per_file.values() if "n_buckets" in m]
    return {
        "sources.catalog.upsert_buckets.idx_files": float(idx_files),
        "sources.catalog.upsert_buckets.rewritten_ratio": statistics.median(
            m["buckets_rewritten"] / m["n_buckets"] for m in ups),
        "operators.incremental.touched_ratio": statistics.median(
            (m.get("new", 0) + m.get("modified", 0))
            / (m.get("new", 0) + m.get("modified", 0) + m.get("unchanged", 0)) for m in ups),
    }


def serve_requests(inputs: Inputs, seed: int) -> list[str]:
    """One seeded GET per route, in ``ROUTES`` order. Entities are drawn
    weighted by degree in the oracle's edges, among those with edges in
    both snapshots, so the hot entity shows up and every seed stays in the
    graph; search terms pair a word of such an entity's name with a word
    of page text."""
    rng = random.Random(seed * 104729 + 3)
    degree = Counter()
    for s, _, o, _, _ in inputs.expected.edges:
        degree[s] += 1
        degree[o] += 1
    in_b = {n for s, _, o, _, _ in inputs.expected_b.edges for n in (s, o)}
    ents = sorted(e for e in degree if e in in_b)
    weights = [degree[e] for e in ents]
    names = {g["ent_id"]: g["canonical_name"] for g in inputs.gazetteer}
    words = sorted({w for p in inputs.pages[:200] for w in
                    p["html"].decode("utf-8", "replace").split() if w.isalpha() and w.islower()})
    e_q, e_r, e_graph, e_ctx = rng.choices(ents, weights=weights, k=4)
    out = []
    for mode, e in (("hybrid", e_q), ("rerank", e_r)):
        q = f"{rng.choice(names[e].split()).lower()} {rng.choice(words)}"
        out.append("/search?" + urlencode({"q": q, "k": 10, "mode": mode}))
    out.append("/graph?" + urlencode({"entity": e_graph, "depth": GRAPH_DEPTH, "direction": "out"}))
    out.append("/context?" + urlencode({"entity": e_ctx, "depth": CONTEXT_DEPTH, "budget": 2000}))
    out.append("/stats")
    return out


def same(a, b) -> bool:
    """JSON equality, except that floats may differ by reassociation
    error: ``/context`` recomputes PageRank after every update, and its
    distributed sums come out in the last digits differently when the edge
    table's files changed even though its rows did not."""
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-15)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def bfs_out(edges: list[tuple], seed: str, depth: int) -> list[dict]:
    """Reference answer for ``/graph``: minimum hop count of every node
    within ``depth`` out-hops of ``seed``, seed included at 0."""
    adj = defaultdict(set)
    for s, _, o, _, _ in edges:
        adj[s].add(o)
    hops = {seed: 0}
    frontier = [seed]
    for d in range(1, depth + 1):
        nxt = sorted({o for n in frontier for o in adj[n]} - hops.keys())
        hops.update((n, d) for n in nxt)
        frontier = nxt
    return [{"node_id": n, "hops": h} for n, h in sorted(hops.items())]


def _get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


def timed_units(ctx: Ctx, phases: list[tuple[Phase, bool]], unit) -> None:
    """Run ``unit(phase)`` until every phase has measured about
    ``ctx.seconds``. With an untraced and a traced phase the units
    alternate between them in ABBA order, so both see the same warm-up
    drift; the layer wrappers are installed only around traced units."""
    order = list(phases)
    while True:
        pending = [(p, t) for p, t in order if p.more(ctx.seconds)]
        if not pending:
            return
        for phase, traced in pending:
            ctx.tracer.unwrap()
            ctx.tracer.enabled = traced
            ctx.tracer.install()
            unit(phase)
            phase.units += 1
        order.reverse()
