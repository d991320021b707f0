"""Per-layer numbers of the traced run.

``workload_extras`` measures what spans cannot see while the session is up:
matcher-tier and text-extraction cost per page, strong scaling of a build
(in a separate JVM), the kg_live warehouse's storage drift, and tracing
overhead. ``report`` turns the recorded spans, ``statusTracker`` job ids and
the event log into the per-layer metrics and writes the trace file.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import tracing
import workloads as wl
from augmented_codebase_indexer_spark.functions.openie import (
    build_matcher,
    extract_triples_from_text,
)
from augmented_codebase_indexer_spark.functions.textextract import extract_text

MICRO_PAGES = 400       # seeded pages timed directly in the driver


def matcher_tiers(pages: list[dict], gazetteer: list[dict]) -> dict[str, float]:
    """Per-page cost of ``extract_text`` and of ``extract_triples_from_text``
    under both ``build_matcher`` tiers, on the same seeded English pages."""
    html = [p["html"] for p in pages if p["lang"] == "en"][:MICRO_PAGES]
    t = time.perf_counter()
    texts = [extract_text(h) for h in html]
    extract_us = (time.perf_counter() - t) / len(html) * 1e6
    texts = [x for x in texts if x]
    aliases = [g["alias"] for g in gazetteer]
    t = time.perf_counter()
    build_matcher(aliases)
    build_ms = (time.perf_counter() - t) * 1000.0
    out = {"functions.textextract.extract_text.us_per_page": extract_us,
           "functions.openie.build_matcher.ms": build_ms}
    tiers = {"regex": build_matcher(aliases, ac_threshold=len(aliases) + 1),
             "ac": build_matcher(aliases, ac_threshold=0)}
    results = {}
    for tier, matcher in tiers.items():
        t = time.perf_counter()
        results[tier] = [extract_triples_from_text(x, matcher) for x in texts]
        out[f"functions.openie.extract_triples_from_text.us_per_page_{tier}"] = (
            (time.perf_counter() - t) / len(texts) * 1e6)
    if results["regex"] != results["ac"]:
        raise RuntimeError("matcher tiers disagree on the seeded pages")
    return out


def scaling_efficiency(ctx, build_s_4: float) -> float:
    """T(local[1]) / (4 · T(local[4])) for one warmed build. T(local[4]) is
    the median untraced build of this run; T(local[1]) comes from a build
    in its own JVM (``scaling.py``), warmed the same way."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "scaling.py"),
           "--master", "local[1]", "--work", os.path.join(ctx.work, "scale1"),
           "--pages", ctx.inputs.paths["pages"], "--gazetteer", ctx.inputs.paths["gazetteer"]]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    build_s_1 = json.loads(res.stdout.strip().splitlines()[-1])["build_s"]
    return build_s_1 / (4 * build_s_4)


def workload_extras(workload: str, ctx, out: dict, phases) -> dict:
    extra: dict = {}
    untraced, traced = phases[0][0], phases[1][0]
    if workload == "kg_build":
        extra.update(matcher_tiers(ctx.inputs.pages, ctx.inputs.gazetteer))
    else:
        extra.update(wl.refresh_storage(out["warehouse"]))
        extra["update_ms_by_index"] = [
            round(op["ms"], 1) for op in ctx.tracer.ops if op["label"].startswith("to_")]
    per_op = wl.CALLS_PER_OP[workload]
    p50 = [statistics.median(p.ops(per_op)) for p in (untraced, traced)]
    extra["tracing_overhead_pct"] = (p50[1] - p50[0]) / p50[0] * 100.0
    return extra


def report(args, base: str, tracer, jobs: dict, work: str, extra: dict) -> dict:
    """Per-layer metrics of a traced run; spans and per-span counters go to
    ``.perfbench/traces/<workload>-seed<seed>.json``."""
    job_times, stage_metrics = tracing.read_event_log(os.path.join(work, "events"))
    records = tracing.span_metrics(tracer, jobs, job_times, stage_metrics)
    values, p90_samples = tracing.layer_values(tracer, records)
    values.update({k: v for k, v in extra.items() if k in tracing.EXTRA_METRICS})
    out_dir = os.path.join(base, "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "ops": tracer.ops,
                   "extra": extra, "p90_samples": p90_samples, "spans": records}, f)
    units = {m["name"]: m["unit"] for m in tracing.per_layer_spec()}
    return {name: {"value": values.get(name, 0.0), "unit": unit}
            for name, unit in units.items()}
