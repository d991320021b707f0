"""KG construction benchmark: build, and refresh-while-serving, on ``local[4]``.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run it from the repository root. It generates a seeded corpus with
``corpus.generator``, writes it to parquet, computes the expected graph with
``corpus.oracle``, starts the program's own Spark session and runs one
workload for ``--seconds`` of timed operations, checking every operation's
output outside the timed interval. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics (``setup_s``, ``ops_per_s``,
``op_p50_ms``). ``--trace 1`` runs one untraced and one traced timed
interval and reports the per-layer metrics of ``tracing.py`` instead; the
spans themselves go to ``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` in the current
directory, and the per-run scratch directory there is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("kg_build", "kg_live")
N_PAGES = 8_000  # 2,000 entities; see inputs.py
MASTER = "local[4]"
HERE = os.path.dirname(os.path.abspath(__file__))
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>
REAP_GRACE_S = 30.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=N_PAGES,
                   help=f"corpus size (default {N_PAGES}; the counter test uses fewer)")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Make the package importable here and in Spark's Python workers, and
    keep every temporary file inside ``work``."""
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "augmented_codebase_indexer_spark")):
        sys.exit("run from the repository root: augmented_codebase_indexer_spark/ not found")
    sys.path[:0] = [root, HERE]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # statusTracker keeps 1000 jobs/stages by default; a traced run
            # needs every one of them at the end
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits on EOF of
    its stdin)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the subreaper of everything the run starts, so a
    process orphaned by its parent (Spark's Python daemon and workers can
    outlive the JVM by a moment) is re-parented here and can be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def reap_children() -> None:
    """Wait until every child, adopted orphans included, has exited; kill
    whatever is still running after ``REAP_GRACE_S`` seconds."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + REAP_GRACE_S
        time.sleep(0.05)


def end_to_end(phase, setup_s: float, per_op: int) -> dict:
    """``ops_per_s`` over the whole timed interval, ``op_p50_ms`` over its
    operations; ``per_op`` consecutive timed calls make one operation."""
    ops = phase.ops(per_op)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": len(ops) / sum(ops), "unit": "1/s"},
        "op_p50_ms": {"value": statistics.median(ops) * 1000.0, "unit": "ms"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    prepare_env(work)
    adopt_orphans()
    try:
        return run(args, base, work)
    finally:
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def run(args, base: str, work: str) -> int:
    import inputs as inp
    import layers
    import workloads as wl
    from tracing import Tracer

    t_inputs = time.perf_counter()
    data = inp.write_inputs(work, os.path.join(base, "oracle"), args.seed, args.pages,
                            refresh=args.workload == "kg_live")
    inputs_s = time.perf_counter() - t_inputs

    from augmented_codebase_indexer_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    t0, w0 = time.perf_counter(), time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=MASTER,
                      extra_conf=session_conf(work, bool(args.trace)))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    tracer.begin_op("session", timed=False)
    tracer.record("session.get_spark", w0, time.time())
    tracer.install()

    ctx = wl.Ctx(spark, data, work, args.seconds, tracer, setup_start=t0)
    phases = [(wl.Phase(), False)] + ([(wl.Phase(), True)] if args.trace else [])
    try:
        if args.workload == "kg_build":
            out = wl.kg_build(ctx, phases)
        else:
            out = wl.kg_live(ctx, phases, args.seed)
        tracer.unwrap()
        extra = {}
        if args.trace:
            extra = layers.workload_extras(args.workload, ctx, out, phases)
            jobs = tracer.collect_jobs()
    finally:
        stop_spark(spark)

    # setup_s runs from process start to the first timed operation, minus
    # the benchmark's own input generation and oracle
    setup_s = (t0 - T_START - inputs_s) + ctx.setup_s
    attempted = sum(len(p.durations) for p, _ in phases) + len(out["setup"].durations)
    failed = sum(p.failed for p, _ in phases) + out["setup"].failed
    if args.trace:
        if args.workload == "kg_build":
            extra["plans.pipeline.scaling_eff_1_4"] = layers.scaling_efficiency(
                ctx, statistics.median(phases[0][0].durations))
        metrics = layers.report(args, base, tracer, jobs, work, extra)
    else:
        metrics = end_to_end(phases[0][0], setup_s, wl.CALLS_PER_OP[args.workload])
    by_label: dict[str, list[float]] = {}
    for p, _ in phases:
        for label, d in zip(p.labels, p.durations):
            by_label.setdefault(label, []).append(round(d * 1000.0))
    print(f"inputs {inputs_s:.1f} s, session {t1 - t0:.1f} s, setup {setup_s:.1f} s, "
          f"timed {sum(sum(p.durations) for p, _ in phases):.1f} s, "
          f"total {time.perf_counter() - T_START:.1f} s, ms by operation {by_label}",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
