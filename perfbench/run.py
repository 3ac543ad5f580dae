"""Benchmark entry point.

    python3 perfbench/run.py --workload search|batch|crud --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds nothing: the program is the
``vector_db_mvp_spark`` package beside this directory. Every store, index,
Spark local dir and temp file lives under ``.perfbench_tmp/`` in the
checkout and is deleted at exit; ``--trace 1`` also writes its spans to
``.perfbench_out/``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``metrics.E2E``), with ``--trace 1`` the
per-layer ones (``metrics.PER_LAYER``, and ``metrics.CRUD_LAYER`` for
``crud``). A wrong answer exits with code 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import sys
import time
import uuid
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


class Context:
    """What a workload needs from the run: the session, a temp root, the
    seed, core count and the tracing hooks (no-ops when untraced)."""

    def __init__(self, spark, tmp: str, seed: int, cores: int, tracer=None) -> None:
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.traced_window = None  # index of the window that is traced
        self.disk_before: dict = {}
        self.disk_after: dict = {}

    def span(self, name: str):
        t = self.tracer
        return t.span(name) if t is not None and t.enabled else nullcontext()

    def before_window(self, i: int) -> None:
        if self.tracer is not None and i == self.traced_window:
            self.disk_before = disk_usage(self.tmp)
            self.tracer.spans.clear()
            self.tracer.frames.clear()
            self.tracer.enabled = True

    def after_window(self, i: int) -> None:
        if self.tracer is not None and i == self.traced_window:
            self.tracer.enabled = False
            self.disk_after = disk_usage(self.tmp)


def disk_usage(tmp: str) -> dict:
    """Bytes under the entity stores and under the index stores."""
    out = {"store_bytes": 0, "index_bytes": 0}
    for top in os.listdir(tmp):
        kind = "index" if "index" in top else "store" if "store" in top else None
        if kind is None:
            continue
        for dirpath, _, files in os.walk(os.path.join(tmp, top)):
            out[f"{kind}_bytes"] += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return out


def _hygiene_env(tmp: str, cores: int, traced: bool) -> None:
    """Pin parallelism and keep every file the run makes under ``tmp``.
    Must run before the JVM starts."""
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}/tmp -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if traced:  # keep every job and stage of the run in the status store
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
    args = " ".join(f'--conf "{k}={v}"' for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _jvm_retained_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) MB the JVM still uses after full GCs: what the
    session holds (cached index frames, checkpoints nobody released,
    compiled code, status store), free of the GC timing that makes its RSS
    high-water mark jump between runs. Python drops its JVM references
    first; GCs repeat, with pauses that let Spark's ContextCleaner free the
    blocks of RDDs a GC found unreachable, until the heap stops shrinking."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = float("inf")
    for _ in range(6):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        before, heap = heap, mx.getHeapMemoryUsage().getUsed() / 2**20
        if before - heap < 1.0:
            break
    return heap, mx.getNonHeapMemoryUsage().getUsed() / 2**20


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate, then wait for the kill
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("search", "crud", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="tiny: small data for the benchmark's own tests, not for measuring",
    )
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not (ROOT / "vector_db_mvp_spark" / "__init__.py").is_file():
        print(f"perfbench: no vector_db_mvp_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    cores = _cores()
    tmp = str(ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    _hygiene_env(tmp, cores, bool(args.trace))
    os.chdir(tmp)

    from perfbench import metrics, workloads
    from perfbench.workloads import median
    from perfbench.trace import Tracer

    tracer = Tracer() if args.trace else None
    spark = None
    try:
        if tracer is not None:
            tracer.install()
        from vector_db_mvp_spark import session

        t0 = time.perf_counter()
        spark = session.get_spark("perfbench")
        session_s = time.perf_counter() - t0
        env = {"spark": spark.version, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"]}
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, tmp, args.seed, cores, tracer)
        if tracer is not None:
            tracer.sc = spark.sparkContext
            tracer.enabled = False
            session_span = list(tracer.spans)
            ctx.traced_window = 1
        # a traced run gives half its time to the traced window and a
        # quarter to an untraced window on either side of it
        s = args.seconds
        windows = [s / 4, s / 2, s / 4] if args.trace else [s]
        spec = workloads.Spec() if args.scale == "full" else workloads.TINY
        result = workloads.WORKLOADS[args.workload](ctx, spec, windows)
        if tracer is None:
            heap_mb, nonheap_mb = _jvm_retained_mb(spark)
            py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            values = metrics.end_to_end(result, session_s, py_mb + heap_mb + nonheap_mb)
            result.extra["memory"] = f"python {py_mb:.0f}, heap {heap_mb:.0f}, non-heap {nonheap_mb:.0f} MB"
        else:
            stats = tracer.spark_stats()
            values = metrics.per_layer(result, tracer.spans, session_span, stats, ctx, cores)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            with open(out_dir / f"trace-{args.workload}-{args.seed}.json", "w") as f:
                json.dump({"env": env, "spans": session_span + tracer.spans, "spark": stats}, f)
    finally:
        if tracer is not None:
            tracer.uninstall()
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        t_stop = time.perf_counter() - t_stop
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(ROOT / ".perfbench_tmp")
        except OSError:
            pass

    print(
        f"perfbench: {args.workload} seed {args.seed}: {env},"
        f" session {session_s:.1f} s,"
        f" set-up reps {[round(x, 2) for x in result.setup_s]} s,"
        f" warm {result.extra['warm_s']:.1f} s, windows"
        f" {[(round(w.wall_s, 1), len(w.lat_ms)) for w in result.windows]} (s, ops),"
        f" stop {t_stop:.1f} s, total {time.perf_counter() - t_start:.1f} s,"
        f" memory {result.extra.get('memory', '-')}",
        file=sys.stderr,
    )
    for name in ("steps", "kind_ms"):
        detail = result.windows[-1].extra.get(name)
        if detail:
            medians = {k: round(median(v), 3) for k, v in detail.items()}
            print(f"perfbench: median {name} {medians}", file=sys.stderr)
    for e in result.errors[:20]:
        print(f"perfbench: WRONG ANSWER: {e}", file=sys.stderr)
    attempted = sum(w.attempted for w in result.windows)
    failed = sum(w.failed for w in result.windows)
    table = metrics.per_layer_table(args.workload) if args.trace else metrics.E2E
    print(json.dumps({
        "correct": not result.errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit} for m in table},
    }))
    return 0 if not result.errors and attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
