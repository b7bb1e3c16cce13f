"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up, runs the workload's closed loop for ``--seconds``, checks
the outputs, and prints two JSON lines on stdout: a report with every
named figure of the workload (unit and sample count), then the result
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 1``
records spans around the layer calls and reports the per-layer metrics
instead of the end-to-end ones; the spans are written to
``.perfbench_out/``. Exits non-zero without a result when the program
cannot be imported from the checkout or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import ExitStack, contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s", "peak_rss_mb": "MB"}
DRIVER_MEM = "2g"  # heap of the driver JVM, which runs every Spark task


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def host_state() -> dict:
    """load1 and available memory at start (noise provenance)."""
    state = {"load1": round(os.getloadavg()[0], 2)}
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                state["mem_available_mb"] = int(line.split()[1]) // 1024
    return state


class RssSampler(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) and keeps the peak.
    Each process counts its proportional set size (Pss), so pages the
    forked Python workers share are counted once."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        me, total = os.getpid(), 0
        for pid in parent:
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                try:
                    total += self._pss(pid)
                except OSError:  # the process ended between the two reads
                    pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


class Timing:
    seconds = 0.0


class Ctx:
    """What a workload sees: the session, its seed and scratch dir, and
    ``timed`` -- the one timed region per operation. Before ``measuring``
    is set, timed calls belong to set-up (warm-up) and are not traced as
    operations."""

    def __init__(self, spark, seed: int, work: str, size: str, tracer=None):
        self.spark, self.seed, self.work, self.size = spark, seed, work, size
        self.tracer = tracer
        self.measuring = False
        self.n_ops = 0

    @contextmanager
    def timed(self, kind: str):
        tm = Timing()
        tr = self.tracer if self.measuring else None
        with ExitStack() as stack:
            if tr is not None:
                tr.op = f"op-{self.n_ops}"
                self.n_ops += 1
                stack.enter_context(tr.span("op"))
            t0 = time.perf_counter()
            try:
                yield tm
            finally:
                tm.seconds = time.perf_counter() - t0
        if tr is not None:
            tr.spans[-1]["kind"] = kind
            tr.op = "check"  # work after the timed region is not measured


def measure(wl, ctx, seconds: float):
    """Closed loop for at most ``seconds``, then the end-of-run checks. At
    least one operation runs; another starts only if, lasting as long as
    the previous one, it would end within ``seconds``, so the number of
    operations in a run does not flip with small changes in their time.
    Returns the ops as (kind, seconds, ok) and the number of failed
    operations: raised, failed their own check, or shown wrong by the
    end-of-run check."""
    ops, failed, last = [], 0, 0.0
    start = time.perf_counter()
    while not ops or time.perf_counter() - start + last <= seconds:
        t0 = time.perf_counter()
        try:
            kind, dt, ok = wl.step(ctx)
        except Exception:
            traceback.print_exc()
            kind, dt, ok = "error", 0.0, False
        last = time.perf_counter() - t0
        ops.append((kind, dt, ok))
        failed += not ok
    return ops, min(len(ops), failed + wl.finish(ctx))


def failed_frac(ops, failed: int) -> float:
    return failed / len(ops) if ops else 1.0


def clear_stale(scratch: str) -> None:
    """Remove the scratch dirs (named by pid) of earlier runs that have
    ended; a run still going keeps its own."""
    if not os.path.isdir(scratch):
        return
    for name in os.listdir(scratch):
        if name.isdigit() and os.path.exists(f"/proc/{name}"):
            continue
        shutil.rmtree(os.path.join(scratch, name), ignore_errors=True)


def prepare_env(work: str, trace: bool) -> int:
    """Process-wide settings the Spark driver, JVM and Python workers
    inherit. Returns the core count used for master and partitions."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: HotSpot would write /tmp/hsperfdata_<user>.
    # -Xms = the heap limit: the early builds of a run do not pay for
    # growing the heap, and the peak memory does not depend on when G1
    # decides to grow it.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} "
        "-XX:-UsePerfData' pyspark-shell")
    os.environ.pop("SPARK_GRAFT_STAGE_COMMIT", None)
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(work, "eventlog")
    return ncpu


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    started = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few pages per workload, for smoke tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "graphiti_spark")):
        print(f"perfbench: no graphiti_spark package under {ROOT}", file=sys.stderr)
        return 2
    host = host_state()
    scratch = os.path.join(ROOT, ".perfbench_work")
    clear_stale(scratch)
    work = os.path.join(scratch, str(os.getpid()))
    ncpu = prepare_env(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    import spans as tracing
    from graphiti_spark.session import get_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sampler = RssSampler()
    sampler.start()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{ncpu}]", shuffle_partitions=ncpu)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        ctx = Ctx(spark, args.seed, work, args.size, tracer)
        wl = WORKLOADS[args.workload]()
        with (tracing.instrument(tracer) if tracer else nullcontext()):
            wl.setup(ctx)
            setup_s = time.time() - started
            ctx.measuring = True
            ops, failed = measure(wl, ctx, args.seconds)
    except Exception:
        traceback.print_exc()
        stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1

    figures = wl.report([op for op in ops if op[0] != "error"])
    layer = None
    if tracer is not None:
        ev_dir = os.environ["SPARK_GRAFT_EVENTLOG"]
        stop_spark(spark)
        logs = [os.path.join(ev_dir, f) for f in os.listdir(ev_dir)]
        groups = tracing.read_event_log(logs[0])
        summary = tracing.summarize(tracer, groups)
        layer = tracing.per_layer(summary, tracer, groups)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, **summary,
                       "counts": tracer.counts}, fh)
    else:
        stop_spark(spark)
    sampler.stop()
    peak_mb = sampler.peak_bytes / 2**20
    shutil.rmtree(work, ignore_errors=True)
    if not os.listdir(scratch):
        os.rmdir(scratch)

    e2e = {"setup_s": setup_s, "op_p50_s": figures["op_p50_s"][0],
           "work_per_s": figures["work_per_s"][0], "peak_rss_mb": peak_mb}
    attempted = len(ops)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": ncpu, "host": host,
        "figures": {k: {"value": v[0], "unit": v[1], "n": v[2],
                        **({"percentile": v[3]} if len(v) > 3 else {})}
                    for k, v in figures.items()},
        "checks": getattr(wl, "checks", {}),
        "ops": [[kind, round(dt, 4), ok] for kind, dt, ok in ops],
        "ops_failed_frac": failed_frac(ops, failed),
        "peak_rss_mb": peak_mb, "setup_s": setup_s,
    }
    print(json.dumps({"report": report}), flush=True)
    if layer is not None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
