"""Benchmark of the validation engine: one workload per process, one client,
one operation at a time (closed loop), at local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload validate_cold --seed 1 --seconds 12 --trace 0

The run starts a Spark session with host-fit settings, generates the
workload's inputs from ``--seed``, runs the workload's ``warmup_ops``
operations, then runs operations for ``--seconds`` seconds (and at least the
workload's ``min_ops``) and checks every output. ``setup_s`` is the session
start plus the warm-up operations. With
``--trace 1`` it then runs one traced operation that times each layer's
public call under its own span with Spark counters.

Standard output ends with two JSON lines: a report (host, settings, every
operation's time and check result, every metric with its unit, including
``failed_frac``), then the result ``{"correct", "attempted", "failed",
"metrics"}``. ``metrics`` holds the ``end_to_end`` metrics of
``BENCHMARK.json`` (``--trace 0``) or its ``per_layer`` metrics
(``--trace 1``). Inputs, temporary files and span files stay under
``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402  (imports the program: fails early without it)
from perfbench.spans import Tracer  # noqa: E402

HEAP = "6g"


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": mem_kb / 2**20,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def start_session(app: str, nproc: int, work: str):
    """The program's session builder with host-fit settings: an explicit
    heap, local[nproc], no console progress, workers importing the checkout,
    every scratch directory inside ``work``, and the JVM's C1 compiler only:
    on a few shared cores, C2 compiling a fresh JVM's hot code competes with
    the engine for them through the first operations."""
    from baskerville_spark.session import get_session

    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
        ),
    }
    spark = get_session(app, master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssPeak(threading.Thread):
    """Samples the JVM's resident set every 50 ms while running."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.path = f"/proc/{pid}/status"
        self.peak_kb = 0
        self._done = threading.Event()

    def sample(self) -> None:
        with open(self.path) as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))

    def run(self) -> None:
        while not self._done.is_set():
            self.sample()
            self._done.wait(0.05)

    def finish(self) -> float:
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0


class Runner:
    """Runs operations, checks each one, and keeps the tally."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.ops: list[dict] = []
        self.next_id = 0

    def one(self, traced_by: Tracer | None = None) -> tuple[float, dict]:
        op_id, self.next_id = self.next_id, self.next_id + 1
        rec = {"op": op_id, "traced": traced_by is not None, "errors": []}
        extra: dict = {}
        out = None
        t0 = time.perf_counter()
        try:
            if traced_by is None:
                out = self.wl.run_op(op_id)
            else:
                out, extra = self.wl.trace_op(traced_by, op_id)
            rec["s"] = time.perf_counter() - t0
            rec["errors"] = self.wl.check(out)
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            rec.setdefault("s", time.perf_counter() - t0)
            rec["errors"] = [traceback.format_exc(limit=8)]
        finally:
            if out is not None:
                workloads.cleanup(out)
        for e in rec["errors"]:
            print(f"perfbench: op {op_id} failed: {e}", file=sys.stderr)
        self.ops.append(rec)
        return rec["s"], extra

    def loop(self, seconds: float, min_ops: int = 1) -> list[float]:
        """Closed loop: the next operation starts when the previous one ends;
        after ``min_ops``, no operation starts after ``seconds``."""
        times = []
        t_end = time.perf_counter() + seconds
        while len(times) < min_ops or time.perf_counter() < t_end:
            times.append(self.one()[0])
        return times

    @property
    def failed(self) -> int:
        return sum(1 for r in self.ops if r["errors"])


def layer_metrics(tracer: Tracer, extra: dict, overhead_s: float) -> dict:
    """Every per-layer metric; a layer the workload's operation never calls
    reads 0."""
    out = {}
    for name in workloads.layer_metric_names():
        if name in extra:
            out[name] = extra[name]
        elif name == "trace.overhead_s":
            out[name] = overhead_s
        else:
            layer, counter = name.rsplit(".", 1)
            span = tracer.last(layer)
            out[name] = getattr(span, counter) if span else 0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_info()
    load_before = os.getloadavg()

    t0 = time.perf_counter()
    spark, conf = start_session(f"perfbench-{args.workload}", host["nproc"], work)
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, f"{work}/data", args.seed, tiny=args.tiny
        )
        t_gen = time.perf_counter()
        wl.prepare()  # the benchmark's own inputs: not part of setup_s
        gen_s = time.perf_counter() - t_gen

        runner = Runner(wl)
        t_setup = time.perf_counter()
        warmup_s = [runner.one()[0] for _ in range(wl.warmup_ops)]
        setup_s = session_s + (time.perf_counter() - t_setup)

        rss = RssPeak(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        rss.start()
        times = runner.loop(args.seconds, wl.min_ops)
        peak_rss_mb = rss.finish()
        op_p50_s = statistics.median(times)

        if args.trace:
            tracer = Tracer(spark)
            _, extra = runner.one(traced_by=tracer)
            composed = tracer.last(wl.composed_span)
            metrics = layer_metrics(tracer, extra, composed.wall_s - op_p50_s)
            tracer.write(os.path.join(base, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": op_p50_s,
                "rows_per_s": wl.rows_in_scope / op_p50_s,
            }
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if set(metrics) != set(units):
        raise SystemExit(
            f"metrics {sorted(set(metrics) ^ set(units))} do not match BENCHMARK.json"
        )
    attempted, failed = len(runner.ops), runner.failed
    shown = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "settings": {"master": f"local[{host['nproc']}]", **conf},
        "rows_in_scope": wl.rows_in_scope,
        "input_gen_s": gen_s,
        "session_s": session_s,
        "warmup_s": warmup_s,
        "op_s": times,
        "op_count": len(times),
        "ops": runner.ops,
        # reported, not bounded: ops either all pass (0) or the run is wrong;
        # the JVM's resident peak varies ~25% between identical runs
        "failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        "metrics": shown,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": shown,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
