"""perfbench runner: one closed-loop workload, one client, one process.

    python3 perfbench/run.py --workload backtest --seed 1 --seconds 14 --trace 0

Run from the repository root. The run starts a pinned local Spark session,
builds its inputs from ``--seed``, warms up, then runs ops back to back for
``--seconds`` seconds. Every op's output is checked outside the timers.
Stdout ends with a ``perfbench-report`` line (environment, per-op samples,
error rate) and then the result line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
metrics.END_TO_END untraced, the per-layer metrics of metrics.PER_LAYER with
``--trace 1``. Traced runs also write their spans to
``.perfbench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

from metrics import END_TO_END, PER_LAYER  # noqa: E402

# Heap of the Spark JVM: room for the backtest lake, well inside a 15 GB box
# shared with other processes.
JVM_HEAP = "2g"


def start_session(tmp: str, cores: int):
    """Pinned session: local[cores], shuffle partitions = cores, a fixed
    JVM heap, and every scratch directory inside ``tmp``."""
    from backtest_crew_datalake_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": f"{tmp}/spark-local",
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Runs ops one after another and keeps the accounting: latencies of
    measured ops, attempted/failed counts, and the first errors seen."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.ops = wl.ops()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.lat: list[float] = []          # measured, untraced ops
        self.lat_traced: list[float] = []   # measured, traced ops
        self.seq: list = []                 # op descriptors, for replay checks

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def one(self, idx: int, traced: bool) -> float | None:
        """Prepare, execute (timed) and check one op; returns its latency,
        or None when it failed."""
        op = next(self.ops)
        self.seq.append(op["key"])
        inp = self.wl.prepare(op)
        tr = self.tracer if traced else None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tr is None and self.tracer is not None:
                # untraced op inside a traced run: one job group for the op,
                # so its job count can be read back
                with self.tracer.span("op.untraced", idx):
                    out = self.wl.execute(op, inp, None, idx)
            else:
                out = self.wl.execute(op, inp, tr, idx)
            dt = time.perf_counter() - t0
        except Exception:
            self._fail(f"op {idx} {op['key']}: {traceback.format_exc(limit=3)}")
            return None
        if self.tracer is not None:
            self.tracer.attribute()
        try:
            problems = self.wl.check(op, out)
        except Exception:
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self._fail(f"op {idx} {op['key']}: check failed: {problems[:3]}")
            return None
        return dt


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backtest", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the self-test")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt every op's output before its check "
                         "(self-test of the checks)")
    args = ap.parse_args(argv)

    try:
        import backtest_crew_datalake_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the program is not here ({ex}); run from the "
              "repository root", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    os.environ["TMPDIR"] = tmp  # python workers' temp files
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    tempfile.tempdir = tmp

    from wl_backtest import Backtest
    from wl_ingest import Ingest

    workloads = {"backtest": Backtest, "ingest": Ingest}
    t0 = time.perf_counter()
    spark = start_session(tmp, cores)
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        return _run(args, spark, workloads, tmp, cores, session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, spark, workloads, tmp, cores, session_s) -> int:
    from tracing import Tracer

    wl = workloads[args.workload](
        spark, tmp, args.seed, tiny=args.tiny, inject_fault=args.inject_fault)
    tracer = Tracer(spark) if args.trace else None
    build_s = wl.build(tracer)
    loop = Loop(wl, tracer)

    warm = []
    for i in range(wl.warmup_ops):
        dt = loop.one(-1 - i, traced=False)
        warm.append(dt if dt is not None else float("nan"))
    setup_s = session_s + build_s + sum(warm)

    floor_s = 0.0
    if tracer is not None:
        acts = []
        for _ in range(5):
            t = time.perf_counter()
            spark.range(1).count()
            acts.append(time.perf_counter() - t)
        floor_s = statistics.median(acts)

    t_end = time.perf_counter() + args.seconds
    idx = 0
    while idx == 0 or time.perf_counter() < t_end:
        traced = tracer is not None and idx % 2 == 1
        dt = loop.one(idx, traced)
        if dt is not None:
            (loop.lat_traced if traced else loop.lat).append(dt)
        idx += 1
    if tracer is not None and not loop.lat_traced:
        dt = loop.one(idx, True)  # a traced run always has one traced op
        if dt is not None:
            loop.lat_traced.append(dt)

    loop.attempted += 1
    try:
        final = wl.final_check()
    except Exception:
        final = [traceback.format_exc(limit=3)]
    if final:
        loop._fail(f"final check: {final[:3]}")

    lat = loop.lat
    p50 = statistics.median(lat) if lat else float("nan")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny,
        "env": {
            "master": f"local[{cores}]", "shuffle_partitions": cores,
            "jvm_heap": JVM_HEAP, "cores": cores,
            "SPARK_LOCAL_IP": os.environ.get("SPARK_LOCAL_IP"),
            "spark": spark.version, "python": platform.python_version(),
            "machine": platform.machine(), **wl.env(),
        },
        "setup": {"session_s": session_s, "build_s": build_s, "warmup_s": warm},
        "ops": len(lat), "latencies_s": [round(x, 4) for x in lat],
        "p50_s": p50,
        "attempted": loop.attempted, "failed": loop.failed,
        "error_rate": loop.failed / loop.attempted,
        "errors": loop.errors, "op_keys": loop.seq, **wl.report(),
    }

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "p50_s": p50,
            "items_per_s": wl.items_per_op * len(lat) / sum(lat) if lat else 0.0,
        }
        units = END_TO_END
    else:
        values = dict.fromkeys(PER_LAYER, 0)
        values["session.floor_s"] = floor_s
        if lat and loop.lat_traced:
            values["trace.overhead_s"] = (statistics.median(loop.lat_traced)
                                          - statistics.median(lat))
        values["spark.failed_tasks"] = sum(s.get("failed_tasks", 0)
                                           for s in tracer.spans)
        values.update(wl.layer_metrics(tracer))
        units = PER_LAYER
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))

    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
