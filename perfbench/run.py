#!/usr/bin/env python3
"""The repo's benchmark: one command, two closed-loop single-client
workloads, outputs checked, every metric printed by name and unit.

    python3 perfbench/run.py --workload {pg_export,registry}
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. One driver on local[nproc] runs the
workload's ops one after another (at most nproc PostgreSQL connections):
set-up (session boot, registry load, two warm passes), then a timed window of
at least ``--seconds``, then, with ``--trace 1``, a traced pass and the per-layer
measurements. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The full record (run
environment, samples, errors, spans) goes to ``.perfbench/out/``.

See perfbench/README.md for the workloads, the metric -> layer -> workload
map and the predictions later changes are measured against.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import time
import traceback
from statistics import median

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("pg_export", "registry")
# Set-up runs every op this many times before the clock starts: the first
# pass compiles, the second still speeds up as the JIT warms.
WARM_PASSES = 2
# ...and the timed window gives every op at least this many samples.
MIN_SAMPLES = 2
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mib": "MiB",
}


def per_layer_units() -> dict[str, str]:
    from registry_ops import OPS

    units = {
        "session.boot_s": "s", "registry.load_s": "s", "warmup.first_pass_s": "s",
        "operators.build_s": "s", "catalyst.plan_s": "s", "spark.exec_s": "s",
        "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.task_wait_s": "s",
        "spark.gc_s": "s", "spark.tasks": "count", "spark.shuffle_write_mib": "MiB",
        "spark.spill_mib": "MiB", "python.sent_mib": "MiB", "python.received_mib": "MiB",
        "pg.gen_s": "s", "pg.copy_floor_s": "s", "pgcopy.probe_s": "s", "pgcopy.read_s": "s",
        "pgcopy.wire_mib": "MiB",
    }
    for fam in ("scalars", "enum", "range", "composite", "array", "vector"):
        units[f"typemap.{fam}_s"] = "s"
    units.update({
        "export.write_s": "s", "export.out_mib": "MiB", "export.files": "count",
        "export.bytes_per_row": "B/row", "floor.pyarrow_s": "s", "floor.ratio": "ratio",
    })
    for op in OPS:
        units[f"query.{op}_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def pin_env(nproc: int) -> None:
    """Everything the run writes stays under .perfbench/ in the checkout.
    Python workers need the checkout root on PYTHONPATH to import the
    package."""
    for d in ("spark-local", "tmp", "out"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    tmp = os.path.join(STATE, "tmp")
    for name in os.listdir(tmp):  # fixture dirs left by earlier runs
        shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PGCLIENTENCODING"] = "UTF8"
    sys.path.insert(0, ROOT)


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None  # a plain checkout carries no git metadata


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run(args, nproc: int) -> tuple[dict, dict]:
    from harness import RssSampler, SparkStatus, Tracer

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=bool(args.trace))
    sampler = RssSampler().start()
    rec: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "nproc": nproc, "git_commit": git_commit(),
                 "loadavg_before": os.getloadavg(), "errors": []}
    ticks0 = cpu_ticks()
    spark = cluster = None
    excluded = 0.0
    try:
        if args.workload == "pg_export":
            import pg_export

            t0 = time.perf_counter()
            cluster, table, fingerprint, rec["pg"] = pg_export.start_server(
                STATE, args.seed, pg_export.ROWS)
            excluded = time.perf_counter() - t0

        from pg2parquet_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.boot"):
            spark = get_spark(app_name=f"perfbench_{args.workload}", cpus=nproc,
                              shuffle_partitions=nproc)
            spark.sparkContext.setLogLevel("ERROR")
        boot_s = time.perf_counter() - t0
        status = SparkStatus(spark) if args.trace else None

        t0 = time.perf_counter()
        if args.workload == "pg_export":
            wl = pg_export.PgExportWorkload(
                spark, tracer, cluster, table, pg_export.ROWS, fingerprint,
                os.path.join(STATE, "out"), nproc)
        else:
            from registry_ops import RegistryWorkload

            wl = RegistryWorkload(spark, tracer)
        load_s = time.perf_counter() - t0

        rng = random.Random(args.seed)
        attempted = failed = 0

        def one(op: str, traced: bool) -> float | None:
            nonlocal attempted, failed
            attempted += 1
            try:
                dt, err = wl.run_op(op, traced)
            except Exception:  # a failing op counts, the run goes on
                dt, err = None, f"{op}: {traceback.format_exc()[-2000:]}"
            if err:
                failed += 1
                rec["errors"].append(err)
            return dt

        warm: dict[str, list] = {op: [] for op in wl.ops}
        warm_s = []
        for _ in range(WARM_PASSES):
            t0 = time.perf_counter()
            with tracer.span("warmup.pass"):
                for op in rng.sample(wl.ops, len(wl.ops)):
                    warm[op].append(one(op, False))
            warm_s.append(time.perf_counter() - t0)
        rec["warm_samples"] = warm
        setup_s = time.perf_counter() - T_START - excluded

        samples: dict[str, list[float]] = {op: [] for op in wl.ops}
        passes = 0
        t0 = time.perf_counter()
        with tracer.span("window"):
            while True:
                for op in rng.sample(wl.ops, len(wl.ops)):
                    dt = one(op, False)
                    if dt is not None:
                        samples[op].append(dt)
                passes += 1
                # an op that never succeeds cannot hold the window open past 3x
                elapsed = time.perf_counter() - t0
                if elapsed >= args.seconds and (
                    all(len(s) >= MIN_SAMPLES for s in samples.values())
                    or elapsed >= 3 * args.seconds
                ):
                    break
        rec.update(window_s=time.perf_counter() - t0, passes=passes,
                   samples={op: [round(x, 4) for x in s] for op, s in samples.items()})
        if not all(samples.values()):
            raise RuntimeError("an op produced no timing in the window")
        pass_s = sum(median(s) for s in samples.values())
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": wl.rows_per_pass() / pass_s,
            "peak_rss_mib": None,  # filled in once everything has stopped
        }
        rec["setup"] = {"boot_s": boot_s, "load_s": load_s, "warm_passes_s": warm_s,
                        "excluded_s": excluded}

        layers: dict = {}
        if args.trace:
            # the untraced reference for the overhead is the pass right
            # before the traced one, so JIT warm-up drift stays out of it
            t0 = time.perf_counter()
            for op in rng.sample(wl.ops, len(wl.ops)):
                one(op, False)
            ref_s = time.perf_counter() - t0
            mark = status.mark()
            t0 = time.perf_counter()
            with tracer.span("traced_pass"):
                for op in rng.sample(wl.ops, len(wl.ops)):
                    one(op, True)
            traced_s = time.perf_counter() - t0
            delta = status.delta(mark)
            layers = {
                "session.boot_s": boot_s, "registry.load_s": load_s,
                "warmup.first_pass_s": warm_s[0],
                "operators.build_s": tracer.total_in("operators.build", "traced_pass"),
                "catalyst.plan_s": tracer.total_in("catalyst.plan", "traced_pass"),
                "spark.exec_s": tracer.total_in("spark.exec", "traced_pass"),
                "python.sent_mib": delta.pop("python_sent_mib"),
                "python.received_mib": delta.pop("python_received_mib"),
                "pg.gen_s": rec.get("pg", {}).get("gen_s", 0.0),
                "trace.overhead_s": traced_s - ref_s,
            }
            layers.update({f"spark.{k}": v for k, v in delta.items()})
            layers.update(wl.layers(samples))
            rec["reconcile"] = reconcile(args.workload, layers, pass_s, traced_s)
        rec["loadavg_after"] = os.getloadavg()
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        rec["cpu_steal_share"] = ticks[7] / max(sum(ticks), 1)
        return rec, {"metrics": metrics, "layers": layers, "attempted": attempted,
                     "failed": failed, "tracer": tracer}
    finally:
        if spark is not None:
            stop_spark(spark)
        if cluster is not None:
            cluster.stop()
        rec["peak_rss_mib"] = sampler.stop()
        rec["peak_rss_parts_mib"] = [round(b / 2**20) for b in sampler.peak_parts]


def reconcile(workload: str, layers: dict, pass_s: float, traced_s: float) -> dict:
    """The per-layer parts against the whole they should add up to."""
    if workload == "pg_export":
        parts = layers["pgcopy.read_s"] + layers["export.write_s"] + sum(
            v for k, v in layers.items() if k.startswith("typemap."))
        return {"read+typemap+write_s": parts, "export_s": pass_s,
                "residual_s": pass_s - parts}
    parts = layers["operators.build_s"] + layers["catalyst.plan_s"] + layers["spark.exec_s"]
    return {"build+plan+exec_s": parts, "traced_pass_s": traced_s, "pass_s": pass_s,
            "residual_vs_pass_s": parts - pass_s,
            "trace_overhead_s": layers["trace.overhead_s"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and PostgreSQL server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    nproc = len(os.sched_getaffinity(0))
    pin_env(nproc)
    try:
        import pg2parquet_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    rec, res = run(args, nproc)
    metrics = res["metrics"]
    metrics["peak_rss_mib"] = rec["peak_rss_mib"]
    attempted, failed = res["attempted"], res["failed"]

    if args.trace:
        units = per_layer_units()
        layers = {name: res["layers"].get(name, 0.0) for name in units}
        out = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        out = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in metrics.items()}
    rec.update(end_to_end=metrics, per_layer=res["layers"], attempted=attempted,
               failed=failed, error_rate=failed / max(attempted, 1))

    base = os.path.join(STATE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(rec, f, indent=1, default=float)
    if args.trace:
        with open(base + ".spans.jsonl", "w") as f:
            for s in res["tracer"].spans:
                f.write(json.dumps(s) + "\n")

    print(f"perfbench {args.workload} seed={args.seed} nproc={nproc} "
          f"passes={rec['passes']} record={os.path.relpath(base, ROOT)}.json")
    for k, v in out.items():
        print(f"  {k:<42} {v['value']:>14.4f} {v['unit']}")
    print(f"  {'error_rate':<42} {rec['error_rate']:>14.4f} ratio "
          f"({failed} of {attempted} ops failed or wrong)")
    for err in rec["errors"][:10]:
        print(f"  error: {err.strip().splitlines()[-1][:300]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
