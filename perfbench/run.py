"""Benchmark of the bi5 engine: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload ticks_rw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One driver thread submits an operation,
waits for its result, checks it outside the timed region, and submits the
next.  It runs as many whole rounds as fit in ``--seconds`` (at least one;
the catalog always runs exactly one pass over its roster).  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end figures; ``--trace 1`` re-runs the workload with Spark's event
log, job groups and spans on, and reports the per-layer figures plus the
tracing overhead (see NOTES.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# set-up (data generation) repeats this often; setup_s takes the median
SETUP_REPEATS = 3
FLOOR_JOBS = 5

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "op_p50_s": "s",
    "op_geomean_s": "s",
}


@dataclass
class Op:
    kind: str
    op_id: str
    round: int
    seconds: float
    start_epoch: float
    ok: bool


# what each derived per-layer figure is a share or rate of
BASES = {
    "codec.ticks_per_s": "ticks decoded / (codec.decode_s + codec.batch_s)",
    "reader.prune_ratio": "1 - reader.files_kept / reader.files_listed",
    "scan.per_task_overhead_ms": "(scan.task_run_s - reader.read_s) / scan.tasks",
    "scan.boundary_ratio": "scan.task_run_s / reader.read_s",
    "stage.task_skew": "max / median task run time in the longest stage",
    "writer.bytes_per_tick": "bytes written / ticks in the slice",
    "trace.overhead_s": "trace.round_s - trace.untraced_round_s",
}


def per_layer_names(catalog_roster) -> dict[str, str]:
    names = {
        "setup.session_s": "s", "setup.generate_s": "s", "setup.warmup_s": "s",
        "driver.job_floor_s": "s", "driver.plan_s": "s", "driver.peak_rss_mb": "MB",
        "codec.decode_s": "s", "codec.batch_s": "s", "codec.ticks_per_s": "ticks/s",
        "codec.files_skipped": "count", "codec.lzma_floor_s": "s",
        "reader.plan_s": "s", "reader.files_listed": "count", "reader.files_kept": "count",
        "reader.prune_ratio": "ratio", "reader.read_s": "s",
        "scan.tasks": "count", "scan.task_run_s": "s", "scan.task_cpu_s": "s",
        "scan.per_task_overhead_ms": "ms", "scan.boundary_ratio": "ratio",
        "stage.count": "count", "stage.tasks": "count", "stage.task_run_s": "s",
        "stage.gc_s": "s", "stage.shuffle_write_bytes": "bytes",
        "stage.shuffle_read_bytes": "bytes", "stage.spill_bytes": "bytes",
        "stage.task_skew": "ratio",
        "writer.encode_s": "s", "writer.files_written": "count",
        "writer.bytes_per_tick": "bytes", "write.shuffle_bytes": "bytes",
        "write.tasks": "count",
        "trace.round_s": "s", "trace.untraced_round_s": "s", "trace.overhead_s": "s",
    }
    for q in catalog_roster:
        names[f"catalog.{q}_s"] = "s"
    return names


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["ticks_rw", "catalog_sf01"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    return p.parse_args(argv)


def make_workload(name: str, tiny: bool):
    if name == "ticks_rw":
        from ticks import TicksRW

        return TicksRW(tiny)
    from catalog import Catalog

    return Catalog(tiny)


def run_rounds(spark, wl, seconds: float, tracer, traced: bool) -> list[Op]:
    """The closed loop: as many whole rounds as fit in ``seconds``, at least one."""
    ops: list[Op] = []
    t_end = time.perf_counter() + seconds

    def run_op(kind, op_and_check):
        op, check = op_and_check
        op_id = f"{kind}#{len(ops)}"
        if traced:
            spark.sparkContext.setJobGroup(op_id, kind)
        start_epoch = time.time()
        with tracer.span(f"op.{kind}", op=op_id):
            t0 = time.perf_counter()
            try:
                op()
                ok = None
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"op {op_id} failed: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
        if ok is None:
            try:
                ok = bool(check())
            except Exception as e:  # noqa: BLE001 - a broken result is a wrong result
                print(f"op {op_id} check raised: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"op {op_id} returned a wrong result", file=sys.stderr)
        ops.append(Op(kind, op_id, r, dt, start_epoch, ok))

    r = 0
    while True:
        t0 = time.perf_counter()
        with tracer.span("round"):
            wl.round(spark, r, run_op)
        r += 1
        # whole rounds only: stop unless another one fits in ``seconds``,
        # so a round near the limit does not flip the round count
        now = time.perf_counter()
        if wl.single_round or now + (now - t0) > t_end:
            break
    return ops


def end_to_end(ops: list[Op], setup_s: float) -> dict[str, float]:
    rounds: dict[int, float] = {}
    for o in ops:
        rounds[o.round] = rounds.get(o.round, 0.0) + o.seconds
    secs = [o.seconds for o in ops]
    return {
        "setup_s": setup_s,
        "round_s": statistics.median(rounds.values()),
        "op_p50_s": statistics.median(secs),
        "op_geomean_s": math.exp(sum(map(math.log, secs)) / len(secs)),
    }


def base_key(args) -> str:
    return args.workload + ("-tiny" if args.tiny else "")


def untraced_base(results_path: str, workload: str) -> tuple[float, int]:
    """Median ``round_s`` of the untraced runs recorded in this checkout."""
    vals = []
    if os.path.exists(results_path):
        with open(results_path) as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == workload:
                    vals.append(rec["round_s"])
    vals = vals[-10:]
    return (statistics.median(vals), len(vals)) if vals else (0.0, 0)


def traced_layers(wl, ops, tracer, log, out_dir, args, measured) -> dict[str, tuple[float, str]]:
    """Every per-layer metric of a traced run, with its unit.

    Also writes the run's spans and a per-workload table (metric, value,
    unit, base) to ``out_dir``."""
    from spans import event_log_metrics
    from spark_bi5_datasource_spark import plans

    units = per_layer_names(list(plans.bench_queries()))
    layers = {k: 0.0 for k in units}
    layers.update(measured)
    first = [o for o in ops if o.round == 0]
    layers.update(event_log_metrics(log, first, layers["reader.read_s"]))
    for o in first:
        if f"catalog.{o.kind}_s" in layers:
            layers[f"catalog.{o.kind}_s"] = o.seconds
    base, n_base = untraced_base(os.path.join(out_dir, "untraced.jsonl"), base_key(args))
    layers["trace.untraced_round_s"] = base
    layers["trace.overhead_s"] = layers["trace.round_s"] - base if n_base else 0.0

    tracer.write(os.path.join(out_dir, f"spans-{args.workload}.json"))
    table = [{"metric": k, "value": float(v), "unit": units[k], "base": BASES.get(k)}
             for k, v in layers.items()]
    with open(os.path.join(out_dir, f"layers-{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "untraced_base_runs": n_base, "table": table}, f, indent=1)
    return {k: (float(v), units[k]) for k, v in layers.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spark_bi5_datasource_spark")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # every temporary file of this process, Spark and its workers stays in work/
    os.environ["TMPDIR"] = tempfile.tempdir = work

    import session as sess
    from spans import Tracer, load_event_log

    traced = bool(args.trace)
    tracer = Tracer(traced)
    wl = make_workload(args.workload, args.tiny)
    spark = None
    try:
        t0 = time.perf_counter()
        event_dir = os.path.join(work, "eventlog") if traced else None
        spark = sess.build_session(work, event_dir)
        session_s = time.perf_counter() - t0

        gen_s = []
        for k in range(SETUP_REPEATS):
            data_dir = os.path.join(work, f"data{k}")
            t0 = time.perf_counter()
            wl.prepare(data_dir, args.seed)
            gen_s.append(time.perf_counter() - t0)
            if k + 1 < SETUP_REPEATS:
                shutil.rmtree(data_dir, ignore_errors=True)

        t0 = time.perf_counter()
        floor = []
        for _ in range(FLOOR_JOBS):
            t1 = time.perf_counter()
            spark.range(1).write.format("noop").mode("overwrite").save()
            floor.append(time.perf_counter() - t1)
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        os.sync()  # start the clock with no write-back pending from set-up
        ops = run_rounds(spark, wl, args.seconds, tracer, traced)
        # in-process layer timings, after the rounds and off their clock
        layer_figures = wl.layer_metrics(tracer) if traced else {}
        py_mb, jvm_mb = sess.peak_rss_mb()
        print(f"peak rss: driver {py_mb:.1f} MB, jvm {jvm_mb:.1f} MB")
        e2e = end_to_end(ops, setup_s)
        own = wl.summary(ops)

        metrics: dict[str, tuple[float, str]]
        if not traced:
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
            with open(os.path.join(out_dir, "untraced.jsonl"), "a") as f:
                f.write(json.dumps({"workload": base_key(args), "seed": args.seed,
                                    "round_s": e2e["round_s"]}) + "\n")
        else:
            sess.shutdown(spark)
            spark = None
            metrics = traced_layers(
                wl, ops, tracer, load_event_log(event_dir), out_dir, args,
                {
                    "setup.session_s": session_s,
                    "setup.generate_s": statistics.median(gen_s),
                    "setup.warmup_s": warmup_s,
                    "driver.job_floor_s": statistics.median(floor),
                    "driver.peak_rss_mb": py_mb + jvm_mb,
                    "trace.round_s": e2e["round_s"],
                    **layer_figures,
                },
            )
    finally:
        if spark is not None:
            sess.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if not o.ok)
    for o in ops:
        print(f"  op {o.op_id:36s} {o.seconds:10.4f} s  {'ok' if o.ok else 'FAILED'}")
    print(f"workload {args.workload}  seed {args.seed}  rounds {1 + max(o.round for o in ops)}"
          f"  ops {len(ops)}  failed {failed}")
    table = dict(metrics) if traced else {**metrics, **own}
    if not traced:
        table["failed_op_ratio"] = (failed / len(ops), "ratio")
    for k, (v, unit) in table.items():
        print(f"  {k:40s} {v:16.6f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
