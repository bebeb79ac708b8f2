#!/usr/bin/env python3
"""Host-true benchmark of the wdel_spark ER engine.

    python3 perfbench/run.py --workload er_stored --seed 1 --seconds 10 \\
        --trace 0

Runs one workload in this process at ``local[nproc]`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  The lines before it list every metric of the run by name
with its unit; the full run record lands in
``.perfbench_work/records/``.  Exits non-zero when a correctness check
fails.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()

from harness import (  # noqa: E402
    ROOT, WORK_ROOT, RssSampler, cpu_count, cpu_ticks, group_counts,
    host_record,
    prepare_env, reap_descendants, set_group, shutdown_jvm, start_spark,
    write_json,
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs: checks that every metric is emitted")
    p.add_argument("--inject-error", action="store_true",
                   help="corrupt one result on purpose: the checks must "
                        "catch it")
    p.add_argument("--inputs-only", metavar="DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.inputs_only:
        sys.path.insert(0, str(ROOT))
        return make_inputs(args)
    if not (ROOT / "wdel_spark" / "__init__.py").exists():
        print(f"perfbench: no wdel_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    work = WORK_ROOT / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, str(ROOT))

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](None, work, args.seed, args.smoke,
                                  args.inject_error)
    rss = RssSampler().start()
    try:
        # the inputs are written in a child process while the JVM starts
        maker = None
        if wl.makes_inputs:
            maker = subprocess.Popen([
                sys.executable, __file__, "--workload", args.workload,
                "--seed", str(args.seed), "--inputs-only", str(work),
                *(["--smoke"] if args.smoke else [])])
        # a traced run keeps the event log on from the start, so the
        # traced unit and the untraced units around it share one JVM
        spark = start_spark(
            event_log_dir=work / "eventlog" if args.trace else None)
        if maker is not None:
            if maker.wait() != 0:
                raise RuntimeError(
                    f"input generation failed (exit {maker.returncode})")
            wl.info.update(json.loads((work / "inputs.json").read_text()))
        wl.rebind(spark)
        record: dict = {"workload": args.workload, "seed": args.seed,
                        "seconds": args.seconds, "trace": args.trace,
                        "smoke": args.smoke,
                        "inject_error": args.inject_error}
        return run(args, spec, wl, rss, work, record)
    finally:
        rss.stop()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        reap_descendants()


def make_inputs(args) -> int:
    """``--inputs-only``: write the workload's inputs and exit."""
    from workloads import WORKLOADS

    work = Path(args.inputs_only)
    wl = WORKLOADS[args.workload](None, work, args.seed, args.smoke, False)
    wl.make_inputs()
    write_json(work / "inputs.json", wl.info)
    return 0


def run(args, spec, wl, rss, work, record) -> int:
    spark = wl.spark
    record["host"] = host_record(spark)
    phases = record["phases_s"] = {
        "session_ready": time.perf_counter() - T_START}
    set_group(spark, "pb-setup")
    wl.setup()
    setup_s = time.perf_counter() - T_START
    phases["setup_done"] = setup_s

    units, failures, counts = [], [], []

    def measured(i: int) -> None:
        """One untraced unit under its own job group, with its counts."""
        group = f"pb-unit-{i}"
        set_group(spark, group)
        try:
            res = wl.unit(i)
        except Exception:
            failures.append(traceback.format_exc())
            return
        units.append(res)
        per = [group_counts(spark, g) for g in [group, *wl.extra_groups(res)]]
        counts.append({k: sum(c[k] for c in per) for k in per[0]})

    # ---- measured section: closed loop, one unit at a time
    rss.reset()
    ticks0 = cpu_ticks()
    t_meas = time.perf_counter()
    i = 0
    while True:
        measured(i)
        i += 1
        spent = time.perf_counter() - t_meas
        # a traced run needs one untraced unit before the traced one
        if args.trace or i >= wl.max_units or (
                spent >= args.seconds and i >= wl.min_units):
            break
    peak_rss_mb = rss.peak_mb
    ticks1 = cpu_ticks()
    # share of the host's CPU time the hypervisor gave to others while
    # the units ran: a noisy-neighbour indicator for the record
    record["cpu_steal_share"] = (ticks1[1] - ticks0[1]) / max(
        1, ticks1[0] - ticks0[0])
    phases["units_done"] = time.perf_counter() - T_START

    # ---- traced run: the unit with its public calls in spans, an
    # untraced unit after it (the overhead's baseline), then the replay
    # of the layer chain
    tracer = traced_unit = None
    replay_checks: list = []
    if args.trace and units:
        from spans import Tracer

        tracer = Tracer(spark)
        try:
            traced_unit = wl.unit(i, tracer)
        except Exception:
            failures.append(traceback.format_exc())
        measured(i + 1)
        i += 2
        t0 = time.perf_counter()
        try:
            replay_checks = wl.trace(tracer)
        except Exception:
            failures.append(traceback.format_exc())
        record["replay_wall_s"] = time.perf_counter() - t0
        phases["trace_done"] = time.perf_counter() - T_START
    set_group(spark, "pb-checks")

    # ---- correctness, outside the timed section
    checks = []
    # in unit order: the traced unit ran between the untraced two
    checked = units[:1] + ([traced_unit] if traced_unit else []) + units[1:]
    if checked:
        try:
            checks = wl.checks(checked)
        except Exception:
            checks = [("checks_ran", False, traceback.format_exc())]
    checks += replay_checks
    failed_checks = [c for c in checks if not c[1]]
    attempted = i + bool(tracer) + len(checks)
    failed = len(failures) + len(failed_checks)
    record.update({
        "inputs": wl.info, "units": units, "traced_unit": traced_unit,
        "unit_failures": failures,
        "checks": [{"name": n, "passed": ok, "detail": d}
                   for n, ok, d in checks],
        "job_counts": counts,
        "job_counts_repeat": len({json.dumps(c, sort_keys=True)
                                  for c in counts}) == 1,
    })

    e2e: dict = {"setup_s": (setup_s, "s"),
                 "peak_rss_mb": (peak_rss_mb, "MB"),
                 "error_rate": (failed / attempted, "ratio")}
    if units:
        e2e["cpu_s"] = (statistics.median(u["cpu_s"] for u in units), "s")
        e2e.update(wl.metrics(units))
    record["end_to_end"] = {k: {"value": v, "unit": u}
                            for k, (v, u) in e2e.items()}
    phases["checks_done"] = time.perf_counter() - T_START
    spark.stop()  # flushes the event log
    shutdown_jvm()
    phases["jvm_stopped"] = time.perf_counter() - T_START

    layer: dict = {}
    if tracer is not None and traced_unit is not None:
        layer = per_layer(tracer, work / "eventlog", units, traced_unit,
                          counts, record)
    correct = failed == 0 and bool(units)
    path = WORK_ROOT / "records" / (
        f"{args.workload}-s{args.seed}-t{args.trace}"
        f"{'-smoke' if args.smoke else ''}.json")
    if args.trace:
        chosen = spec["per_layer"]
        source = layer
    else:
        chosen = spec["end_to_end"]
        source = {k: v for k, (v, _u) in e2e.items()}
    metrics, missing, not_run = {}, [], []
    for m in chosen:
        name = m["name"]
        if name in source:
            metrics[name] = {"value": source[name], "unit": m["unit"]}
        elif args.trace and not runs_layer(wl, name):
            # BENCHMARK.json lists the layers of every workload; one this
            # workload does not run reads 0
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
            not_run.append(name)
        else:
            missing.append(name)
    record["per_layer_not_run"] = not_run
    listed = args.workload in {w["name"] for w in spec["workloads"]}
    if missing and listed:
        record["metrics_missing"] = missing
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        correct = False
    write_json(path, record)
    report(record, e2e, layer, failures, failed_checks, path)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def runs_layer(wl, metric: str) -> bool:
    """Whether the per-layer ``metric`` belongs to a layer ``wl`` runs (the
    whole-run ``spark.*`` and ``run.*`` metrics always do)."""
    layer = metric.rsplit(".", 1)[0]
    return layer in ("spark", "run") or layer in wl.layers


def per_layer(tracer, log_dir, units, traced_unit, counts, record) -> dict:
    """The traced run's per-layer metrics: the spans joined with the
    event log, the whole-run counts of the first untraced unit and the
    tracing overhead."""
    from spans import by_name, span_table

    rows, whole = span_table(tracer, log_dir)
    record["spans"] = rows
    named = by_name(rows)
    for s in named.values():
        if s.get("batches"):
            s["jobs_per_batch"] = s["jobs"] / s["batches"]
    traced_wall = traced_unit["wall_s"] + record["replay_wall_s"]
    # against the untraced unit right after the traced one: both follow
    # the first unit, which pays most of the plans' JIT compilation
    untraced = units[-1]["wall_s"]
    layer = {
        "spark.jobs": counts[0]["jobs"],
        "spark.stages": counts[0]["stages"],
        "spark.tasks": counts[0]["tasks"],
        "run.wall_s": traced_wall,
        "run.busy_s": whole["busy_s"],
        "run.cpu_s": whole["cpu_s"],
        "run.cpu_util": whole["cpu_s"] / (traced_wall * cpu_count()),
        "run.gc_s": whole["gc_s"],
        "run.shuffle_write_bytes": whole["shuffle_write_bytes"],
        "run.spill_bytes": whole["spill_bytes"],
        "run.trace_overhead_s": traced_unit["wall_s"] - untraced,
    }
    for name, s in named.items():
        for k, v in s.items():
            if isinstance(v, (int, float)):
                layer[f"{name}.{k}"] = v
    record["per_layer"] = layer
    return layer


def report(record, e2e, layer, failures, failed_checks, path) -> None:
    print(f"# perfbench {record['workload']} seed={record['seed']} "
          f"nproc={record['host']['nproc']} "
          f"mem_total_mb={record['host']['mem_total_mb']} "
          f"spark={record['host']['spark']}")
    inputs = {k: v for k, v in record["inputs"].items()
              if isinstance(v, (int, float))}
    print(f"# inputs {json.dumps(inputs, sort_keys=True)}")
    for name, (value, unit) in sorted(e2e.items()):
        print(f"e2e {name} = {value:.6g} {unit}")
    c = record["job_counts"][0] if record["job_counts"] else {}
    note = "" if record["job_counts_repeat"] else \
        " (not identical across units: see the record)"
    print(f"count spark.jobs = {c.get('jobs')} stages = {c.get('stages')} "
          f"tasks = {c.get('tasks')} per unit{note}")
    for u in record["units"][:1]:
        if "flagship_counts" in u:
            f = u["flagship_counts"]
            print(f"count flagship spark.jobs = {f['jobs']} stages = "
                  f"{f['stages']} tasks = {f['tasks']}")
    for name in sorted(layer):
        print(f"layer {name} = {layer[name]:.6g}")
    for name in record.get("per_layer_not_run", []):
        print(f"layer {name} = 0 (not run on this workload)")
    for s in record.get("spans", []):
        print(f"span {s['name']} parent={s['parent']} wall_s={s['wall_s']:.4f}"
              f" self_s={s['self_s']:.4f} jobs={s['jobs']}")
    for f in failures:
        print(f"# unit failed: {f.strip().splitlines()[-1]}")
    for n, _ok, d in failed_checks:
        print(f"# check failed: {n}: {d}")
    print(f"# record: {path}")


if __name__ == "__main__":
    sys.exit(main())
