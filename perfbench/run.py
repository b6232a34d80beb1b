"""Benchmark entry point.

    python3 perfbench/run.py --workload nested_violations --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a ``local[nproc]`` Spark session, builds the validator,
warms up, then repeats the workload's rep for ``--seconds`` seconds,
checking every rep's output. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` additionally runs traced reps with Spark's event
log attached plus the per-layer probes, prints the per-layer metrics,
and writes spans and the per-layer table to
``.perfbench_work/traces/<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import workloads  # noqa: E402
from eventlog import EventLog, summarize  # noqa: E402

CONSTRUCT_REPS = 5   # validator constructions timed per run (median kept)
# untimed reps after the cold one: the JIT keeps speeding reps up for
# several more, and how far it gets depends on how busy the host is
SETTLE_REPS = 2
MIN_REPS = 3         # timed reps per phase, even past --seconds


def _checked_rep(spark, w, v, inp, rep_id, tracer, status) -> dict:
    """One rep and the check of its output. A rep that raises or fails
    its check counts as failed; the run goes on either way."""
    rec = {"rep": rep_id, "ok": False}
    with tracer.span(f"rep.{rep_id}") as span:
        rec["span"] = span["id"]
        try:
            with tracer.span(f"build.{rep_id}"):
                t0 = time.perf_counter()
                action = w.build(spark, v, inp.path, rep_id)
                t1 = time.perf_counter()
            with tracer.span(f"action.{rep_id}"):
                out = action()
                t2 = time.perf_counter()
            rec["build_s"], rec["s"] = t1 - t0, t2 - t0
        except Exception:
            traceback.print_exc()
    if "s" in rec:
        with tracer.span(f"check.{rep_id}"):
            problems = _guarded(w.check, spark, out, inp)
        for p in problems:
            print(f"[{w.name}] rep {rep_id}: {p}", file=sys.stderr)
        rec["ok"] = not problems
    # persisted RDDs the rep left behind, read before the cache is cleared
    rec["persisted_rdds"], rec["persisted_mb"] = harness.persisted_state(spark)
    spark.catalog.clearCache()
    status["attempted"] += 1
    status["failed"] += not rec["ok"]
    return rec


def _guarded(check, *args) -> list[str]:
    """Run a check; an exception inside it is a problem, not a crash."""
    try:
        return check(*args)
    except Exception:
        return [traceback.format_exc()]


def _timed_reps(spark, w, v, inp, seconds, min_reps, tracer, phase,
                status) -> list[dict]:
    """Repeat the rep for ``seconds``, at least ``min_reps`` times."""
    records = []
    t_end = time.perf_counter() + seconds
    while len(records) < min_reps or time.perf_counter() < t_end:
        records.append(_checked_rep(spark, w, v, inp, f"{phase}{len(records)}",
                                    tracer, status))
    return records


def _docs_per_s(w, records) -> tuple[float, float, int]:
    times = [r["s"] for r in records if r["ok"]]
    if not times:
        return 0.0, float("nan"), 0
    med = statistics.median(times)
    return w.n_docs / med, med, len(times)


def run(args) -> dict:
    w = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = harness.Tracer(run_id=os.path.basename(work))
    status = {"attempted": 0, "failed": 0}
    try:
        t0 = time.perf_counter()
        inp = w.generate(args.seed, w.n_docs, os.path.join(work, "input"))
        gen_s = time.perf_counter() - t0
        cores, heap = harness.host_cores(), harness.driver_heap_mb()
        conf = harness.session_config(work, cores, heap)
        with harness.RssSampler() as rss:
            with tracer.span("setup.session"):
                t0 = time.perf_counter()
                spark = harness.start_session(work, conf)
                session_s = time.perf_counter() - t0
            tracer.sc = spark.sparkContext
            try:
                return _measure(args, w, inp, spark, tracer, status, rss,
                                work, session_s, gen_s, conf)
            finally:
                tracer.sc = None
                harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, w, inp, spark, tracer, status, rss, work, session_s,
             gen_s, conf) -> dict:
    construct = []
    with tracer.span("setup.construct"):
        for _ in range(CONSTRUCT_REPS):
            t0 = time.perf_counter()
            v = w.validator()
            construct.append(time.perf_counter() - t0)
    # one untimed rep at full size: codegen, JIT and the Python workers
    warmup_s = _checked_rep(spark, w, v, inp, "warmup", tracer, status).get("s", 0.0)
    setup_s = session_s + statistics.median(construct) + warmup_s
    with tracer.span("check.sample"):
        problems = _guarded(w.sample_problems, spark, v, inp)
    for p in problems:
        print(f"[{w.name}] sample: {p}", file=sys.stderr)
    settle = _timed_reps(spark, w, v, inp, 0, SETTLE_REPS, tracer, "s", status)

    ticks0 = harness.cpu_ticks()
    records = _timed_reps(spark, w, v, inp, args.seconds, MIN_REPS, tracer, "r",
                          status)
    ticks1 = harness.cpu_ticks()
    docs_per_s, rep_med, n_ok = _docs_per_s(w, records)
    e2e = {
        "docs_per_s": (docs_per_s, "docs/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
    }
    info = {
        "workload": w.name, "seed": args.seed, "n_docs": w.n_docs,
        "n_planted_invalid": inp.n_invalid, "gen_s": round(gen_s, 3),
        "rep_s_median": rep_med, "rep_s_samples": n_ok,
        "rep_s_all": [round(r.get("s", float("nan")), 4) for r in records],
        "build_s_all": [round(r.get("build_s", float("nan")), 4) for r in records],
        "settle_s_all": [round(r.get("s", float("nan")), 4) for r in settle],
        "setup_parts_s": {"session": session_s,
                          "construct_median": statistics.median(construct),
                          "warmup": warmup_s},
        "spark_conf": conf,
        "steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
    }
    metrics = dict(e2e)
    if args.trace:
        metrics = _traced(args, w, v, inp, spark, tracer, status, work,
                          records, docs_per_s, info)
    info["error_rate"] = status["failed"] / status["attempted"]
    _print_table(info, e2e, metrics if args.trace else None)
    correct = not problems and status["failed"] == 0
    return {"correct": correct, "attempted": status["attempted"],
            "failed": status["failed"],
            "metrics": {k: {"value": val, "unit": unit}
                        for k, (val, unit) in metrics.items()}}


def _traced(args, w, v, inp, spark, tracer, status, work, untraced,
            untraced_docs_per_s, info) -> dict:
    """Traced reps with the event log attached, then the layer probes."""
    log = EventLog(spark, os.path.join(work, "eventlog"))
    with log:
        traced = _timed_reps(spark, w, v, inp, args.seconds, MIN_REPS,
                             tracer, "t", status)
        probes = workloads.layer_probes(spark, w, v, inp, tracer)
    per_span = summarize(log.events())
    traced_docs_per_s = _docs_per_s(w, traced)[0]

    def per_rep(key, scale=1.0):
        vals = []
        for rec in traced:
            ids = {str(s) for s in tracer.children_of(rec["span"])}
            vals.append(sum(per_span.get(s, {}).get(key, 0.0) for s in ids) * scale)
        return statistics.median(vals)

    rows_in = per_rep("udf_rows")
    m = {
        **{k: (val, _unit(k)) for k, val in probes.items()},
        "engine.plan_ms": (per_rep("plan_ms"), "ms"),
        "udf.rows_in": (rows_in, "count"),
        "udf.rows_in_frac": (rows_in / w.n_docs, "fraction"),
        "udf.bytes_sent": (per_rep("udf_bytes_sent"), "bytes"),
        "udf.bytes_received": (per_rep("udf_bytes_received"), "bytes"),
        "udf.python_s": (per_rep("udf_python_ms", 1e-3), "s"),
        "udf.boot_s": (per_rep("udf_boot_ms", 1e-3), "s"),
        "udf.init_s": (per_rep("udf_init_ms", 1e-3), "s"),
        "exec.run_s": (per_rep("run_s"), "s"),
        "exec.cpu_s": (per_rep("cpu_s"), "s"),
        "exec.gc_s": (per_rep("gc_s"), "s"),
        "exec.jobs": (per_rep("jobs"), "count"),
        "exec.stages": (per_rep("stages"), "count"),
        "exec.tasks": (per_rep("tasks"), "count"),
        "shuffle.write_bytes": (per_rep("shuffle_write_bytes"), "bytes"),
        "shuffle.read_bytes": (per_rep("shuffle_read_bytes"), "bytes"),
        "spill.bytes": (per_rep("spill_bytes"), "bytes"),
        "output.bytes_written": (per_rep("output_bytes"), "bytes"),
        "pipeline.persisted_rdds_left": (
            statistics.median(r["persisted_rdds"] for r in untraced + traced), "count"),
        "pipeline.persisted_mb": (
            statistics.median(r["persisted_mb"] for r in untraced + traced), "MB"),
        "trace.docs_per_s": (traced_docs_per_s, "docs/s"),
        "trace.overhead_docs_per_s": (untraced_docs_per_s - traced_docs_per_s, "docs/s"),
    }
    info["traced_rep_s_all"] = [round(r.get("s", float("nan")), 4) for r in traced]
    path = os.path.join(ROOT, ".perfbench_work", "traces",
                        f"{w.name}-seed{args.seed}.json")
    tracer.dump(path, {"info": info, "per_layer": {
        k: {"value": val, "unit": unit} for k, (val, unit) in m.items()},
        "per_span": per_span})
    print(f"trace written to {os.path.relpath(path, ROOT)}")
    return m


def _unit(metric: str) -> str:
    if metric.endswith("docs_per_s"):
        return "docs/s"
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_s"):
        return "s"
    return "count"


def _print_table(info, e2e, layers) -> None:
    print(f"workload {info['workload']}  seed {info['seed']}  docs {info['n_docs']}"
          f"  planted invalid {info['n_planted_invalid']}  inputs {info['gen_s']} s")
    conf = info["spark_conf"]
    print("spark " + "  ".join(f"{k}={conf[k]}" for k in (
        "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions")))
    print(f"rep_s median {info['rep_s_median']:.4f} over {info['rep_s_samples']}"
          f" reps  all {info['rep_s_all']}  of which build {info['build_s_all']}")
    print(f"untimed settle reps after the warm-up {info['settle_s_all']}")
    print("setup parts " + "  ".join(f"{k} {v:.3f} s"
                                     for k, v in info["setup_parts_s"].items()))
    print(f"CPU time stolen by the hypervisor during the timed reps: "
          f"{100 * info['steal_share']:.1f}%")
    rows = dict(e2e)
    rows["error_rate"] = (info["error_rate"], "fraction")
    for k, (val, unit) in rows.items():
        print(f"  {k:<32} {val:>16.4f} {unit}")
    for k, (val, unit) in (layers or {}).items():
        print(f"  {k:<32} {val:>16.4f} {unit}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(p.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
