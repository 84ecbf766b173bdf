#!/usr/bin/env python3
"""webextract benchmark: closed-loop workloads on local[<nproc>].

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8   # untraced + traced

One process submits one Spark job (or one library call that runs
several), waits for it, checks its output outside the timed section, then
submits the next. Inputs are generated from ``--seed`` before any timing.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
runs the traced variant and prints the per-layer metrics. The last stdout
line is one JSON object: correct, attempted, failed, metrics.

Everything the run writes (inputs, Spark scratch, event logs, spans) goes
under ``perfbench/.work``. The metric names and units come from
BENCHMARK.json; a per-layer metric of the probe a workload's traced run
does not include reads 0, and any other metric a run does not produce is
an error.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _isolate_scratch() -> None:
    """Point every temp/scratch location at the benchmark's work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (spark-submit's launcher too): temp files here, and no
    # hsperfdata file, which HotSpot writes under /tmp regardless
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_e2e(w, seconds: float) -> dict:
    import workloads as wl
    from loop import closed_loop, passes

    marks = [("start", time.perf_counter())]
    spark, _cold, warm = wl.setups(w.ctx, w)
    marks.append(("setups", time.perf_counter()))
    try:
        w.warmup(spark)
        marks.append(("warmup", time.perf_counter()))
        res = closed_loop(lambda: w.op(spark), lambda _out: w.check(spark),
                          seconds=seconds, min_samples=wl.MIN_SAMPLES)
        marks.append(("loop", time.perf_counter()))
        if w.has_final_check:
            res.attempted += 1
            res.failed += not passes(lambda: w.final_check(spark))
            marks.append(("final_check", time.perf_counter()))
    finally:
        _shutdown(spark)
    marks.append(("shutdown", time.perf_counter()))
    print(f"# {w.name}: {w.docs} docs/op, {len(res.walls)} timed ops, "
          f"walls_s={[round(x, 3) for x in res.walls]}")
    print("# phases_s " + " ".join(f"{n}={t - t0:.1f}" for (_, t0), (n, t)
                                   in zip(marks, marks[1:])))
    print(f"# median_wall_s {res.median_s}")
    metrics = {
        "setup_s": statistics.median(g + wm for g, wm in warm),
        "docs_per_s": res.docs_per_s(w.docs),
        "cpu_s_per_kdoc": res.cpu_s_per_kdoc(w.docs),
        "worker_peak_rss_mb": res.worker_hwm_mb,
    }
    return {"attempted": res.attempted, "failed": res.failed, "metrics": metrics}


def run_traced(w) -> dict:
    import workloads as wl
    from tracing import Tracer, parse_event_log, self_times

    run_id = f"{w.name}-s{w.ctx.seed}"
    evdir = os.path.join(WORK, "eventlog", run_id)
    if os.path.isdir(evdir):
        for f in os.listdir(evdir):
            os.remove(os.path.join(evdir, f))
    spark, cold, warm = wl.setups(w.ctx, w, evdir)
    tracer = Tracer(run_id)
    try:
        w.warmup(spark)
        lm = w.traced(spark, tracer, wl.make_group(spark, tracer, w.name))
    finally:
        _shutdown(spark)  # also closes the event log
    kernel = wl.kernel_replay(w.pages)
    tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
    (log,) = [os.path.join(evdir, f) for f in os.listdir(evdir)
              if not f.startswith(".")]
    prof = parse_event_log(log)

    def group(call):
        return prof.get(f"{w.name}.{call}")

    def dur(call):
        return tracer.duration(f"{w.name}.{call}")

    self_s = self_times(tracer.spans)

    m = {k: v for k, v in lm.items() if not k.startswith("_")}
    m.update({k: v for k, v in kernel.items() if not k.startswith("_")})
    m["session.get_spark_s"] = statistics.median(g for g, _ in warm)
    m["session.warmup_s"] = statistics.median(wm for _, wm in warm)
    m["session.cold_start_s"] = sum(cold)

    extract = group("sparkjob.extract_df")
    ms = extract.task_ms()
    med = statistics.median(ms)
    m["sparkjob.tasks"] = len(ms)
    m["sparkjob.task_p50_ms"] = med
    m["sparkjob.task_max_ms"] = max(ms)
    m["sparkjob.task_skew"] = max(ms) / max(med, 1.0)
    m["sparkjob.jvm_cpu_s"] = sum(t.cpu_ns for t in extract.tasks) / 1e9
    m["sparkjob.python_cpu_s"] = lm["_python_cpu_s"]
    m["sparkjob.boundary_cpu_s"] = (
        lm["_python_cpu_s"] - kernel["_kernel_cpu_s_per_doc"] * lm["_docs"])
    m["sparkjob.core_idle_ratio"] = 1 - sum(ms) / (wl.CORES * extract.wall_s * 1e3)

    run = group("runner.run_extraction")
    if run is not None:
        m["runner.run_extraction_s"] = dur("runner.run_extraction")
        m["runner.bucket_writes_s"] = dur("runner.write_by_bucket")
        m["runner.run_extraction_self_s"] = sum(
            self_s[sp["id"]] for sp in tracer.spans
            if sp["name"] == f"{w.name}.runner.run_extraction")
        m["runner.jobs_per_wave"] = len(run.jobs) / wl.WAVES
        m["runner.stages"] = len(run.stages)
        m["runner.shuffle_write_mb"] = sum(t.shuffle_write for t in run.tasks) / 2**20
        m["runner.reprocess_s"] = dur("runner.reprocess_errors")
        m["runner.load_errors_s"] = dur("runner.load_errors")
        m["runner.resume_s"] = dur("runner.resume")
        m["evaluate.evaluate_s"] = dur("evaluate.evaluate")

    cur = group("pipeline.curate")
    if cur is not None:
        m["pipeline.curate_s"] = dur("pipeline.curate")
        m["pipeline.jobs"] = len(cur.jobs)
        m["pipeline.shuffle_write_mb"] = sum(t.shuffle_write for t in cur.tasks) / 2**20
        m["pipeline.spill_mb"] = sum(t.spill_disk for t in cur.tasks) / 2**20
        m["pipeline.peak_exec_mem_mb"] = max(
            (t.peak_exec_mem for t in cur.tasks), default=0) / 2**20
        m["pipeline.task_skew_max"] = cur.stage_skew_max()
        m["analysis.gates_s"] = dur("analysis.gates")
        m["dedup.best_copy_s"] = dur("dedup.best_copy")
        m["dedup.minhash_lsh_pairs_s"] = dur("dedup.minhash_lsh_pairs")
        m["dedup.connected_components_s"] = dur("dedup.connected_components")
        m["dedup.cc_jobs"] = len(group("dedup.connected_components").jobs)
        m["sampling.stratified_sample_s"] = dur("sampling.stratified_sample")

    checks = lm["_checks"] + [
        ("kernel replay: layer sum within ±10% of extract_document",
         abs(kernel["extract.children_ratio"] - 1) <= wl.KERNEL_SUM_TOL)]
    for name, ok in checks:
        print(f"# check {'ok  ' if ok else 'FAIL'} {name}")
    return {"attempted": len(checks), "failed": sum(not ok for _, ok in checks),
            "metrics": m}


def pick_metrics(specs: list[dict], produced: dict,
                 not_probed: tuple[str, ...] = ()) -> dict:
    """The result's metrics, in BENCHMARK.json's order. A metric whose name
    starts with a prefix in ``not_probed`` (a layer of a probe this run does
    not include) reads 0; any other metric the run did not produce raises."""
    out = {}
    for m in specs:
        name = m["name"]
        if name in produced:
            v = float(produced[name])
        elif name.startswith(not_probed):
            v = 0.0
        else:
            raise RuntimeError(f"the run produced no metric {name}")
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def run_one(args, spec: dict) -> int:
    _isolate_scratch()
    sys.path.insert(0, os.path.join(ROOT, "src"))
    import workloads as wl

    ctx = wl.Ctx(work=WORK, seed=args.seed, workload=args.workload)
    w = wl.WORKLOADS[args.workload](ctx)
    w.generate()
    out = run_traced(w) if args.trace else run_e2e(w, args.seconds)

    metrics = pick_metrics(spec["per_layer" if args.trace else "end_to_end"],
                           out["metrics"], w.not_probed if args.trace else ())
    for name, v in metrics.items():
        print(f"# {w.name:>13} {name:<40} {v['value']:>14.6g} {v['unit']}")
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    print(json.dumps(result))
    return 0


def report(names: list[str], args) -> int:
    """Every workload untraced, then traced, each in its own process (so
    each starts its own JVM); prints both tables and the tracing overhead:
    the traced operation's wall minus the untraced median wall."""
    rc = 0
    for name in names:
        walls = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            rc |= p.returncode
            print(p.stdout, end="")
            lines = p.stdout.splitlines()
            if p.returncode == 0 and lines:
                last = json.loads(lines[-1])
                walls[trace] = (last["metrics"]["trace.op_wall_s"]["value"] if trace
                                else next(float(x.split()[-1]) for x in lines
                                          if x.startswith("# median_wall_s")))
        if len(walls) == 2:
            print(f"# {name}: tracing overhead {walls[1] - walls[0]:+.3f} s "
                  f"(traced {walls[1]:.3f} s, untraced median {walls[0]:.3f} s)")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "webextract", "__init__.py")):
        print("perfbench: no src/webextract next to perfbench/; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [x["name"] for x in spec["workloads"]]
    if args.workload == "all":
        return report(names, args)
    if args.workload not in names:
        ap.error(f"--workload must be one of {names} or all")
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
