#!/usr/bin/env python3
"""Repository benchmark: one closed-loop, single-client workload per run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. The session is sized by --master,
--driver-memory and --shuffle-partitions (BENCHMARK.json's command
fixes them, so every commit is measured under the same conf); all
other settings are the package's session.build_session defaults.
Inputs are generated from --seed. After set-up and warm-up, operations
run back to back until --seconds have passed (at least one). Every
operation's outputs are checked.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. --trace 0 reports the end-to-end metrics; --trace 1 wraps the
benchmark's calls into the package in spans, attributes Spark jobs to
them from the status store, and reports every per-layer metric of
BENCHMARK.json; those of layers the workload does not drive read 0.
The traced run also drives the layers too slow for every run (the
workload's traced_extras) and, for workloads with cheap
operations, alternates traced and untraced operations to measure the
tracing overhead. It writes its spans, jobs, plan shapes and conf to
perfbench/.work/traces/<workload>-<seed>.json. Metric units and
directions come from BENCHMARK.json.

Everything the run writes stays under perfbench/.work.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3
SPAN_QUANTITIES = ("wall_s", "cpu_s", "driver_s", "jobs", "exec_cpu_s",
                   "shuffle_mb")
# per-layer metrics every traced run reports
COMMON_LAYER = ("spark.failed_jobs", "spark.failed_tasks",
                "stderr.exception_traces", "stderr.block_exists_warnings",
                "trace.coverage", "trace.bookkeeping_s",
                "process.peak_rss_mb")


def load_spec() -> tuple[dict, dict]:
    """End-to-end and per-layer metric name -> (unit, better), read from
    BENCHMARK.json, the one place units and directions are written."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: (m["unit"], m["better"]) for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def layer_names(wl) -> list[str]:
    """The per-layer metrics a traced run of `wl` measures."""
    return [f"{span}.{q}" for span in wl.spans + wl.extra_spans
            for q in SPAN_QUANTITIES] + list(wl.layer_metrics) + list(
                COMMON_LAYER)


def master_cores(master: str) -> int | None:
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m is None:
        return None
    return os.cpu_count() if m[1] == "*" else int(m[1])


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--driver-memory", default="4g")
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    return ap.parse_args(argv)


def session_conf(args, run_dir: str) -> dict:
    return {
        "spark.driver.memory": args.driver_memory,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # keep every job of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(args, run_dir: str, master: str):
    from edgar_finance_ontology_spark.session import build_session

    return build_session(
        f"perfbench-{args.workload}", master=master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=session_conf(args, run_dir),
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(wl, res, err_counts) -> tuple[dict, dict]:
    """Per-layer values (medians over the traced operations) and the
    per-span detail written to the trace file."""
    from tracer import attribute_jobs, failure_counts

    tracer, ops, flags = res["tracer"], res["ops"], res["traced"]
    per_span = attribute_jobs(tracer.spans, res["jobs"])
    values = {}
    for span in wl.spans + wl.extra_spans:
        recs = [per_span[s["id"]] for s in tracer.spans if s["name"] == span]
        for q in SPAN_QUANTITIES:
            if recs:
                values[f"{span}.{q}"] = statistics.median(r[q] for r in recs)
    traced_ops = [r for r, t in zip(ops, flags) if t]
    op_spans = [s for s in tracer.spans if s["name"] == "op"]
    values["trace.coverage"] = statistics.median(
        sum(per_span[c["id"]]["wall_s"] for c in tracer.children(o["id"]))
        / r.wall_s for o, r in zip(op_spans, traced_ops))
    values["trace.bookkeeping_s"] = res["bookkeeping_s"]
    values["process.peak_rss_mb"] = res["peak_rss_mb"]
    for key in wl.layer_metrics:
        samples = [r.counts[key] for r in traced_ops if key in r.counts]
        if samples:
            values[key] = statistics.median(samples)
    for shape_span, shape in wl.plan_shapes.items():
        for q, v in shape.items():
            if f"{shape_span}.{q}" in wl.layer_metrics:
                values[f"{shape_span}.{q}"] = v
    values.update(res["extra_values"])
    if wl.paired_overhead and len(ops) >= 3:
        values["trace.overhead_s"] = statistics.median(
            (ops[i].wall_s - ops[i + 1].wall_s) * (1 if flags[i] else -1)
            for i in range(1, len(ops) - 1, 2))
    if res["scaling_eff"] is not None:
        values["scan.scaling_eff"] = res["scaling_eff"]
    values.update({f"spark.{k}": v
                   for k, v in failure_counts(res["jobs"]).items()})
    values.update({f"stderr.{k}": v for k, v in err_counts.items()})
    detail = {
        "spans": [dict(s, **per_span[s["id"]]) for s in tracer.spans],
        "jobs": res["jobs"],
        "plan_shapes": wl.plan_shapes,
    }
    return values, detail


def run(args, run_dir: str) -> dict:
    from tracer import RssSampler, Tracer, read_jobs
    from workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    cls = WORKLOADS[args.workload]
    paired = bool(args.trace) and cls.paired_overhead
    # the sampler holds the GIL while it reads /proc, so it runs only
    # in the traced run, and not during its untraced operations
    with (RssSampler() if args.trace else contextlib.nullcontext()) as rss:
        t0 = time.perf_counter()
        spark = start_session(args, run_dir, args.master)
        session_s = time.perf_counter() - t0
        conf = dict(spark.sparkContext.getConf().getAll())
        try:
            wl = cls(spark, run_dir, args.seed, tracer)
            setup_walls = []
            # only untraced runs report set-up time
            for rep in range(1 if args.trace else SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(rep)
                setup_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0

            ops, flags, extras, attempted, failed = [], [], [], 0, 0
            start = time.perf_counter()
            while (not ops or time.perf_counter() - start < args.seconds
                   or (paired and (len(ops) < 3 or len(ops) % 2 == 0))):
                k = len(ops)
                # op 0 runs untraced and unpaired: it pays the plan's first
                # execution. Pair p = ops 2p+1, 2p+2 runs traced first
                # when p is even, untraced first when p is odd.
                traced = bool(args.trace) and (not paired or (
                    k > 0 and (k - 1) % 2 == ((k - 1) // 2) % 2))
                tracer.enabled = traced
                if rss:
                    (rss.active.set if traced else rss.active.clear)()
                attempted += 1
                with tracer.span("op"):
                    try:
                        r = wl.op(k)
                    except Exception:
                        traceback.print_exc()
                        failed += 1
                        break
                ops.append(r)
                flags.append(traced)
                failed += not r.ok
            tracer.enabled = bool(args.trace)
            if rss:
                rss.active.set()

            jobs = scaling_eff = None
            extra_values = {}
            if args.trace and ops:
                try:
                    extras, extra_values = wl.traced_extras()
                except Exception:
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                attempted += len(extras)
                failed += sum(not r.ok for r in extras)
                jobs = read_jobs(spark)
                high = master_cores(args.master)
                base = [r.wall_s for r, t in zip(ops[1:], flags[1:])
                        if not t]
                if (hasattr(wl, "scaling_walls") and base and high
                        and high >= 2):
                    # same JVM, fresh context at half the cores; the
                    # same count of untraced operations on each side
                    spark.stop()
                    low = high // 2
                    spark = start_session(args, run_dir, f"local[{low}]")
                    tracer.enabled = False
                    walls = wl.scaling_walls(spark, len(base))
                    scaling_eff = (statistics.median(walls)
                                   / statistics.median(base)) / (high / low)
        finally:
            if spark is not None:
                stop_jvm(spark)
    return {
        "wl": wl, "tracer": tracer, "ops": ops, "traced": flags,
        "extras": extras, "extra_values": extra_values,
        "attempted": attempted, "failed": failed,
        "jobs": jobs, "scaling_eff": scaling_eff, "conf": conf,
        "setup_s": session_s + statistics.median(setup_walls) + warmup_s,
        "phases": {"session_s": session_s, "setup_s": setup_walls,
                   "warmup_s": warmup_s},
        "peak_rss_mb": rss.peak_b / 1e6 if rss else None,
        "bookkeeping_s": tracer.bookkeeping_s + (rss.busy_s if rss else 0),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "edgar_finance_ontology_spark")):
        print(f"perfbench: package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from tracer import stderr_counts
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Python workers hash strings the same way in every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # both JVMs (spark-submit's launcher and the driver): temp files and
    # derby under the run dir, no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Dderby.system.home={os.path.join(run_dir, 'derby')}")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    # the driver JVM inherits fd 2, so its log lands in this file too
    log_path = os.path.join(run_dir, "driver-stderr.log")
    sys.stderr.flush()
    saved_fd = os.dup(2)
    with open(log_path, "wb") as log:
        os.dup2(log.fileno(), 2)
        try:
            res = run(args, run_dir)
            error = None
        except Exception:
            error = traceback.format_exc()
        finally:
            sys.stderr.flush()
            os.dup2(saved_fd, 2)
            os.close(saved_fd)
    with open(log_path, encoding="utf-8", errors="replace") as f:
        log_text = f.read()
    if error is not None:
        sys.stderr.write(log_text[-20000:])
        sys.stderr.write(error)
        return 1

    ops, wl = res["ops"], res["wl"]
    if not ops:
        sys.stderr.write(log_text[-20000:])
        return 1
    for i, r in enumerate(ops + res["extras"]):
        if not r.ok:
            print(f"perfbench: op {i} failed its checks: {r.checks} "
                  f"{r.counts}", file=sys.stderr)
    walls = [r.wall_s for r in ops]
    e2e_spec, layer_spec = load_spec()
    if args.trace:
        values, detail = layer_metrics(wl, res, stderr_counts(log_text))
        unmeasured = [k for k in layer_names(wl) if k not in values]
        if unmeasured:
            print(f"# not measured in this run: {unmeasured}")
        # the result line holds every per-layer metric of the manifest;
        # those of layers this workload does not drive read 0
        values = {k: values.get(k, 0) for k in layer_spec}
        spec = layer_spec
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(
                trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(dict(detail, conf=res["conf"], args=vars(args),
                           traced=res["traced"],
                           checks=[r.checks for r in ops + res["extras"]],
                           counts=[r.counts for r in ops + res["extras"]]),
                      f, indent=1)
    else:
        values = {
            "rate_per_s": statistics.median(r.items / r.wall_s for r in ops),
            "op_cpu_s": statistics.median(r.cpu_s for r in ops),
            "setup_s": res["setup_s"],
        }
        spec = e2e_spec
    unknown = sorted(set(values) - set(spec))
    if unknown or set(values) != set(spec):
        print(f"perfbench: metrics and BENCHMARK.json disagree: "
              f"{unknown or sorted(set(spec) - set(values))}",
              file=sys.stderr)
        return 1
    if not args.trace:
        for k, v in values.items():
            print(f"# {k} = {v:.6g} {spec[k][0]} ({spec[k][1]} is better)")
    print(f"# {args.workload}: {len(ops)} ops, {res['failed']} failed, "
          f"op walls {[round(w, 3) for w in walls]}, set-up "
          f"{json.dumps(res['phases'])}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": spec[k][0]}
                    for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
