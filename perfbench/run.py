#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client drives the engine's
public API on one workload for a fixed time, checks every output, and
prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each is in the benchmark):
  ingest_incremental  one watermark-incremental invocation per operation
  ingest_backfill     one 15-page backfill window per operation
  catalog             one catalog entry per operation, over a fixed mix

With --trace 0 the last line carries the end-to-end metrics; with --trace 1
it carries the per-layer metrics of a traced run. The lines before it name
every metric with its unit and sample count. The exit code is 0 only when
every output check passed.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("ingest_incremental", "ingest_backfill", "catalog")

# The catalog mix: short relational entries where driver planning and the
# graft rules are a large share, then dedup, similarity, text, graph and a
# stateful stream-stream join where executors and the state store dominate.
CATALOG = [
    "q37_stats_exact", "q66_eager_agg", "q71_eager_decimal", "q99_license_capstone",
    "d10_semantic_dedup", "v23_filtered_ann_slim", "t15_bm25", "p03_pagerank",
    "st07_stream_stream_join",
]

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Whole-run limit: the harness is stopped if it has not ended by then.
RUN_LIMIT_S = 175


def config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """The p-th percentile, reported only with at least ten samples beyond it."""
    if len(xs) * (100 - p) / 100 < 10:
        return None
    return statistics.quantiles(xs, n=100)[p - 1]


def spans_file(args):
    """Where a traced run leaves its spans (kept after the run)."""
    d = os.path.join(build.build_dir(), "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-{args.seed}.spans.jsonl")


def run_harness(args, work, classes, extra, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JAVA_OPENS, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
           "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
           "perfbench.Harness", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), work, spans_file(args), *extra]
    log = open(os.path.join(work, "harness.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        tail = open(os.path.join(work, "harness.log")).read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: harness ended with {rc}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def report(name, value, unit, n=None, note=""):
    shown = "n/a" if value is None else f"{value:.6g}"
    extra = f" (n={n})" if n is not None else ""
    print(f"metric {name} = {shown} {unit}{extra}{note}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-ge", action="store_true",
                    help="self-test only: keep the at-watermark article")
    args = ap.parse_args()
    started = time.time()
    conf = config()

    classes = build.build()
    # The limit counts from here: the first run in a checkout also compiles.
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(build.build_dir(), "run",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        extra = []
        if args.workload == "catalog":
            import gen_catalog
            sf = os.path.join(work, "sf")
            gen_catalog.generate(sf, args.seed)
            extra = [sf, *CATALOG]
        if args.plant_ge:
            extra.append("--plant-ge")
        h = run_harness(args, work, classes, extra, deadline)
        result = evaluate(args, conf, work, h)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"wall={time.time() - started:.1f}s")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def typical(measured, work):
    """Throughput and latency of a typical operation of each kind.

    A kind is a catalog entry, or the one kind of operation of an ingest
    workload. Each kind's wall is its median over the run, so a burst of
    host contention that slows a few operations does not move the figures.
    Returns (sum of each kind's mean work / sum of each kind's median wall,
    geometric mean over kinds of each kind's median wall)."""
    kinds = {}
    for o in measured:
        kinds.setdefault(o["name"], []).append(o)
    if not kinds:
        return 0.0, 0.0
    meds = [median([o["wall_s"] for o in group]) for group in kinds.values()]
    done = sum(statistics.fmean(work(o) for o in group) for group in kinds.values())
    return done / sum(meds), math.exp(statistics.fmean(math.log(m) for m in meds))


def evaluate(args, conf, work, h):
    import checks
    ops = h["ops"]
    measured = [o for o in ops if not o["warmup"]]
    walls = [o["wall_s"] for o in measured]
    problems = []
    if args.workload == "catalog":
        bad = checks.check_catalog(work, os.path.join(work, "sf"), CATALOG)
        for name, probs in bad.items():
            problems += [f"{name}: {p}" for p in probs]
        failed_ops = {o["i"] for o in ops if o["error"] or bad.get(o["name"])}
        for o in ops:
            if o["error"]:
                problems.append(f"op {o['i']} {o['name']}: {o['error']}")
        throughput, latency = typical(measured, lambda o: o["i"] not in failed_ops)
        unit_name, lat_name, tail_p = "queries_per_s", "query", 80
    else:
        per_op, run_probs, nbytes, truths = checks.check_ingest(args.workload, work, ops)
        problems += run_probs
        for i, probs in sorted(per_op.items()):
            problems += [f"op {i}: {p}" for p in probs]
        failed_ops = {i for i, p in per_op.items() if p}
        ok = [o for o in measured if o["i"] not in failed_ops]
        throughput, latency = typical(
            measured, lambda o: 0 if o["i"] in failed_ops else truths[o["i"]]["kept_count"])
        unit_name, lat_name, tail_p = "articles_per_s", "invocation", 90
        kept_bytes = sum(truths[o["i"]]["kept_bytes"] for o in ok)
        ratio = sum(nbytes.get(o["i"], 0) for o in ok) / kept_bytes if kept_bytes else 0.0
    failed = len([o for o in measured if o["i"] in failed_ops])
    correct = not problems and bool(measured)
    for p in problems[:20]:
        print(f"check FAILED {p}", file=sys.stderr)

    metrics = {}
    units = {m["name"]: m["unit"] for m in conf["end_to_end"] + conf["per_layer"]}
    setup = median(h["setup_s"])
    if args.trace == 0:
        values = {"setup_s": setup, "peak_rss_mb": h["peak_rss_mb"],
                  "throughput_per_s": throughput, "op_p50_geomean_s": latency}
        report("setup_s", setup, "s", len(h["setup_s"]), f" first={h['setup_s'][0]:.3f}")
        report("start_to_first_timed_op_s", h["first_timed_op_s"], "s")
        report("peak_rss_mb", h["peak_rss_mb"], "MB")
        report("error_rate", failed / len(measured) if measured else None, "ratio", len(measured))
        report(unit_name, throughput, "1/s", len(measured))
        report("op_p50_geomean_s", latency, "s", len(measured))
        report(f"{lat_name}_p50_s", median(walls), "s", len(walls))
        report(f"{lat_name}_p{tail_p}_s", percentile(walls, tail_p), "s", len(walls))
        if args.workload != "catalog":
            report("sink_bytes_per_input_byte", ratio, "ratio", len(measured))
        names = [m["name"] for m in conf["end_to_end"]]
    else:
        values = dict(h["layers"])
        values["trace.op_p50_geomean_s"] = latency
        for k in sorted(values):
            report(k, values[k], units.get(k, "s" if k.startswith("self.") else ""))
        names = [m["name"] for m in conf["per_layer"]]
    for n in names:
        metrics[n] = {"value": values[n], "unit": units[n]}
    return {"correct": correct, "attempted": len(measured), "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
