#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

  1. The article-feed generator and the catalog-table generator write
     identical bytes for the same seed, and different bytes for another.
  2. The output check fails on a planted wrong answer: an incremental
     pipeline with `>=` instead of `>` keeps the at-watermark article, and
     the run must end with correct=false, failed>0 and a nonzero exit.
  3. Every record carries exactly the metric names of BENCHMARK.json, with
     their units, in both the untraced and the traced run.
  4. With only BENCHMARK.json and perfbench/ present, the command fails
     without printing a result.

Usage (from the repository root): python3 perfbench/selftest.py
Takes about three minutes; exit code = number of failed tests.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_catalog  # noqa: E402

SCRATCH = os.path.join(build.build_dir(), "selftest")


def tree_digest(root, drop_key=None):
    """Hash of every file (and link target) under root, by relative path."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for name in sorted(dirs + files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            if os.path.islink(p):
                h.update(os.readlink(p).encode())
            elif os.path.isfile(p):
                data = open(p, "rb").read()
                if drop_key and name.endswith(".jsonl"):
                    rows = [json.loads(x) for x in data.decode().splitlines()]
                    for r in rows:
                        r.pop(drop_key, None)
                    data = json.dumps(rows).encode()
                h.update(data)
    return h.hexdigest()


def gen_feed(seed, out):
    classes = build.build()
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.FeedGen", str(seed), out],
                   check=True)
    return tree_digest(out, drop_key="feed_dir")


def run(workload, seconds, trace, *extra, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)


def last_json(out):
    lines = out.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


def test_deterministic():
    a = gen_feed(5, os.path.join(SCRATCH, "feed_a"))
    b = gen_feed(5, os.path.join(SCRATCH, "feed_b"))
    c = gen_feed(6, os.path.join(SCRATCH, "feed_c"))
    assert a == b, "same seed gave different feed bytes"
    assert a != c, "different seeds gave the same feed"
    digests = []
    for seed, name in ((5, "cat_a"), (5, "cat_b"), (6, "cat_c")):
        gen_catalog.generate(os.path.join(SCRATCH, name), seed)
        digests.append(tree_digest(os.path.join(SCRATCH, name)))
    assert digests[0] == digests[1], "same seed gave different catalog tables"
    assert digests[0] != digests[2], "different seeds gave the same catalog tables"


def test_planted_wrong_answer():
    r = run("ingest_incremental", 2, 0, "--plant-ge")
    res = last_json(r.stdout)
    assert r.returncode != 0, "planted >= watermark passed the check"
    assert res and res["correct"] is False and res["failed"] > 0, f"bad record {res}"


def test_metric_names():
    conf = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        r = run("ingest_incremental", 2, trace)
        assert r.returncode == 0, r.stderr[-2000:]
        res = last_json(r.stdout)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
        want = {m["name"]: m["unit"] for m in conf[key]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, f"trace {trace}: {sorted(set(got) ^ set(want))}"
        for k, v in res["metrics"].items():
            assert isinstance(v["value"], (int, float)), (k, v)


def test_needs_engine_sources():
    bare = os.path.join(SCRATCH, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "catalog",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, env=env, timeout=180)
    assert r.returncode != 0, "ran without the engine sources"
    assert '"correct"' not in r.stdout, "printed a result without the engine sources"


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    failed = 0
    for t in (test_deterministic, test_planted_wrong_answer, test_metric_names,
              test_needs_engine_sources):
        try:
            t()
            print(f"ok   {t.__name__}")
        except Exception as e:  # noqa: BLE001 - report every failure
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(failed)


if __name__ == "__main__":
    main()
