#!/usr/bin/env python3
"""Sweep parity: run the bench mains of two builds, then compare them.

    python3 tools/sweep_parity.py run <checkout> <outdir> single|multi|stream|audit
    python3 tools/sweep_parity.py compare <outdir-a> <outdir-b>

`run` drives each main through <checkout>/tools/javarun.sh in its own
working directory under <outdir> (artifact, stdout, stderr, exit code).
`single` runs all eleven BenchScale* mains at SPARK_GRAFT_SCALE_FACTOR=2;
`multi` runs the multi-leg ones other than BenchScaleAnn at
SPARK_GRAFT_SCALE_FACTORS=2,3; `stream` runs BenchStream at factor 1 (both
SPARK_GRAFT_SCALE_FACTOR=1 and the older SPARK_GRAFT_STREAM_FACTORS=1, so
builds on either side of that rename run the same legs); `audit` runs the
registry walker PlanAudit over every query (PLAN_AUDIT.json). The data dir,
reps, cores and heap come from the caller's environment
(SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_CPUS, HEAP).

`compare` requires, per main: the same exit code, gate message, artifact
file names, JSON key paths, and values at every non-timing path. Timing
paths are keys ending in `_sec`, keys under `times*`, `t_*` or
`section_sec_median`, Retrieval's `ratios`, and PlanAudit's per-query
`attrib` (its job log: walls, task ms, and job and task counts that vary
with timing). BenchStream's `state_bytes` (state-store memory) counts as
timing too: two runs of one build differ there, in the RocksDB legs.
Exit 1 on any difference.
"""
import json
import os
import re
import subprocess
import sys
import time

SINGLE = ["BenchScale", "BenchScaleAnalytics", "BenchScaleAnn", "BenchScaleEr",
          "BenchScaleFingerprint", "BenchScaleGraph", "BenchScaleRelational",
          "BenchScaleRetrieval", "BenchScaleSketch", "BenchScaleSubstr", "BenchScaleTpch"]
MULTI = ["BenchScaleAnalytics", "BenchScaleEr", "BenchScaleGraph", "BenchScaleRetrieval",
         "BenchScaleSketch", "BenchScaleSubstr", "BenchScaleTpch"]
SETS = {"single": SINGLE, "multi": MULTI, "stream": ["BenchStream"], "audit": ["PlanAudit"]}
TIMING = {"ratios", "section_sec_median", "state_bytes", "attrib"}


def run(checkout, outdir, which):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SCALE_FACTOR", None)
    env.pop("SPARK_GRAFT_SCALE_FACTORS", None)
    env.pop("SPARK_GRAFT_PLAN_ONLY", None)
    if which == "single":
        env["SPARK_GRAFT_SCALE_FACTOR"] = "2"
    elif which == "multi":
        env["SPARK_GRAFT_SCALE_FACTORS"] = "2,3"
    elif which == "stream":
        env["SPARK_GRAFT_SCALE_FACTOR"] = env["SPARK_GRAFT_STREAM_FACTORS"] = "1"
    runner = os.path.join(os.path.abspath(checkout), "tools", "javarun.sh")
    for main in SETS[which]:
        d = os.path.join(outdir, main)
        os.makedirs(d, exist_ok=True)
        t0 = time.time()
        with open(os.path.join(d, "stdout.txt"), "w") as out, \
                open(os.path.join(d, "stderr.txt"), "w") as err:
            code = subprocess.call([runner, "graft." + main], cwd=d, env=env,
                                   stdout=out, stderr=err)
        with open(os.path.join(d, "exit.txt"), "w") as f:
            f.write("%d\n" % code)
        print("%s exit=%d %.0fs" % (main, code, time.time() - t0), flush=True)


def is_timing(path):
    return any(k.endswith("_sec") or k.startswith("times") or k.startswith("t_")
               or k in TIMING for k in path)


def flatten(v, path=()):
    if isinstance(v, dict):
        for k, x in v.items():
            yield from flatten(x, path + (k,))
    else:
        yield path, v


def summary(d):
    gate = [m.group(1) for m in (re.search(r'Exception in thread "main" [\w.$]+: (.*)', l)
                                 for l in open(os.path.join(d, "stderr.txt"), errors="replace"))
            if m]
    artifacts = {}
    for name in sorted(os.listdir(d)):
        if name.startswith("BENCH_") and name.endswith(".json") or name == "PLAN_AUDIT.json":
            with open(os.path.join(d, name)) as f:
                artifacts[name] = dict(flatten(json.load(f)))
    return open(os.path.join(d, "exit.txt")).read().strip(), gate, artifacts


def compare(a, b):
    bad = 0
    for main in sorted(set(os.listdir(a)) | set(os.listdir(b))):
        ea, ga, xa = summary(os.path.join(a, main))
        eb, gb, xb = summary(os.path.join(b, main))
        diffs = []
        if ea != eb:
            diffs.append("exit %s vs %s" % (ea, eb))
        if ga != gb:
            diffs.append("gate %s vs %s" % (ga, gb))
        if sorted(xa) != sorted(xb):
            diffs.append("artifacts %s vs %s" % (sorted(xa), sorted(xb)))
        for name in sorted(set(xa) & set(xb)):
            pa, pb = xa[name], xb[name]
            if set(pa) != set(pb):
                diffs.append("%s key paths differ: %s" % (
                    name, sorted(map("/".join, set(pa) ^ set(pb)))))
            for p in sorted(set(pa) & set(pb)):
                if not is_timing(p) and pa[p] != pb[p]:
                    diffs.append("%s %s: %r vs %r" % (name, "/".join(p), pa[p], pb[p]))
        print("%-22s exit=%s %s" % (main, ea, "same" if not diffs else "DIFF"))
        for x in diffs:
            print("    " + x)
        bad += bool(diffs)
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "run" and sys.argv[4] in SETS:
        run(sys.argv[2], sys.argv[3], sys.argv[4])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        sys.exit(compare(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
