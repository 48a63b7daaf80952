#!/usr/bin/env python3
"""graft benchmark: one cold-JVM run of one workload.

    python3 perfbench/run.py --workload <gmall_stream|registry_batch> --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke [--corrupt-digest]
    python3 perfbench/run.py --record-digests

Run from the repository root. The first run builds the engine sources plus
the harness under perfbench/scala with sbt (offline); later runs reuse the
build while no source changed. Inputs are generated from the seed by
gen.py under perfbench/work/. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}; untraced runs
report the end-to-end metrics, traced runs (--trace 1) the per-layer ones
and a span file under perfbench/work/results/.

--smoke runs every workload once, traced, at sf0.001 in a few seconds of
measurement and prints every metric; with --corrupt-digest it flips one
stored result digest first and must then fail (exit code 1).
--record-digests re-records digests.json from the current program.
--check-oracle confirms the stored digests: graft.Verify dumps the registry
queries over the generated tables, tools/check.py compares the dumps with
their DuckDB oracles, and the dumps must digest to digests.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
HEAP = "2g"
DATA_SEED = 42

# Per-workload load. Stream slices: one event-time hour of clickstream and
# one event-time day of orders each.
WORKLOADS = {
    "gmall_stream": {"sf": 0.01, "backlog": 16, "interval_ms": 500,
                     "events_per_slice": 250, "orders_per_slice": 40},
    "registry_batch": {"sf": 0.01},
}
SMOKE = {
    "gmall_stream": {"sf": 0.001, "backlog": 2, "interval_ms": 500,
                     "events_per_slice": 100, "orders_per_slice": 10},
    "registry_batch": {"sf": 0.001},
}
# units of the workload-specific names printed beside the end-to-end metrics
UNITS = {"publish_lag_p50_s": "s", "publish_lag_tail_s": "s",
         "catchup_rows_per_s": "rows/s", "dwm_completeness": "ratio",
         "registry_pass_s": "s", "error_rate": "ratio"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark jar directory, as the engine's own build.sbt names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)


def sources():
    """Every file the build compiles, sorted."""
    out = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)


def gen(*args):
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), *map(str, args)], check=True)


def java_cmd(kv):
    opens = []
    for p in ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
              "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
              "sun.nio.cs sun.security.action sun.util.calendar").split():
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the flags of tools/javarun.sh, with the heap pinned at both ends: a
    # heap that grows on demand makes peak RSS follow GC timing (1.7-2.8 GB
    # over ten gmall seeds at -Xmx4g alone)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-Duser.language=en", "-Duser.country=US",
             f"-Djava.io.tmpdir={kv['work']}/tmp",
             "-cp", f"{spark_jars()}/*:{CLASSES}", "graft.perfbench.Main"]
            + [f"{k}={v}" for k, v in kv.items()])


def run_jvm(kv, timeout):
    """Start the harness; return (result dict, seconds from launch to ready)."""
    os.makedirs(f"{kv['work']}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    t_launch = time.time()
    ready = []
    with open(f"{kv['work']}/jvm.log", "w") as err:
        proc = subprocess.Popen(java_cmd(kv), stdout=subprocess.PIPE, stderr=err, text=True, env=env)

        def read():
            for line in proc.stdout:
                if line.startswith("PERFBENCH_READY"):
                    ready.append(int(line.split()[1]) / 1000.0)

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {timeout} s")
        reader.join()
    if proc.returncode != 0 or not os.path.exists(kv["out"]):
        sys.stderr.write(open(f"{kv['work']}/jvm.log").read()[-3000:])
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(kv["out"]) as f:
        res = json.load(f)
    return res, (ready[0] - t_launch) if ready else float("nan")


def stored_digests(sf):
    path = os.path.join(BENCH, "digests.json")
    table = json.load(open(path)) if os.path.exists(path) else {}
    return table, f"sf{sf}-seed{DATA_SEED}"


def run_once(workload, seed, seconds, trace, cfg, corrupt=False, record=False):
    sf = cfg["sf"]
    wdir = os.path.join(WORK, workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    kv = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
          "work": wdir, "out": f"{wdir}/result.json", "spans": f"{results}/{tag}.spans.jsonl",
          "shuffle_partitions": cores()}
    # ---- set-up: inputs from the seed (tables from the fixed data seed)
    t0 = time.time()
    tables = os.path.join(wdir, "tables")
    gen("tables", tables, sf, DATA_SEED)
    kv["data"] = tables
    if workload == "gmall_stream":
        open_slices = max(1, int(seconds * 1000 // cfg["interval_ms"]))
        gen("stream", f"{wdir}/stage", seed, cfg["backlog"] + open_slices,
            cfg["events_per_slice"], cfg["orders_per_slice"], max(15, int(15000 * sf)),
            int(150000 * sf))
        kv.update(stream=f"{wdir}/stage", backlog=cfg["backlog"], interval_ms=cfg["interval_ms"])
    else:
        table, key = stored_digests(sf)
        want = dict(table.get(key, {}))
        if corrupt and want:
            q = sorted(want)[0]
            want[q] = ("0" if want[q][0] != "0" else "1") + want[q][1:]
            log(f"corrupted the stored digest of {q}")
        with open(f"{wdir}/digests.json", "w") as f:
            json.dump(want, f)
        kv["digests"] = f"{wdir}/digests.json"
        if record:
            kv["record"] = f"{wdir}/recorded.json"
    gen_s = time.time() - t0
    res, ready_s = run_jvm(kv, timeout=170 - gen_s)
    if record:
        table, key = stored_digests(sf)
        table[key] = json.load(open(kv["record"]))
        with open(os.path.join(BENCH, "digests.json"), "w") as f:
            json.dump(table, f, indent=1, sort_keys=True)
            f.write("\n")
        log(f"recorded {len(table[key])} digests under {key}")
    res["e2e"]["setup_s"] = gen_s + ready_s
    res["rig"] = {"cores": cores(), "heap": HEAP, "jdk": res["info"].get("jdk"),
                  "spark": res["info"].get("spark"), "source_digest": source_digest(),
                  "seed": seed, "sf": sf, "data_seed": DATA_SEED, "workload": workload,
                  "trace": trace, "seconds": seconds, "load": cfg}
    if trace:
        # tracing overhead: this traced run against the latest untraced run
        # of the same workload in this checkout, when there is one
        base = sorted((f for f in os.listdir(results)
                       if f.startswith(f"{workload}-") and f.endswith("-trace0.json")),
                      key=lambda f: os.path.getmtime(os.path.join(results, f)))
        over = 0.0
        if base:
            b = json.load(open(os.path.join(results, base[-1])))
            over = res["e2e"]["latency_p50_s"] - b["e2e"]["latency_p50_s"]
            res["info"]["trace_overhead_vs"] = base[-1]
            res["info"]["trace_overhead_e2e"] = {
                k: res["e2e"][k] - b["e2e"][k] for k in res["e2e"] if k in b["e2e"]}
        res["per_layer"]["trace.latency_p50_overhead_s"] = over
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)
    return res


def check_oracle():
    """Confirm digests.json against the DuckDB oracles, once per scale."""
    ok = True
    for sf in sorted({c["sf"] for c in (WORKLOADS["registry_batch"], SMOKE["registry_batch"])}):
        table, key = stored_digests(sf)
        names = sorted(table[key])
        wdir = os.path.join(WORK, f"oracle-sf{sf}")
        shutil.rmtree(wdir, ignore_errors=True)
        os.makedirs(f"{wdir}/tmp")
        gen("tables", f"{wdir}/tables", sf, DATA_SEED)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        cmd = java_cmd({"work": wdir})
        verify = cmd[:cmd.index("graft.perfbench.Main")] + ["graft.Verify", f"{wdir}/tables", f"{wdir}/out"] + names
        subprocess.run(verify, env=env, stderr=subprocess.DEVNULL, check=True)
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                            f"{wdir}/tables", f"{wdir}/out"] + names, text=True,
                           stdout=subprocess.PIPE)
        print(r.stdout.strip())
        subprocess.run(java_cmd({"work": wdir, "digest_dir": f"{wdir}/out", "names": ",".join(names),
                                 "out": f"{wdir}/digests.json"}),
                       env=env, stderr=subprocess.DEVNULL, check=True)
        got = json.load(open(f"{wdir}/digests.json"))
        same = got == table.get(key)
        print(f"sf{sf}: oracle check exit {r.returncode}; Verify dumps "
              f"{'match' if same else 'DO NOT match'} the stored digests ({key})")
        ok = ok and r.returncode == 0 and same
    return ok


def report(res, trace, bench_cfg):
    """Print the human-readable lines and the final result object."""
    attempted, failed = res["attempted"], res["failed"]
    units = {m["name"]: m["unit"] for m in bench_cfg["end_to_end"]}
    for k, v in res["e2e"].items():
        print(f"{k} = {v:.6g} {units.get(k, '')}")
    for k, v in dict(res["named"], error_rate=failed / max(attempted, 1)).items():
        print(f"{k} = {v:.6g} {UNITS[k]}")
    info = res["info"]
    if "tail_percentile" in info:
        print(f"tail = p{info['tail_percentile']} of n={info['samples']}")
    for name, ok in res["checks"].items():
        print(f"check {'ok  ' if ok else 'FAIL'} {name}")
    print("rig " + json.dumps(res["rig"], sort_keys=True))
    if res.get("error"):
        print(f"error {res['error']}")
    wanted = bench_cfg["per_layer" if trace else "end_to_end"]
    source = res["per_layer"] if trace else res["e2e"]
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = failed == 0 and not res.get("error")
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed if attempted else 1, "metrics": metrics}))
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-digest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    ap.add_argument("--check-oracle", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    bench_cfg = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build(source_digest())
    if a.check_oracle:
        sys.exit(0 if check_oracle() else 1)
    if a.smoke or a.record_digests:
        ok = True
        for w, cfg in (SMOKE if a.smoke else WORKLOADS).items():
            if a.record_digests and w != "registry_batch":
                continue
            sizes = [cfg] if a.smoke else [cfg, dict(cfg, sf=SMOKE[w]["sf"])]
            for c in sizes:
                print(f"== {w} (sf{c['sf']})")
                res = run_once(w, a.seed, 3, 1, c, corrupt=a.corrupt_digest, record=a.record_digests)
                ok = report(res, 1, bench_cfg) and ok
        sys.exit(0 if ok else 1)
    if a.workload not in WORKLOADS:
        raise SystemExit(f"--workload must be one of {sorted(WORKLOADS)}")
    res = run_once(a.workload, a.seed, a.seconds, a.trace, WORKLOADS[a.workload])
    sys.exit(0 if report(res, a.trace, bench_cfg) else 1)


if __name__ == "__main__":
    main()
