#!/usr/bin/env python3
"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {flagship,operators,refresh}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The first run compiles the engine
and the benchmark (`build.py`) and generates the fixed input tables; later
runs reuse both from `.bench_build/`. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`). Everything
else — per-query, per-node and span detail, ambient load — goes to the
artifact `.bench_build/artifacts/<workload>-s<seed>-t<trace>.json`.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["flagship", "operators", "refresh"]
GEN_SEED = 42
# every workload reads the small table set (flagship for its warm-up only);
# flagship measures FLAGSHIP_COPIES id-disjoint replicas of the sf0.01 tables
SMALL_SF, BASE_SF = 0.001, 0.01
FLAGSHIP_COPIES = 1
DEADLINE_S = 170


def tables(name, sf):
    with open(gen_tables.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(OUT, "data", f"{name}-sf{sf}-g{GEN_SEED}-{version}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        rows = gen_tables.write_tables(d, sf, GEN_SEED)
        with open(done, "w") as f:
            json.dump(rows, f)
    return d


def cpu_stat():
    """(busy, total, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v) - idle, sum(v), (v[7] if len(v) > 7 else 0)


def ambient():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    ch = resource.getrusage(resource.RUSAGE_CHILDREN)
    me = resource.getrusage(resource.RUSAGE_SELF)
    busy, total, steal = cpu_stat()
    return {"time": time.time(), "loadavg": load, "busy_jiffies": busy, "total_jiffies": total,
            "steal_jiffies": steal, "own_cpu_s": ch.ru_utime + ch.ru_stime + me.ru_utime + me.ru_stime}


def others_cpu(a, b):
    """CPU seconds that processes other than this benchmark used between two
    ambient samples, and the seconds the hypervisor stole."""
    hz = os.sysconf("SC_CLK_TCK")
    return ((b["busy_jiffies"] - a["busy_jiffies"]) / hz - (b["own_cpu_s"] - a["own_cpu_s"]),
            (b["steal_jiffies"] - a["steal_jiffies"]) / hz)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-goldens", action="store_true",
                   help="write this run's output digests as the goldens instead of checking them")
    a = p.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no engine sources under {ROOT}/src/main/scala: run from a source checkout")

    classes, jars = build.build(ROOT, OUT)
    data = tables("small", SMALL_SF)
    work = os.path.join(OUT, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    arts = os.path.join(OUT, "artifacts")
    os.makedirs(arts, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    goldens = os.path.join(HERE, "golden", f"{a.workload}.json")
    try:
        t_gen = time.time()
        gen = {}
        if a.workload == "flagship":
            gen = gen_tables.flagship_corpus(tables("base", BASE_SF), os.path.join(work, "flagship_in"),
                                             FLAGSHIP_COPIES, a.seed)
        gen["gen_s"] = time.time() - t_gen
        raw_path = os.path.join(work, "raw.json")
        cmd = (["java", f"-Djava.io.tmpdir={work}/tmp"] + build.JVM_OPTS + build.JVM_OPENS +
               ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--work", work, "--out", raw_path,
                "--goldens", goldens] + (["--record"] if a.record_goldens else []))
        before = ambient()
        launched = time.time()
        with open(os.path.join(arts, name + ".log"), "w") as log:
            budget = max(30.0, DEADLINE_S - (time.time() - t_start))
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget, cwd=work)
        after = ambient()
        if r.returncode != 0:
            sys.exit(f"benchmark JVM failed with exit code {r.returncode}; see {arts}/{name}.log")
        with open(raw_path) as f:
            raw = json.load(f)
        raw["launched_epoch_s"] = launched
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = stats.end_to_end(raw)
    layers = stats.per_layer(raw) if a.trace else {}
    shown = layers if a.trace else e2e
    units = dict((n, u) for n, u, _ in (stats.PER_LAYER if a.trace else stats.END_TO_END))
    artifact = {
        "args": vars(a), "generation": gen, "flagship_copies": FLAGSHIP_COPIES,
        "ambient": dict(zip(["others_cpu_s", "steal_s"], others_cpu(before, after)),
                        start=before, end=after),
        "end_to_end": e2e, "per_layer": layers,
        "steps": stats.steps(raw),
        "error_rate": raw["failed"] / max(1, raw["attempted"]),
        "raw": raw,
    }
    with open(os.path.join(arts, name + ".json"), "w") as f:
        json.dump(artifact, f)
    print(json.dumps({
        "correct": raw["failed"] == 0 and raw["attempted"] > 0,
        "attempted": raw["attempted"], "failed": raw["failed"],
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in units},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
