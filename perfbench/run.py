#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark runner from source with sbt; later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed into
`.bench_build/perfbench/run/`, starts one JVM there (so `lake/` and
`spark-warehouse/` resolve inside the scratch area), checks the outputs
against the DuckDB oracle, and prints a report followed, as the last line, by
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer metrics). The full run
record is kept under `.bench_build/perfbench/records/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "3g"
# A run lasts about a minute and is dominated by first executions. Stopping
# the JIT at C1 keeps C2 compile threads from competing with the 4 task
# threads for the cores: in an A/B over three seeds of an analytics mix, C1
# only narrowed the range of wall_s from 11% to 4% of its median and made
# runs 15% shorter.
# C1 frames are larger, so the thread stack is raised to keep the parquet
# reader's recursive In-filter evaluation (see Bench's inFilterThreshold
# note) within the stack at the depth the default configuration reaches.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-Xss4m"]
MAX_CORES = 4
JVM_TIMEOUT_S = 160

END_TO_END = {  # name -> unit; the order they are printed in
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ingest_p50_s": "s", "ingest_tail_s": "s", "failed_frac": "ratio",
    "store_ratio": "ratio", "heap_peak_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + runner with sbt once per source state; returns
    (classpath, jvm options)."""
    stamp = os.path.join(SCRATCH, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["digest"] == digest:
            return b["classpath"], b["java_options"]
    log("building engine and runner with sbt")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("sbt build failed")
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        classpath, *opts = f.read().splitlines()
    os.makedirs(SCRATCH, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath, "java_options": opts}, f)
    return classpath, opts


def plan_passes(workload, seed, timed, ingest_dir):
    """Seeded op order: the workload's warm-up passes and then `timed`
    passes over its op mix, each in its own seeded order. Admission batches
    are spread evenly through each pass: one per gate in a warm-up pass,
    `batches_per_pass` per gate in a timed pass."""
    rng = np.random.default_rng([seed, 1])
    w = WORKLOADS[workload]
    per_pass = w.get("batches_per_pass", 0)
    out, b = [], 0
    for p in range(w["warmup"] + timed):
        items = ["op:" + w["ops"][i] for i in rng.permutation(len(w["ops"]))]
        k = min(1, per_pass) if p < w["warmup"] else per_pass
        step = len(items) // (k + 1)
        for j in reversed(range(k)):
            items[(j + 1) * step:(j + 1) * step] = [
                f"docs:{ingest_dir}/docs_{b + j:03d}.parquet",
                f"vecs:{ingest_dir}/vecs_{b + j:03d}.parquet"]
        b += k
        out.append(items)
    return out, b


def run_jvm(classpath, opts, plan_path, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = [o for o in opts if not o.startswith(("-Xmx", "-Xms"))]
    cmd = [java, *opts, *JVM_FLAGS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graft.bench.Runner", plan_path]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:  # timed out, or this script is being stopped
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"runner JVM failed ({rc})")


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def timed_calls(rec, warmup):
    """Serving calls after the `warmup` untimed passes."""
    return [c for c in rec["calls"] if c["kind"] != "setup" and c["pass"] > warmup]


def end_to_end(rec, warmup, meta, lake_bytes, attempted, failed):
    timed = timed_calls(rec, warmup)
    reads = [c for c in timed if c["kind"] == "read"]
    ingests = [c for c in timed if c["kind"] == "ingest"]
    lat = [(c["t1"] - c["t0"]) / 1e3 for c in reads]
    pass_walls = {}
    for c in reads + ingests:
        pass_walls[c["pass"]] = pass_walls.get(c["pass"], 0.0) + (c["t1"] - c["t0"]) / 1e3
    m = {
        "setup_s": rec["session_s"] + rec["setup_build_s"],
        "wall_s": statistics.median(pass_walls.values()),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": metrics.tail(lat),
        "failed_frac": failed / attempted,
        "store_ratio": lake_bytes / meta["input_bytes"],
        "heap_peak_mb": rec["heap_peak_mb"],
    }
    if ingests:
        ilat = [(c["t1"] - c["t0"]) / 1e3 for c in ingests]
        m["ingest_p50_s"] = statistics.median(ilat)
        m["ingest_tail_s"] = metrics.tail(ilat)
    return m


def layer_metrics(rec, warmup, lake_bytes, e2e):
    """The per-layer metrics of a traced run, named `<Layer>.<metric>`."""
    # set-up calls, and serving calls of the timed passes
    calls = [c for c in rec["calls"] if c["kind"] == "setup"] + timed_calls(rec, warmup)
    out = {}
    for layer, ms in metrics.per_layer(calls, rec["jobs"], rec["counters"]).items():
        for k, v in ms.items():
            out[f"{layer}.{k}"] = v
    cs = [rec["counters"][str(c["span"])] for c in calls if str(c["span"]) in rec["counters"]]
    out["spark.shuffle_mb"] = sum(c["shuffle_bytes"] for c in cs) / 2**20
    out["spark.spill_mb"] = sum(c["spill_bytes"] for c in cs) / 2**20
    out["jvm.gc_s"] = rec["env"]["gc_serve_s"]
    out["cache.cached_mb"] = rec["cached_mb"]
    out["lake.mb"] = lake_bytes / 2**20
    out["Streams.batch_p50_s"] = e2e.get("ingest_p50_s", 0)
    out["Streams.batch_tail_s"] = e2e.get("ingest_tail_s", 0)
    out["trace.wall_s"] = e2e["wall_s"]
    return out


def declared_per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    # a stop request unwinds through run_jvm's cleanup, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found: run from the root of a graft checkout")
    e2e_decl, layer_decl = declared_per_layer()
    classpath, opts = build()

    work = os.path.join(SCRATCH, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    w = WORKLOADS[a.workload]
    timed = max(1, round(a.seconds / w["pass_s"]))
    passes, batches = plan_passes(a.workload, a.seed, timed, os.path.join(work, "ingest"))
    meta = gen.generate(work, a.seed, batches)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    plan = dict(meta, workload=a.workload, lake=os.path.join(work, "input"),
                out=os.path.join(work, "out"), cores=cores, trace=bool(a.trace),
                setup=w["setup"], passes=passes)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    run_jvm(classpath, opts, plan_path, work)

    with open(os.path.join(work, "out", "record.json")) as f:
        rec = json.load(f)
    oracle_causes = check.oracle_causes(work, rec)
    attempted, failed, causes = metrics.failures(
        rec["calls"], oracle_causes, check.gate_problems(rec, meta))
    lake_bytes = dir_bytes(os.path.join(work, "lake"))
    e2e = end_to_end(rec, w["warmup"], meta, lake_bytes, attempted, failed)
    env = rec["env"]
    flagged = metrics.contended(env["floor_start_s"], env["floor_end_s"])

    # ---- report
    print(f"workload {a.workload}  seed {a.seed}  cores {env['cores']}  heap {env['heap_mb']} MB  "
          f"passes {w['warmup']} warm-up + {rec['passes'] - w['warmup']} timed  trace {a.trace}")
    print(f"noise floor {env['floor_start_s']:.4f} s -> {env['floor_end_s']:.4f} s"
          + ("  ELEVATED: contended machine, compare with care" if flagged else ""))
    print(f"gc {env['gc_total_s']:.3f} s total, {env['gc_serve_s']:.3f} s in serving calls")
    for name, unit in END_TO_END.items():
        if name not in e2e:
            print(f"{name:<14} n/a ({unit}; workloads with admission batches only)")
            continue
        v = e2e[name]
        if isinstance(v, tuple):
            p, val, n, beyond = v
            note = "" if beyond >= metrics.MIN_BEYOND else \
                f": short of {metrics.MIN_BEYOND}, so this is the median, not a tail"
            print(f"{name:<14} {val:.4f} {unit}  (p{p:g} of n={n}, {beyond} beyond{note})")
        else:
            print(f"{name:<14} {v:.6g} {unit}")
    for name, cause in causes:
        print(f"FAILED {name}: {cause}")

    # ---- record
    e2e_flat = {k: (v[1] if isinstance(v, tuple) else v) for k, v in e2e.items()}
    if a.trace:
        layers = layer_metrics(rec, w["warmup"], lake_bytes, e2e_flat)
        values = {m["name"]: layers.get(m["name"], 0) for m in layer_decl}
        units = {m["name"]: m["unit"] for m in layer_decl}
    else:
        values = {m["name"]: e2e_flat[m["name"]] for m in e2e_decl}
        units = {m["name"]: m["unit"] for m in e2e_decl}
    records = os.path.join(SCRATCH, "records")
    os.makedirs(records, exist_ok=True)
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cores": env["cores"], "heap_mb": env["heap_mb"], "env": env,
            "floor_flagged": flagged, "end_to_end": e2e_flat,
            "per_layer": layers if a.trace else None,
            "attempted": attempted, "failed": failed, "causes": causes}
    with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    if a.trace:
        compare.print_overhead(records, a.workload, env["cores"], env["heap_mb"])
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
