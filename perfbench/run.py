#!/usr/bin/env python3
"""graft's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark program (`perfbench/build.sbt`), later runs reuse the build while
the sources are unchanged. Each run generates the workload's input from
the seed, starts one JVM (`graft.perfbench.Main`) that sets up and then
times passes over the workload's gates, checks every gate result of
every pass against its DuckDB oracle, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See perfbench/README.md for the workloads and metric definitions.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 160

# name -> (gates in run order, input scale, warm-up input scale, nominal
# seconds per timed pass); the scale is relative to the fixture tables
# (see gen.py). A run makes round(--seconds / nominal) timed passes, so the
# pass count never depends on the times measured.
WORKLOADS = {
    "scan": ([
        "t_html_extract", "t_normalize", "t_pii_scrub", "t_repetition",
        "t_text_stats", "t_quality", "t_langid", "t_gopher_rules", "t_winnow",
        "t_entropy", "x_avro_roundtrip", "x_json_roundtrip",
    ], 2, 0.5, 9),
    "dedup": ([
        "d_exact", "d_ngram_jaccard", "d_minhash_lsh", "d_simhash",
        "d_dup_spans", "st_incremental_stream",
    ], 1, 0.5, 13.5),
    "tokenize": ([
        "t_bpe_learn", "t_bpe_encode", "t_pack_bpe",
    ], 1, 0.2, 12),
}
# the workloads BENCHMARK.json lists; every traced run reports a gate.<name>.s
# for each of their gates (0 where the run's workload has no such gate)
LISTED = ("scan", "dedup")

LAYER_METRICS = [
    ("queries.build_s", "s"), ("queries.build_self_s", "s"),
    ("queries.build_jobs", "count"),
    ("catalyst.plan_s", "s"), ("catalyst.exchanges", "count"),
    ("exec.exec_s", "s"), ("exec.exec_self_s", "s"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.busy_ratio", "ratio"), ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.task_skew", "ratio"),
    ("lineage.block_mb_peak", "MB"), ("lineage.checkpoint_rdds", "count"),
    ("lineage.leaked_rdds", "count"),
    ("streaming.batches", "count"), ("streaming.rows", "count"),
    ("streaming.rows_per_s", "1/s"), ("streaming.state_rows", "count"),
]
KERNELS = [
    "html_main_text", "norm_text", "tokens", "nfc_normalize", "pii_scrub",
    "quality_score", "lang_id", "winnow_fingerprint_set", "shingles",
    "simhash64", "bpe_encode", "wordpiece_encode", "to_confluent_avro",
    "from_confluent_avro",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """SHA-256 over every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the library and the benchmark program; return its classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got = json.load(f)
        if got["stamp"] == stamp:
            return got["classpath"]
    log("building (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln.strip() for ln in proc.stdout.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def heap_mb():
    """A quarter of physical memory, between 2 and 6 GiB, in 512 MiB steps."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(2048, min(6144, total // 4 // 512 * 512))


def java_cmd(classpath, run_dir, heap):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
            "-XX:+UseG1GC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}", "-cp", classpath,
            "graft.perfbench.Main"]


def run_jvm(cmd, run_dir, deadline):
    """Run the benchmark JVM in its own process group; kill it on timeout."""
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--throw-gate", default="",
                    help="make this gate throw (self-test of failure counting)")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a graft source tree: {need} is missing under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    gates, scale, warm_scale, nominal = WORKLOADS[args.workload]
    n_passes = max(4 if args.trace else 1, round(args.seconds / nominal))
    data = os.path.join(WORK, "data", f"{args.workload}-{scale}-{args.seed}")
    inp, warm = os.path.join(data, "input"), os.path.join(data, "warm")
    if not os.path.exists(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(inp, args.seed, scale)
        # warm-up input: its own directory and bytes, so the input-keyed
        # memos it fills are never hit by the timed passes
        gen.generate(warm, args.seed + 1_000_003, warm_scale)
        open(os.path.join(data, "done"), "w").close()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result = os.path.join(run_dir, "result.json")
    heap = heap_mb()
    cmd = java_cmd(classpath, run_dir, heap) + [
        "--gates", ",".join(gates), "--input", inp, "--warmup", warm,
        "--work", run_dir, "--passes", str(n_passes),
        "--trace", str(args.trace),
        "--out", result, "--throw-gate", args.throw_gate]
    log(f"inputs ready at {time.monotonic() - t_start:.1f} s")
    code = run_jvm(cmd, run_dir, deadline)
    log(f"benchmark JVM done at {time.monotonic() - t_start:.1f} s")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
    with open(result) as f:
        res = json.load(f)

    # correctness: every gate of every pass against its oracle
    expect = oracle.expectations(
        inp, res["oracle_sql"], os.path.join(data, "expect.json"))
    passes = res["passes"]
    attempted = failed = 0
    for p in passes:
        for g in p["gates"]:
            attempted += 1
            why = g["error"] if not g["ok"] else oracle.check(
                os.path.join(p["out"], g["name"]), expect.get(g["name"]))
            if why:
                failed += 1
                log(f"FAIL {p['label']} {g['name']}: {why}")

    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    fail_ratio = failed / attempted
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "run_s": (median([p["run_s"] for p in untraced]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s"),
        "live_heap_peak_mb": (median([p["live_heap_peak_mb"] for p in untraced]), "MB"),
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "passes": len(untraced), "fail_ratio": f"{fail_ratio:.4f} ratio",
                      **{k: f"{v:.4f} {u}" for k, (v, u) in e2e.items()},
                      "env": res["env"]}))
    if args.trace:
        metrics = {}
        for name, unit in LAYER_METRICS:
            metrics[name] = (median([p["layers"][name] for p in traced]), unit)
        listed = [g for w in LISTED for g in WORKLOADS[w][0]]
        for g in listed + [g for g in gates if g not in listed]:
            metrics[f"gate.{g}.s"] = (median([x["s"] for p in traced
                                              for x in p["gates"]
                                              if x["name"] == g]), "s")
        for k in KERNELS:
            for side in ("ns_per_row", "builtin_ns_per_row"):
                key = f"expressions.{k}.{side}"
                metrics[key] = (res["kernels"].get(key, 0.0), "ns")
        traced_run = median([p["run_s"] for p in traced])
        metrics["trace.run_s"] = (traced_run, "s")
        metrics["trace.overhead_s"] = (traced_run - e2e["run_s"][0], "s")
        metrics["trace.gate_coverage"] = (min(p["gate_cover"] for p in passes), "ratio")
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    log(f"done in {time.monotonic() - t_start:.1f} s")


if __name__ == "__main__":
    main()
