"""Layered benchmark of the extraction engine; one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds T --trace 0|1

Run from the repository root. The first run builds the program from source
(perfbench/build.py). Inputs come from the seed only: the Synth corpus for
extract-synth, and perfbench/gen.py tables for extract-table. One JVM runs
the workload in a local[4] session pinned to 4 cores, then re-pins the same
warm session to one core and times the identical job again. Outputs are
checked: per-document digests against direct kernel calls, the golden
fixtures, and in traced runs snapshot manifests, DuckDB oracles for the
dedup queries and the streaming probe, and the analytics queries pass to
pass. Human-readable lines come first; the last line is one JSON object
with correct / attempted / failed / metrics. With --trace 1
the metrics are the per-layer numbers and the whole trace is kept in
.bench_build/out/.
"""
import argparse
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("extract-synth", "extract-table")
# generated table sizes (documents rows, embeddings rows): extract-table's
# input, and the dedup queries' tables in its traced runs
TABLE_DOCS = (16000, 100)
DEDUP_TABLES = (800, 400)
# results checked against DuckDB: the dedup queries and the streaming probe
ORACLE_CHECKED = ["d2_ngram_jaccard", "d4_lsh_pairs", "c2_semantic_curation",
                  "d8_incremental_clusters"]
# the paper's scaling gate; reported against, not enforced
SCALING_GATE = 0.8
# median wall of one HostProbe on four threads of a quiet 4-vCPU, 15.7 GB
# virtual machine: wall_s is the pass wall at this host speed
PROBE_NOMINAL_S = 0.22
# fixed heap and young generation: with G1 sizing them adaptively, pass
# times and memory swung widely from one JVM to the next
HEAP = "3g"
JVM_TIMEOUT_S = 160
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "pages_per_s": "1/s", "scaling_efficiency": "ratio",
              "retained_heap_mb": "MB"}


def declared_layers():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def run_jvm(args, classes, work, data, out_file):
    cpus = sorted(os.sched_getaffinity(0))
    hi = min(4, len(cpus))
    pin_hi = ",".join(str(c) for c in cpus[:hi])
    pin_lo = str(cpus[0])
    taskset = shutil.which("taskset")
    cmd = ([taskset, "-c", pin_hi] if taskset else []) + [
        build.java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(ROOT, classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--data", data, "--out", out_file,
            "--hi", str(hi), "--pin-hi", pin_hi, "--pin-lo", pin_lo,
            "--taskset", taskset or "none"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out_file):
        with open(log_path) as fh:
            lines = [ln for ln in fh if any(w in ln for w in ("Exception", "Error", "Caused by", "[perfbench]"))]
        sys.stderr.write("".join(lines[-20:]))
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(out_file) as fh:
        res = json.load(fh)
    res["pinning"] = (f"taskset: cpus {pin_hi}, then every thread re-pinned to cpu {pin_lo}"
                      if taskset else "unpinned (taskset not found)")
    res["hi"] = hi
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")

    classes = build.build(ROOT)
    bench = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "extract-table":
            gen.generate(data, *TABLE_DOCS, args.seed)
            if args.trace:
                gen.generate(os.path.join(data, "dedup"), *DEDUP_TABLES, args.seed)
        t_jvm = time.time()
        res = run_jvm(args, classes, work, data, os.path.join(work, "result.json"))
        sys.stderr.write(f"[perfbench] jvm process {time.time() - t_jvm:.1f} s\n")
        attempted, failed, notes = res["attempted"], res["failed"], list(res["notes"])
        if args.workload == "extract-table" and args.trace:
            a, f, n = oracle.check(os.path.join(data, "dedup"), os.path.join(work, "dump"),
                                   ORACLE_CHECKED)
            attempted, failed, notes = attempted + a, failed + f, notes + n
        oracle_missed = oracle.self_check(os.path.join(work, "oracle-selfcheck"))
        if oracle_missed:
            notes.append(f"self-check: oracle compare missed {oracle_missed} toy faults")
        correct = failed == 0 and res["self_check_ok"] and not oracle_missed
    finally:
        shutil.rmtree(work, ignore_errors=True)

    hi = res["hi"]
    # Other tenants of a shared host slow whole runs, passes and probes
    # alike. The probe is fixed work outside the program, run right before
    # each 4-core pass. Under the same contention its wall grows about twice
    # as much as a pass's in log terms (probe +45-50% where passes took
    # +25-35%), so the median pass wall is divided by the square root of the
    # probes' slowdown against their nominal wall.
    raw_wall = statistics.median(res["walls_hi"])
    host_slowdown = statistics.median(res["probes"]) / PROBE_NOMINAL_S
    wall = raw_wall / host_slowdown ** 0.5
    # the JIT keeps compiling through the run; on one core that work lands in
    # whichever pass it falls in, so single 1-core walls swing by a third.
    # Mean walls share it out evenly; the median of three passes does not.
    mean_ratio = statistics.mean(res["walls_lo"]) / statistics.mean(res["walls_hi"])
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "pages_per_s": res["pages"] / wall,
        "scaling_efficiency": mean_ratio / hi,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    env = dict(res["env"])
    env["host_cpus"] = os.cpu_count()
    with open("/proc/meminfo") as fh:
        env["mem_total_gb"] = round(int(fh.readline().split()[1]) / 1048576, 1)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    print("phases " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}) +
          f" jvm {res['jvm_s']:.1f} s, warm-up passes {res['warmup_passes']}")
    print(f"scaling pair 1 -> {hi} cores, one local[{hi}] session, {res['pinning']}; "
          f"walls on {hi} cores {res['walls_hi']} on 1 core {res['walls_lo']}")
    print(f"host probe median {statistics.median(res['probes']):.4f} s (nominal {PROBE_NOMINAL_S} s): "
          f"slowdown {host_slowdown:.3f}, raw median pass wall {raw_wall:.4f} s; "
          f"probes {[round(p, 4) for p in res['probes']]}")
    gate = {"gate": f">= {SCALING_GATE}", "met": e2e["scaling_efficiency"] >= SCALING_GATE}
    for k, v in e2e.items():
        note = (f" (gate {gate['gate']}: {'met' if gate['met'] else 'BELOW'})"
                if k == "scaling_efficiency" else "")
        print(f"metric {k} {v:.6g} {END_TO_END[k]}{note}")
    print(f"metric failed_share {failed / max(attempted, 1):.6g} ratio ({failed} of {attempted})")
    print(f"metric peak_rss_mb {res['peak_rss_mb']:.6g} MB")
    for n in notes:
        print(f"failure {n}")

    if args.trace:
        layers = res["layers"]
        units = declared_layers()
        for k in sorted(layers):
            print(f"layer {k} {layers[k]:.6g}")
        os.makedirs(os.path.join(bench, "out"), exist_ok=True)
        keep = dict(res, end_to_end=e2e, raw_wall_s=raw_wall, host_slowdown=host_slowdown,
                    failed_share=failed / max(attempted, 1), notes=notes, scaling_gate=gate)
        with open(os.path.join(bench, "out", f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump(keep, fh, indent=1, sort_keys=True)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    # a terminated runner still unwinds, so the JVM it started is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    main()
    sys.stderr.write(f"[perfbench] run took {time.time() - t0:.1f} s\n")
