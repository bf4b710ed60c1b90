#!/usr/bin/env python3
"""Graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a source tree builds graft
and the benchmark from source with sbt (into .bench_build/ and the sbt
target directories); later runs reuse that build while the sources are
unchanged. Each run starts one JVM (local[nproc] Spark, fixed heap) in a
private temporary directory under .bench_build/, which is deleted at exit.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics of a traced run with --trace 1. Lines before it give the
host record and each metric by name and unit. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import corpus  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# files: corpus size. tiered: tiered corpus with impact-ordered doc ids
# (block-max bounds prune) or uniform with ids in generation order (they do
# not). mutating: the timed loop appends, removes and re-opens before each
# query cycle. batches: appended batches generated as input.
WORKLOADS = {
    "search": {"files": 10000, "tiered": True, "mutating": False, "batches": 1},
    "ingest": {"files": 4000, "tiered": False, "mutating": True, "batches": 4},
}
BATCH = 500
QUERY_CYCLES = 40
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# What spark-submit adds for Spark on JDK 17
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(digest):
    """Compile graft and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.autostart=false",
                 "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        die(f"build failed; see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def make_inputs(args, w, path):
    """Generate the workload's inputs from the seed; returns the seconds it
    took."""
    t = time.time()
    os.makedirs(path)
    corpus.write(os.path.join(path, "corpus.parquet"), w["files"], args.seed, w["tiered"])
    for b in range(w["batches"]):
        corpus.write(os.path.join(path, f"batch-{b}.parquet"), BATCH,
                     args.seed * 1000 + b + 1, w["tiered"])
    corpus.write_queries(os.path.join(path, "queries.tsv"), args.seed, QUERY_CYCLES)
    return time.time() - t


def launch(args, w, cp, cpus, tmp):
    out = os.path.join(tmp, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--tiered", str(int(w["tiered"])),
            "--mutating", str(int(w["mutating"])), "--batch", str(BATCH),
            "--batches", str(w["batches"]), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--input", os.path.join(tmp, "input"), "--tmp", tmp, "--out", out,
            "--cpus", str(cpus), "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=fh,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = f"a timeout after {RUN_TIMEOUT_S} s"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    os.makedirs(os.path.join(BUILD_DIR, "logs"), exist_ok=True)
    shutil.copy(log, os.path.join(BUILD_DIR, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log"))
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"benchmark JVM stopped with {rc}")
    with open(out) as fh:
        return json.load(fh)


def end_to_end(raw, files, gen_s):
    """The end-to-end metrics, {name: (value, unit)}; and report lines for
    them and for the metrics that only some workloads or runs measure."""
    s = raw["samples"]
    m = {
        "setup_s": (gen_s + s["setup_s"][0], "s"),
        "build_files_per_s": (files / (s["build_s"][0] + s["blocks_s"][0]), "files/s"),
        "bm25_p50_s": (statistics.median(s["bm25"]), "s"),
        "wand_p50_s": (statistics.median(s["wand"]), "s"),
        "index_bytes_per_input_byte": (raw["facts"]["index_bytes_per_input_byte"], "ratio"),
    }
    notes = {
        "setup_s": "input generation, JVM start, build, buildBlocks, open",
        "build_files_per_s": f"{files} files over build + buildBlocks",
        "bm25_p50_s": f"{len(s['bm25'])} samples",
        "wand_p50_s": f"{len(s['wand'])} samples",
        "index_bytes_per_input_byte": "all published tables over indexed UTF-8 bytes",
    }
    lines = [f"{k} {v:.6g} {u} ({notes[k]})" for k, (v, u) in m.items()]
    for ex in ("bm25", "wand"):
        t = stats.tail(s[ex])
        lines.append(f"{ex}_tail_s {t[0]:.6g} s (p{t[1]:.1f} of {t[2]} samples)" if t else
                     f"{ex}_tail_s n/a s ({len(s[ex])} samples; a tail needs 10 beyond it)")
    for k, name in (("append_s", "append_p50_s"), ("vacuum_s", "vacuum_s")):
        if k in s:
            lines.append(f"{name} {statistics.median(s[k]):.6g} s ({len(s[k])} samples)")
    return m, lines


def host_record(args, cpus, digest, raw):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"nproc": os.cpu_count(), "cpus": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "heap": HEAP, "heap_max_mb": raw["heap_max_mb"],
            "jdk": raw["java_version"], "spark": raw["spark_version"],
            "git_sha": sha or "unknown (not a git checkout)",
            "source_digest": digest, "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources under {ROOT}/src; run from a checkout of the repository")
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    digest = source_digest()
    cp = build(digest)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.join(BUILD_DIR, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[args.workload]
    try:
        gen_s = make_inputs(args, w, os.path.join(tmp, "input"))
        raw = launch(args, w, cp, cpus, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print("host " + json.dumps(host_record(args, cpus, digest, raw), sort_keys=True))
    for f in raw["failures"]:
        print(f"failed: {f}")
    attempted, failed = raw["attempted"], raw["failed"]
    print(f"failed_frac {failed / max(attempted, 1):.6f} ratio "
          f"({failed} of {attempted} operations)")
    print(f"cache_mb {raw['facts']['spark.cache_mb']:.3f} MB "
          "(storage memory still held at the end of the run)")
    if args.trace:
        metrics, lines = layers.per_layer(raw)
        os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
        spans = os.path.join(BUILD_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(spans, "w") as fh:
            json.dump(raw["spans"], fh)
        print(f"spans: {len(raw['spans'])}, written to {os.path.relpath(spans, ROOT)}")
        lines = [f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()] + lines
    else:
        metrics, lines = end_to_end(raw, w["files"], gen_s)
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
