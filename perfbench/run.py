#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one closed-loop caller.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --compare A.json B.json

Workloads: ncagg_bulk, registry (see perfbench/README.md).
The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt loads the repo root as a source
dependency); later runs reuse the build while the sources are unchanged.
Every file a run makes lives under perfbench/.work/<run>/ and is deleted
when the run ends; the run's record is kept in perfbench/.results/.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--compare refuses two records whose input digests or settings differ.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
RESULTS = os.path.join(BENCH, ".results")
WORKLOADS = ("ncagg_bulk", "registry")
HEAP = "2g"  # pinned: the program's build defaults to -Xmx24g
# The registry workload runs a fixed sample: a full pass of all 192
# queries takes about 50 s warm and 80 s cold on 4 cores, longer than a run
# may take. The sample is stratified by family (ann, d, emb, mm, q, q_agg,
# stream, t): each family gets its share of 14 queries, rounded, and at
# least 2, so 18 queries. Within a family the queries were sorted by their
# warm time in a full pass on these tables and taken at evenly spaced
# ranks, so the sample keeps the pass's spread of query times.
REGISTRY_SAMPLE = (
    "ann_lsh", "ann_filtered",
    "d_sample_stratified", "d_minhash_est_err",
    "emb_quantize_error", "emb_outliers",
    "mm_video_motion", "mm_audio_silence",
    "q_zorder_scan", "q_top_movers", "q_anomaly", "q_gap_stats",
    "q_agg_valid", "q_agg_interp",
    "stream_gapfill", "stream_enrich",
    "t_tokens", "t_keywords")
RUN_LIMIT_S = 175
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, and of the table generator
    and query sample the stored oracle counts come from."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "run.py"),
             os.path.join(BENCH, "registry_data.py")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classpath, extra):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # the program's own GC settings with the heap capped; the heap grows
        # as the program touches it, so the peak resident set follows the
        # program's memory use
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath] + extra)


def build():
    """Compiles the program and the benchmark, and takes the registry's
    oracle counts, when their sources changed; returns the classpath and
    the seconds spent."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), 0.0
    t = time.time()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    subprocess.run(java_cmd(classpath, [
        "perfbench.Main", "--dump-oracle",
        os.path.join(BUILD, "oracle_sql.json")]),
        check=True, stdin=subprocess.DEVNULL, timeout=300)
    registry_oracle()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, time.time() - t


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def registry_oracle():
    """Generates the registry tables once and stores the DuckDB oracle row
    count of every sampled query over them, with the tables' digest."""
    sys.path.insert(0, BENCH)
    import registry_data
    sqls = json.load(open(os.path.join(BUILD, "oracle_sql.json")))
    tables = os.path.join(BUILD, "tables")
    shutil.rmtree(tables, ignore_errors=True)
    registry_data.write_tables(tables)
    counts = registry_data.oracle_counts(
        tables, {q: sqls[q] for q in REGISTRY_SAMPLE})
    digest = digest_files([os.path.join(tables, f) for f in os.listdir(tables)])
    shutil.rmtree(tables)
    with open(os.path.join(BUILD, "registry_oracle.json"), "w") as f:
        json.dump({"input_digest": digest, "counts": counts}, f)


def registry_setup(root, seed):
    """Generates the tables and writes the seed-ordered sample with its
    oracle counts; returns the tables' digest."""
    sys.path.insert(0, BENCH)
    import registry_data
    oracle = json.load(open(os.path.join(BUILD, "registry_oracle.json")))
    tables = os.path.join(root, "tables")
    registry_data.write_tables(tables)
    digest = digest_files([os.path.join(tables, f) for f in os.listdir(tables)])
    if digest != oracle["input_digest"]:
        fail("generated tables differ from those the oracle counts were "
             "taken on")
    sample = list(REGISTRY_SAMPLE)
    random.Random(seed).shuffle(sample)
    with open(os.path.join(root, "queries.tsv"), "w") as f:
        f.writelines(f"{q}\t{oracle['counts'][q]}\n" for q in sample)
    return digest


def run(a):
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        fail("the program's sources are not beside perfbench/", 2)
    classpath, compile_s = build()
    root = os.path.join(BENCH, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    proc = None
    try:
        extra = []
        if a.workload == "registry":
            digest = registry_setup(root, a.seed)
            extra = ["--queries", os.path.join(root, "queries.tsv"),
                     "--input-digest", digest]
        # set-up time runs from process start to the first timed call; the
        # once-per-checkout build is not part of it
        t0_ms = int((T0 + compile_s) * 1000)
        cmd = java_cmd(classpath, [
            f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", root, "--results", RESULTS,
            "--t0-ms", str(t0_ms)] + extra)
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
        left = RUN_LIMIT_S - (time.time() - T0 - compile_s)
        try:
            out, _ = proc.communicate(timeout=max(left, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
        if proc.returncode != 0:
            fail(f"benchmark JVM exited with {proc.returncode}")
        lines = [x for x in out.splitlines() if x.strip()]
        result = json.loads(lines[-1]) if lines else {}
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("benchmark JVM printed no result")
        for x in lines:
            print(x)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)


def compare(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    for k in ("workload", "trace", "input_digest", "env"):
        if a.get(k) != b.get(k):
            fail(f"refusing to compare: {k} differs\n  {a.get(k)}\n  {b.get(k)}",
                 3)
    for k, v in a["end_to_end"].items():
        w = b["end_to_end"].get(k)
        ratio = w / v if v and w is not None else float("nan")
        print(f"{k:16s} {v:12.4f} {w:12.4f}  x{ratio:.3f}")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar="RECORD")
    a = p.parse_args()
    if a.compare:
        compare(*a.compare)
    elif a.workload:
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
        run(a)
    else:
        p.error("--workload or --compare is required")


if __name__ == "__main__":
    main()
