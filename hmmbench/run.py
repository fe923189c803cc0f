#!/usr/bin/env python3
"""Benchmark of the H→µµ pipeline and an analyst query mix.

    python3 hmmbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline), packages the classes as
jars, records a class-data archive of them from one training JVM, and
caches all of it under .bench_build/; later runs start the JVM directly.
Each run generates its inputs from the seed, runs one JVM on one Spark
session (a cold verified first pass, which is also the warm-up, then a
timed closed-loop window), checks every result, and prints a report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the timed window alternates untraced and traced units (a
mix pass or a pipeline iteration); the metrics are the per-layer numbers
of the traced ops, and trace.overhead_s is the difference of the traced
and untraced ops' op_p50_s.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "hmmbench")

# Deployment settings only: cores, a pinned heap, UI off, temp dirs.
HEAP = "3g"
CORES = len(os.sched_getaffinity(0))

WORKLOADS = ["hmm_pipeline", "query_mix"]
# scale factor of the generated input
SCALE = 0.01

EXCLUDED_FAMILIES = ["ML", "Text", "Dedup", "Similarity", "Multimodal", "Stream",
                     "Misc", "Temporal", "Search", "Curation", "Graph", "Fit",
                     "Correction"]
NEEDS_REFERENCE = ["p26", "s10", "s11", "s14", "s16", "l10", "l14", "l15", "l16",
                   "l17", "l18", "l19", "l22", "l24"]

ADD_OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
] for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# a run must end within 180 s; the JVMs get what is left after this margin
DEADLINE_S = 170


def log(msg):
    print(f"hmmbench: {msg}", flush=True)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; returns the JVM classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building the program and the benchmark with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"hmmbench: build failed (sbt exit {p.returncode})")
    cp = as_jars(lines[-1].strip())
    record_archive(cp)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def as_jars(cp):
    """The classpath with every class directory packaged as a jar: the
    JVM's class-data archive takes classes from jars only."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, fs in os.walk(entry):
                    dirs.sort()
                    for f in sorted(fs):
                        path = os.path.join(d, f)
                        z.write(path, os.path.relpath(path, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def record_archive(cp):
    """Record the JVM's class-data archive (AppCDS) of the classes both
    workloads load, from one training JVM on seed-0 inputs. Every run
    maps it, so a run's JVM starts without parsing and verifying Spark's
    classes again; the program's own first-pass work (planning, codegen,
    JIT) is not archived. A run without the archive starts normally."""
    log("recording the class-data archive")
    archive = os.path.join(BUILD, "classes.jsa")
    run_dir = os.path.join(BUILD, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    if os.path.exists(archive):
        os.remove(archive)
    try:
        data_dir = os.path.join(run_dir, "data")
        gen.write(data_dir, 0, SCALE)
        run_jvm(cp, "train", 0, 0, False, run_dir, data_dir, 600,
                [f"-XX:ArchiveClassesAtExit={archive}"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(archive):
        sys.exit("hmmbench: the class-data archive was not written")


def cpu_probe():
    """Fixed single-thread CPU work, median of three timings (seconds).
    Printed as a host stamp; never used to scale a metric."""
    def once():
        t0 = time.perf_counter()
        x, acc = 0x9E3779B9, 0
        for _ in range(100_000):
            x ^= (x << 13) & 0xFFFFFFFF
            x ^= x >> 17
            x ^= (x << 5) & 0xFFFFFFFF
            acc += x & 1023
        sorted((i * 7919) % 100_003 for i in range(30_000))
        return time.perf_counter() - t0
    return statistics.median(once() for _ in range(3))


def cpu_times():
    """(steal, total) CPU jiffies of the host so far, from /proc/stat;
    (0, 0) where that is not available."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, workload, seed, seconds, trace, run_dir, data_dir, timeout, jvm_opts=None):
    """One JVM run; returns its result record. Without `jvm_opts` the
    JVM maps the class-data archive the build recorded."""
    out = os.path.join(run_dir, "jvm")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={os.path.join(BUILD, 'classes.jsa')}"]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + jvm_opts + ADD_OPENS +
           ["-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={os.path.join(out, 'spark-local')}",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
            "-cp", cp, "hmmbench.BenchMain",
            "--workload", workload, "--data", data_dir, "--out", out,
            "--seconds", str(seconds), "--seed", str(seed), "--cores", str(CORES),
            "--trace", "1" if trace else "0"])
    env = dict(os.environ,
               GRAFT_FIXTURES_DIR=os.path.join(ROOT, "src", "main", "resources", "fixtures"),
               GRAFT_REFERENCE_DATA=os.path.join(run_dir, "no-reference-data"))
    with open(os.path.join(out, "jvm.out"), "w") as so, \
            open(os.path.join(out, "jvm.err"), "w") as se:
        p = subprocess.run(cmd, cwd=out, env=env, stdout=so, stderr=se,
                           timeout=max(timeout, 1))
    path = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(path):
        with open(os.path.join(out, "jvm.err")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"hmmbench: JVM run failed (exit {p.returncode})")
    with open(path) as f:
        res = json.load(f)
    res["out_dir"] = out
    return res


def check(res, data_dir):
    """Failed op ids of a JVM run. The first pass's results are checked
    against the DuckDB oracle; later mix passes were compared with the
    first inside the JVM, later pipeline iterations are compared with the
    first here. Every op of a query or iteration that fails counts."""
    failed = {o["id"] for o in res["ops"] if not o["ok"]}
    out = res["out_dir"]
    if res["workload"] == "hmm_pipeline":
        iters = [o for o in res["ops"] if o["family"] == "pipeline" and o["phase"] != "check"]
        problems = oracle.check_pipeline(
            data_dir, [os.path.join(out, o["name"]) for o in iters if o["ok"]],
            res["oracle_sql"])
        # stage 3 renders these results; if one is wrong, so is every
        # iteration's report
        stage3 = oracle.check_saved(data_dir, os.path.join(out, "stage3-inputs"),
                                    res["stage3_oracle_sql"])
        problems.update(stage3)
        failed |= {o["id"] for o in res["ops"]
                   if stage3 or os.path.join(out, o["name"]) in problems}
    else:
        problems = oracle.check_saved(data_dir, os.path.join(out, "oracle"), res["oracle_sql"])
        failed |= {o["id"] for o in res["ops"] if o["name"] in problems}
    for k, v in sorted(problems.items()):
        log(f"check failed: {os.path.basename(k)}: {v}")
    errors = {}
    for o in res["ops"]:
        if not o["ok"]:
            errors.setdefault(o["name"], o["error"])
    for name, err in sorted(errors.items()):
        log(f"op failed: {name}: {err}")
    return failed


def report_lines(workload, res, mets, probes, data_rows):
    lines = [
        f"workload {workload} seed {res['seed']} cores {res['cores']} heap {HEAP} pinned "
        f"(max {res['counters']['heap_max_mb']:.0f} MB) input sf{SCALE} "
        f"({data_rows} rows) window {res['window_s']:.3f} s",
        f"host stamp: cpu probe before {probes[0]:.4f} s, after {probes[1]:.4f} s, "
        f"steal {probes[2]:.1%}",
    ]
    if workload == "query_mix":
        lines += [
            f"families: {' '.join(res['families'])}; excluded families: "
            f"{' '.join(EXCLUDED_FAMILIES)}",
            f"queries: {' '.join(q.split('_')[0] for q in res['queries'])}; excluded "
            f"(need reference data): {' '.join(NEEDS_REFERENCE)}",
        ]
    for name, (value, unit, n) in mets.items():
        lines.append(f"metric {name} = {value:.6g} {unit} (n={n})")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t0 = time.monotonic()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    try:
        data_rows = gen.write(data_dir, a.seed, SCALE)
        probe_before = cpu_probe()
        steal0, total0 = cpu_times()
        res = run_jvm(cp, a.workload, a.seed, a.seconds, bool(a.trace), run_dir, data_dir,
                      DEADLINE_S - (time.monotonic() - t0))
        failed = check(res, data_dir)
        if not any(o["ok"] for o in metrics.timed_ops(res)):
            sys.exit("hmmbench: no operation of the timed window succeeded")
        if a.trace:
            mets = metrics.per_layer(res, res["out_dir"])
        else:
            mets = metrics.end_to_end(res)
            mets.update(metrics.tail(res))
        steal1, total1 = cpu_times()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        probe_after = cpu_probe()
        for line in report_lines(a.workload, res, mets, (probe_before, probe_after, steal),
                                 data_rows):
            log(line)
        # the run's report and raw JVM records, kept for steadiness studies
        reports = os.path.join(BUILD, "reports")
        os.makedirs(reports, exist_ok=True)
        tag = f"{a.workload}-{a.seed}-trace{a.trace}"
        with open(os.path.join(reports, f"{tag}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                       "probe_before_s": probe_before, "probe_after_s": probe_after,
                       "steal": steal, "metrics": mets}, f, indent=1)
        shutil.copy(os.path.join(res["out_dir"], "result.json"),
                    os.path.join(reports, f"{tag}-jvm.json"))
        names = metrics.PER_LAYER if a.trace else metrics.END_TO_END
        print(json.dumps({
            "correct": not failed,
            "attempted": len(res["ops"]),
            "failed": len(failed),
            "metrics": {n: {"value": mets[n][0], "unit": mets[n][1]} for n in names},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
