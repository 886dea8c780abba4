#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload etl_excel|etl_direct|query_mix \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness with sbt (the root build plus perfbench/build.sbt) and
records the classpath and the JVM options the root build gives `run`;
later runs reuse them while the sources are unchanged. Each measured
run is one plain `java` process, so sbt's start-up is never measured.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A fuller record of the run (failures, per-item latencies,
Spark configuration, JVM options, host calibration, commit) is written
to perfbench/.work/artifacts/<workload>-seed<N>-trace<T>.json.
See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("etl_excel", "etl_direct", "query_mix")
# generated catalog sizes; see NOTES.md for how they were chosen
ETL_SIZES = {"etl_excel": 36, "etl_direct": 24}
JVM_TIMEOUT_S = 170
LAUNCH = os.path.join(HERE, "target", "launch")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn.sort()
            files += [os.path.join(dp, f) for f in sorted(fn)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """(classpath, jvm options), building first when sources changed."""
    want = stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    cp_file = os.path.join(LAUNCH, "classpath.txt")
    opts_file = os.path.join(LAUNCH, "jvm_options.txt")
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want or not os.path.exists(cp_file):
        sbt = shutil.which("sbt")
        if sbt is None:
            fail("sbt not found on PATH")
        print("perfbench: building (sbt writeLaunch)", file=sys.stderr)
        r = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "writeLaunch"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed", 1)
        with open(stamp_file, "w") as f:
            f.write(want)
    cp = open(cp_file).read().strip()
    opts = [l.strip() for l in open(opts_file) if l.strip()]
    return cp, opts


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def inject_wrong_row(truth_path):
    """Corrupt one expected value of one correct distribution (used by the
    benchmark's tests to show that a wrong output is counted)."""
    with open(truth_path) as f:
        truth = json.load(f)
    for d in truth["distributions"]:
        if d["status"] == "OK":
            d["rows"][0][1] = (d["rows"][0][1] or 0.0) + 1.0
            break
    with open(truth_path, "w") as f:
        json.dump(truth, f, sort_keys=True, separators=(",", ":"))


def main():
    p = argparse.ArgumentParser(description="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # for the benchmark's own tests
    p.add_argument("--distributions", type=int, default=None,
                   help="override the generated catalog size")
    p.add_argument("--every-fault", action="store_true",
                   help="one distribution of every fault class")
    p.add_argument("--sparse", action="store_true",
                   help="a few empty cells in the clean distributions")
    p.add_argument("--inject-wrong-row", action="store_true",
                   help="corrupt one expected value before the run")
    a = p.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of "
                 "the repository")
    cp, jvm_opts = build()

    setup_start_ms = int(time.time() * 1000)
    work = os.path.join(HERE, ".work", a.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--setup-start-ms", str(setup_start_ms),
            "--artifact", os.path.join(
                HERE, ".work", "artifacts",
                f"{a.workload}-seed{a.seed}-trace{a.trace}.json")]
    if a.workload == "query_mix":
        args += ["--data", os.path.join(HERE, "data", "sf0.01"),
                 "--expected", os.path.join(HERE, "expected",
                                            "query_mix.tsv")]
    else:
        kind = "excel" if a.workload == "etl_excel" else "direct"
        n = a.distributions or ETL_SIZES[a.workload]
        inp = os.path.join(work, "input")
        gen.generate(kind, a.seed, inp, n_dist=n, every_fault=a.every_fault,
                     sparse=a.sparse)
        if a.inject_wrong_row:
            inject_wrong_row(os.path.join(inp, "truth.json"))
        args += ["--input", inp]

    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    cmd = ([java] + jvm_opts + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                "perfbench.Main"] + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"run exceeded {JVM_TIMEOUT_S}s; see {log_path}", 1)
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {proc.returncode}); see {log_path}", 1)
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench] FAILED"):
                sys.stderr.write(line)
    artifact = args[args.index("--artifact") + 1]
    with open(artifact) as f:
        record = json.load(f)
    record["commit"] = git_commit()
    with open(artifact, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
