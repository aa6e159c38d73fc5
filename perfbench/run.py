#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch_link --seed 42 --seconds 10 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the program's own
sources next to it) when the sources changed since the last build, then runs
the workload in one fresh JVM with one SparkContext on local[nproc]. Inputs,
shuffle files and the JVM's temp files live in a directory of this run under
.perfbench/, deleted at exit; with --trace 1 the spans are kept in
.perfbench/traces/, and a second JVM measures the scalar kernels. The
elq_queries outputs are checked here, against DuckDB running the program's
oracle SQL. Exits non-zero, printing no result, when the build or the run
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP_FILE = os.path.join(HERE, "target", "bench-build.stamp")
ARCHIVE_FILE = os.path.join(HERE, "target", "bench-classes.jsa")
WORKLOADS = ["batch_link", "delta_link", "elq_queries", "cc_rounds"]
RUN_LIMIT_S = 170          # every run ends within 180 s
BUILD_LIMIT_S = 500        # a first run, which builds, ends within 900 s
ARCHIVE_LIMIT_S = 200
JVM_HEAP = "3g"
# The harness JVM runs C1 only: with C2, op times keep falling for the first
# ~10 ops of a JVM (25-60 s here), longer than a run; C1 reaches its plateau
# on the second op, so every run measures a settled JIT. C1 alone gets a
# smaller code cache by default, which Spark's generated code fills. The
# kernel JVM keeps the default tiered JIT. See README.md.
HARNESS_JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group past the limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (CLASSPATH_FILE, ARCHIVE_FILE, STAMP_FILE)):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it is needed to build the benchmark")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH_FILE):
        fail(f"build failed (sbt exit {rc})")
    # The classes a run loads, archived once per build by a JVM that runs
    # every workload at smoke size: each run's JVM maps them instead of
    # loading and verifying them, which cut a run's set-up by 4-6 s here.
    if os.path.exists(ARCHIVE_FILE):
        os.remove(ARCHIVE_FILE)
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    arch_dir = os.path.join(ROOT, ".perfbench", f"archive-{os.getpid()}")
    os.makedirs(os.path.join(arch_dir, "tmp"), exist_ok=True)
    try:
        rc = run_bounded(java_cmd(HARNESS_JIT + [f"-XX:ArchiveClassesAtExit={ARCHIVE_FILE}"],
                                  classpath, arch_dir, "perfbench.ClassArchive",
                                  ["--run-dir", arch_dir]),
                         ARCHIVE_LIMIT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(arch_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE_FILE):
        fail(f"class-data archive failed (exit {rc})")
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except (OSError, ValueError):
        return None


def canon(df):
    """Columns sorted by name, rows sorted, ints and floats widened, as
    tools/oracle_check.py compares them."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(manifest_path):
    """Compare every checked elq_queries output with DuckDB running its
    oracle SQL over the same tables: {tag/query: "ok" | what differs}."""
    try:
        import duckdb
        import pandas as pd
    except ImportError as e:
        fail(f"the elq_queries check needs duckdb and pandas: {e}")
    with open(manifest_path) as f:
        manifest = json.load(f)
    con = duckdb.connect()
    for name, path in manifest["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    expected, out = {}, {}
    for q, sql in manifest["sql"].items():
        try:
            expected[q] = canon(con.execute(sql).fetchdf())
        except duckdb.Error as e:
            out[q] = f"oracle SQL failed: {e}"
    for tag, out_dir in manifest["outputs"].items():
        for q, want in expected.items():
            files = [os.path.join(out_dir, q, f) for f in sorted(os.listdir(os.path.join(out_dir, q)))
                     if f.endswith(".parquet")]
            got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            if list(got.columns) != list(want.columns):
                out[f"{tag}/{q}"] = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                out[f"{tag}/{q}"] = f"rows {len(got)} != {len(want)}"
            elif not got.equals(want):
                out[f"{tag}/{q}"] = "values differ"
            else:
                out[f"{tag}/{q}"] = f"ok ({len(got)} rows)"
    return out


def java_cmd(flags, classpath, run_dir, main_class, args):
    java = shutil.which("java") or fail("java is not on PATH")
    return [java, *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Xmx{JVM_HEAP}", *flags, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, main_class, *args]


def main():
    # a SIGTERM unwinds through run_bounded, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    build()
    started = time.monotonic()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()

    # set-up time counts from the launch of the run's JVM, not from the build
    start_ms = int(time.time() * 1000)
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}-{start_ms}"
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "run-" + tag)
    out_file = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    archive = [f"-XX:SharedArchiveFile={ARCHIVE_FILE}"]
    cmd = java_cmd(HARNESS_JIT + archive, classpath, run_dir, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--out", out_file,
        "--start-ms", str(start_ms),
        "--trace-file", os.path.join(work, "traces", tag + ".jsonl")])
    ticks0 = cpu_ticks()
    try:
        limit = RUN_LIMIT_S - (time.monotonic() - started)
        rc = run_bounded(cmd, limit, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0 or not os.path.exists(out_file):
            fail(f"{a.workload} run failed (exit {rc})" if rc is not None
                 else f"{a.workload} run exceeded {RUN_LIMIT_S} s")
        ticks1 = cpu_ticks()
        with open(out_file) as f:
            res = json.load(f)
        check = res["record"]["check"]
        if "oracle_manifest" in check:
            t0 = time.monotonic()
            check["oracle"] = oracle_check(check["oracle_manifest"])
            check["oracle_s"] = time.monotonic() - t0
            if not all(v.startswith("ok") for v in check["oracle"].values()):
                res["correct"] = False
                res["failed"] = res["attempted"]
        if a.trace:
            kernels_out = os.path.join(run_dir, "kernels.json")
            kcmd = java_cmd(archive, classpath, run_dir, "perfbench.Kernels", [
                "--seed", str(a.seed), "--run-dir", os.path.join(run_dir, "kernels"),
                "--out", kernels_out])
            limit = RUN_LIMIT_S - (time.monotonic() - started)
            rc = run_bounded(kcmd, limit, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
            if rc != 0 or not os.path.exists(kernels_out):
                fail(f"kernel measurement failed (exit {rc})")
            with open(kernels_out) as f:
                for k, v in json.load(f).items():
                    res["metrics"][k] = {"value": v, "unit": "ns"}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = dict(res.pop("record"), commit=git_commit())
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests while this run was on
        record["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
