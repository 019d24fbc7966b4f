#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine (see README.md in this directory).

Usage (from the repository root):

    python3 etlbench/run.py --workload etl_daily --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (once per source state),
derives a seeded copy of the workload's input tables, runs the
workload in one fresh, timed JVM, checks every
cold-pass result against its DuckDB oracle with scripts/verify_local.py,
and prints one JSON object as the last line of standard output.
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
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
WORK = ROOT / ".bench_work"
CLASSES = HARNESS / "target" / "scala-2.13" / "classes"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Why each workload exists, and what was cut to fit the run budget, is
# recorded in README.md.
WORKLOADS = {
    "etl_daily": {
        "scale": "sf0.01",
        "queries": ["q69_normalize_e2e", "q43_consolidate_exact",
                    "q70_sink_readback", "q72_csv_readback",
                    "q75_json_readback", "q79_debug_artifacts"],
    },
    "stream_maintenance": {
        "scale": "sf0.01",
        "queries": ["q137_stream_index_ingest", "q189_stream_histogram"],
    },
}

HEAP = "4g"
# A run must end within 180 s of its build; every process after the
# build shares this budget.
RUN_BUDGET_S = 170

def unit_of(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name == "host.load":
        return "load"
    return "count"


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars under {home}")
    return jars


def sources_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + \
        sorted((HARNESS / "src").rglob("*.scala")) + \
        [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(jars):
    """Compile the engine and the harness with sbt unless the classes on
    disk were built from the current sources."""
    stamp = WORK / "build.stamp"
    digest = sources_digest()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    env = dict(os.environ, SPARK_HOME=str(jars.parent))
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log = WORK / "build.log"
    code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       HARNESS, env, log, log, timeout=800)
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail("build failed", 1)
    stamp.write_text(digest)


def run_process(cmd, cwd, env, out, err, timeout):
    """Run to completion in its own process group, with standard output
    and error going to the files `out` and `err`. On timeout, kill the
    group and wait for it. Returns the exit code, or None on timeout."""
    with open(out, "w") as o, open(err, "w") as e:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=o, stderr=e,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def prepare_input(src, dst, seed):
    """Seeded copy of the tables: each table is rewritten with
    row-group boundaries drawn from the seed. Rows, their order, the
    schema and the encoding are unchanged, so every oracle result is
    too; the physical layout the scans plan over is what varies."""
    rng = random.Random(seed)
    dst.mkdir(parents=True)
    for name in TABLES:
        table = pq.read_table(src / f"{name}.parquet")
        n = table.num_rows
        groups = max(1, min(8, n // 500))
        cuts = sorted(rng.sample(range(1, n), groups - 1)) if groups > 1 else []
        with pq.ParquetWriter(dst / f"{name}.parquet", table.schema,
                              compression="snappy") as w:
            for a, b in zip([0] + cuts, cuts + [n]):
                w.write_table(table.slice(a, b - a), row_group_size=b - a)


def java_cmd(jars, run_dir, main_args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
            "-Dstderr.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{jars}/*", "graftbench.Main", *main_args]


def run_jvm(jars, run_dir, main_args, deadline):
    t0 = time.monotonic()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    out, log = run_dir / "jvm.out", run_dir / "jvm.log"
    code = run_process(java_cmd(jars, run_dir, main_args), run_dir, env, out, log,
                       timeout=max(1.0, deadline - t0))
    print(f"etlbench: timed JVM {time.monotonic() - t0:.1f} s", file=sys.stderr)
    for line in out.read_text().splitlines():
        if code == 0 and line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    sys.stderr.write(log.read_text()[-4000:])
    fail(f"timed JVM exited with {code} and no result", 1)


def verify(run_dir, input_dir, out_dir, queries, deadline):
    """Oracle check of the cold-pass results; returns the queries that
    did not match."""
    p = subprocess.run([sys.executable, str(ROOT / "scripts" / "verify_local.py"),
                        str(input_dir), str(out_dir), *queries],
                       cwd=run_dir, capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.monotonic()))
    (run_dir / "verify.log").write_text(p.stdout + p.stderr)
    ok = {line.split(":", 1)[0] for line in p.stdout.splitlines()
          if ": MATCH (" in line}
    return [q for q in queries if q not in ok]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or \
            not (ROOT / "scripts" / "verify_local.py").is_file():
        fail("engine sources not found next to the benchmark")
    testdata = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))
    src = testdata / wl["scale"]
    if not all((src / f"{t}.parquet").is_file() for t in TABLES):
        fail(f"input tables not found under {src}")
    jars = spark_jars()
    WORK.mkdir(exist_ok=True)
    build(jars)
    deadline = time.monotonic() + RUN_BUDGET_S

    run_dir = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        input_dir = run_dir / "input"
        out_dir = run_dir / "out"
        prepare_input(src, input_dir, a.seed)
        (run_dir / "tmp").mkdir()
        cpus = str(len(os.sched_getaffinity(0)))
        common = ["--input", str(input_dir), "--cpus", cpus, "--work", str(run_dir)]
        r = run_jvm(jars, run_dir,
                    [*common, "--out", str(out_dir),
                     "--queries", ",".join(wl["queries"]),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                    deadline)
        mismatched = verify(run_dir, input_dir, out_dir, wl["queries"], deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # a query that threw in the cold pass has no result to check, and is
    # already counted once as a failure
    cold_failed = {f["query"] for f in r["failures"] if f["pass"] == "cold"}
    failed = len(r["failures"]) + len(set(mismatched) - cold_failed)
    attempted = r["attempted"]
    for f in r["failures"]:
        print(f"error {f['pass']} {f['query']}: {f['error']}")
    for q in mismatched:
        print(f"oracle mismatch {q}")
    for p in r["passes"]:
        print(f"pass {p['kind']:<5} {p['wall_s']:9.3f} s  cpu {p['cpu_s']:9.3f} s  "
              f"steal {p['steal_s']:6.2f} s  load {p['load']:5.2f}")

    if a.trace == 0:
        metrics = {
            "setup_s": r["setup_s"],
            "cold_pass_s": r["cold_pass_s"],
            "warm_pass_s": r["warm_pass_s"],
        }
        for k, v in metrics.items():
            print(f"{a.workload} {k} {v:.4f} s")
        # printed, not tracked: README.md ("End-to-end metrics") says why
        print(f"{a.workload} warm_cpu_s {r['warm_cpu_s']:.4f} s")
        print(f"{a.workload} heap_peak_mb {r['heap_peak_mb']:.4f} MB")
        print(f"{a.workload} failed_ops {failed / attempted:.4f} share "
              f"({failed} of {attempted})")
        out = {k: {"value": v, "unit": "s"} for k, v in metrics.items()}
    else:
        layer = {
            "host.steal_s": sum(p["steal_s"] for p in r["passes"]),
            "host.load": max(p["load"] for p in r["passes"]),
            "trace.overhead_s": r["trace_overhead_s"],
            "session.build_s": r["session_build_s"],
            "tables.load_s": r["tables_load_s"],
        }
        for kind in ("cold", "warm"):
            layer.update({f"{kind}.{k}": v for k, v in r["layers"][kind].items()})
        layer.update({f"kernels.{k}.rows_per_s": v for k, v in r["kernels"].items()})
        detail = {"workload": a.workload, "seed": a.seed, "layers": layer,
                  "query_cold_s": r["query_cold_s"],
                  "query_warm_s": r["query_warm_s"],
                  "kernels_missing": r["kernels_missing"]}
        print("TRACE " + json.dumps(detail, sort_keys=True))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
