#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload zipf|distinct --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), runs one closed-loop
measurement in a JVM (perfbench/scala/Main.scala), checks the gate queries'
results against their oracle SQL in DuckDB, and prints
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics, or with
--trace 1 the per-layer ones. A traced run also writes its spans and its
overhead against the last untraced run of the same workload and seed under
.bench_build/perfbench/.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # a run writes nothing outside .bench_build
HERE = Path(__file__).resolve().parent
WORKLOADS = ("zipf", "distinct")
GATE_DATA = HERE / "data" / "sf0.01"
# a run must end within 180 s; the first one in a checkout also builds
RUN_LIMIT_S = 175
JVM_OPTS = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    opt for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def oracle_check(gate_dir):
    """Compare each dumped gate result with its oracle SQL under DuckDB, in
    the canonical form of tools/oracle_check.py. Returns (attempted, failed)."""
    sys.path.insert(0, str(Path("tools").resolve()))
    import duckdb
    from oracle_check import canon
    con = duckdb.connect()
    for table in GATE_DATA.glob("*.parquet"):
        con.sql(f"CREATE VIEW {table.stem} AS SELECT * FROM '{table}'")
    oracle = json.loads((gate_dir / "oracle_sql.json").read_text())
    failed = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{gate_dir / name}/*.parquet'").df()
            want = con.sql(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                raise AssertionError(
                    f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
            if canon(got) != canon(want):
                raise AssertionError(
                    f"{len(got)} rows differ from the oracle's {len(want)}")
        except Exception as e:  # every failure is named, none is fatal
            failed += 1
            print(f"[perfbench] FAIL {name} oracle: {type(e).__name__}: {e}",
                  file=sys.stderr)
    return len(oracle), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.monotonic()

    if not (Path("src") / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: src/main/scala/graft is missing")
    sys.path.insert(0, str(HERE))
    import build
    try:
        classpath = build.build()
    except (RuntimeError, subprocess.CalledProcessError) as e:
        fail(f"build failed: {e}")

    work = Path(".bench_build") / "perfbench"
    out = work / f"run-{args.workload}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={(out / 'tmp').resolve()}", "-cp", classpath,
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", str(out.resolve()), "--data", str(GATE_DATA)]
    with open(out / "jvm.log", "w") as log:
        try:
            proc = subprocess.run(
                cmd, stdout=log, stderr=subprocess.STDOUT,
                timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            fail(f"run timed out; see {out / 'jvm.log'}")
    if proc.returncode != 0:
        tail = (out / "jvm.log").read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"JVM exited with {proc.returncode}; see {out / 'jvm.log'}")

    result = json.loads((out / "result.json").read_text())
    attempted, failed = result["attempted"], result["failed"]
    if args.trace:
        o_attempted, o_failed = oracle_check(out / "gate")
        attempted += o_attempted
        failed += o_failed

    e2e = result["end_to_end"]
    key = f"{args.workload}-seed{args.seed}"
    if args.trace:
        metrics = result["per_layer"]
        shutil.copy(out / "spans.jsonl", work / f"spans-{key}.jsonl")
        untraced = work / f"untraced-{key}.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())
            overhead = {n: e2e[n]["value"] / base[n]["value"] - 1
                        for n in e2e if n in base and base[n]["value"]}
            (work / f"trace-overhead-{key}.json").write_text(
                json.dumps(overhead, indent=1, sort_keys=True))
            print("[perfbench] tracing overhead (traced/untraced - 1): " +
                  ", ".join(f"{n} {v:+.3f}" for n, v in sorted(overhead.items())),
                  file=sys.stderr)
    else:
        metrics = e2e
        (work / f"untraced-{key}.json").write_text(json.dumps(e2e))
    print(f"[perfbench] {result['cycles']} cycles, "
          f"{time.monotonic() - started:.1f}s wall", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
