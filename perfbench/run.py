"""Layered benchmark of graft: one workload, one run.

    python3 perfbench/run.py --workload parity44 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine and the harness
(perfbench/build.py), runs the harness JVM (Engine.create, an output-check
pass that doubles as warm-up, then timed passes for --seconds), compares
the check pass's results with their DuckDB oracles (tools/compare_oracle.py),
and prints every metric as `name value unit`, then one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under $CARGO_TARGET_DIR (default .bench_build);
the full result, with the per-query layer rows of a traced run, goes to
an artifact file there.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

HERE = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 140
WARMUP_PASSES = 1  # untimed noop passes after the output-check pass
HEAP = "3g"
# what spark-submit adds for Spark 4 on JDK 17, plus the named Arrow module
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "java.base/java.nio=org.apache.arrow.memory.core,ALL-UNNAMED"]
CHECK_LINE = re.compile(r"^(\S+): (OK|FAIL|rows-only)(.*)$")


def load_spec():
    with open(HERE / "workloads.json") as f:
        return json.load(f)


def spec_metrics(section):
    with open(HERE.parent / "BENCHMARK.json") as f:
        return json.load(f)[section]


def result_line(correct, attempted, failed, values, units):
    """The last stdout line: one bare JSON object, parseable as printed."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    })


def metric_table(values, units):
    return [f"{k:36s} {values[k]!r:>24} {units[k]}" for k in units]


def timed_passes(seconds, pass_s, trace):
    """Timed passes of one run: as many nominal passes as fit in `seconds`,
    at least three (four when traced, one ABBA cycle). A fixed count per
    run, not a deadline, so every run times the same stretch of the JVM's
    warm-up curve."""
    return max(4 if trace else 3, round(seconds / pass_s))


def run_harness(classes, run_dir, workload, args, cpus, data_dir):
    for d in ("check", "scratch", "local", "warehouse", "tmp"):
        (run_dir / d).mkdir(parents=True)
    out = run_dir / "result.json"
    cp = f"{classes}{os.pathsep}{build.spark_jars() / '*'}"
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", p)],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dgraft.scratch={run_dir / 'scratch'}",
           f"-Dspark.local.dir={run_dir / 'local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Harness",
           "--data", str(data_dir), "--queries", ",".join(workload["queries"]),
           "--seed", str(args.seed), "--warmup-passes", str(WARMUP_PASSES),
           "--passes", str(timed_passes(args.seconds, workload["pass_s"], args.trace)),
           "--trace", str(args.trace), "--cpus", str(cpus),
           "--check-dir", str(run_dir / "check"), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    with open(run_dir / "harness.log", "w") as log:
        subprocess.run(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                       timeout=JVM_TIMEOUT_S, check=True)
    with open(out) as f:
        return json.load(f)


def output_check(root, data_dir, check_dir, raw, no_oracle):
    """Compares every check-pass result with its DuckDB oracle. Returns
    (failures {query: reason}, report lines)."""
    failures = dict(raw["check"]["failed"])
    for q in failures:
        shutil.rmtree(check_dir / q, ignore_errors=True)
    proc = subprocess.run([sys.executable, str(root / "tools" / "compare_oracle.py"),
                           str(data_dir), str(check_dir)],
                          cwd=check_dir, capture_output=True, text=True)
    seen = {}
    for line in proc.stdout.splitlines():
        m = CHECK_LINE.match(line)
        if m:
            seen[m.group(1)] = (m.group(2), m.group(3).strip())
    for q in raw["queries"]:
        if q in failures:
            continue
        status, detail = seen.get(q, ("missing", "no compare result"))
        expected_no_oracle = q in no_oracle
        if status == "FAIL":
            failures[q] = "oracle mismatch: " + detail
        elif status == "rows-only" and not expected_no_oracle:
            failures[q] = "no oracle SQL, and not declared in no_oracle"
        elif status == "rows-only" and "EMPTY" in detail:
            failures[q] = "empty result"
        elif status == "OK" and expected_no_oracle:
            failures[q] = "declared in no_oracle but has an oracle"
        elif status == "missing":
            failures[q] = "no compare result: " + proc.stderr.strip()[-300:]
    lines = [f"check {q}: {seen.get(q, ('-', ''))[0]}"
             + (f" FAILED ({failures[q]})" if q in failures else "") for q in raw["queries"]]
    return failures, lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {args.workload}; one of {sorted(spec['workloads'])}")
    root = Path.cwd()
    target = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    classes = build.build(root, target)
    data_dir = (HERE / spec["data"]).resolve()
    workload = spec["workloads"][args.workload]
    queries = workload["queries"]
    cpus = len(os.sched_getaffinity(0))
    run_dir = target / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        started = time.time()
        raw = run_harness(classes, run_dir, workload, args, cpus, data_dir)
        failures, check_lines = output_check(root, data_dir, run_dir / "check", raw,
                                             set(spec["no_oracle"]))
        e2e, counts = metrics.end_to_end(raw, len(failures))
        spec_units = {m["name"]: m["unit"] for m in spec_metrics("end_to_end")}
        layer_units = {m["name"]: m["unit"] for m in spec_metrics("per_layer")}
        artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cpus": cpus, "queries": queries,
                    "end_to_end": e2e, "counts": counts, "check_failures": failures,
                    "passes": raw["passes"], "setup": raw["setup"],
                    "run_s": time.time() - started}
        print("\n".join(check_lines))
        print(f"tail percentile p{counts['tail_percentile']:.1f} over "
              f"{len(metrics.query_runs(raw, traced=False))} query runs; "
              f"attempted {counts['attempted']}, failed {counts['failed']}")
        print("\n".join(metric_table(e2e, spec_units)))
        if args.trace:
            layers = metrics.per_layer(raw)
            artifact.update(per_layer=layers, per_query=metrics.per_query(raw),
                            operators=raw["operators"], spans=raw["spans"])
            print("\n".join(metric_table(layers, layer_units)))
            values, units = layers, layer_units
        else:
            values, units = e2e, spec_units
        artifact_path = target / "artifacts" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        artifact_path.parent.mkdir(parents=True, exist_ok=True)
        artifact_path.write_text(json.dumps(artifact, indent=1))
        print(f"artifact {artifact_path}")
        print(result_line(counts["failed"] == 0, counts["attempted"], counts["failed"],
                          values, units))
    finally:
        log = run_dir / "harness.log"
        if log.exists():
            (target / "logs").mkdir(parents=True, exist_ok=True)
            shutil.copy(log, target / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
