"""Turns one harness result (the JSON the Scala side writes) into the
benchmark's metrics. Pure functions: no I/O, no clock.

End-to-end metrics come from the untraced passes, per-layer metrics from
the traced ones (see README.md for what each metric means).
"""
from collections import defaultdict

from judge import median

MB = 1024.0 * 1024.0
SPAN_KINDS = ("pass", "query", "build", "execute", "job", "stage")


def tail_rank(n: int) -> int:
    """0-based rank of the highest sample that still has ten samples above
    it (the top sample when there are fewer than eleven)."""
    return n - 11 if n >= 11 else n - 1


def tail(samples):
    """(value, percentile) of the highest latency percentile with at least
    ten samples above it."""
    xs = sorted(samples)
    k = tail_rank(len(xs))
    return xs[k], 100.0 * (k + 1) / len(xs)


def query_runs(raw, traced: bool):
    return [q for p in raw["passes"] if p["traced"] == traced for q in p["queries"]]


def end_to_end(raw, check_failures: int):
    """End-to-end metrics of one run, plus the tail percentile used."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    runs = query_runs(raw, traced=False)
    ok = [q for q in runs if q["error"] is None]
    latencies = [q["build_s"] + q["exec_s"] for q in ok]
    tail_s, tail_pct = tail(latencies)
    attempted = len(raw["queries"]) + len(runs)
    failed = check_failures + sum(q["error"] is not None for q in runs)
    return {
        "setup_s": raw["setup"]["setup_s"],
        "wall_s": pass_wall(ok),
        "query_p50_s": median(latencies),
        "query_tail_s": tail_s,
        "ok_frac": 1.0 - failed / attempted,
        "heap_post_gc_mb": median([p["heap_post_gc_mb"] for p in passes]),
    }, {"attempted": attempted, "failed": failed, "tail_percentile": tail_pct}


def pass_wall(runs):
    """Wall time of one pass over the workload, each query at its median
    latency over the timed passes. A latency spike in one pass moves one
    query's median, not the whole pass."""
    by_query = defaultdict(list)
    for q in runs:
        by_query[q["name"]].append(q["build_s"] + q["exec_s"])
    return sum(median(xs) for xs in by_query.values())


def children_index(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    return kids


def dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1000.0


def descendants(span, kids):
    out, stack = [], list(kids[span["id"]])
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(kids[s["id"]])
    return out


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] (ms) covered by the union of the intervals."""
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered / 1000.0


def query_row(q, kids, cores):
    """The per-query layer breakdown of one traced query span."""
    sub = descendants(q, kids)
    build = next(s for s in kids[q["id"]] if s["kind"] == "build")
    execute = next(s for s in kids[q["id"]] if s["kind"] == "execute")
    by = defaultdict(list)
    for s in sub:
        by[s["kind"]].append(s)
    exec_stages = [s for s in descendants(execute, kids) if s["kind"] == "stage"]
    exec_jobs = [j for j in kids[execute["id"]] if j["kind"] == "job"]

    def attr(kind, key, spans=None):
        return sum(s["attrs"].get(key, 0.0) for s in (by[kind] if spans is None else spans))

    exec_wall = dur(execute)
    run_exec = attr("stage", "run_s", exec_stages)
    return {
        "query": q["name"],
        "ok": q["attrs"]["ok"] == 1.0,
        "wall_s": dur(q), "build_s": dur(build), "execute_s": exec_wall,
        "analysis_s": attr("plan", "analysis_s"),
        "optimization_s": attr("plan", "optimization_s"),
        "planning_s": attr("plan", "planning_s"),
        "exchanges": attr("plan", "exchanges"),
        "single_partition_windows": attr("plan", "single_partition_windows"),
        "codegen_fallbacks": attr("plan", "codegen_fallbacks"),
        "jobs": len(by["job"]),
        "eager_jobs": sum(1 for j in kids[build["id"]] if j["kind"] == "job"),
        "stages": len(by["stage"]),
        "tasks": attr("stage", "tasks"),
        "driver_gap_s": exec_wall - union_s(
            [(j["start_ms"], j["end_ms"]) for j in exec_jobs],
            execute["start_ms"], execute["end_ms"]),
        "single_task_stage_s": sum(dur(s) for s in by["stage"] if s["attrs"]["tasks"] == 1),
        "executor_run_s": attr("stage", "run_s"),
        "executor_cpu_s": attr("stage", "cpu_s"),
        "executor_run_execute_s": run_exec,
        "core_util": run_exec / (exec_wall * cores) if exec_wall > 0 else 0.0,
        "shuffle_read_mb": attr("stage", "shuffle_read_b") / MB,
        "shuffle_write_mb": attr("stage", "shuffle_write_b") / MB,
        "spill_mb": attr("stage", "spill_b") / MB,
        "input_mb": attr("stage", "input_b") / MB,
        "output_mb": attr("stage", "output_b") / MB,
        "task_gc_s": attr("stage", "gc_s"),
        "batches": len(by["batch"]),
        "batch_s": [dur(b) for b in by["batch"]],
    }


def self_times(spans, kids):
    """Seconds per span kind not covered by the span's own children."""
    out = defaultdict(float)
    for s in spans:
        if s["kind"] in SPAN_KINDS:
            inner = sum(dur(c) for c in kids[s["id"]] if c["kind"] in SPAN_KINDS)
            out[s["kind"]] += max(dur(s) - inner, 0.0)
    return out


def traced_passes(raw):
    """Per traced pass: (pass record, its query rows, its self times)."""
    spans = raw["spans"]
    kids = children_index(spans)
    out = []
    for p in (s for s in spans if s["kind"] == "pass"):
        record = next(r for r in raw["passes"] if r["index"] == int(p["name"].split()[1]))
        tree = [p] + descendants(p, kids)
        rows = [query_row(q, kids, raw["cpus"]) for q in kids[p["id"]] if q["kind"] == "query"]
        out.append((record, rows, self_times(tree, kids)))
    return out


def per_layer(raw):
    """Per-layer metrics of one traced run: each is the median over the
    traced passes of a per-pass total (or share)."""
    passes = traced_passes(raw)
    untraced = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    ops = raw["operators"]

    def med(f):
        return median([f(rec, rows, st) for rec, rows, st in passes])

    def tot(key):
        return med(lambda rec, rows, st: sum(r[key] for r in rows))

    def share(num, den):
        return med(lambda rec, rows, st: sum(r[num] for r in rows) / max(sum(r[den] for r in rows), 1e-9))

    m = {
        "engine.session_s": raw["setup"]["session_s"],
        "engine.warmup_s": raw["setup"]["warmup_s"],
        "entry.build_s": tot("build_s"),
        "entry.build_share": share("build_s", "wall_s"),
        "entry.eager_jobs": tot("eager_jobs"),
        "catalyst.analysis_s": tot("analysis_s"),
        "catalyst.optimization_s": tot("optimization_s"),
        "catalyst.planning_s": tot("planning_s"),
        "catalyst.exchanges": tot("exchanges"),
        "catalyst.single_partition_windows": tot("single_partition_windows"),
        "catalyst.codegen_fallbacks": tot("codegen_fallbacks"),
        "scheduler.jobs": tot("jobs"),
        "scheduler.stages": tot("stages"),
        "scheduler.tasks": tot("tasks"),
        "scheduler.driver_gap_s": tot("driver_gap_s"),
        "scheduler.single_task_stage_s": tot("single_task_stage_s"),
        "executor.run_s": tot("executor_run_s"),
        "executor.cpu_s": tot("executor_cpu_s"),
        "executor.core_util": med(lambda rec, rows, st: sum(r["executor_run_execute_s"] for r in rows)
                                  / max(sum(r["execute_s"] for r in rows) * raw["cpus"], 1e-9)),
        "shuffle.read_mb": tot("shuffle_read_mb"),
        "shuffle.write_mb": tot("shuffle_write_mb"),
        "shuffle.spill_mb": tot("spill_mb"),
        "io.input_mb": tot("input_mb"),
        "io.output_mb": tot("output_mb"),
        "streaming.batches": tot("batches"),
        "operators.q304_cand_per_out": ops["q304_candidates"] / max(ops["q304_pairs"], 1.0),
        "operators.q222_cand_per_out": ops["q222_candidates"] / max(ops["q222_pairs"], 1.0),
        "jvm.gc_s": med(lambda rec, rows, st: rec["gc_s"]),
        "trace.wall_s": med(lambda rec, rows, st: rec["wall_s"]),
        "trace.overhead_s": med(lambda rec, rows, st: rec["wall_s"]) - median(untraced),
    }
    # a query span is exactly its build and execute spans, so it has no
    # self time of its own to report
    for kind in SPAN_KINDS:
        if kind != "query":
            m[f"self.{kind}_s"] = med(lambda rec, rows, st, k=kind: st[k])
    return m


def per_query(raw):
    """Artifact rows: one per query of every traced pass."""
    return [dict(r, pass_index=rec["index"]) for rec, rows, _ in traced_passes(raw) for r in rows]
