"""Arithmetic that turns a raw harness record into benchmark metrics."""
import re
import statistics


def percentile(values, p):
    """p-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method gives it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def busy_frac(task_run_s, action_wall_s, cores):
    """Share of the cores' time during actions that tasks were running."""
    if action_wall_s <= 0 or cores <= 0:
        return 0.0
    return task_run_s / (action_wall_s * cores)


def median(values):
    return statistics.median(values)


GATE_LINE = re.compile(r"^\s*\[(pass|FAIL|no-oracle)\] ([A-Za-z0-9_]+)")


def gate_verdicts(check_output, names):
    """Verdict per query from scripts/check.py output, for `names`.
    A query with no line at all (no dump, no oracle) fails."""
    seen = {}
    for line in check_output.splitlines():
        m = GATE_LINE.match(line)
        if m and m.group(2) in names:
            seen[m.group(2)] = m.group(1) != "FAIL" and seen.get(m.group(2), True)
    return {n: seen.get(n, False) for n in names}


def query_samples(raw):
    """Per-query (batch) or per-micro-batch (stream) latencies of the
    timed passes, in seconds."""
    out = []
    for p in raw["passes"]:
        if "queries" in p:
            out += [q["construct_s"] + q["plan_s"] + q["action_s"]
                    for q in p["queries"] if not q["error"]]
        else:
            out += [b["trigger_s"] for t in p["twins"] for b in t["batches"]]
    return out


def end_to_end(raw):
    samples = query_samples(raw)
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "pass_s": (median([p["wall_s"] for p in raw["passes"]]), "s"),
        "query_p50_s": (percentile(samples, 50), "s"),
        "query_p90_s": (percentile(samples, 90), "s"),
        "heap_live_peak_mb": (raw["heap_live_peak_mb"], "MB"),
    }


def per_layer(raw):
    """Layer metrics of a traced record: the median over timed passes of
    each pass's total."""
    passes = raw["passes"]
    cores = raw["cores"]

    def med(f):
        return median([f(p) for p in passes])

    def c(p, k):
        return p["counters"].get(k, 0.0)

    stream = "twins" in passes[0]
    if stream:
        def construct(p): return sum(t["construct_s"] for t in p["twins"])
        def plan(p): return sum(b["planning_s"] for t in p["twins"] for b in t["batches"])
        def action(p): return sum(b["add_batch_s"] for t in p["twins"] for b in t["batches"])
        def wall(p): return sum(t["run_s"] for t in p["twins"])
        def rows(p): return sum(b["rows"] for t in p["twins"] for b in t["batches"])
    else:
        def construct(p): return sum(q["construct_s"] for q in p["queries"])
        def plan(p): return sum(q["plan_s"] for q in p["queries"])
        def action(p): return sum(q["action_s"] for q in p["queries"])
        wall = action
        def rows(p): return sum(q["rows"] for q in p["queries"])

    mb = 1048576.0
    m = {
        "operators.construct_s": (med(construct), "s"),
        "operators.construct_jobs": (med(lambda p: c(p, "construct_jobs")), "count"),
        "catalyst.plan_s": (med(plan), "s"),
        "scheduler.jobs": (med(lambda p: c(p, "jobs")), "count"),
        "scheduler.stages": (med(lambda p: c(p, "stages")), "count"),
        "scheduler.tasks": (med(lambda p: c(p, "tasks")), "count"),
        "scheduler.busy_frac": (med(lambda p: busy_frac(
            c(p, "task_run_ms") / 1000.0, wall(p), cores)), "ratio"),
        "exec.action_s": (med(action), "s"),
        "exec.task_cpu_s": (med(lambda p: c(p, "task_cpu_ns") / 1e9), "s"),
        "exec.gc_s": (med(lambda p: p["gc_s"]), "s"),
        "exec.shuffle_write_mb": (med(lambda p: c(p, "shuffle_write_bytes") / mb), "MB"),
        "exec.shuffle_read_mb": (med(lambda p: c(p, "shuffle_read_bytes") / mb), "MB"),
        "exec.spill_mb": (med(lambda p: c(p, "spill_bytes") / mb), "MB"),
        "exec.result_rows": (med(rows), "count"),
        "tables.open_s": (median(raw["tables_open_s"]), "s"),
        "tables.input_mb": (med(lambda p: c(p, "input_bytes") / mb), "MB"),
        "cache.builds": (med(lambda p: p.get("cache_builds", 0.0)), "count"),
        "cache.scans": (med(lambda p: p.get("cache_scans", 0.0)), "count"),
        "cache.hit_ratio": (med(lambda p: hit_ratio(
            p.get("cache_builds", 0.0), p.get("cache_scans", 0.0))), "ratio"),
        "cache.persisted_mb_peak": (med(lambda p: p.get("persisted_mb_peak", 0.0)), "MB"),
        "cache.index_builds": (median(raw.get("index_builds", [0.0])), "count"),
        "streaming.batches": (med(lambda p: float(sum(
            len(t["batches"]) for t in p.get("twins", [])))), "count"),
        "streaming.state_rows": (med(lambda p: p.get("state_rows", 0.0)), "count"),
        "streaming.state_mb": (med(lambda p: p.get("state_mb", 0.0)), "MB"),
        "streaming.watermark_drops": (med(lambda p: p.get("watermark_drops", 0.0)), "count"),
        "io.write_mb": (med(lambda p: c(p, "output_bytes") / mb), "MB"),
    }
    for k, v in raw["functions"].items():
        m["functions." + k] = (v, "ns")
    return m


def layer_residual(raw):
    """Median over passes of construct + plan + action against the pass
    wall time; the residual is what the three spans do not cover."""
    def parts(p):
        if "queries" in p:
            qs = p["queries"]
            c, pl, ac = (sum(q[k] for q in qs) for k in ("construct_s", "plan_s", "action_s"))
        else:
            c = sum(t["construct_s"] for t in p["twins"])
            pl = sum(b["planning_s"] for t in p["twins"] for b in t["batches"])
            ac = sum(t["run_s"] for t in p["twins"]) - pl
        return c, pl, ac, p["wall_s"]
    rows = [parts(p) for p in raw["passes"]]
    c, pl, ac, wall = (median([r[i] for r in rows]) for i in range(4))
    return {"construct_s": c, "plan_s": pl, "action_s": ac, "sum_s": c + pl + ac,
            "pass_s": wall, "residual_s": wall - (c + pl + ac)}


def hit_ratio(builds, scans):
    """Share of in-memory scans served by an entry built earlier (every
    build is itself followed by one scan)."""
    return (scans - builds) / scans if scans > 0 else 0.0
