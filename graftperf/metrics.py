"""Turns the benchmark JVM's raw measurements into the benchmark's metrics.

The JVM (`src/Main.scala`) only records: operation wall times, the
supersteps graft reports through `IterMetrics`, exact counts, and in a traced
run the spans, jobs, stages and SQL actions. Every number the benchmark
prints is computed here; `test_metrics.py` tests the arithmetic.
"""

import statistics

MB = 1e6
CHECKPOINT_EVERY = 10  # IterativeRunner's default truncateEvery: a durable save every 10th superstep

END_TO_END = {  # name -> unit
    "wall_s": "s",
    "setup_s": "s",
    "docs_per_s": "1/s",
}

PER_LAYER = {  # name -> unit
    "derive.s": "s",
    "derive.jobs": "count",
    "derive.shuffle_mb": "MB",
    "derive.edges": "count",
    "derive.docs_s": "s",
    "core.pre_loop_s": "s",
    "core.supersteps": "count",
    "core.superstep_ms_p50": "ms",
    "core.superstep_ms_p90": "ms",
    "core.driver_ms_per_superstep": "ms",
    "core.plan_ms_per_superstep": "ms",
    "core.jobs_per_superstep": "count",
    "core.stages_per_superstep": "count",
    "core.tasks_per_superstep": "count",
    "core.shuffle_mb_per_superstep": "MB",
    "core.task_skew": "ratio",
    "core.ckpt_extra_ms": "ms",
    "core.ckpt_restore_s": "s",
    "core.ckpt_mb": "MB",
    "core.edges_per_s": "1/s",
    "core.supersteps_per_s": "1/s",
    "algo.pagerank_s": "s",
    "algo.pagerank_iters": "count",
    "algo.output_s": "s",
    "dedup.exact_s": "s",
    "dedup.lsh_s": "s",
    "dedup.propagate_s": "s",
    "dedup.task_skew": "ratio",
    "dedup.shuffle_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.exact_pairs": "count",
    "dedup.lsh_pairs": "count",
    "dedup.lsh_recall": "ratio",
    "dedup.unconverged_docs": "count",
    "spark.gc_s": "s",
    "spark.cpu_s": "s",
    "spark.busy_share": "ratio",
    "spark.jobs": "count",
    "spark.driver_s": "s",
    "spark.heap_live_mb": "MB",
    "trace.overhead": "ratio",
}

# SQL actions that return rows to the driver: a superstep loop ends each
# superstep with exactly one of them (its convergence action).
VALUE_ACTIONS = {"count", "head", "collect", "first", "take", "collectAsList", "tail"}


# ---------------------------------------------------------------- arithmetic

def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    return tuple(statistics.quantiles(xs, n=4))


def percentile(xs, p):
    """Linear-interpolated percentile (the `inclusive` method) of `xs`."""
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, child_intervals):
    """Span time minus the part of [start, end] its child intervals cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in child_intervals]
    return (end - start) - union_length(clipped)


def ckpt_extra_ms(iters, wall_ms, every=CHECKPOINT_EVERY):
    """Median superstep ms with a durable checkpoint (iter % every == 0)
    minus the median of the others; None unless both kinds occur."""
    with_ckpt = [w for i, w in zip(iters, wall_ms) if i % every == 0]
    without = [w for i, w in zip(iters, wall_ms) if i % every != 0]
    if not with_ckpt or not without:
        return None
    return median(with_ckpt) - median(without)


def edges_per_s(sym_edges, supersteps, loop_s):
    """Directed edge visits per second of an exact-PageRank loop: every
    superstep visits each symmetrized edge once."""
    return sym_edges * supersteps / loop_s


def skew(stages):
    """Stage-time-weighted max/median task time: Σ max / Σ median."""
    med = sum(s["task_ms_median"] for s in stages)
    return sum(s["task_ms_max"] for s in stages) / med if med > 0 else 1.0


def action(execution):
    """The Dataset action that started a SQL execution: the recorded action
    name, else the method in its call site ("count at PageRank.scala:97")."""
    if not execution:
        return None
    return execution["func"] or execution["desc"].split(" at ")[0]


# ------------------------------------------------------------------- metrics

def end_to_end(raw):
    ops = raw["ops"]
    setup = raw["setup"]
    return {
        "wall_s": median([o["wall_s"] for o in ops]),
        "setup_s": setup["session_s"] + median(setup["gen_s"]) + setup["warmup_s"],
        "docs_per_s": median([o["docs"] / o["wall_s"] for o in ops]),
    }


def loop_rates(op):
    """(edges_per_s, supersteps_per_s) over one operation's exact-PageRank
    loops, or None when it ran none."""
    loops = [l for l in op["loops"] if l["wall_ms"]]
    if not loops:
        return None
    steps = sum(len(l["wall_ms"]) for l in loops)
    loop_s = sum(sum(l["wall_ms"]) for l in loops) / 1000.0
    visits = sum(l["sym_edges"] * len(l["wall_ms"]) for l in loops)
    return edges_per_s(visits, 1, loop_s), steps / loop_s


class OpTrace:
    """The spans, jobs, stages and SQL actions of one traced operation."""

    def __init__(self, op, trace):
        self.op = op
        self.spans = [s for s in trace["spans"] if s["op"] == op["index"]]
        ids = {s["id"] for s in self.spans}
        self.jobs = [j for j in trace["jobs"] if j["span"] in ids]
        self.stages = {s["id"]: s for s in trace["stages"]}
        self.execs = {x["id"]: x for x in trace["execs"]}
        self.parent = {s["id"]: s["parent"] for s in self.spans}

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def seconds(self, name):
        return sum(s["end_ms"] - s["start_ms"] for s in self.named(name)) / 1000.0

    def under(self, span_ids):
        """Jobs started inside any of the spans or their descendants."""
        span_ids = set(span_ids)

        def inside(sid):
            while sid:
                if sid in span_ids:
                    return True
                sid = self.parent.get(sid, 0)
            return False
        return [j for j in self.jobs if inside(j["span"])]

    def stages_of(self, jobs):
        ids = {sid for j in jobs for sid in j["stages"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def loop_jobs(self, loop):
        """Jobs of a superstep loop: from the first job of its first
        convergence action (the first of the last `supersteps` value-returning
        actions inside the call) to the call's end."""
        inside = [j for j in self.jobs if loop["start_ms"] <= j["start_ms"] <= loop["end_ms"]]
        execs = sorted({j["exec"] for j in inside
                        if action(self.execs.get(j["exec"])) in VALUE_ACTIONS})
        n = len(loop["wall_ms"])
        if n == 0 or len(execs) < n:
            return inside
        first = min(j["id"] for j in inside if j["exec"] == execs[-n])
        return [j for j in inside if j["id"] >= first]

    def loop_window(self, loop, jobs):
        """[start, end] of the loop's supersteps: its first superstep ends
        when its convergence action's last job ends."""
        first_exec = min((j["exec"] for j in jobs), default=None)
        ends = [j["end_ms"] for j in jobs if j["exec"] == first_exec]
        start = (max(ends) if ends else loop["start_ms"]) - loop["wall_ms"][0]
        return max(start, loop["start_ms"]), loop["end_ms"]


def per_op_layers(op, trace, cores):
    t = OpTrace(op, trace)
    counts = op["counts"]
    out = {k: 0.0 for k in PER_LAYER}

    derive_spans = [s["id"] for s in t.spans if s["layer"] == "graft.derive"]
    derive_jobs = t.under(derive_spans)
    out["derive.s"] = t.seconds("derive.graph")
    out["derive.jobs"] = len(derive_jobs)
    out["derive.shuffle_mb"] = sum(s["shuffle_write_b"] for s in t.stages_of(derive_jobs)) / MB
    out["derive.edges"] = counts.get("derive.edges", 0.0)
    out["derive.docs_s"] = t.seconds("derive.docs")

    loops = [l for l in op["loops"] if l["wall_ms"]]
    if loops:
        first = loops[0]
        out["core.pre_loop_s"] = (first["end_ms"] - first["start_ms"] - sum(first["wall_ms"])) / 1000.0
        walls = [w for l in loops for w in l["wall_ms"]]
        steps = len(walls)
        out["core.supersteps"] = steps
        out["core.superstep_ms_p50"] = percentile(walls, 50)
        out["core.superstep_ms_p90"] = percentile(walls, 90)
        driver_ms, jobs = 0.0, []
        for l in loops:
            lj = t.loop_jobs(l)
            s, e = t.loop_window(l, lj)
            driver_ms += sum(l["wall_ms"]) - (union_length(
                [(max(j["start_ms"], s), min(j["end_ms"], e)) for j in lj]))
            jobs += lj
        stages = t.stages_of(jobs)
        out["core.driver_ms_per_superstep"] = driver_ms / steps
        out["core.plan_ms_per_superstep"] = sum(
            max(0, t.execs[x]["plan_ms"]) for x in {j["exec"] for j in jobs} if x in t.execs) / steps
        out["core.jobs_per_superstep"] = len(jobs) / steps
        out["core.stages_per_superstep"] = len(stages) / steps
        out["core.tasks_per_superstep"] = sum(s["tasks"] for s in stages) / steps
        out["core.shuffle_mb_per_superstep"] = sum(s["shuffle_write_b"] for s in stages) / MB / steps
        out["core.task_skew"] = skew(stages)
        ckpt = [l for l in loops if l["checkpointed"]]
        extra = ckpt_extra_ms(ckpt[0]["iters"], ckpt[0]["wall_ms"]) if ckpt else None
        out["core.ckpt_extra_ms"] = extra if extra is not None else 0.0
        out["algo.pagerank_iters"] = len(first["wall_ms"])
    out["core.ckpt_restore_s"] = t.seconds("core.ckpt_restore")
    out["core.ckpt_mb"] = counts.get("core.ckpt_bytes", 0.0) / MB

    for name in ("pagerank", "output"):
        out[f"algo.{name}_s"] = t.seconds(f"algo.{name}")

    dedup_jobs = t.under([s["id"] for s in t.spans if s["layer"] == "graft.dedup"])
    dedup_stages = t.stages_of(dedup_jobs)
    for name in ("exact", "lsh", "propagate"):
        out[f"dedup.{name}_s"] = t.seconds(f"dedup.{name}")
    if dedup_stages:
        out["dedup.task_skew"] = skew(dedup_stages)
    out["dedup.shuffle_mb"] = sum(s["shuffle_write_b"] for s in dedup_stages) / MB
    out["dedup.spill_mb"] = sum(s["spill_b"] for s in dedup_stages) / MB
    for name in ("exact_pairs", "lsh_pairs", "unconverged_docs"):
        out[f"dedup.{name}"] = counts.get(f"dedup.{name}", 0.0)
    if out["dedup.exact_pairs"]:
        out["dedup.lsh_recall"] = out["dedup.lsh_pairs"] / out["dedup.exact_pairs"]

    root = t.named("op")[0]
    all_stages = t.stages_of(t.jobs)
    wall_ms = root["end_ms"] - root["start_ms"]
    out["spark.gc_s"] = op["gc_s"]
    out["spark.cpu_s"] = op["cpu_s"]
    out["spark.busy_share"] = sum(s["run_ms"] for s in all_stages) / (wall_ms * cores)
    out["spark.jobs"] = len(t.jobs)
    out["spark.heap_live_mb"] = op["heap_live_mb"]
    out["spark.driver_s"] = self_time(root["start_ms"], root["end_ms"],
                                      [(j["start_ms"], j["end_ms"]) for j in t.jobs]) / 1000.0
    return out


def per_layer(raw):
    traced = [o for o in raw["ops"] if o["traced"]]
    untraced = [o for o in raw["ops"] if not o["traced"]]
    rows = [per_op_layers(o, raw["trace"], raw["cores"]) for o in traced]
    out = {k: median([r[k] for r in rows]) for k in PER_LAYER}
    rates = [r for r in map(loop_rates, untraced) if r]
    out["core.edges_per_s"] = median([e for e, _ in rates]) if rates else 0.0
    out["core.supersteps_per_s"] = median([s for _, s in rates]) if rates else 0.0
    out["trace.overhead"] = (median([o["wall_s"] for o in traced])
                             / median([o["wall_s"] for o in untraced]) - 1.0)
    return out


def span_lines(raw):
    """Every traced span with its duration, self time and job count."""
    trace = raw["trace"]
    jobs_by_span = {}
    for j in trace["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s["id"])

    def subtree_jobs(sid):
        out = list(jobs_by_span.get(sid, []))
        for c in children.get(sid, []):
            out += subtree_jobs(c)
        return out
    lines = []
    for s in trace["spans"]:
        jobs = subtree_jobs(s["id"])
        lines.append(dict(s, dur_ms=s["end_ms"] - s["start_ms"], jobs=len(jobs),
                          self_ms=self_time(s["start_ms"], s["end_ms"],
                                            [(j["start_ms"], j["end_ms"]) for j in jobs])))
    return lines


def summarize(raw, traced):
    """(result line, info line, span lines or None) for one run."""
    every = raw["warmup"] + raw["ops"]
    failed = sum(1 for o in every if not o["ok"])
    values = per_layer(raw) if traced else end_to_end(raw)
    units = PER_LAYER if traced else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(every),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    info = {
        "workload": raw["workload"],
        "generator": raw["generator"],
        "heap_max_mb": raw["heap_max_mb"],
        "setup": raw["setup"],
        "ops": len(raw["ops"]),
        "wall_s_quartiles": quartiles([o["wall_s"] for o in raw["ops"]]),
        "fail_ratio": failed / len(every),
        "failed_checks": sorted({c["name"] for o in every for c in o["checks"] if not c["ok"]}),
    }
    return result, info, (span_lines(raw) if traced else None)
