"""Turns the JVM's record of a run into metrics.

End-to-end metrics come from the untraced units only. Per-layer metrics
come from the traced units: every traced operation's wall time is split
across layers by a sweep over its spans, where at each instant the most
specific active span owns the time (a sink's one-task write stage over a
Spark job over a Catalyst phase over a SQL execution over a benchmark
sub-call over the operation itself).
"""

import statistics
from collections import defaultdict

import gen

# The library layers a traced call's time is attributed to.
LAYERS = ("pipeline", "ops.Sinks", "ops.TxTable", "catalyst", "spark",
          "text.Bm25", "ann.Similarity")
LIBRARY_LAYERS = ("pipeline", "ops.Sinks", "ops.TxTable", "text.Bm25",
                  "ann.Similarity")
WRITE_KINDS = ("merge", "append", "delete", "optimize")
TAIL_GRID = (50, 75, 90, 95, 99, 99.9)


def median(xs):
    return statistics.median(xs) if xs else None


def _ms(a, b):
    return (b - a) / 1e6


def tail(values):
    """Highest percentile of TAIL_GRID with at least ten samples above it."""
    n = len(values)
    best = None
    for p in TAIL_GRID:
        if n * (1 - p / 100.0) >= 10:
            best = p
    if best is None:
        return {"percentile": None, "n": n, "value": None}
    q = statistics.quantiles(values, n=1000, method="inclusive")
    return {"percentile": best, "n": n,
            "value": q[int(round(best * 10)) - 1]}


def _ops(record, traced):
    return [o for o in record["ops"] if o["traced"] == traced and o["ok"]]


def _units(record, traced):
    return [_ms(u["start_ns"], u["end_ns"]) / 1e3 for u in record["units"]
            if u["traced"] == traced]


def _kind_p50(ops, kinds):
    return median([_ms(o["start_ns"], o["end_ns"]) for o in ops
                   if o["kind"] in kinds])


def typical_op_ms(ops):
    """Median over operation kinds of each kind's median latency.

    Each kind counts once whatever its number of calls. A plain median
    over all calls sits in the gap between two kinds' latencies and jumps
    from one kind to the other as the number of units in a run changes.
    """
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(_ms(o["start_ns"], o["end_ns"]))
    return median([median(v) for v in by_kind.values()])


def end_to_end(record, gen_s):
    setup = record["setup"]
    ops = _ops(record, False)
    durations = [_ms(o["start_ns"], o["end_ns"]) for o in ops]
    wl = record["workload"]
    units = _units(record, False)
    out = {
        "setup_s": setup["session_s"] + gen_s + setup["prepare_s"] +
        setup["warm_s"],
        # the measured window's time per completed unit: on a shared host
        # it spread less across runs than the median unit did
        "wall_s": sum(units) / len(units) if units else None,
    }
    specific = {"op_p50_ms": typical_op_ms(ops),
                "unit_p50_s": median(units),
                "peak_rss_mb": record["peak_rss_kb"] / 1024.0,
                "op_all_p50_ms": median(durations),
                "op_tail": tail(durations), "ops_timed": len(durations),
                "units_timed": len(units)}
    sizes = record.get("finish", {}).get("sizes", {})
    if wl == "medallion_batch":
        specific["refresh_s"] = out["wall_s"]
    if wl == "tx_upsert_cycle":
        for k in ("merge", "append", "delete", "read"):
            specific[f"{k}_p50_ms"] = _kind_p50(ops, (k,))
        specific["write_amp"] = sizes.get("write_amp")
        specific["space_amp"] = sizes.get("space_amp")
    if wl == "index_append_serve":
        specific["append_p50_ms"] = _kind_p50(ops, ("bm25_append",
                                                    "ivf_append"))
        specific["search_p50_ms"] = _kind_p50(ops, ("bm25_search",
                                                    "ivf_search"))
        tables = list(sizes.values())
        if tables:
            def total(k):
                return sum(t[k] for t in tables)
            specific["write_amp"] = total("bytes_created") / \
                total("bytes_ingested_once")
            specific["space_amp"] = (total("bytes_live") +
                                     total("bytes_log")) / \
                total("bytes_content_once")
    return out, specific


def _assign_by_time(ops, spans):
    """Attach SQL execution and Catalyst phase spans (op = -1) to the op
    whose interval holds their start."""
    starts = sorted((o["start_ns"], o["end_ns"], o["id"]) for o in ops)
    for s in spans:
        if s["op"] >= 0:
            continue
        for a, b, oid in starts:
            if a <= s["start_ns"] <= b:
                s["op"] = oid
                break
    return [s for s in spans if s["op"] >= 0]


_PRIORITY = {"stage": 5, "job": 4, "execution": 2, "sink-execution": 2}


def _priority(span):
    if span["layer"] == "catalyst" and span["name"] in (
            "analysis", "optimization", "planning"):
        return 3
    return _PRIORITY.get(span["name"].split()[0], 1)


def split_op(op, spans):
    """Milliseconds of `op` owned by each layer, and its driver-only time
    (no job running)."""
    a, b = op["start_ns"], op["end_ns"]
    ivs = [(max(a, s["start_ns"]), min(b, s["end_ns"]), _priority(s),
            s["layer"], s["start_ns"]) for s in spans]
    ivs = [iv for iv in ivs if iv[1] > iv[0]]
    cuts = sorted({a, b} | {iv[0] for iv in ivs} | {iv[1] for iv in ivs})
    owned = defaultdict(float)
    driver_only = 0.0
    for lo, hi in zip(cuts, cuts[1:]):
        active = [iv for iv in ivs if iv[0] <= lo and iv[1] >= hi]
        if active:
            top = max(active, key=lambda iv: (iv[2], iv[4]))
            layer = top[3]
        else:
            layer = op["layer"]
        owned[layer] += _ms(lo, hi)
        if not any(iv[2] >= 4 for iv in active):
            driver_only += _ms(lo, hi)
    return owned, driver_only


def per_layer(record):
    """Per-layer metrics and the detailed trace of a traced run."""
    ops = _ops(record, True)
    spans = _assign_by_time(ops, [dict(s) for s in record["spans"]])
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    counts = record["counts"]
    cpus = record["env"]["effective_cpus"]
    n = max(len(ops), 1)

    total_wall = 0.0
    self_ms = defaultdict(float)
    phase_ms = defaultdict(float)
    driver_only = 0.0
    per_op = []
    sums = defaultdict(float)
    for o in ops:
        wall = _ms(o["start_ns"], o["end_ns"])
        total_wall += wall
        owned, drv = split_op(o, by_op[o["id"]])
        for k, v in owned.items():
            self_ms[k] += v
        driver_only += drv
        c = counts.get(str(o["id"]), {})
        for k, v in c.items():
            sums[k] += v
        construct = [s for s in by_op[o["id"]] if s["name"] == "construct"]
        jobs = [s for s in by_op[o["id"]] if s["name"].startswith("job ")]
        sink_execs = [s for s in by_op[o["id"]]
                      if s["name"].startswith("sink-execution ")]
        for s in by_op[o["id"]]:
            if _priority(s) == 3:
                phase_ms[s["name"]] += _ms(s["start_ns"], s["end_ns"])
        per_op.append({
            "id": o["id"], "kind": o["kind"], "layer": o["layer"],
            "unit": o["unit"], "wall_ms": wall, "driver_only_ms": drv,
            "self_ms": dict(owned), "counts": c,
            "sink_finish_ms": sum(gap_after(x, by_op[o["id"]], o["end_ns"])
                                  for x in sink_execs),
            "construct_ms": sum(_ms(s["start_ns"], s["end_ns"])
                                for s in construct),
            "construct_jobs": sum(1 for j in jobs for s in construct
                                  if s["start_ns"] <= j["start_ns"] <=
                                  s["end_ns"])})

    named = sum(v for k, v in self_ms.items() if k in LAYERS)
    metrics = {
        "spark.jobs": sums["jobs"] / n,
        "spark.tasks": sums["tasks"] / n,
        "spark.task_run_ms": sums["task_run_ms"] / n,
        "spark.task_gc_ms": sums["task_gc_ms"] / n,
        "spark.task_deser_ms": sums["task_deser_ms"] / n,
        "spark.shuffle_read_bytes": sums["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": sums["shuffle_write_bytes"] / n,
        "spark.input_bytes": sums["input_bytes"] / n,
        "spark.single_task_stage_ms": sums["single_task_stage_ms"] / n,
        "spark.busy_ratio": sums["task_run_ms"] / (total_wall * cpus)
        if total_wall else 0.0,
        "driver_only_ms": driver_only / n,
        "catalyst.analysis_ms": phase_ms["analysis"] / n,
        "catalyst.optimization_ms": phase_ms["optimization"] / n,
        "catalyst.planning_ms": phase_ms["planning"] / n,
        "self.library_ms": sum(self_ms[k] for k in LIBRARY_LAYERS) / n,
        "self.catalyst_ms": self_ms["catalyst"] / n,
        "self.spark_ms": self_ms["spark"] / n,
        "trace_overhead": _overhead(record),
    }
    detail = {
        "ops_traced": len(ops),
        "self_ms_by_layer": dict(self_ms),
        "self_share_by_layer": {k: v / total_wall for k, v in self_ms.items()}
        if total_wall else {},
        "coverage": named / total_wall if total_wall else None,
        "op_wall_ms": total_wall,
        "workload_layers": _workload_layers(record, per_op, sums),
        "ops": per_op,
        "spans": spans,
    }
    return metrics, detail


def gap_after(span, spans, op_end):
    """Milliseconds from the end of `span` to the next span that starts
    after it, or to the end of the op: an upper bound on untraced driver
    work that directly follows it."""
    nxt = min([s["start_ns"] for s in spans
               if s["start_ns"] >= span["end_ns"]] + [op_end])
    return _ms(span["end_ns"], nxt)


def _overhead(record):
    t, u = median(_units(record, True)), median(_units(record, False))
    return t / u if t and u else None


def _mean(xs):
    return sum(xs) / len(xs) if xs else None


def _workload_layers(record, per_op, sums):
    """The per-layer counts that only one workload has."""
    wl = record["workload"]
    units = max(1, len({o["unit"] for o in per_op}))
    sizes = record.get("finish", {}).get("sizes", {})
    out = {}

    def kind(*ks):
        return [o for o in per_op if o["kind"] in ks]
    if wl == "medallion_batch":
        for stage in ("landing_to_bronze", "bronze_to_silver",
                      "silver_to_silver", "silver_to_gold_player",
                      "silver_to_gold_team"):
            out[f"pipeline.{stage}_ms"] = median(
                [o["wall_ms"] for o in kind(stage)])
        out["sink.single_file_writes"] = sums["sink_writes"] / units
        out["sink.finish_ms_bound"] = sum(o["sink_finish_ms"]
                                          for o in per_op) / units
        out["spark.single_task_stage_ms"] = sums["single_task_stage_ms"] / \
            units
    if wl == "tx_upsert_cycle":
        writes = kind(*WRITE_KINDS)
        out["tx.commits"] = sizes.get("log_entries", 1) - 1
        out["tx.jobs_per_commit"] = _mean([o["counts"].get("jobs", 0)
                                           for o in writes])
        out["tx.driver_only_ms_per_commit"] = _mean(
            [o["driver_only_ms"] for o in writes])
        for k in ("log_entries", "files_live", "files_written"):
            out[f"tx.{k}"] = sizes.get(k)
        out["tx.bytes_written"] = sizes.get("bytes_created")
        for k in WRITE_KINDS + ("read",):
            out[f"tx.{k}_jobs"] = _mean([o["counts"].get("jobs", 0)
                                         for o in kind(k)])
    if wl == "index_append_serve":
        units_all = len(record["units"])
        bm25 = sizes.get("bm25", {})
        out["bm25.jobs_per_append"] = _mean(
            [o["counts"].get("jobs", 0) for o in kind("bm25_append")])
        out["bm25.maintenance_commits"] = \
            bm25.get("log_entries", 1) - 1 - units_all
        out["bm25.input_bytes_per_query"] = _per_query(
            kind("bm25_search"), gen.IDX_QUERIES)
        out["ivf.jobs_per_append"] = _mean(
            [o["counts"].get("jobs", 0) for o in kind("ivf_append")])
        out["ivf.input_bytes_per_query"] = _per_query(
            kind("ivf_search"), gen.IDX_VEC_QUERIES)
        out["tx.commits"] = sum(t.get("log_entries", 1) - 1
                                for t in sizes.values())
    construct = [o for o in per_op if o["construct_ms"] > 0]
    if construct:
        out["construct_ms"] = _mean([o["construct_ms"] for o in construct])
        out["construct_jobs"] = _mean([o["construct_jobs"]
                                       for o in construct])
    return out


def _per_query(ops, queries_per_op):
    return _mean([o["counts"].get("input_bytes", 0) / queries_per_op
                  for o in ops])
