"""The benchmark's own arithmetic: reduces one raw run (written by the JVM
side, graft.perfbench.Main) to the metrics BENCHMARK.json names.

Kept free of I/O so test_stats.py can pin every formula."""

import statistics

# Tail percentiles considered, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

# Span names map to the layer before the first dot; "op" is the root span.
LAYERS = ("features", "match", "deviation", "elementstore", "devstore",
          "stream", "tiles")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, p):
    """1-based nearest rank of the p-th percentile of n samples."""
    n = len(sorted_xs)
    rank = -(-p * n // 100)  # ceil without float drift for integral p*n
    return max(1, min(n, int(rank)))


def tail(xs):
    """The highest percentile of `xs` with at least MIN_BEYOND samples above
    its rank. Returns (percentile, value, samples beyond, sample count), or
    None when even the median has fewer than MIN_BEYOND beyond it."""
    s = sorted(xs)
    for p in TAIL_PERCENTILES:
        rank = nearest_rank(s, p)
        beyond = len(s) - rank
        if beyond >= MIN_BEYOND:
            return p, s[rank - 1], beyond, len(s)
    return None


def failed_counts(ops, final_error):
    """(failed, attempted). An op fails when it threw or failed its output
    check; a failed end-of-run check fails the last op if it had not failed
    already, so it is never lost and never counted twice."""
    failed = sum(1 for o in ops if o.get("error"))
    if final_error and ops and not ops[-1].get("error"):
        failed += 1
    return failed, len(ops)


def ratio(num, base):
    """num ÷ base with the base kept beside it; 0.0 when the base is 0."""
    return (num / base if base else 0.0), base


def refine_yield(refined_pairs, candidate_pairs):
    """Pairs that pass the cell joins' distance and match condition per pair
    tested against it, and that base."""
    return ratio(refined_pairs, candidate_pairs)


def write_amp(rows_written, rows_changed):
    """Rows written per row upserted or deleted, and that base."""
    return ratio(rows_written, rows_changed)


def self_times(spans):
    """Self time per span id: its duration minus the part of that interval
    its children cover (children clipped to the parent, overlaps merged)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(lo, c["start_s"]), min(hi, c["end_s"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_of(span_name):
    return span_name.split(".", 1)[0]


def spread(values):
    """Inter-quartile distance as a share of the median, the steadiness
    measure: statistics.quantiles(values, n=4), first to third quartile."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else 0.0


def per_op_medians(per_op):
    """{metric: median over the ops that report it} from {op: {metric: value}}:
    a traced run's set-up op and its timed ops run different layers."""
    keys = {k for d in per_op.values() for k in d}
    return {k: median([d[k] for d in per_op.values() if k in d]) for k in keys}


def end_to_end(raw):
    """The end-to-end figures of one run, over its untraced ops."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops]
    failed, attempted = failed_counts(raw["ops"], raw.get("final_error"))
    run = raw.get("run_counters", {})
    return {
        "setup_s": raw["setup_s"],
        "op_s": median(walls),
        "items_per_s": median([o["items"] / o["wall_s"] for o in ops]),
        "heap_peak_mb": raw["heap_peak_bytes"] / 2 ** 20,
        "op_tail": tail(walls),
        "failed": failed,
        "attempted": attempted,
        "failed_ratio": ratio(failed, attempted)[0],
        "store_bytes_per_live_byte":
            ratio(run.get("devstore.store_bytes", 0), run.get("devstore.live_bytes", 0))[0],
        "ops": len(walls),
    }


def per_layer(raw):
    """Per-layer figures of one traced run: medians over its traced ops,
    the set-up op among them, each over the ops that ran that layer."""
    traced = [o for o in raw["ops"] if o["traced"]]
    untraced = [o for o in raw["ops"] if not o["traced"]]
    timed_traced = [o["wall_s"] for o in traced if not o.get("setup")]
    traced_ops = {o["op"] for o in traced}
    spans = [s for s in raw["spans"] if s["op"] in traced_ops]
    selfs = self_times(spans)

    per_op = {o["op"]: dict(o["counters"]) for o in traced}
    for s in spans:
        d = per_op[s["op"]]
        for key in {s["name"], layer_of(s["name"])}:
            d["self." + key] = d.get("self." + key, 0.0) + selfs[s["id"]]
    for group, g in raw["groups"].items():
        op, _, name = group.partition("/")
        if not op.isdigit() or int(op) not in per_op:
            continue
        d = per_op[int(op)]
        layer = layer_of(name)
        for k in ("executor_s", "shuffle_bytes", "records_read"):
            d[f"{layer}.{k}"] = d.get(f"{layer}.{k}", 0.0) + g[k]
        for k in ("jobs", "tasks", "gc_s", "spill_bytes", "shuffle_bytes"):
            d["spark." + k] = d.get("spark." + k, 0.0) + g[k]
        d["spark.task_skew"] = max(d.get("spark.task_skew", 0.0), g["task_skew"])
    for o in traced:
        d = per_op[o["op"]]
        if "match.candidate_pairs" in d:
            d["refine_yield"] = refine_yield(d.get("match.refined_pairs", 0),
                                             d["match.candidate_pairs"])[0]
        if "devstore.rows_changed" in d:
            d["write_amp"] = write_amp(d.get("devstore.rows_written", 0), d["devstore.rows_changed"])[0]
        for layer in LAYERS:
            if "self." + layer in d:
                d["share." + layer] = ratio(d["self." + layer], o["wall_s"])[0]
        if "edits" in d:
            d["rows_read_per_edit"] = ratio(d.get("elementstore.records_read", 0), d["edits"])[0]
    m = per_op_medians(per_op)
    run = raw.get("run_counters", {})
    op_s = median(timed_traced)
    untraced_op_s = median([o["wall_s"] for o in untraced])

    def g(k):
        return m.get(k, 0.0)

    out = {
        "features.busy_s": g("self.features"),
        "features.executor_s": g("features.executor_s"),
        "features.rows_out": g("features.rows_out"),
        "match.busy_s": g("self.match"),
        "match.executor_s": g("match.executor_s"),
        "match.shuffle_bytes": g("match.shuffle_bytes"),
        "match.cover_rows": g("match.cover_rows"),
        "match.candidate_pairs": g("match.candidate_pairs"),
        "match.refined_pairs": g("match.refined_pairs"),
        "match.refine_yield": g("refine_yield"),
        "match.plan_joins": g("match.plan_joins"),
        "match.plan_exchanges": g("match.plan_exchanges"),
        "match.rows_out": g("match.rows_out"),
        "deviation.busy_s": g("self.deviation"),
        "deviation.rows_in": g("deviation.rows_in"),
        "deviation.rows_emitted": g("deviation.rows_emitted"),
        "elementstore.merge_s": g("self.elementstore.merge"),
        "elementstore.read_s": g("self.elementstore.read"),
        "elementstore.dirty_blocks": g("elementstore.dirty_blocks"),
        "elementstore.files_discovered": g("elementstore.files_discovered"),
        "elementstore.rows_read_per_edit": g("rows_read_per_edit"),
        "devstore.sync_s": g("self.devstore.sync"),
        "devstore.rows_written": g("devstore.rows_written"),
        "devstore.bytes_written": g("devstore.bytes_written"),
        "devstore.write_amp": g("write_amp"),
        "devstore.rows_changed": g("devstore.rows_changed"),
        "devstore.store_bytes_per_live_byte":
            ratio(run.get("devstore.store_bytes", 0), run.get("devstore.live_bytes", 0))[0],
        "stream.batch_s": run.get("stream.batch_s", 0.0),
        "stream.trigger_overhead_s": run.get("stream.trigger_overhead_s", 0.0),
        "tiles.assign_s": g("self.tiles.assign"),
        "tiles.encode_s": g("self.tiles.encode"),
        "tiles.feature_rows": g("tiles.feature_rows"),
        "tiles.tiles_out": g("tiles.tiles_out"),
        "tiles.mvt_bytes": g("tiles.mvt_bytes"),
        "spark.jobs": g("spark.jobs"),
        "spark.tasks": g("spark.tasks"),
        "spark.gc_s": g("spark.gc_s"),
        "spark.spill_bytes": g("spark.spill_bytes"),
        "spark.shuffle_bytes": g("spark.shuffle_bytes"),
        "spark.task_skew": g("spark.task_skew"),
        "spark.heap_peak_mb": raw["heap_peak_bytes"] / 2 ** 20,
        "trace.op_s": op_s,
        "trace.untraced_op_s": untraced_op_s,
        "trace.overhead_s": op_s - untraced_op_s,
    }
    # median, over the traced ops that ran a layer, of the share of the op's
    # wall time spent in that layer's own spans; the rest is the benchmark's
    # glue between calls
    for layer in LAYERS:
        out["share." + layer] = g("share." + layer)
    # traced sync ops replay the stream's calls outside the stream, so the
    # stream's own share is its trigger overhead within an untraced op
    out["share.stream"] = ratio(out["stream.trigger_overhead_s"], untraced_op_s)[0]
    return out
