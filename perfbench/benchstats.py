"""Statistics of the pipeline benchmark: the percentile rule, span self
time, canonical answer digests, operation accounting, and the mapping from
one run's raw results file to its metrics."""

import hashlib
import math
import statistics

PANELS = (
    "m_instant_traffic_interval", "m_instant_traffic_30s",
    "m_instant_traffic_1m_interval", "m_instant_traffic_1m", "m_top_src_ip",
    "m_top_dst_ip", "m_top_src_port", "m_top_dst_port", "m_rollup_read",
)

END_TO_END = (
    ("setup_s", "s"),
    ("ingest_rows_per_s", "rows/s"),
    ("stored_bytes_per_row", "B/row"),
    ("freshness_p50_s", "s"),
    ("freshness_p90_s", "s"),
    ("dashboard_load_p50_s", "s"),
    ("dashboard_load_p90_s", "s"),
    ("live_heap_peak_mb", "MiB"),
)

PER_LAYER = (
    ("sources.decode_s", "s"),
    ("sources.decode_rows_per_s", "rows/s"),
    ("sources.wire_bytes_per_row", "B/row"),
    ("streaming.project_s", "s"),
    ("streaming.rollup_s", "s"),
    ("streaming.rollup_rows_ratio", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.latest_offset_ms_p50", "ms"),
    ("streaming.query_planning_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("streaming.trigger_ms_p90", "ms"),
    ("streaming.idle_s", "s"),
    ("streaming.engine_s", "s"),
    ("manifest.append_s", "s"),
    ("manifest.commits", "count"),
    ("manifest.live_files", "count"),
    ("manifest.snapshot_ms_p50", "ms"),
    ("manifest.files_skipped_ratio", "ratio"),
    ("compaction.runs", "count"),
    ("compaction.busy_s", "s"),
    ("compaction.swaps_won_ratio", "ratio"),
    ("compaction.bytes_rewritten", "B"),
    ("dashboard.register_s_p50", "s"),
) + tuple(("dashboard.panel.%s_s_p50" % p, "s") for p in PANELS) + (
    ("dashboard.rows_scanned_per_result_row", "ratio"),
    ("dashboard.load_samples", "count"),
    ("engine.analysis_s", "s"),
    ("engine.optimization_s", "s"),
    ("engine.planning_s", "s"),
    ("engine.codegen_compile_s", "s"),
    ("engine.jobs", "count"),
    ("engine.tasks", "count"),
    ("engine.executor_run_s", "s"),
    ("engine.executor_cpu_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.shuffle_write_bytes", "B"),
    ("engine.spill_bytes", "B"),
    ("engine.input_files", "count"),
    ("engine.task_skew", "ratio"),
    ("engine.driver_gap_s", "s"),
    ("storage.pinned_rdds_leaked", "count"),
    ("storage.pinned_bytes_leaked", "B"),
    ("gen.late_p90_ms", "ms"),
    ("gen.backlog_files_end", "count"),
    ("probe.panel_s_p50", "s"),
    ("freshness.samples", "count"),
    ("device.write_mb_per_s", "MB/s"),
    ("device.read_mb_per_s", "MB/s"),
    ("ladder.rung1_s", "s"),
    ("ladder.rung2_s", "s"),
    ("ladder.rung3_s", "s"),
    ("ladder.rung4_s", "s"),
    ("ladder.rung5_s", "s"),
    ("ladder.untraced_pair_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_ratio", "ratio"),
    ("failed_op_ratio", "ratio"),
)


# ---------------------------------------------------------------- percentiles

def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def max_tail(n, beyond=10):
    """The highest of p50/p90/p99/p99.9 with at least `beyond` samples above
    it, or None: p90 needs 100 samples, p99 needs 1000."""
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n * (100.0 - p) / 100.0 >= beyond - 1e-9:
            best = p
    return best


# ------------------------------------------------------------------ self time

def self_times(spans):
    """Self time of every span: its duration minus the union of its
    children's intervals, each clipped to the parent. Returns {id: seconds}.
    Span times are nanoseconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                    for c in children.get(s["id"], ()) if c["id"] != s["id"])
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
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
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def self_time_by_name(spans):
    """{span name: (count, total seconds, self seconds)}."""
    st = self_times(spans)
    agg = {}
    for s in spans:
        n, tot, slf = agg.get(s["name"], (0, 0.0, 0.0))
        agg[s["name"]] = (n + 1, tot + (s["end_ns"] - s["start_ns"]) / 1e9, slf + st[s["id"]])
    return agg


# -------------------------------------------------------------------- digests

def canonical_value(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:" + ("1" if v else "0")
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        return "f:" + format(v, ".12g")
    if isinstance(v, str):
        return "s:" + v
    raise TypeError("unsupported answer value %r" % (v,))


def digest(rows):
    """Order-insensitive digest of an answer: each row canonicalized
    (integers exact, doubles to 12 significant digits), rows sorted."""
    lines = sorted("\x1f".join(canonical_value(v) for v in row) for row in rows)
    h = hashlib.sha256()
    h.update(("%d\x1e" % len(lines)).encode())
    h.update("\x1e".join(lines).encode())
    return h.hexdigest()


def op_failed(op):
    """An operation fails if the benchmark marked it so, or if its answer's
    digest differs from the expected answer's."""
    if "ok" in op:
        return not op["ok"]
    return digest(op["actual"]) != digest(op["expected"])


def account(ops):
    """(attempted, failed, first few failure descriptions)."""
    failed, notes = 0, []
    for op in ops:
        if op_failed(op):
            failed += 1
            if len(notes) < 5:
                notes.append("%s %s %s" % (op.get("kind"), op.get("name", ""), op.get("detail", "")))
    return len(ops), failed, notes


# -------------------------------------------------------------------- metrics

def _p(samples, name, q):
    v = samples.get(name) or []
    if not v:
        return 0.0
    return median(v) if q == 50 else percentile(v, q)


def end_to_end(raw):
    sm, sc = raw["samples"], raw["scalars"]
    ing = sc.get("ingest_rows_per_s")
    if ing is None:
        ing = median(sm["ingest_rows_per_s"])
    return {
        "setup_s": median(sm["setup_unit_s"]),
        "ingest_rows_per_s": ing,
        "stored_bytes_per_row": sc["stored_bytes_per_row"],
        "freshness_p50_s": median(sm["freshness_s"]),
        "freshness_p90_s": percentile(sm["freshness_s"], 90),
        "dashboard_load_p50_s": median(sm["dashboard_load_s"]),
        "dashboard_load_p90_s": percentile(sm["dashboard_load_s"], 90),
        "live_heap_peak_mb": sc["live_heap_peak_mb"],
    }


def per_layer(raw, failed_ratio):
    sm, sc = raw["samples"], raw["scalars"]
    out = {}
    for name, _ in PER_LAYER:
        if name in sc and not isinstance(sc[name], (list, str)):
            out[name] = sc[name]
    out.update({
        "streaming.add_batch_ms_p50": _p(sm, "streaming.addBatch_ms", 50),
        "streaming.latest_offset_ms_p50": _p(sm, "streaming.latestOffset_ms", 50),
        "streaming.query_planning_ms_p50": _p(sm, "streaming.queryPlanning_ms", 50),
        "streaming.wal_commit_ms_p50": _p(sm, "streaming.walCommit_ms", 50),
        "streaming.trigger_ms_p90": _p(sm, "streaming.triggerExecution_ms", 90),
        "manifest.snapshot_ms_p50": _p(sm, "manifest.snapshot_ms", 50),
        "dashboard.register_s_p50": _p(sm, "dashboard.register_s", 50),
        "gen.late_p90_ms": _p(sm, "gen.late_ms", 90),
        "probe.panel_s_p50": _p(sm, "probe.panel_s", 50),
        "freshness.samples": len(sm.get("freshness_s", [])),
        "dashboard.load_samples": len(sm.get("dashboard_load_s", [])),
        "failed_op_ratio": failed_ratio,
    })
    for p in PANELS:
        out["dashboard.panel.%s_s_p50" % p] = _p(sm, "dashboard.panel.%s_s" % p, 50)
    total, kept = sc.get("manifest.files_total", 0.0), sc.get("manifest.files_kept", 0.0)
    out["manifest.files_skipped_ratio"] = (1.0 - kept / total) if total else 0.0
    runs = sc.get("compaction.runs", 0.0)
    out["compaction.swaps_won_ratio"] = (sc.get("compaction.swaps_won", 0.0) / runs) if runs else 0.0
    returned = sc.get("dashboard.rows_returned", 0.0)
    out["dashboard.rows_scanned_per_result_row"] = (
        sc.get("dashboard.rows_scanned", 0.0) / returned) if returned else 0.0
    untraced = sc.get("ladder.untraced_pair_s")
    out["trace.overhead_ratio"] = (sc.get("trace.overhead_s", 0.0) / untraced) if untraced else 0.0
    for name, _ in PER_LAYER:
        out.setdefault(name, 0.0)
    return out
