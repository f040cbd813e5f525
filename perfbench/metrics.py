"""Metric derivation: end-to-end numbers from timings, per-layer numbers
from the spans of a traced run."""
import math
import statistics

# Registry entries the workloads run. ANALYTICS is analytics.Queries.all;
# CURATION is the job- and compile-heaviest LLM-data entries.
ANALYTICS = [
    "readme_q1_monthly", "readme_q2_top_diagnoses_51_70",
    "readme_q3_avg_procedures", "readme_q4_high_volume",
    "readme_age_distribution", "q01_monthly_trends",
    "q02_top_diagnoses_by_age_group", "q03_procedure_volume",
    "q04_patient_utilization", "q05_weekend_vs_weekday", "q06_demographics",
    "q07_facility_performance", "q08_high_utilization", "q02_top3_report",
    "q07_top5_report", "q08_top10_report", "q09_diagnosis_cooccurrence",
    "q10_quarterly_growth", "q11_reports_coverage", "q12_encounter_types",
    "mv_monthly_encounters", "mv_diagnosis_by_age_group",
    "mv_procedure_volume", "readme_record_counts"]
CURATION = [
    "graph_modularity", "dedup_fuzzy_pairs", "curate_ngram_overlap",
    "sim_hubness", "text_bpe_train"]

# The rounds are gated by the CPU time of the program's work: every thread
# of the JVM but the JIT compiler and GC threads (Harness.cpuNs). On a
# shared host the wall clock of the same run grows with the CPU time the
# host gives to other machines (steal, up to 18% of a run on a 4-CPU
# share), which CPU time does not count; the wall-clock figures are printed
# beside them. setup_s is wall clock: input generation plus the median of
# the setups.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("first_round_cpu_s", "s", "lower"),
    ("round_cpu_p50_s", "s", "lower"),
    ("op_cpu_geomean_s", "s", "lower"),
]

# (name, unit, better): values are totals over the traced rounds of a
# traced run (the first round and the third), except ratios, percentages
# and the per-query means.
LAYER = [
    ("driver.construct_s", "s", "lower"),
    ("catalyst.analyze_s", "s", "lower"),
    ("catalyst.optimize_s", "s", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_cpu_s", "s", "lower"),
    ("exec.cpu_util", "ratio", "higher"),
    ("exec.gc_s", "s", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("shuffle.write_bytes", "B", "lower"),
    ("shuffle.read_bytes", "B", "lower"),
    ("io.bytes_written", "B", "lower"),
    ("io.files_written", "count", "lower"),
    ("io.scratch_mb", "MB", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("jvm.app_cpu_s", "s", "lower"),
    ("jvm.jit_cpu_s", "s", "lower"),
    ("jvm.gc_cpu_s", "s", "lower"),
    ("warehouse.build_s", "s", "lower"),
    ("streaming.start_s", "s", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.wal_commit_s", "s", "lower"),
    ("streaming.commit_offsets_s", "s", "lower"),
    ("streaming.query_planning_s", "s", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("streaming.micro_batches", "count", "lower"),
    ("streaming.no_data_batches", "count", "lower"),
    ("streaming.rows_in", "count", "lower"),
    ("streaming.dups_dropped", "count", "higher"),
    ("streaming.late_dropped", "count", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.landed_ratio", "ratio", "higher"),
    ("ingest.cleanse_s", "s", "lower"),
    ("ingest.quarantine_s", "s", "lower"),
    ("ingest.rows_kept", "count", "higher"),
    ("ingest.rows_quarantined", "count", "lower"),
] + [(f"analytics.{q}_s", "s", "lower") for q in ANALYTICS] \
  + [(f"curation.{q}_s", "s", "lower") for q in CURATION] \
  + [(f"curation.{q}_jobs", "count", "lower") for q in CURATION] \
  + [("trace.overhead_pct", "%", "lower"), ("trace.coverage", "ratio", "higher")]

LADDER = (99.9, 99.0, 90.0, 50.0)


def tail(values):
    """The highest percentile of LADDER with at least ten samples beyond it,
    by nearest rank. Returns (percentile, value), or None below 20 samples."""
    xs = sorted(values)
    n = len(xs)
    for p in LADDER:
        rank = max(1, math.ceil(round(p * n / 100.0, 6)))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


def median(values):
    return statistics.median(values) if values else float("nan")


def warm_ops(res, key="seconds"):
    """Latencies (or, with key="cpu_s", CPU times) of the operations after
    the first round."""
    return [o[key] for o in res["ops"] if o["round"] >= 1]


def queries_per_s(res):
    """Operations completed per second of the rounds after the first."""
    later = sum(r["seconds"] for r in res["rounds"][1:])
    return len(warm_ops(res)) / later if later else float("nan")


def geomean(values):
    return statistics.geometric_mean(values) if values else float("nan")


def end_to_end(res, gen_s):
    """End-to-end metrics of one run from the harness's results."""
    rounds = res["rounds"]
    return {
        "setup_s": gen_s + median(res["setup_s"]),
        "first_round_cpu_s": rounds[0]["cpu_s"],
        "round_cpu_p50_s": median([r["cpu_s"] for r in rounds[1:]]),
        "op_cpu_geomean_s": geomean(warm_ops(res, "cpu_s")),
    }


def wall_clock(res):
    """The wall-clock twins of the CPU-time metrics (printed, not gated)."""
    rounds = res["rounds"]
    return {
        "first_round_s": rounds[0]["seconds"],
        "round_p50_s": median([r["seconds"] for r in rounds[1:]]),
        "op_geomean_s": geomean(warm_ops(res)),
    }


def _children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def self_times(spans):
    """Self time per span name: duration minus what its children cover."""
    kids = _children(spans)
    out = {}
    for s in spans:
        covered = sum(_dur(c) for c in kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, _dur(s) - covered)
    return out


def per_layer(res, cpus, scratch_bytes, files_written):
    """Per-layer metrics of a traced run (spans exist for traced rounds only)."""
    spans = res["spans"]
    kids = _children(spans)
    out = {name: 0.0 for name, _, _ in LAYER}

    def total(key, roots=None):
        ss = spans if roots is None else roots
        return sum(s["counters"].get(key, 0.0) for s in ss)

    round_spans = [s for s in spans if s["parent"] == -1]
    for key in ("codegen.compiles", "codegen.compile_s"):
        out[key] = total(key, round_spans)  # inclusive counters
    for key in ("catalyst.analyze_s", "catalyst.optimize_s", "catalyst.plan_s",
                "exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.gc_s",
                "shuffle.write_bytes", "shuffle.read_bytes", "io.bytes_written",
                "streaming.trigger_s", "streaming.add_batch_s",
                "streaming.wal_commit_s", "streaming.commit_offsets_s",
                "streaming.query_planning_s", "streaming.state_commit_s",
                "streaming.micro_batches", "streaming.no_data_batches",
                "streaming.rows_in", "streaming.dups_dropped",
                "streaming.late_dropped", "ingest.rows_kept",
                "ingest.rows_quarantined"):
        out[key] = total(key)
    state = [s["counters"]["streaming.state_rows"] for s in spans
             if "streaming.state_rows" in s["counters"]]
    out["streaming.state_rows"] = max(state) if state else 0.0
    rows_in = total("streaming.rows_in")
    landed = rows_in - total("streaming.dups_dropped") - total("streaming.late_dropped")
    out["streaming.landed_ratio"] = landed / rows_in if rows_in else 0.0
    wall = sum(_dur(s) for s in round_spans)
    out["exec.cpu_util"] = total("exec.task_cpu_s") / (wall * cpus) if wall else 0.0

    def span_time(name):
        return sum(_dur(s) for s in spans if s["name"] == name)
    out["driver.construct_s"] = span_time("driver.construct")
    out["warehouse.build_s"] = span_time("warehouse.build")
    out["streaming.start_s"] = span_time("streaming.start")
    out["ingest.cleanse_s"] = span_time("ingest.cleanse")
    out["ingest.quarantine_s"] = span_time("ingest.quarantine")
    out["io.scratch_mb"] = scratch_bytes / 1e6
    out["io.files_written"] = files_written
    out["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    traced = [r for r in res["rounds"] if r["traced"]]
    out["jvm.app_cpu_s"] = sum(r["cpu_s"] for r in traced)
    out["jvm.jit_cpu_s"] = sum(r["jit_cpu_s"] for r in traced)
    out["jvm.gc_cpu_s"] = sum(r["gc_cpu_s"] for r in traced)

    def subtree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from subtree(c)

    op_spans = [s for r in round_spans for s in kids.get(r["id"], [])]
    prefix, family = {"pipeline": ("analytics", ANALYTICS),
                      "curation": ("curation", CURATION)}[res["workload"]]
    for q in family:
        mine = [s for s in op_spans if s["name"] == q]
        if mine:
            out[f"{prefix}.{q}_s"] = sum(_dur(s) for s in mine) / len(mine)
            if res["workload"] == "curation":
                jobs = sum(c["counters"].get("exec.jobs", 0.0)
                           for s in mine for c in subtree(s))
                out[f"curation.{q}_jobs"] = jobs / len(mine)
    covered = sum(_dur(c) for s in op_spans for c in kids.get(s["id"], []))
    op_wall = sum(_dur(s) for s in op_spans)
    out["trace.coverage"] = covered / op_wall if op_wall else 0.0

    # warm rounds run untraced, traced, untraced: comparing the traced one
    # with the mean of its neighbours cancels a steady warm-up drift
    on = [r["seconds"] for r in res["rounds"][1:] if r["traced"]]
    off = [r["seconds"] for r in res["rounds"][1:] if not r["traced"]]
    if on and off:
        base = statistics.fmean(off)
        out["trace.overhead_pct"] = (statistics.fmean(on) - base) / base * 100.0
    return out
