"""Metric definitions and the statistics run.py reports.

The harness (perfbench/src) writes a raw result: every op's latency and
outcome, the set-up times, the run-level checks and, on a traced run, the
per-layer readings. This module turns that into the metrics named in
BENCHMARK.json.
"""

import math

# name -> (unit, better); every workload reports every one of these
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

_SPARK = {
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "spark.output_mb": ("MB", "lower"),
    "spark.cpu_util": ("fraction", "higher"),
    "spark.driver_only_s": ("s", "lower"),
    "plan.analysis_ms": ("ms", "lower"),
    "plan.optimization_ms": ("ms", "lower"),
    "plan.planning_ms": ("ms", "lower"),
    "plan.nodes": ("count", "lower"),
}

CURATE_STAGES = [
    "p00_raw", "d01_exact", "d19_substring_dedup", "d18_segment_neardup",
    "d02_minhash_neardup", "d12_semantic_dedup", "d16_decontaminate",
    "t22_t20_quality", "t23_pii_redact", "p04_temperature_mix",
    "p02_sequence_pack", "p06_epoch_shuffle",
]

_CURATE = {f"curate.stage_s.{s}": ("s", "lower") for s in CURATE_STAGES}
_CURATE.update({f"curate.n_out.{s}": ("count", "lower") for s in CURATE_STAGES})

_DEDUP = {f"dedup.{op}_s": ("s", "lower") for op in
          ["substring", "segment", "minhash", "semantic", "decontam", "redact", "pack"]}
_DEDUP["dedup.minhash_pairs"] = ("fraction", "higher")

_KERNEL = {f"kernel.{k}_ns": ("ns", "lower") for k in [
    "word_shingle_hashes", "segment_shingle_hashes", "minhash_sig_from_hashes",
    "minhash_band_hashes", "rolling_kgram_hashes", "hashed_bow_vector",
    "classifier_token_score"]}
_KERNEL["kernel.text_mb_per_s"] = ("MB/s", "higher")

_INGEST = {
    "ingest.pass_jobs": ("count", "lower"),
    "ingest.written_mb_per_pass": ("MB", "lower"),
    "ingest.store_files": ("count", "lower"),
    "ingest.store_bytes_per_doc": ("B", "lower"),
    "ingest.write_amp": ("ratio", "lower"),
    "ingest.stored_ids_s": ("s", "lower"),
    "ingest.processed_hashes_s": ("s", "lower"),
    "ingest.growth_ratio": ("ratio", "lower"),
}
_INGEST.update({f"ingest.{f}": ("count", "higher") for f in [
    "n_feed", "n_new_ids", "n_backfilled", "n_ingested", "n_skipped_duplicate",
    "n_rollup_delta_rows"]})

_GATE = {
    "gate.add_batch_ms": ("ms", "lower"),
    "gate.query_planning_ms": ("ms", "lower"),
    "gate.wal_commit_ms": ("ms", "lower"),
    "gate.get_batch_ms": ("ms", "lower"),
    "gate.index_files": ("count", "lower"),
    "gate.recall": ("fraction", "higher"),
    "gate.false_gate_frac": ("fraction", "lower"),
    "gate.op_p50_s": ("s", "lower"),
}

SUITE_MODULES = [
    "Relational", "DocumentPipeline", "Events", "Analytics", "Dedup",
    "KeywordSearch", "InvertedIndex", "Redact", "Apss", "Bpe", "Similarity",
    "Graph", "Multimodal", "SparkEntry",
]
_SUITE = {f"suite.{m}_s": ("s", "lower") for m in SUITE_MODULES}
_SUITE["suite.op_p50_s"] = ("s", "lower")

_RUN = {
    "host.cpu_probe_s": ("s", "lower"),
    "trace.op_p50_s": ("s", "lower"),
}

# Layers every workload calls: these are the per-layer metrics of the
# result line, on every traced run.
PER_LAYER = {}
for group in (_SPARK, _RUN):
    PER_LAYER.update(group)

# Layers one workload (or its probe) calls: reported, with the same names,
# in the detail line of that workload's traced runs.
LAYER_DETAIL = {}
for group in (_CURATE, _DEDUP, _KERNEL, _INGEST, _GATE, _SUITE):
    LAYER_DETAIL.update(group)


def median(xs):
    return percentile(xs, 0.5)


def percentile(xs, q):
    """Linear interpolation between closest ranks; None for no samples."""
    if not xs:
        return None
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def reportable(n, q):
    """A percentile above the median is reported only when at least ten
    samples lie beyond it."""
    return q <= 0.5 or round(n * (1 - q), 9) >= 10


TAILS = {0.9: "p90", 0.99: "p99", 0.999: "p999"}


def tail_percentile(n):
    """The highest of p90/p99/p999 that n samples support, or None."""
    return max((q for q in TAILS if reportable(n, q)), default=None)


def setup_seconds(raw):
    """JVM start-up, the median of the repeated set-ups, and the warm-up."""
    return raw["jvm_boot_s"] + median(raw["setup_s"]) + raw["warmup_s"]


def end_to_end(raw):
    lat = [op["s"] for op in raw["ops"]]
    return {
        "setup_s": setup_seconds(raw),
        "op_p50_s": median(lat),
        "ops_per_s": len(lat) / raw["loop_s"],
    }


def per_layer(raw):
    layers = raw.get("layers", {})
    out = {name: float(layers[name]) for name in PER_LAYER if name in layers}
    out["host.cpu_probe_s"] = sum(raw["cpu_probe_s"]) / len(raw["cpu_probe_s"])
    out["trace.op_p50_s"] = median([op["s"] for op in raw["ops"]])
    return out


def complete(raw):
    """Whether the raw result carries everything the metrics need."""
    needed = ("setup_s", "warmup_s", "loop_s", "ops")
    if raw.get("trace") and not all(
            k in raw.get("layers", {}) or k in _RUN for k in PER_LAYER):
        return False
    return all(k in raw for k in needed) and len(raw["ops"]) > 0


def result_line(raw, trace):
    """The final JSON object: correctness, op counts and the metrics."""
    defs = PER_LAYER if trace else END_TO_END
    values = per_layer(raw) if trace else end_to_end(raw)
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": values[k], "unit": defs[k][0]} for k in defs},
    }


def detail_line(raw):
    """Everything else worth keeping from a run: samples, regime, checks."""
    lat = [op["s"] for op in raw["ops"]]
    d = {
        "workload": raw["workload"],
        "seed": raw["seed"],
        "trace": raw["trace"],
        "op_unit": raw.get("op_unit"),
        "samples": len(lat),
        "op_p50_s": median(lat),
        "cpu_probe_s": raw["cpu_probe_s"],
        "jvm_boot_s": raw["jvm_boot_s"],
        "setup_runs_s": raw.get("setup_s"),
        "warmup_s": raw.get("warmup_s"),
        "peak_rss_mb": raw["peak_rss_mb"],
        "op_s": lat,
        "failed_frac": raw["failed"] / max(raw["attempted"], 1),
        "failures": [o["name"] + ": " + o["error"] for o in raw["ops"] if not o["ok"]]
        + [c["name"] + ": " + c["detail"] for c in raw["checks"] if not c["ok"]],
    }
    q = tail_percentile(len(lat))
    if q is not None:
        d[f"op_{TAILS[q]}_s"] = percentile(lat, q)
    layers = raw.get("layers", {})
    if layers:
        d["layers"] = {k: {"value": v, "unit": LAYER_DETAIL[k][0]}
                       for k, v in sorted(layers.items()) if k in LAYER_DETAIL}
    return d
