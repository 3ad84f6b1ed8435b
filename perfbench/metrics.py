"""Turn a run's samples and spans into the reported metrics.

``workload_report`` gives the user-facing metrics of one workload (the
text report of every run). ``per_layer`` gives the layer metrics of a
traced run. Every per-layer metric is reported on every workload: a
layer a workload never calls reads 0.
"""

from __future__ import annotations

import spans
from workloads import REGISTRY_QUERIES

_SPARK = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
          ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
          ("gc_s", "s"), ("core_busy_ratio", "ratio")]

#: (metric, unit, span name or None) — span-timed layers first.
_LAYERS = [
    ("session.build_s", "s", None),
    ("peak_rss_mb", "MB", None),
    ("sources.extract_s", "s", "sources.extract"),
    ("sources.rows_in", "count", None),
    ("pipeline.plan_s", "s", "pipeline.plan"),
    ("pipeline.rows_dropped", "count", None),
    ("marts.report_s", "s", "marts.report"),
    ("lake.commit_s", "s", "lake.commit"),
    ("lake.upsert_s", "s", "lake.upsert"),
    ("lake.commit_retries", "count", None),
    ("lake.read_s", "s", "lake.read"),
    ("lake.files_scanned_per_lookup", "count", None),
    ("lake.files_skipped_ratio", "ratio", None),
    ("lake.live_files", "count", None),
    ("lake.compact_s", "s", "lake.compact"),
    ("lake.bytes_rewritten", "bytes", None),
    ("lake.vacuum_s", "s", "lake.vacuum"),
    ("decontam.s", "s", "decontam"),
    ("decontam.docs_removed", "count", None),
    ("dedup.pairs_s", "s", "dedup.pairs"),
    ("dedup.candidate_pairs", "count", None),
    ("dedup.verified_pairs", "count", None),
    ("dedup.verify_yield", "ratio", None),
    ("dedup.resolve_s", "s", "dedup.resolve"),
    ("dedup.resolve_jobs", "count", None),
    ("sampling.cap_mix_s", "s", "sampling.cap_mix"),
    ("plans.build_s", "s", "plans.build"),
] + [(f"plans.{q}.exec_s", "s", f"plans.{q}") for q in REGISTRY_QUERIES] + [
    (f"spark.{k}", u, None) for k, u in _SPARK
] + [
    ("pass.self_s", "s", None),
    ("trace.overhead_s", "s", None),
    ("lake.commit_s_p50", "s", None),
    ("lake.lookup_s_p50", "s", None),
    ("lake.stored_bytes_per_live_byte", "ratio", None),
    ("dedup.recall", "ratio", None),
    ("failed_ratio", "ratio", None),
]


def per_layer_names() -> list[tuple[str, str]]:
    return [(m, u) for m, u, _ in _LAYERS]


def _pct(values: list[float], q: float):
    """The percentile, or why it is refused."""
    try:
        return spans.percentile(values, q)
    except spans.NotEnoughSamples as exc:
        return f"refused ({exc})"


def workload_report(wl, e2e: dict, extra: dict, failed: int, attempted: int,
                    passes: list) -> dict:
    """{metric: (value, unit)} — the end-to-end metrics of this workload."""
    n = sum(1 for _, traced, _ in passes if not traced)
    out = {
        "setup_s": (e2e["setup_s"], "s"),
        f"job_s (median of {n} passes)": (e2e["job_s"], "s"),
        "cpu_s (per pass)": (e2e["cpu_s"], "s"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "failed_ratio": (failed / attempted if attempted else 0.0, "ratio"),
    }
    s = wl.samples
    if "lookup_s" in s:
        for key, label in (("commit_s", "commit_s"), ("lookup_s", "lookup_s")):
            vals = s.get(key, [])
            out[f"{label}_p50 (n={len(vals)})"] = (spans.median(vals), "s")
            out[f"{label}_p90 (n={len(vals)})"] = (_pct(vals, 0.9), "s")
    for key, value in extra.items():
        out[key] = (value, "ratio")
    return out


def _per_pass(recorded, passes, name, value) -> float:
    """Median over traced passes of the per-pass sum of ``value(span)``
    over spans called ``name``."""
    traced = [p for p, t, _ in passes if t]
    if not traced:
        return 0.0
    return spans.median([sum(value(s) for s in recorded if s.name == name and s.pass_id == p)
                         for p in traced])


def per_layer(wl, tracer, jobs: dict, cores: int, passes: list, build_s: float,
              report: dict, spark) -> dict:
    recorded = tracer.spans
    s = wl.samples
    out: dict[str, float] = {}
    for metric, _unit, span_name in _LAYERS:
        if span_name is not None:
            out[metric] = _per_pass(recorded, passes, span_name, lambda x: x.duration)
    out["session.build_s"] = build_s
    out["peak_rss_mb"] = report["peak_rss_mb"][0]

    def mean(key):
        v = s.get(key, [])
        return sum(v) / len(v) if v else 0.0

    out["sources.rows_in"] = _per_pass(recorded, passes, "sources.extract",
                                       lambda x: x.counts.get("rows_in", 0))
    out["pipeline.rows_dropped"] = mean("rows_dropped")
    out["lake.commit_retries"] = sum(s.get("commit_retries", []))
    out["lake.files_scanned_per_lookup"] = mean("files_scanned")
    total = sum(s.get("files_total", []))
    out["lake.files_skipped_ratio"] = 1.0 - sum(s.get("files_scanned", [])) / total if total else 0.0
    out["lake.live_files"] = mean("live_files")
    out["lake.bytes_rewritten"] = mean("bytes_rewritten")
    corpus = wl.member("corpus_hygiene")
    docs_out = _per_pass(recorded, passes, "decontam", lambda x: x.counts.get("docs_out", 0))
    out["decontam.docs_removed"] = (corpus.N_DOCS - docs_out) if docs_out else 0.0
    verified = _per_pass(recorded, passes, "dedup.pairs",
                         lambda x: x.counts.get("verified_pairs", 0))
    candidates = corpus.candidate_pairs(spark) if corpus else 0
    out["dedup.candidate_pairs"] = candidates
    out["dedup.verified_pairs"] = verified
    out["dedup.verify_yield"] = verified / candidates if candidates else 0.0
    out["dedup.resolve_jobs"] = _per_pass(recorded, passes, "dedup.resolve",
                                          lambda x: x.job_hi - x.job_lo)

    pass_idx = [i for i, sp in enumerate(recorded) if sp.name == "pass"]
    counters = [spans.span_spark_counters(recorded[i], jobs, cores) for i in pass_idx]
    for k, _u in _SPARK:
        out[f"spark.{k}"] = spans.median([c[k] for c in counters]) if counters else 0.0
    out["pass.self_s"] = (spans.median([spans.self_time(recorded, i) for i in pass_idx])
                          if pass_idx else 0.0)

    traced = [d for _, t, d in passes if t]
    untraced = [d for _, t, d in passes if not t]
    out["trace.overhead_s"] = (spans.median(traced) - spans.median(untraced)
                               if traced and untraced else 0.0)
    out["lake.commit_s_p50"] = spans.median(s["commit_s"]) if s.get("commit_s") else 0.0
    out["lake.lookup_s_p50"] = spans.median(s["lookup_s"]) if s.get("lookup_s") else 0.0
    out["lake.stored_bytes_per_live_byte"] = report.get(
        "stored_bytes_per_live_byte", (0.0, ""))[0]
    out["dedup.recall"] = report.get("dup_recall", (0.0, ""))[0]
    out["failed_ratio"] = report["failed_ratio"][0]
    return out
