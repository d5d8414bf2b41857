"""Metric rules of the benchmark: medians, the tail percentile, failure
counting and the metric records printed on the result line."""

import statistics

# The tail is the highest percentile with at least this many samples
# beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """Returns (value, percentile, samples) of the highest percentile with
    at least TAIL_BEYOND samples above it: the (TAIL_BEYOND+1)-th largest
    sample, at percentile 100*(n-TAIL_BEYOND)/n. Below 2*TAIL_BEYOND
    samples that percentile would sit under the median, so the tail is
    the median (percentile 50)."""
    n = len(values)
    if n < 2 * TAIL_BEYOND:
        return median(values), 50.0, n
    ordered = sorted(values)
    return ordered[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n, n


def count_failures(attempted, failed, oracle_failed=(), checks=()):
    """Failed operations: those the workload saw fail or return a wrong
    result, plus each query whose result the DuckDB oracle rejected, but
    never more than were attempted. A failed check that names no
    operation fails the run as a whole (it makes `correct` false) but
    adds no operation."""
    total = failed + len(set(oracle_failed))
    return min(attempted, total), all(ok for ok in checks) and total == 0


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res):
    """End-to-end metrics of one untraced run's result record."""
    lat = res["latencies_ms"]
    p50 = median(lat)
    tail_ms, tail_pct, n = tail(lat)
    staging = median(res["staging_s"])
    window = res["window_s"]
    return {
        "setup_s": metric(res["engine_s"] + staging + res["warmup_s"], "s"),
        "throughput_per_s": metric(res["items"] / window if window > 0 else 0.0, "1/s"),
        "latency_p50_ms": metric(p50, "ms"),
        "latency_tail_ms": metric(tail_ms, "ms"),
        "peak_rss_mb": metric(res["peak_rss_kb"] / 1024.0, "MB"),
    }, {"tail_percentile": tail_pct, "samples": n}
