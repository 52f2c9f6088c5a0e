"""Arithmetic of the benchmark report: percentiles, span self time, and the
reduction of a run's raw samples to the metrics BENCHMARK.json names."""
import math


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
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


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    its children cover (children clipped to the parent). Returns {id: ns}."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ns"], sp["end_ns"]
        covered = union_length([(max(c["start_ns"], s), min(c["end_ns"], e))
                                for c in children.get(sp["id"], [])])
        out[sp["id"]] = (e - s) - covered
    return out


def self_time_by_name(spans):
    """{(layer, name): [self ns, ...]} over all spans."""
    st = self_times(spans)
    out = {}
    for sp in spans:
        out.setdefault((sp["layer"], sp["name"]), []).append(st[sp["id"]])
    return out


def job_self_ms(spans):
    """Self time (ms) of each job span: the part no stage or batch covers."""
    st = self_times(spans)
    return [st[sp["id"]] / 1e6 for sp in spans if sp["parent"] == 0 and sp["name"].startswith("job.")]


# Per-layer metrics whose sample is reduced by something other than the
# median: name -> (raw sample name, reducer).
SPECIAL = {
    "streaming.batch_ms_p50": ("streaming.batch_ms", median),
    "streaming.batch_ms_max": ("streaming.batch_ms", max),
    "streaming.latency_ms_p99": ("latency_ms", lambda v: quantile(v, 0.99)),
    "check.count_rel_err": ("check.count_rel_err", lambda v: sum(v) / len(v)),
}


def _reduce(v, how=median):
    if isinstance(v, list):
        return how(v) if v else 0.0
    return 0.0 if v is None else v


def end_to_end(values):
    """The end-to-end metrics of a run from its raw samples."""
    lat = values.get("latency_ms") or [s * 1000 for s in values.get("job_s", [])]
    recall = values.get("recall_at_k") or []
    return {
        "setup_s": median(values["setup_s"]),
        "ops_per_s": values["ops_per_s"],
        "latency_ms_p50": median(lat),
        "recall_at_k": sum(recall) / len(recall) if recall else 0.0,
    }


def per_layer(names, values, spans):
    """Every named per-layer metric; a layer the workload does not exercise
    reads 0."""
    out = {}
    for name in names:
        if name in SPECIAL:
            raw, how = SPECIAL[name]
            out[name] = _reduce(values.get(raw), how)
        elif name == "trace.job_self_ms":
            out[name] = _reduce(job_self_ms(spans))
        else:
            out[name] = _reduce(values.get(name))
    return out
