"""Turn request records and spans into the metrics BENCHMARK.json names."""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from spans import percentile, self_times

#: Layer spans inside a request whose mean self time per traced request
#: is reported as ``<name>_s``.
REQUEST_LAYERS = (
    "query.translate",
    "query.sql",
    "plans.build",
    "exec.plan",
    "export.to_pandas",
)
#: The tail percentile. A p90 needs 100 requests for ten samples beyond
#: it, more than a cold curation run fits in the benchmark's time.
TAIL_Q = 0.75
COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks")


def _done(records):
    """Requests that returned a result (checked or not)."""
    return [r for r in records if r["ok"]]


def end_to_end(records, setup_s) -> dict[str, tuple[float, str]]:
    lat = [r["latency"] for r in _done(records)]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (percentile(lat, 0.5), "s"),
        "latency_p75_s": (percentile(lat, TAIL_Q), "s"),
        "throughput_rps": (len(lat) / sum(lat), "1/s"),
    }


def by_kind(records) -> dict[str, list]:
    """Request kind -> [requests done, median latency in s]."""
    lat = defaultdict(list)
    for r in _done(records):
        lat[r["kind"]].append(r["latency"])
    return {k: [len(v), round(median(v), 4)] for k, v in sorted(lat.items())}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(records, spans, load, hwm_kb) -> dict[str, tuple[float, str]]:
    """``load`` is the (bytes, seconds) of the workload's set-up load."""
    st = self_times(spans)
    by_rid = defaultdict(list)
    for sp in spans:
        by_rid[sp.rid].append(sp)

    def seconds(name):
        return sum((sp.end - sp.start for sp in spans if sp.name == name), 0.0)

    traced = [r for r in _done(records) if r["traced"]]
    layer = {r["rid"]: defaultdict(float) for r in traced}
    root = {}
    for r in traced:
        for sp in by_rid[r["rid"]]:
            if sp.name == "request":
                root[r["rid"]] = sp.end - sp.start
            else:
                layer[r["rid"]][sp.name] += st[sp.sid]
    nbytes, load_s = load
    out = {
        "session.get_spark_s": (seconds("session.get_spark"), "s"),
        "sources.inflate_s": (seconds("sources.inflate"), "s"),
        "sources.ingest_s": (seconds("sources.ingest"), "s"),
        "sources.ingest_bytes": (float(nbytes) if seconds("sources.ingest") else 0.0, "bytes"),
        "sources.load_mb_per_s": (nbytes / load_s / 1e6, "MB/s"),
    }
    for name in REQUEST_LAYERS:
        out[f"{name}_s"] = (_mean(layer[rid][name] for rid in layer), "s")
    out["exec.action_s"] = (
        _mean(layer[rid]["exec.action"] + layer[rid]["export.to_pandas"] for rid in layer), "s"
    )
    builds = [rid for rid in layer if layer[rid].get("plans.build", 0.0) > 0.0]
    out["plans.build_share"] = (
        sum(layer[rid]["plans.build"] for rid in builds) / sum(root[rid] for rid in builds)
        if builds else 0.0,
        "frac",
    )
    out["result.rows"] = (_mean(r["rows"] for r in _done(records)), "count")
    for name in COUNTS:
        out[name] = (_mean(r.get(name, 0) for r in traced), "count")
    out["cache.released"] = (
        _mean(r["stats"].get("cache.released", 0) for r in _done(records)), "count"
    )

    lat = defaultdict(lambda: ([], []))
    for r in _done(records):
        lat[r["kind"]][r["traced"]].append(r["latency"])
    ratios = [median(t) / median(u) for u, t in lat.values() if u and t]
    out["trace.overhead_frac"] = (median(ratios) - 1.0 if ratios else 0.0, "frac")
    out["trace.accounted_share"] = (
        sum(sum(layer[rid].values()) for rid in layer) / sum(root.values()) if root else 0.0,
        "frac",
    )
    out["mem.python_hwm_mb"] = (hwm_kb["python"] / 1024.0, "MB")
    out["mem.jvm_hwm_mb"] = (hwm_kb["jvm"] / 1024.0, "MB")
    out["failed_frac"] = (
        sum(1 for r in records if not r["ok"] or r["mismatch"]) / len(records), "frac"
    )
    return out
