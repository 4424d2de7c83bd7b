"""End-to-end and per-layer metrics from a finished run.

Per-layer figures come from the spans of the traced passes (see
``trace.py``) and are per pass unless named otherwise. A layer a workload
does not touch reports 0, which is the prediction for that workload.
"""

from __future__ import annotations

from perfbench import stats
from perfbench.workloads import AnnServing, TextCuration

STORE_OPS = ("write_offline", "write_online", "get_online", "get_historical")
QUERY_OPS = [n for w in (TextCuration, AnnServing) for n, _k, _a in w.ops]

#: Wall-clock figures of the whole run: printed with ``--trace 0``, and
#: per-layer metrics with ``--trace 1``. They are not end-to-end metrics,
#: because on a shared machine they spread from run to run by more than
#: any bound a change could be held to (see README.md).
WALL: dict[str, str] = {
    "pass_s": "s",
    "op_gmean_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER: dict[str, str] = {
    **WALL,
    "session.start_s": "s",
    "session.warm_s": "s",
    "setup.cold_pass_s": "s",
    "cache.build_s": "s",
    "cache.build_jobs": "count",
    "cache.warm_construct_s": "s",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "python.udf_nodes": "count",
    "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB",
    "python.task_run_s": "s",
    **{
        f"store.{op}.{m}": u
        for op in STORE_OPS
        for m, u in (("call_ms", "ms"), ("jobs", "count"), ("files_read", "count"))
    },
    "store.write_online.bytes_per_row": "bytes",
    "store.ingest_s": "s",
    "store.bytes_per_row": "bytes",
    "offline.commit_ratio": "ratio",
    "offline.files": "count",
    "offline.versions": "count",
    **{
        f"q.{n}.{m}": u
        for n in QUERY_OPS
        for m, u in (("construct_s", "s"), ("exec_s", "s"), ("stages", "count"))
    },
    "trace.overhead_pct": "%",
}

MB = 1024.0 * 1024.0

#: The workload-specific latency figures, printed by name where the
#: workload runs the op: (name, op kind, percentile, scale, unit).
NAMED_LATENCIES = (
    ("online_lookup_p50_ms", "get_online", 50, 1000.0, "ms"),
    ("online_lookup_p90_ms", "get_online", 90, 1000.0, "ms"),
    ("historical_p50_s", "get_historical", 50, 1.0, "s"),
    ("ingest_p50_s", "ingest", 50, 1.0, "s"),
    ("serve_p50_s", "serve", 50, 1.0, "s"),
)


def end_to_end(client, wl, setup_s: float, walls, cpus, rss_mb: float) -> dict:
    """The end-to-end metrics, and the wall-clock figures in ``WALL``."""
    return {
        "setup_s": setup_s,
        "pass_cpu_s": stats.median(cpus),
        "op_cpu_ms": 1000.0 * stats.geomean(client.cpu[wl.read_kind]),
        "pass_s": stats.median(walls),
        "op_gmean_ms": 1000.0 * stats.geomean(client.lat[wl.read_kind]),
        "peak_rss_mb": rss_mb,
    }


def extra_lines(client, shape: dict) -> dict[str, str]:
    """The workload's own latency figures, each with its sample count, and
    the output checks. A tail percentile is shown only when the rule in
    ``stats`` allows it."""
    out: dict[str, str] = {}
    attempted = client.attempted + client.checks_run
    out["error_rate"] = (
        f"{len(client.failures) / attempted:.4f} ratio "
        f"({len(client.failures)} of {client.attempted} ops + {client.checks_run} checks)"
    )
    for name, kind, q, scale, unit in NAMED_LATENCIES:
        xs = client.lat.get(kind)
        if not xs:
            continue
        v = stats.median(xs) if q == 50 else stats.tail(xs, q)
        shown = "n/a, too few samples" if v is None else f"{scale * v:.6g} {unit}"
        out[name] = f"{shown} (n={len(xs)})"
    if "store.bytes_per_row" in shape:
        out["store_bytes_per_row"] = f"{shape['store.bytes_per_row']:.6g} bytes"
    for kind, xs in sorted(client.lat.items()):
        line = f"{1000 * stats.median(xs):.1f} ms p50"
        for q in (90, 99):
            v = stats.tail(xs, q)
            if v is not None:
                line += f", {1000 * v:.1f} ms p{q}"
        out[f"latency.{kind}"] = f"{line} (n={len(xs)})"
    for k, v in shape.items():
        out[k] = f"{v:.6g}"
    for i, f in enumerate(client.failures[:10]):
        out[f"failure.{i}"] = f
    return out


def per_layer(tracer, wl, session, setup, shape, passes, pass_spans, cores, result) -> dict:
    m = dict.fromkeys(PER_LAYER, 0.0)
    for k in WALL:
        m[k] = result[k]
    m["session.start_s"] = session["start_s"]
    m["session.warm_s"] = session["warm_s"]
    m["setup.cold_pass_s"] = setup["cold_pass_s"]
    for k, v in shape.items():
        m[k] = v
    n = len(pass_spans)
    in_pass = {t.id for p in pass_spans for t in tracer.subtree(p)}
    spans = [s for s in tracer.spans if s.id in in_pass]

    def named(suffix: str, layer: str, pool=spans):
        return [s for s in pool if s.layer == layer and s.name.endswith(suffix)]

    construct = named(".construct", "plans")
    m["plans.construct_s"] = sum(s.seconds for s in construct) / n
    m["plans.construct_jobs"] = tracer.totals(construct).get("jobs", 0) / n
    work = [s for s in spans if s.layer in ("exec", "store")]
    tot = tracer.totals(work)
    m["exec.s"] = sum(s.seconds for s in work) / n
    for key, name, scale in (
        ("jobs", "exec.jobs", 1),
        ("stages", "exec.stages", 1),
        ("tasks", "exec.tasks", 1),
        ("task_run_ms", "exec.task_run_s", 1e-3),
        ("task_cpu_ns", "exec.task_cpu_s", 1e-9),
        ("shuffle_read_bytes", "exec.shuffle_read_mb", 1 / MB),
        ("shuffle_write_bytes", "exec.shuffle_write_mb", 1 / MB),
    ):
        m[name] = tot.get(key, 0) * scale / n
    traced_walls = [w for traced, w, _c in passes if traced]
    m["exec.core_util"] = m["exec.task_run_s"] / (stats.median(traced_walls) * cores)
    py = tracer.totals(pass_spans)
    m["python.udf_nodes"] = py.get("py_nodes", 0) / n
    m["python.data_sent_mb"] = py.get("py_sent_bytes", 0) / MB / n
    m["python.data_received_mb"] = py.get("py_received_bytes", 0) / MB / n
    m["python.task_run_s"] = py.get("py_task_run_ms", 0) / 1e3 / n

    for op in STORE_OPS:
        calls = [s for s in spans if s.name == f"store.{op}"]
        if calls:
            t = tracer.totals(calls)
            m[f"store.{op}.call_ms"] = 1000 * stats.median([s.seconds for s in calls])
            m[f"store.{op}.jobs"] = t.get("jobs", 0) / len(calls)
            m[f"store.{op}.files_read"] = t.get("files_read", 0) / len(calls)
    upserts = [s for s in tracer.spans if s.name == "store.write_online"]
    if upserts and getattr(wl, "expected_rows", 0):
        m["store.write_online.bytes_per_row"] = (
            tracer.totals(upserts).get("output_bytes", 0) / wl.expected_rows
        )
    ingests = [s for s in spans if s.name == "ingest" and s.layer == "op"]
    if ingests:
        m["store.ingest_s"] = stats.median([s.seconds for s in ingests])

    cold = {s.name: s for s in tracer.spans if s.id not in in_pass and s.layer == "plans"}
    for name in {s.name[2:-10] for s in construct}:
        warm = named(f"q.{name}.construct", "plans")
        ex = named(f"q.{name}.exec", "exec")
        m[f"q.{name}.construct_s"] = stats.median([s.seconds for s in warm])
        m[f"q.{name}.exec_s"] = stats.median([s.seconds for s in ex])
        m[f"q.{name}.stages"] = tracer.totals(ex).get("stages", 0) / len(ex)
        if name in wl.cached:
            c = cold[f"q.{name}.construct"]
            m["cache.build_s"] += c.seconds - m[f"q.{name}.construct_s"]
            m["cache.build_jobs"] += c.spark.get("jobs", 0) - tracer.totals(warm).get(
                "jobs", 0
            ) / len(warm)
            m["cache.warm_construct_s"] += sum(s.seconds for s in warm) / n

    untraced = [w for traced, w, _c in passes if not traced]
    if untraced:
        base = stats.median(untraced)
        m["trace.overhead_pct"] = 100.0 * (stats.median(traced_walls) - base) / base
    return m
