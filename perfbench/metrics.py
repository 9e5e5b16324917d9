"""Turn one harness result (and its spans) into the benchmark's metrics.

End-to-end metrics come from untraced passes only; per-layer metrics come
from the traced passes of a --trace 1 run, from listener records and from
the spans. Failed operations and failed checks never contribute a time.
"""
import json
import os

import numpy as np

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_ms_p50", "ms"),
              ("op_ms_p90", "ms"), ("live_heap_mb", "MB")]

STREAM_PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets"]
TIERS = ["core", "event", "dedup", "pipeline", "fuzzy", "text"]
NAMED_QUERIES = ["q_tokens_per_doc", "q_span_scrub", "q_dedup_ngram_jaccard",
                 "q_join_semi", "q_join_anti", "q_json_serialize",
                 "q_conditional_suite"]
SHUFFLE_QUERIES = ["q_dedup_ngram_jaccard"]
FUNCTIONS = ["longArrayDot", "cdcChunks", "haversineKm", "jaroWinkler",
             "minhashSig", "rollingHash64", "sanitizeUtf8", "sortedContains",
             "sq8Code"]
LAYERS = ["bench", "session", "query", "streaming", "sources", "ingest",
          "functions"]
TASK_FIELDS = ["run_ms", "gc_ms", "shuffle_read_mb", "shuffle_write_mb",
               "spill_mb", "fetch_wait_ms", "tasks"]


def per_layer_units():
    """(name, unit) of every per-layer metric, in output order."""
    m = [("sources.fetch_ms_p50", "ms"), ("sources.fetch_ms_p95", "ms"),
         ("sources.fetch_in_batch_ms_p50", "ms"),
         ("sources.mock_service_ms_p50", "ms"),
         ("sources.requests_per_cycle", "count")]
    m += [(f"streaming.{p}_ms", "ms") for p in STREAM_PHASES]
    m += [("streaming.trigger_ms_p50", "ms"), ("streaming.trigger_ms_p95", "ms"),
          ("streaming.tasks_per_batch", "count"),
          ("streaming.files_per_batch", "count"),
          ("streaming.lake_bytes_per_row", "B"),
          ("streaming.checkpoint_mb", "MB"), ("streaming.rows_per_s", "1/s")]
    m += [("ingest.normalize_rows_per_s", "1/s"), ("ingest.compact_s", "s"),
          ("ingest.compact_in_mb", "MB"), ("ingest.compact_in_rows", "count"),
          ("ingest.compact_shuffle_write_mb", "MB"),
          ("ingest.compact_spill_mb", "MB"),
          ("ingest.compact_dup_removed_ratio", "ratio"),
          ("ingest.compact_out_files", "count"),
          ("ingest.compact_mb_per_file", "MB"),
          ("ingest.trend_fresh_files_scanned", "count"),
          ("ingest.trend_daily_files_scanned", "count"),
          ("ingest.trend_fresh_ms", "ms"), ("ingest.trend_daily_ms", "ms")]
    m += [("session.start_s", "s"), ("session.warm_s", "s"), ("session.memo_build_s", "s"),
          ("session.storage_mem_mb", "MB"), ("session.storage_disk_mb", "MB"),
          ("session.local_dir_mb", "MB"), ("session.peak_rss_mb", "MB"),
          ("session.local_dir_growth_mb_per_pass", "MB")]
    m += [("query.build_ms_sum", "ms"), ("query.plan_ms_sum", "ms"),
          ("query.exec_ms_sum", "ms")]
    m += [(f"query.{f}", "count" if f == "tasks" else
           ("MB" if f.endswith("_mb") else "ms")) for f in TASK_FIELDS]
    m += [("query.core_util", "ratio")]
    m += [(f"query.tier_ms.{t}", "ms") for t in TIERS]
    m += [(f"query.exec_ms.{q}", "ms") for q in NAMED_QUERIES]
    m += [(f"query.shuffle_write_mb.{q}", "MB") for q in SHUFFLE_QUERIES]
    m += [(f"functions.{f}_ms", "ms") for f in FUNCTIONS]
    m += [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    m += [(f"overhead.{n}", "ratio") for n in ("pass_s", "op_ms_p50", "op_ms_p90")]
    return m


def pct(xs, p):
    return float(np.percentile(np.asarray(xs, dtype=float), p)) if len(xs) else 0.0


def med(xs):
    return pct(xs, 50)


def check_mix(res, work):
    """Oracle-check each query's warm-pass output; then require every timed
    execution of the query to return that many rows. A query that fails
    either check has all its executions marked failed."""
    import oracle  # needs the repo's tools/, so only a mix run loads it
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    warm_ok = {n for n, w in res.get("warm", {}).items() if w["ok"]}
    got = oracle.check_all(os.path.join(work, "data"),
                           os.path.join(work, "outputs"), sql, sorted(warm_ok))
    bad = set(res.get("warm", {})) - warm_ok
    for n, (ok, why, rows) in sorted(got.items()):
        res["checks"].append({"name": f"oracle:{n}", "ok": ok, "detail": why})
        if not ok:
            bad.add(n)
            continue
        for o in res["ops"]:
            if o["name"] == n and o["ok"] and o["rows"] != rows:
                o["ok"] = False
                o["err"] = f"row count {o['rows']} != checked output {rows}"
    for o in res["ops"]:
        if o["name"] in bad and o["ok"]:
            o["ok"] = False
            o["err"] = "output check failed"


def _timed_ops(res, kind, traced):
    return [o for o in res["ops"] if o["kind"] == kind and o["ok"]
            and o["pass"] >= 0 and o["traced"] == traced]


def _pass_ids(res, traced, clean=True):
    """Indices of the traced or untraced passes. With `clean`, a pass that
    holds a failed op (a failed check marks its ops failed) is left out."""
    bad = {o["pass"] for o in res["ops"] if not o["ok"]} if clean else set()
    return [p for p, t in enumerate(res.get("pass_traced", []))
            if t == traced and p not in bad]


def _passes(res, traced, clean=True):
    return [res["pass_ms"][p] for p in _pass_ids(res, traced, clean)]


def self_times(spans):
    """Self time per layer: span duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        iv = sorted((max(a, s["start"]), min(b, s["end"]))
                    for a, b in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def compute(res, spans, workload, t_setup, info):
    kind = "batch" if workload == "cta_pipeline" else "query"
    ops, checks = res["ops"], res["checks"]
    counted = [o for o in ops if o["kind"] != "drain" or not o["ok"]]
    failures = [f"{o['kind']} {o['name']} pass {o['pass']}: {o['err']}"
                for o in counted if not o["ok"]]
    failures += [f"check {c['name']}: {c['detail']}" for c in checks if not c["ok"]]
    attempted = len(counted) + len(checks)
    failed = len(failures)

    def e2e(traced):
        # per-op latency: each op's median over the passes (an op is a query,
        # or the k-th micro-batch of a drain), then percentiles across ops
        by_op = {}
        for o in _timed_ops(res, kind, traced):
            by_op.setdefault(o["name"], []).append(o["ms"])
        lat = [med(v) for v in by_op.values()]
        # no clean pass or no timed op: the metric is missing, not a time
        passes = _passes(res, traced)
        return {"pass_s": med(passes) / 1000.0 if passes else None,
                "op_ms_p50": pct(lat, 50) if lat else None,
                "op_ms_p90": pct(lat, 90) if lat else None}, \
            sum(len(v) for v in by_op.values())

    untraced, n_lat = e2e(False)
    values = {"setup_s": res["first_timed_epoch_ms"] / 1000.0 - t_setup,
              **untraced,
              "live_heap_mb": res["live_heap_mb"]}
    units = dict(END_TO_END)
    if res.get("trace_on"):
        traced_vals, _ = e2e(True)
        values = per_layer(res, spans, workload, info, untraced, traced_vals)
        units = dict(per_layer_units())
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units
               if values[k] is not None}
    prov = {k: res.get(k) for k in ("load_1m_start", "load_1m_end", "heap_max_mb",
                                    "jdk", "spark_version", "confs")}
    if workload == "cta_pipeline":
        prov["headroom"] = headroom(res, info)
    else:
        prov["functions_reached"] = res.get("functions_reached", {})
    return {"result": {"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics},
            "provenance": prov, "failures": failures,
            "op_failed_share": failed / attempted if attempted else 1.0,
            "samples": {"op_latencies": n_lat,
                        "passes": len(_passes(res, False)),
                        "passes_run": len(_passes(res, False, clean=False))}}


def headroom(res, info):
    """This run against the reference's configured envelope (BASELINE.md):
    O(10^2) rows/min fleet-wide (one row per train per minute), landing
    within 900 s, compaction within 30 s."""
    drains = [o["ms"] for o in res["ops"] if o["kind"] == "drain" and o["ok"]
              and o["pass"] >= 0]
    batches = [o["ms"] for o in _timed_ops(res, "batch", False)]
    compacts = [o["ms"] for o in res["ops"] if o["kind"] == "compact" and o["ok"]
                and o["pass"] >= 0]
    out = {}
    if drains and info.get("landed_rows"):
        rows_per_min = info["landed_rows"] / (med(drains) / 60000.0)
        out["rows_per_min"] = rows_per_min
        out["rows_per_min_vs_reference"] = rows_per_min / 150.0
    if batches:
        out["landing_latency_vs_900s"] = 900.0 / (pct(batches, 95) / 1000.0)
    if compacts:
        out["compaction_vs_30s"] = 30.0 / (med(compacts) / 1000.0)
    return out


def per_layer(res, spans, workload, info, untraced, traced):
    v = {name: 0.0 for name, _ in per_layer_units()}
    stats = res.get("task_stats", {})

    def by_prefix(prefix):
        return [m for k, m in stats.items() if k.startswith(prefix)]

    def summed(ms, field):
        return sum(m.get(field, 0.0) for m in ms)

    n_traced = max(1, len(_passes(res, True)))
    v["session.start_s"] = res.get("session_start_ms", 0.0) / 1000.0
    v["session.warm_s"] = res.get("warm_ms", 0.0) / 1000.0
    v["session.storage_mem_mb"] = res.get("storage_mem_mb", 0.0)
    v["session.storage_disk_mb"] = res.get("storage_disk_mb", 0.0)
    v["session.local_dir_mb"] = res.get("local_dir_mb", 0.0)
    v["session.peak_rss_mb"] = res.get("peak_rss_mb", 0.0)
    ld = res.get("local_dir_mb_by_pass", [])
    if len(ld) > 1:
        v["session.local_dir_growth_mb_per_pass"] = (ld[-1] - ld[0]) / (len(ld) - 1)
    # session spans are the one-time set-up; every other layer's self time
    # is given per traced pass
    for k, t in self_times(spans).items():
        v[f"self_ms.{k}"] = t if k == "session" else t / n_traced
    for n in ("pass_s", "op_ms_p50", "op_ms_p90"):
        if untraced[n] and traced[n]:
            v[f"overhead.{n}"] = traced[n] / untraced[n] - 1.0

    if workload == "cta_pipeline":
        # per-batch progress as the StreamingQueryListener received it
        blog = res.get("batch_log", [])
        for p in STREAM_PHASES:
            v[f"streaming.{p}_ms"] = med([b.get(p, 0.0) for b in blog])
        trig = [b.get("triggerExecution", 0.0) for b in blog]
        v["streaming.trigger_ms_p50"] = pct(trig, 50)
        v["streaming.trigger_ms_p95"] = pct(trig, 95)
        bstats = by_prefix("batch:")
        if bstats:
            v["streaming.tasks_per_batch"] = summed(bstats, "tasks") / len(bstats)
        drains = [o["ms"] for o in _timed_ops(res, "drain", True)]
        if drains and info.get("landed_rows"):
            v["streaming.rows_per_s"] = info["landed_rows"] / (med(drains) / 1000.0)
        traced_pass = next((p for p, t in enumerate(res.get("pass_traced", [])) if t), 0)
        lake = res.get(f"lake_{traced_pass}", {})
        daily = res.get(f"daily_{traced_pass}", {})
        n_batches = len([o for o in _timed_ops(res, "batch", True)
                         if o["pass"] == traced_pass])
        if n_batches:
            v["streaming.files_per_batch"] = lake.get("parquet_files", 0) / n_batches
        if info.get("landed_rows"):
            v["streaming.lake_bytes_per_row"] = \
                lake.get("parquet_mb", 0) * 1048576 / info["landed_rows"]
        v["streaming.checkpoint_mb"] = res.get(f"ckpt_{traced_pass}", {}).get("mb", 0.0)
        fetch = res.get("fetch_ms", [])
        v["sources.fetch_ms_p50"] = pct(fetch, 50)
        v["sources.fetch_ms_p95"] = pct(fetch, 95)
        in_batch = [s["end"] - s["start"] for s in spans if s["name"] == "fetch"]
        v["sources.fetch_in_batch_ms_p50"] = pct(in_batch, 50)
        mock = res.get("mock_stats", {})
        v["sources.mock_service_ms_p50"] = mock.get("service_ms_p50", 0.0)
        cycles = sum(1 for o in res["ops"] if o["kind"] == "batch")
        if cycles:
            v["sources.requests_per_cycle"] = \
                (mock.get("requests", 0) - mock.get("probes", 0)) / cycles
        norm = res.get("normalize_ms", [])
        if norm:
            v["ingest.normalize_rows_per_s"] = res["normalize_rows"] / (med(norm) / 1000.0)
        compacts = _timed_ops(res, "compact", True)
        v["ingest.compact_s"] = med([o["ms"] for o in compacts]) / 1000.0
        cstats = by_prefix("compact:")
        if cstats:
            n = len(cstats)
            v["ingest.compact_in_mb"] = summed(cstats, "input_mb") / n
            v["ingest.compact_in_rows"] = summed(cstats, "input_rows") / n
            v["ingest.compact_shuffle_write_mb"] = summed(cstats, "shuffle_write_mb") / n
            v["ingest.compact_spill_mb"] = summed(cstats, "spill_mb") / n
            out_rows = res.get("daily_rows")
            if info.get("raw_dups") and out_rows is not None:
                removed = v["ingest.compact_in_rows"] - out_rows
                v["ingest.compact_dup_removed_ratio"] = removed / info["raw_dups"]
        v["ingest.compact_out_files"] = daily.get("parquet_files", 0)
        if daily.get("parquet_files"):
            v["ingest.compact_mb_per_file"] = daily["parquet_mb"] / daily["parquet_files"]
        v["ingest.trend_fresh_files_scanned"] = lake.get("parquet_files", 0)
        v["ingest.trend_daily_files_scanned"] = daily.get("parquet_files", 0)
        for name in ("trend_fresh", "trend_daily"):
            v[f"ingest.{name}_ms"] = med([o["ms"] for o in _timed_ops(res, "trend", True)
                                          if o["name"] == name])
        return v

    # whole traced passes only: a pass with a failed query is left out
    clean = set(_pass_ids(res, True))
    qops = [o for o in _timed_ops(res, "query", True) if o["pass"] in clean]
    for part in ("build", "plan", "exec"):
        v[f"query.{part}_ms_sum"] = sum(o["parts"][f"{part}_ms"] for o in qops) / n_traced
    qstats = [m for k, m in stats.items()
              if k.startswith("q:") and int(k.rsplit(":", 1)[1]) in clean]
    for f in TASK_FIELDS:
        v[f"query.{f}"] = summed(qstats, f) / n_traced
    exec_ms = sum(o["parts"]["exec_ms"] for o in qops)
    cpus = os.cpu_count() or 1
    if exec_ms:
        v["query.core_util"] = summed(qstats, "run_ms") / (exec_ms * cpus)
    all_ops = [o for o in res["ops"] if o["kind"] == "query" and o["ok"] and o["pass"] >= 0]
    tiers = res.get("tiers", {})
    by_q = {}
    for o in all_ops:
        by_q.setdefault(o["name"], []).append(o)
    for q, os_ in by_q.items():
        t = tiers.get(q)
        if t in TIERS:
            v[f"query.tier_ms.{t}"] += med([o["ms"] for o in os_])
        if q in NAMED_QUERIES:
            v[f"query.exec_ms.{q}"] = med([o["parts"]["exec_ms"] for o in os_])
    for q in SHUFFLE_QUERIES:
        ms = [m for k, m in stats.items() if k.startswith(f"q:{q}:")]
        if ms:
            v[f"query.shuffle_write_mb.{q}"] = summed(ms, "shuffle_write_mb") / len(ms)
    warm = res.get("warm", {})
    v["session.memo_build_s"] = sum(
        max(0.0, w["ms"] - med([o["ms"] for o in by_q[q]]))
        for q, w in warm.items() if q in by_q) / 1000.0
    for f in FUNCTIONS:
        v[f"functions.{f}_ms"] = res.get(f"functions.{f}", 0.0)
    return v
