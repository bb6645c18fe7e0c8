"""Per-layer metrics of a traced run.

The JVM runner keeps spans in memory and writes them when the run ends:
one root span per traced Engine call (layer `api`), one per layer probe
(layers search, store, embed, chunker, ingest, sync, queries), and one per
Spark job (layer `spark`), hung under the span whose job group it ran in.  A span's self time is its duration
minus the part of it its child jobs cover.  Catalyst time (analysis +
optimization + planning, from QueryExecution.tracker) is attributed to the
call whose window the query execution started in.
"""
import json
import os
import statistics

PROBE_LAYERS = ["search", "store", "embed", "chunker", "ingest", "sync",
                "queries"]
MB = 1048576.0


def covered_ms(start, end, jobs):
    """length of [start, end] covered by the union of the jobs' intervals"""
    iv = sorted((max(start, j["start_ms"]), min(end, j["end_ms"])) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def call_split(call, jobs, catalyst):
    end = call["start_ms"] + call["ms"]
    job_ms = covered_ms(call["start_ms"], end, jobs)
    rows = call["out"].get("rows", 0)
    rows_out = len(rows) if isinstance(rows, list) else rows
    records = sum(j["records_read"] for j in jobs)
    return {
        "jobs": len(jobs), "job_ms": job_ms, "driver_gap_ms": call["ms"] - job_ms,
        "catalyst_ms": sum(ms for st, ms in catalyst
                           if call["start_ms"] <= st <= end),
        "task_ms": sum(j["task_ms"] for j in jobs), "rows_read": records,
        "rows_read_per_row": records / rows_out if rows_out else None,
        "shuffle_mb": sum(j["shuffle_bytes"] for j in jobs) / MB,
        "spill_mb": sum(j["spill_bytes"] for j in jobs) / MB,
    }


def mean(xs):
    xs = [x for x in xs if x is not None]
    return statistics.fmean(xs) if xs else 0.0


def per_layer(res, timed, work):
    spans = res["spans"]
    jobs_of = {}
    for s in spans:
        if s["layer"] == "spark":
            jobs_of.setdefault(s["parent"], []).append(s)
    traced = [c for c in timed if c["traced"]]
    splits = [dict(call_split(c, jobs_of.get(c["id"], []), res["catalyst"]),
                   kind=c["kind"]) for c in traced]
    metrics = {
        "spark.jobs_per_call": ("count", mean(s["jobs"] for s in splits)),
        "spark.catalyst_ms_per_call": ("ms", mean(s["catalyst_ms"] for s in splits)),
        "spark.driver_gap_ms_per_call": ("ms", mean(s["driver_gap_ms"] for s in splits)),
        "spark.job_ms_per_call": ("ms", mean(s["job_ms"] for s in splits)),
        "spark.task_ms_per_call": ("ms", mean(s["task_ms"] for s in splits)),
        "spark.rows_read_per_call": ("count", mean(s["rows_read"] for s in splits)),
        "spark.shuffle_mb_per_call": ("MB", mean(s["shuffle_mb"] for s in splits)),
    }
    by_op = {}
    for s in splits:
        by_op.setdefault(s["kind"], []).append(s)
    detail = {"ops": {k: {f: mean(x[f] for x in v) for f in v[0] if f != "kind"}
                      for k, v in sorted(by_op.items())}}

    # layer probes: self time per layer, and their own figures
    units = {"_ms": "ms", "_s": "s", "_per_s": "1/s", "_us": "us",
             "mb_per_s": "MB/s", "per_user_byte": "B/B", "recall_at_20": "ratio"}
    for name, value in res["probes"].items():
        unit = next(u for suf, u in sorted(units.items(), key=lambda x: -len(x[0]))
                    if name.endswith(suf))
        metrics[name] = (unit, value)
    self_ms = {layer: 0.0 for layer in PROBE_LAYERS + ["spark"]}
    queries_mb = 0.0
    out = []
    for s in spans:
        if s["layer"] == "spark":
            out.append(s)
            continue
        jobs = jobs_of.get(s["id"], [])
        cov = covered_ms(s["start_ms"], s["end_ms"], jobs)
        own = s["end_ms"] - s["start_ms"] - cov
        out.append(dict(s, self_ms=own))
        if s["id"].startswith("s"):  # a probe span
            self_ms[s["layer"]] += own
            self_ms["spark"] += cov
            if s["layer"] == "queries":
                queries_mb += sum(j["shuffle_bytes"] for j in jobs) / MB
    for layer, v in self_ms.items():
        metrics[f"self_ms.{layer}"] = ("ms", v)
    metrics["queries.shuffle_mb"] = ("MB", queries_mb)
    with open(os.path.join(work, "spans.jsonl"), "w") as f:
        for s in out:
            f.write(json.dumps(s) + "\n")
    detail["spans"] = len(out)
    if "ann_recall_at_20" in res:
        detail["contract.ann_recall_at_20"] = res["ann_recall_at_20"]
    result = {k: {"value": v, "unit": u} for k, (u, v) in sorted(metrics.items())}
    result["_detail"] = detail
    return result
