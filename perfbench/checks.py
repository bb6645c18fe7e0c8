"""Output checks for every call the benchmark makes.

`check_calls` returns one failure string per failed call; a call fails when
it raised, or when its output breaks the contract of its tool:

- query: at most `limit` rows, ordered by `boosted`, scope and maxFiles
  respected, a just-ingested file present and a just-deleted one absent;
- neighbors: exactly the clamped index range around the target, ascending,
  with `isTarget` on the target only;
- list_files / status: the generator's file count, every file ingested, one
  chunk total across calls, enough chunks for the IVF route;
- sync: the SyncSummary counts and the file count after it match the seeded
  change set;
- mutate: an ingested file produced chunks.
"""


def check_query(out):
    rows, errs = out["rows"], []
    # a scoped query on the IVF route may legitimately come back short, even
    # empty (the probed lists can hold no in-scope chunk); unscoped queries
    # over a non-empty corpus always have rows
    if not rows and not out.get("scope"):
        errs.append("no rows")
    if len(rows) > out["limit"]:
        errs.append(f"{len(rows)} rows > limit {out['limit']}")
    boosted = [r[2] for r in rows]
    if boosted != sorted(boosted):
        errs.append("not ordered by boosted")
    for scope in out.get("scope", []):
        if any(not r[0].startswith(scope + "/") for r in rows):
            errs.append(f"row outside scope {scope}")
    files = {r[0] for r in rows}
    if "maxFiles" in out and len(files) > out["maxFiles"]:
        errs.append(f"{len(files)} files > maxFiles {out['maxFiles']}")
    if "expect_present" in out and out["expect_present"] not in files:
        errs.append(f"ingested {out['expect_present']} not found")
    if "expect_absent" in out and out["expect_absent"] in files:
        errs.append(f"deleted {out['expect_absent']} still found")
    return errs


def check_neighbors(out, long_doc):
    t, n = out["target"], out["n_chunks"]
    want = list(range(max(0, t - 2), min(n - 1, t + 2) + 1))
    got = [r[0] for r in out["rows"]]
    errs = []
    if got != want:
        errs.append(f"indexes {got} != {want}")
    if [r[1] for r in out["rows"]] != [i == t for i in got]:
        errs.append("isTarget flags wrong")
    if any(r[2] != long_doc for r in out["rows"]):
        errs.append("row from another file")
    return errs


def check_sync(out):
    exp = out["expect"]
    errs = [f"{k} {out[k]} != {exp[k]}" for k in ("upserted", "skipped", "pruned")
            if k in exp and out[k] != exp[k]]
    if out["status_files"] != exp["files"]:
        errs.append(f"status files {out['status_files']} != {exp['files']}")
    if out["empty"] or out["held"]:
        errs.append(f"empty {out['empty']} held {out['held']}")
    return errs


def check_calls(spec, res):
    calls, failures = res["calls"], []
    # one chunk total must hold across every read-only status/list call
    totals = {c["out"]["chunks"] for c in calls
              if c["kind"] in ("status", "list_files") and "error" not in c}
    for c in calls:
        kind, out = c["kind"], c["out"]
        if "error" in c:
            errs = [c["error"][:300]]
        elif kind in ("query", "query_filtered"):
            errs = check_query(out)
        elif kind == "neighbors":
            errs = check_neighbors(out, spec["long_doc"])
        elif kind == "list_files":
            errs = [] if out["rows"] == out["ingested"] == spec["expect_files"] \
                else [f"list_files {out['rows']}/{out['ingested']} != "
                      f"{spec['expect_files']}"]
        elif kind == "status":
            errs = [] if out["files"] == spec["expect_files"] else \
                [f"status files {out['files']} != {spec['expect_files']}"]
            if out["chunks"] < spec["expect_min_chunks"]:
                errs.append(f"{out['chunks']} chunks < {spec['expect_min_chunks']}")
        elif kind.startswith("sync_"):
            errs = check_sync(out)
        elif kind == "mutate":
            errs = [] if out["op"] == "delete" or out["chunks"] > 0 else \
                ["ingest produced no chunks"]
        else:
            errs = [f"unknown call kind {kind}"]
        if kind in ("status", "list_files") and len(totals) > 1:
            errs.append(f"chunk totals differ across calls: {sorted(totals)}")
        if errs:
            failures.append(f"{c['id']} {kind}: " + "; ".join(errs))
    return failures
