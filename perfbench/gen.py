"""Seeded input generation for the benchmark workloads.

Everything the program sees is derived from the workload seed through one
`random.Random`, so the same seed gives a byte-identical corpus, table set
and call sequence.  `write_inputs` materialises a workload under a work
directory and returns the spec (JSON-able) that the JVM runner executes;
every path in the spec is relative to that work directory.
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The word list and shape of the synthetic `documents` table: bag-of-words
# texts of 8..95 words, 5% near-duplicates (a copy of another text plus
# " dup"), five languages, twenty sources.
DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the").split()
LANGS = ["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14
# Sentence-cased prose with periods, so the sentence splitter and the
# Max-Min chunker do real work (about 1.25 sentences per chunk).
PROSE_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu anchor beacon cipher dynamo ember falcon granite harbor "
    "ivory jungle kernel lantern meadow nebula orchid prism quartz ridge "
    "summit thicket umbra vertex willow zenith").split()

# Workload sizes, chosen so one run fits in under a minute.  serve_read's
# corpus is above the engine's ANN routing threshold (4096 chunks), so
# queries take the IVF route; its long document (about 4k chunks) stands in
# for the reference's 10k-chunk neighbour-read document.
SERVE_DOCS = 300
SERVE_DIRS = 5
LONG_DOC_SENTENCES = 5000
SYNC_DOCS = 60
SYNC_DIRS = 4
SMALL_BATCH = (1, 1, 1)    # edits, additions, deletions: 2 upserts < 32
BULK_BATCH = (20, 13, 3)   # 33 upserts >= 32: the batched execute path
MUTATIONS_PER_ROUND = 1    # ingestFile + deleteDocument pairs
WARM_CYCLES = 1            # before serve_read's timed region
# serve_read's cycle, 13 calls: 6 plain queryDocuments (the majority), one
# query each with grouping, maxFiles and scope, 2 neighbour reads, one
# listFiles and one status.  The counts are a chosen mix, not taken from a
# caller trace; they are fixed so that every seed weights the kinds alike.
SERVE_MIX = (6, 2)         # plain queries, neighbour reads per cycle
PROBE_DOCS = 150
PROBE_LONG_SENTENCES = 1500


def doc_texts(rng, n):
    """(doc_id, text, lang, source) rows shaped like `documents.parquet`."""
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            text = texts[rng.randrange(len(texts))] + " dup"
        else:
            # at least the chunker's 50-character minimum, so every file
            # ingests (a shorter one is counted `empty` and never stored)
            text = ""
            while len(text) < 60:
                text = " ".join(rng.choice(DOC_VOCAB)
                                for _ in range(rng.randint(8, 95)))
        texts.append(text)
    return [(i, t, rng.choice(LANGS), f"src{i % 20}")
            for i, t in enumerate(texts)]


def prose(rng, n_sentences):
    lines = []
    for _ in range(n_sentences):
        words = [rng.choice(PROSE_VOCAB) for _ in range(rng.randint(6, 17))]
        lines.append(" ".join(words).capitalize() + ".")
    return "\n".join(lines) + "\n"


def query_text(rng):
    return " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(2, 4)))


def write_file(work, rel, text):
    path = os.path.join(work, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def serve_read(rng, work):
    files, by_dir = [], {}
    for doc_id, text, _, _ in doc_texts(rng, SERVE_DOCS):
        d = f"corpus/d{rng.randrange(SERVE_DIRS):02d}"
        rel = f"{d}/doc_{doc_id:05d}.txt"
        write_file(work, rel, text)
        files.append(rel)
        by_dir.setdefault(d, []).append(text)
    long_doc = "corpus/long/long_doc.txt"
    write_file(work, long_doc, prose(rng, LONG_DOC_SENTENCES))
    files.append(long_doc)

    def scoped_query():
        # a caller scopes a search to the directory that holds what it is
        # after: four consecutive words of one of that directory's documents
        d = sorted(by_dir)[rng.randrange(len(by_dir))]
        words = rng.choice(by_dir[d]).split()
        i = rng.randrange(max(1, len(words) - 3))
        return {"kind": "query_filtered", "q": " ".join(words[i:i + 4]),
                "scope": [d]}

    def cycle(n_query, n_neighbors):
        # one closed-loop cycle: fixed call-kind counts in a fixed order
        # (plain queries alternating with the others), so that in every run
        # each call shape sits at the same point of the JVM's warm-up; the
        # seed sets every call's parameters
        others = [
            {"kind": "query_filtered", "q": query_text(rng),
             "grouping": rng.choice(["similar", "related"])},
            {"kind": "neighbors", "frac": rng.random()},
            {"kind": "query_filtered", "q": query_text(rng),
             "maxFiles": rng.randint(2, 4)},
            {"kind": "list_files"},
            scoped_query()]
        others += [{"kind": "neighbors", "frac": rng.random()}
                   for _ in range(n_neighbors - 1)]
        others.append({"kind": "status"})
        plain = [{"kind": "query", "q": query_text(rng)} for _ in range(n_query)]
        ops = []
        while plain or others:
            ops += [plain.pop(0)] if plain else []
            ops += [others.pop(0)] if others else []
        return ops

    return {
        "roots": ["corpus"],
        "expect_files": len(files),
        # above the engine's AnnCorpusThreshold, so queries take the IVF route
        "expect_min_chunks": 4097,
        "long_doc": long_doc,
        "warm_cycles": [cycle(1, 1) for _ in range(WARM_CYCLES)],
        "cycles": [cycle(*SERVE_MIX) for _ in range(40)],
    }


def sync_write(rng, work):
    live = {}
    for doc_id, text, _, _ in doc_texts(rng, SYNC_DOCS):
        live[f"d{rng.randrange(SYNC_DIRS)}/doc_{doc_id:05d}.txt"] = text
    for rel, text in sorted(live.items()):
        write_file(work, "corpus/" + rel, text)
    base_files = len(live)
    next_id = [SYNC_DOCS]

    def new_rel():
        next_id[0] += 1
        return f"d{rng.randrange(SYNC_DIRS)}/new_{next_id[0]:05d}.txt"

    def change_set(sizes):
        n_edit, n_add, n_del = sizes
        names = sorted(live)
        picked = rng.sample(names, n_edit + n_del)
        edits, dels = picked[:n_edit], picked[n_edit:]
        writes = [[rel, live[rel] + " " + query_text(rng)] for rel in edits]
        writes += [[new_rel(), doc_texts(rng, 1)[0][1]] for _ in range(n_add)]
        for rel, text in writes:
            live[rel] = text
        for rel in dels:
            del live[rel]
        return {"writes": writes, "deletes": dels,
                "expect": {"upserted": n_edit + n_add, "pruned": n_del,
                           "skipped": len(live) - n_edit - n_add,
                           "files": len(live)}}

    def round_():
        # rounds run one after another on the same store, each starting
        # where the last one left the corpus
        rnd = {"files": len(live), "small": change_set(SMALL_BATCH),
               "bulk": change_set(BULK_BATCH), "mutations": []}
        for _ in range(MUTATIONS_PER_ROUND):
            rel = new_rel()
            text = prose(rng, rng.randint(4, 12))
            # query with its longest sentence: the chunker drops chunks
            # under 50 characters, so a shorter one may never be indexed
            rnd["mutations"].append({"kind": "ingest", "rel": rel, "text": text,
                                     "q": max(text.splitlines(), key=len)})
            live[rel] = text
            gone = rng.choice(sorted(live))
            rnd["mutations"].append({"kind": "delete", "rel": gone,
                                     "q": live.pop(gone)})
        return rnd

    return {"base_files": base_files, "warm_query": query_text(rng),
            "rounds": [round_() for _ in range(4)]}


def documents_table(rng, n, out):
    os.makedirs(out, exist_ok=True)
    docs = doc_texts(rng, n)
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs], "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64())}),
        os.path.join(out, "documents.parquet"))


def probe_inputs(rng, work):
    """The small corpus the traced run's layer probes read."""
    files = []
    for doc_id, text, _, _ in doc_texts(rng, PROBE_DOCS):
        rel = f"probe/corpus/p{doc_id % 4}/doc_{doc_id:05d}.txt"
        write_file(work, rel, text)
        files.append(rel)
    long_doc = "probe/corpus/long/long_doc.txt"
    write_file(work, long_doc, prose(rng, PROBE_LONG_SENTENCES))
    # the dedup query ROADMAP item 4 targets reads only `documents`
    documents_table(rng, 500, os.path.join(work, "probe/tables"))
    return {"root": "probe/corpus", "files": files + [long_doc],
            "tables": "probe/tables",
            "registry": ["d_dup_groups"],
            "long_doc": long_doc,
            "queries": [query_text(rng) for _ in range(12)]}


WORKLOADS = {"serve_read": serve_read, "sync_write": sync_write}


def write_inputs(workload, seed, work, trace=False):
    """Materialise `workload` for `seed` under `work`; return the spec."""
    rng = random.Random(f"{workload}:{seed}")
    spec = {"workload": workload, "seed": seed}
    spec.update(WORKLOADS[workload](rng, work))
    if trace:
        spec["probe"] = probe_inputs(random.Random(f"probe:{seed}"), work)
    with open(os.path.join(work, "spec.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)
    return spec
