"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
always writes byte-identical files. Nothing here imports Spark or the
program under test; the program only ever sees the files written here.
Beside the inputs, each generator writes the ground truth its
workload's checks need (planted pairs, planted neighbours) to files the
program is never given.

Outputs are cached per ``(workload, seed, size)`` under the cache root:
a directory is complete once its ``_DONE`` marker exists.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil

import numpy as np

# the pipeline's evaluation date: normalize's not-future guard and the
# KBART embargo walls are relative to it (fixed, never the wall clock)
NOW = datetime.date(2026, 6, 15)

# bump when a generator changes, so cached inputs are rebuilt
VERSION = 2

N_ISILS = 22
N_KBART_FILES = 30
N_ISSN_POOL = 3000
N_MEMBERS = 200
N_FEED_PARTS = 8


def cached(cache_root: str, kind: str, seed: int, size: int, build) -> str:
    """Directory holding ``kind`` inputs for (seed, size), built once."""
    out = os.path.join(cache_root, f"{kind}-v{VERSION}-s{seed}-n{size}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp, seed, size)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def read_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh, sort_keys=True)


def _issn(i: int) -> str:
    return f"{1000 + i // 10:04d}-{i % 1000:03d}{'X' if i % 7 == 0 else i % 10}"


def _date(rng: np.random.Generator, y0: int, y1: int) -> str:
    return f"{rng.integers(y0, y1 + 1):04d}-{rng.integers(1, 13):02d}-{rng.integers(1, 29):02d}"


# -- ai_update: crossref feed, doaj OAI source, licensing config ----------

_TYPES = ["journal-article"] * 90 + ["journal-issue"] * 4 + ["book-chapter"] * 3 + [
    "proceedings-article"
] * 3
_SUBJECTS = ["Physics", "Biology", "History", "Law", "Economics", "Chemistry"]


def build_ai(out: str, seed: int, n_versions: int) -> None:
    """Crossref-shaped feed of record versions (ndjson, ~3 versions per
    DOI, ~1 % of rows on ~1K hot DOIs, ~5 % without DOI), a doaj-shaped
    OAI source (ndjson, flattened Dublin Core), 30 KBART holdings
    files, an OA ISSN list and a 22-ISIL filter config."""
    rng = np.random.default_rng(seed)
    n_dois = max(n_versions // 3, 1)
    n_hot = min(1000, max(n_versions // 100, 1))

    def crossref_doi(i: int) -> str:
        return f"10.{5000 + i % 400}/s{seed}.{i}"

    feed_dir = os.path.join(out, "crossref")
    os.makedirs(feed_dir)
    parts = [
        open(os.path.join(feed_dir, f"part-{p:03d}.json"), "w", encoding="utf-8")
        for p in range(N_FEED_PARTS)
    ]
    try:
        kind = rng.random(n_versions)
        idx = rng.integers(0, n_dois, n_versions)
        hot = rng.integers(0, n_hot, n_versions)
        for vid in range(n_versions):
            if kind[vid] < 0.05:
                doi = None
            elif kind[vid] < 0.06:
                doi = f"10.9999/hot.{seed}.{hot[vid]}"
            else:
                doi = crossref_doi(int(idx[vid]))
            u = rng.random(6)
            title = None if u[0] < 0.03 else ("" if u[0] < 0.05 else f"Title {vid} of work")
            if title and u[1] < 0.1:
                title = f"Fish &amp; Chips {vid}"
            year = int(NOW.year + 3) if u[2] < 0.02 else int(rng.integers(1990, NOW.year))
            rec = {
                "doi": doi,
                "vid": vid,
                "indexed": int(1_500_000_000 + rng.integers(0, 50_000_000)),
                "type": _TYPES[int(rng.integers(0, len(_TYPES)))],
                "title1": title,
                "subtitle1": f"Part {vid % 9}" if u[3] < 0.3 else None,
                "container_title1": None if u[4] < 0.03 else f"Journal {vid % 500}",
                "publisher": None if u[5] < 0.05 else f"Publisher {vid % 50}",
                "member": str(int(rng.integers(0, N_MEMBERS))),
                "volume": str(int(rng.integers(1, 60))),
                "issue": str(int(rng.integers(1, 12))),
                "page": f"{vid % 90 + 1}-{vid % 90 + 12}",
                "issn": [
                    _issn(int(x))
                    for x in rng.integers(0, N_ISSN_POOL, int(rng.integers(1, 3)))
                ],
                "authors": [
                    {"given": f"G{vid % 31}", "family": f"Family{(vid + a) % 97}"}
                    for a in range(int(rng.integers(1, 4)))
                ],
                "subject": [_SUBJECTS[vid % len(_SUBJECTS)]],
                "url": f"https://doi.org/{doi}" if doi else None,
                "language": "en" if vid % 5 else "de",
                "issued_year": year,
                "issued_month": int(rng.integers(1, 13)),
                "issued_day": int(rng.integers(1, 29)),
                "created": _date(rng, 1995, NOW.year - 1) + "T12:00:00Z",
            }
            parts[vid % N_FEED_PARTS].write(json.dumps(rec) + "\n")
    finally:
        for fh in parts:
            fh.close()

    # doaj: unique DOIs per record; half of them also appear in the
    # crossref feed (some upper-cased) so groupcover has conflicts
    n_doaj = max(n_versions // 6, 1)
    doaj_dir = os.path.join(out, "doaj")
    os.makedirs(doaj_dir)
    shared = rng.permutation(n_dois)[: n_doaj // 2]
    with open(os.path.join(doaj_dir, "part-000.json"), "w", encoding="utf-8") as fh:
        for i in range(n_doaj):
            u = rng.random(3)
            if u[0] < 0.3:
                doi = None
            elif i < len(shared):
                doi = crossref_doi(int(shared[i]))
                if u[1] < 0.5:
                    doi = doi.upper()
            else:
                doi = f"10.7777/doaj.{seed}.{i}"
            idents = [f"https://doaj.org/article/{seed}-{i}"]
            if doi:
                idents.append(f"https://doi.org/{doi}")
            rec = {
                "oai_identifier": f"oai:doaj.org/article:{seed}-{i}",
                "title1": None if u[2] < 0.03 else f"Open title {i}",
                "creators": [f"Author {i % 71}"],
                "identifiers": idents,
                "relations": [
                    _issn(int(x))
                    for x in rng.integers(0, N_ISSN_POOL, int(rng.integers(1, 3)))
                ],
                "date1": _date(rng, 1995, NOW.year - 1),
                "languages": ["eng"],
                "subjects_dc": [_SUBJECTS[i % len(_SUBJECTS)]],
                "publisher": f"OA Publisher {i % 40}",
                "source1": f"OA Journal {i % 300}",
            }
            fh.write(json.dumps(rec) + "\n")

    # KBART holdings: 30 files over the ISSN pool
    kb_dir = os.path.join(out, "kbart")
    os.makedirs(kb_dir)
    header = [
        "publication_title", "print_identifier", "online_identifier",
        "date_first_issue_online", "num_first_vol_online", "num_first_issue_online",
        "date_last_issue_online", "num_last_vol_online", "num_last_issue_online",
        "title_url", "embargo_info", "coverage_depth",
    ]
    for f in range(N_KBART_FILES):
        with open(os.path.join(kb_dir, f"kbart_{f:02d}.tsv"), "w", encoding="utf-8") as fh:
            fh.write("\t".join(header) + "\n")
            for r in range(int(rng.integers(100, 300))):
                u = rng.random(4)
                row = [
                    f"Journal {f}-{r}",
                    _issn(int(rng.integers(0, N_ISSN_POOL))),
                    _issn(int(rng.integers(0, N_ISSN_POOL))) if u[0] < 0.3 else "",
                    "" if u[1] < 0.2 else f"{rng.integers(1990, 2011)}-01-01",
                    "", "",
                    "" if u[2] < 0.5 else f"{rng.integers(2015, 2025)}-12-31",
                    "", "",
                    f"https://example.org/{f}/{r}",
                    "R1Y" if u[3] < 0.1 else "",
                    "fulltext",
                ]
                fh.write("\t".join(row) + "\n")

    oa = sorted({_issn(int(x)) for x in rng.integers(0, N_ISSN_POOL, 300)})
    with open(os.path.join(out, "oa_issns.tsv"), "w", encoding="utf-8") as fh:
        fh.write("issn\n" + "\n".join(oa) + "\n")

    config = {}
    for i in range(N_ISILS):
        isil = f"DE-B{i:02d}"
        if i % 4 == 0:
            members = rng.choice(N_MEMBERS, 40, replace=False)
            config[isil] = {"and": [
                {"source": ["49"]},
                {"collection": [f"Crossref (member {m})" for m in sorted(members)]},
            ]}
        elif i % 4 == 1:
            small = sorted({_issn(int(x)) for x in rng.integers(0, N_ISSN_POOL, 60)})
            config[isil] = {"or": [{"source": ["28"]}, {"issn": {"list": small}}]}
        elif i % 4 == 2:
            files = rng.choice(N_KBART_FILES, 1 + i % 3, replace=False)
            config[isil] = {"and": [
                {"source": ["49", "28"]},
                {"holdings": {"files": [f"kbart_{f:02d}.tsv" for f in sorted(files)]}},
            ]}
        else:
            big = sorted({_issn(int(x)) for x in rng.integers(0, N_ISSN_POOL, 400)})
            config[isil] = {"and": [{"issn": {"list": big}}, {"not": {"source": ["28"]}}]}
    _write_json(os.path.join(out, "filter_config.json"), config)
    _write_json(os.path.join(out, "meta.json"), {"records": n_versions, "doaj": n_doaj})


# -- curate_neardup: documents with a planted near-duplicate tail ---------

_STOP = ["the", "of", "and", "to", "in", "is", "a"]


def build_docs(out: str, seed: int, n_docs: int) -> None:
    """``n_docs`` documents (~80 tokens). About 10 % are near-duplicate
    families of 2-4 members (each member one token away from the
    family root, so pairs sit near Jaccard 0.9 and chain through the
    root); about 5 % are short low-quality docs the quality filter
    drops. Vocabulary is wide enough that unrelated docs share almost
    no 3-shingles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = [f"w{seed % 97}x{i}" for i in range(20_000)]
    ids, texts = [], []
    planted = []
    doc_id = 0
    while doc_id < n_docs:
        u = rng.random()
        if u < 0.05:
            toks = [vocab[int(j)] for j in rng.integers(0, len(vocab), 6)]
            ids.append(doc_id)
            texts.append(" ".join(toks))
            doc_id += 1
            continue
        words = rng.integers(0, len(vocab), 80)
        root = [
            _STOP[int(w) % len(_STOP)] if k % 4 == 0 else vocab[int(w)]
            for k, w in enumerate(words)
        ]
        members = 1 if u > 0.15 else int(rng.integers(2, 5))
        family = []
        for m in range(members):
            toks = list(root)
            if m:
                pos = int(rng.integers(0, len(toks)))
                toks[pos] = f"edit{seed}_{doc_id}"
            ids.append(doc_id)
            texts.append(" ".join(toks))
            family.append(doc_id)
            doc_id += 1
        planted += [[family[0], d] for d in family[1:]]
    table = pa.table({"doc_id": pa.array(ids[:n_docs], pa.int64()),
                      "text": pa.array(texts[:n_docs], pa.string())})
    os.makedirs(os.path.join(out, "docs"))
    # several files, as a harvested batch arrives
    step = max(1, n_docs // 4)
    for p, lo in enumerate(range(0, n_docs, step)):
        pq.write_table(table.slice(lo, step), os.path.join(out, "docs", f"part-{p:03d}.parquet"))
    planted = [p for p in planted if p[1] < n_docs]
    _write_json(os.path.join(out, "planted.json"), planted)
    _write_json(os.path.join(out, "meta.json"), {"records": n_docs})


# -- semdedup_daily: clustered embeddings with planted neighbours ---------

DIM = 64
N_BATCHES = 32
N_QUERIES = 256


def build_vectors(out: str, seed: int, n_index: int) -> None:
    """Index corpus (``n_index`` vectors around 64 cluster centres),
    ``N_BATCHES`` daily batches of ``n_index // 10`` vectors with
    planted duplicates, and ``N_QUERIES`` perturbed index vectors whose
    planted neighbour is the source vector.

    Batch composition: ~10 % near-copies of index vectors, ~5 %
    near-copies of an earlier vector of the same batch, the rest
    novel. Near-copies have cosine ~0.999 to their source; novel
    vectors sit well below the 0.95 admit threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    batch = max(n_index // 10, 1)
    centres = rng.standard_normal((64, DIM))

    def fresh(n: int) -> np.ndarray:
        c = centres[rng.integers(0, len(centres), n)]
        return (c + 0.9 * rng.standard_normal((n, DIM))).astype(np.float32)

    def near(v: np.ndarray) -> np.ndarray:
        return (v + 0.03 * rng.standard_normal(v.shape) * np.abs(v).mean()).astype(np.float32)

    def write(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        offsets = pa.array(np.arange(0, (len(ids) + 1) * DIM, DIM, dtype=np.int32))
        emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))
        pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), path)

    index = fresh(n_index)
    write(os.path.join(out, "index", "part-000.parquet"), np.arange(n_index), index)
    np.save(os.path.join(out, "index.npy"), index)

    next_id = n_index
    for b in range(N_BATCHES):
        vecs = fresh(batch)
        u = rng.random(batch)
        src_index = rng.integers(0, n_index, batch)
        for j in range(batch):
            if u[j] < 0.10:
                vecs[j] = near(index[src_index[j]])
            elif u[j] < 0.15 and j > 0:
                vecs[j] = near(vecs[int(rng.integers(0, j))])
        ids = np.arange(next_id, next_id + batch)
        next_id += batch
        write(os.path.join(out, "batches", f"b{b:03d}", "part-000.parquet"), ids, vecs)
        np.save(os.path.join(out, "batches", f"b{b:03d}.npy"), vecs)

    src = rng.integers(0, n_index, N_QUERIES)
    queries = np.stack([near(index[s]) for s in src])
    qids = np.arange(10**9, 10**9 + N_QUERIES)
    write(os.path.join(out, "queries", "part-000.parquet"), qids, queries)
    np.save(os.path.join(out, "queries.npy"), queries)
    _write_json(os.path.join(out, "meta.json"), {
        "records": n_index, "batch": batch, "n_batches": N_BATCHES,
        "first_batch_id": n_index, "query_source": [int(s) for s in src],
        "query_ids": [int(q) for q in qids],
    })
