"""The benchmark's workloads: each one drives the program's public
functions on generated inputs and checks what they return.

A workload object has:

- ``generate(cache, seed)``: cached inputs plus the expectations its
  checks need (computed without the program);
- ``setup(spark, work)``: program-side set-up (timed as part of setup_s);
- ``run_pass(spark, tracer, n)``: one timed pass; returns its output;
- ``check(out)``: list of failure messages (empty when correct);
- ``records``: input records one pass processes;
- ``pass_metrics`` / ``layer_metrics``: figures read after the passes.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics

import numpy as np

from perfbench import checks, gen
from perfbench.spans import PLAN_NODES


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, name))
            files += 1
    return size, files


def read_stage(pipe, name: str):
    """A materialized stage as a pyarrow table (read without Spark)."""
    import pyarrow.parquet as pq

    return pq.read_table(pipe.path(name, {}, gen.NOW))


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                rows += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return rows


@contextlib.contextmanager
def stage_write_spans(tracer):
    """While tracing, open the span named in ``tracer.pending_exec``
    around each Parquet write: the write is where a pipeline stage's
    plan executes."""
    if not tracer.enabled:
        yield
        return
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        name, tracer.pending_exec = tracer.pending_exec or "pipeline.write", None
        with tracer.span(name):
            return orig(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = orig


def staged_pipeline(base: str, tracer, stages):
    """A ``Pipeline`` whose stage bodies are wrapped in ``<layer>.build``
    spans; ``stages`` is [(name, layer, requires, fn(spark, inputs))]."""
    from siskin_spark.plans.pipeline import Pipeline

    pipe = Pipeline(base)
    for name, layer, requires, fn in stages:
        def body(spark, inputs, params, fn=fn, layer=layer):
            with tracer.span(f"{layer}.build"):
                out = fn(spark, inputs)
            tracer.pending_exec = f"{layer}.exec"
            return out

        pipe.stage(name, requires=requires)(body)
    return pipe


def layer_seconds(self_times: dict, sums: dict, layer: str) -> tuple[float, float]:
    """(build, exec) seconds of a layer; exec excludes the write commit."""
    build = self_times.get(f"{layer}.build", 0.0)
    exe = self_times.get(f"{layer}.exec", 0.0)
    exe -= sums.get(f"{layer}.exec", {}).get("write_commit_s", 0.0)
    return build, exe


def _span_sum(sums: dict, prefix: str, key: str) -> float:
    return sum(v.get(key, 0.0) for k, v in sums.items() if k.startswith(prefix))


def plan_counts(sums: dict) -> dict:
    """Executed-plan node counts summed over every span of a pass."""
    return {key: _span_sum(sums, "", key) for key in PLAN_NODES}


def pipeline_layer_metrics(self_times: dict, sums: dict, base_stats: dict) -> dict:
    """Metrics every pipeline-shaped workload reports."""
    builds = sum(v for k, v in self_times.items() if k.endswith(".build"))
    execs = sum(layer_seconds(self_times, sums, k[:-5])[1]
                for k in self_times if k.endswith(".exec"))
    commit = _span_sum(sums, "", "write_commit_s")
    exec_wall = sum(v for k, v in self_times.items() if k.endswith(".exec"))
    job_s = sum(v.get("job_s", 0.0) for k, v in sums.items() if k.endswith(".exec"))
    return {
        "pipeline.write_s": commit,
        "pipeline.bytes_written": base_stats.get("bytes", 0),
        "pipeline.files_written": base_stats.get("files", 0),
        "plan.build_s": builds,
        "plan.exec_s": execs,
        "plan.plan_s": max(exec_wall - job_s - commit, 0.0),
        **plan_counts(sums),
    }


# -- ai_update ---------------------------------------------------------------

CROSSREF_SCHEMA = (
    "doi string, vid long, indexed long, type string, title1 string, subtitle1 string, "
    "container_title1 string, publisher string, member string, volume string, "
    "issue string, page string, issn array<string>, "
    "authors array<struct<given:string,family:string>>, subject array<string>, "
    "url string, language string, issued_year int, issued_month int, "
    "issued_day int, created string"
)
DOAJ_SCHEMA = (
    "oai_identifier string, title1 string, creators array<string>, "
    "identifiers array<string>, relations array<string>, date1 string, "
    "languages array<string>, subjects_dc array<string>, publisher string, "
    "source1 string"
)


class PipelineWorkload:
    """A workload whose pass runs a stage DAG through ``Pipeline`` into a
    fresh directory; subclasses give the stages, the target stage and
    the output check."""

    name = ""
    target = ""

    def __init__(self, size: int):
        self.size = size
        self.stats: dict[int, dict] = {}

    def setup(self, spark, work: str) -> None:
        self.work = work

    def run_pass(self, spark, tracer, n: int):
        pipe = staged_pipeline(os.path.join(self.work, f"{self.name}-{n}"), tracer, self._stages())
        with stage_write_spans(tracer), tracer.span("pipeline.run"):
            pipe.run(spark, self.target, date=gen.NOW)
        return n, pipe

    def check(self, out) -> list[str]:
        n, pipe = out
        try:
            errors = self._check(pipe)
            stats = {"bytes": 0, "files": 0, "rows": {}}
            for name in pipe.stages:
                path = pipe.path(name, {}, gen.NOW)
                size, files = dir_stats(path)
                stats["bytes"] += size
                stats["files"] += files
                stats["rows"][name] = parquet_rows(path)
            self.stats[n] = stats
        finally:
            shutil.rmtree(pipe.base, ignore_errors=True)
        return errors

    def pass_metrics(self) -> dict:
        written = statistics.median(s["bytes"] for s in self.stats.values())
        return {"out_bytes_per_record": written / self.records}

    def layer_metrics(self, self_times: dict, sums: dict, n: int) -> dict:
        stats = self.stats.get(n, {})
        out = pipeline_layer_metrics(self_times, sums, stats)
        out.update(self._layers(self_times, sums, stats.get("rows", {})))
        return out


class AiUpdate(PipelineWorkload):
    """The daily article-index update through ``Pipeline``: read ->
    snapshot -> normalize -> license + OA -> groupcover -> update labels
    -> Solr export, every stage written as Parquet."""

    name = "ai_update"
    target = "export"

    def generate(self, cache: str, seed: int) -> None:
        self.inputs = gen.cached(cache, "ai", seed, self.size, gen.build_ai)
        self.records = gen.read_json(os.path.join(self.inputs, "meta.json"))["records"]
        self.expected = checks.ai_expected(self.inputs)
        self.config = gen.read_json(os.path.join(self.inputs, "filter_config.json"))
        self.digests: set[str] = set()

    def _stages(self):
        from pyspark.sql import functions as F

        from siskin_spark.operators import dedup, export, joins, licensing, normalize
        from siskin_spark.sources import readers

        inputs, config = self.inputs, self.config

        def read_crossref(spark, ins):
            return readers.read_ndjson(spark, f"{inputs}/crossref", schema=CROSSREF_SCHEMA)

        def read_doaj(spark, ins):
            return readers.read_ndjson(spark, f"{inputs}/doaj", schema=DOAJ_SCHEMA)

        def snapshot(spark, ins):
            return dedup.snapshot_latest(ins["read_crossref"], ["doi"], ["indexed", "vid"])

        def normalized(spark, ins):
            cr = normalize.normalize_source(ins["snapshot"], "crossref", now=gen.NOW)
            dj = normalize.normalize_source(ins["read_doaj"], "doaj", now=gen.NOW)
            return cr.unionByName(dj)

        def licensed(spark, ins):
            holdings = readers.read_tsv(spark, f"{inputs}/kbart", header=True).withColumn(
                "file_uri", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
            )
            oa = readers.read_tsv(spark, f"{inputs}/oa_issns.tsv", header=True)
            recs = licensing.apply_oa_flag(ins["normalized"], oa_issns=oa)
            return licensing.attach_labels(
                recs, config, holdings=holdings, now=gen.NOW, drop_unlabeled=True
            )

        def cover(spark, ins):
            return dedup.groupcover(
                ins["licensed"].select(
                    "finc_id", "finc_source_id", "doi", F.col("x_labels").alias("labels")
                )
            )

        def updated(spark, ins):
            return joins.update_labels(ins["licensed"], ins["cover"])

        def solr(spark, ins):
            return export.solr_export(ins["updated"])

        return [
            ("read_crossref", "sources.read", (), read_crossref),
            ("read_doaj", "sources.read", (), read_doaj),
            ("snapshot", "dedup.snapshot", ("read_crossref",), snapshot),
            ("normalized", "normalize", ("snapshot", "read_doaj"), normalized),
            ("licensed", "licensing", ("normalized",), licensed),
            ("cover", "dedup.groupcover", ("licensed",), cover),
            ("updated", "joins.update_labels", ("licensed", "cover"), updated),
            ("export", "export.solr_export", ("updated",), solr),
        ]

    def _check(self, pipe) -> list[str]:
        import hashlib
        from collections import Counter

        got = read_stage(pipe, "export").sort_by("id")
        rows = got.num_rows
        oa = sum("Free" in (v or []) for v in got.column("facet_avail").to_pylist())
        per_isil = dict(Counter(
            isil for v in got.column("institution").to_pylist() for isil in (v or [])
        ))
        digest = hashlib.sha1(repr(got.to_pylist()).encode()).hexdigest()
        exp = self.expected
        errors = []
        if rows != exp["rows"]:
            errors.append(f"export rows {rows} != expected {exp['rows']}")
        if oa != exp["oa"]:
            errors.append(f"OA-flagged rows {oa} != expected {exp['oa']}")
        if per_isil != exp["per_isil"]:
            diff = {k for k in set(per_isil) | set(exp["per_isil"])
                    if per_isil.get(k) != exp["per_isil"].get(k)}
            errors.append(f"per-ISIL label counts differ for {sorted(diff)}")
        self.digests.add(digest)
        if len(self.digests) > 1:
            errors.append("export digest differs between passes of one seed")
        return errors

    def _layers(self, self_times: dict, sums: dict, rows: dict) -> dict:
        out = {"sources.bytes_read": _span_sum(sums, "sources.read", "input_bytes")}
        for layer in ("sources.read", "dedup.snapshot", "dedup.groupcover",
                      "joins.update_labels", "export.solr_export"):
            out[f"{layer}_s"] = sum(layer_seconds(self_times, sums, layer))
        for layer in ("dedup.snapshot", "dedup.groupcover"):
            out[f"{layer}_shuffle_bytes"] = _span_sum(sums, layer, "shuffle_bytes")
        out["dedup.groupcover_spill_bytes"] = _span_sum(sums, "dedup.groupcover", "spill_bytes")
        for layer in ("normalize", "licensing"):
            out[f"{layer}.build_s"], out[f"{layer}.exec_s"] = layer_seconds(self_times, sums, layer)
        out["licensing.jobs"] = _span_sum(sums, "licensing", "jobs")
        if rows.get("normalized"):
            out["licensing.kept_ratio"] = rows["licensed"] / rows["normalized"]
        return out


# -- curate_neardup ------------------------------------------------------------

JACCARD_MIN = 0.8
LSH_K, LSH_BANDS = 30, 10


class CurateNeardup(PipelineWorkload):
    """An LLM-curation batch: quality filter -> shingles -> LSH
    candidates -> exact Jaccard -> connected-components keep ->
    token-budget sample, each step materialized through ``Pipeline``."""

    name = "curate_neardup"
    target = "sample"

    def generate(self, cache: str, seed: int) -> None:
        import pyarrow.parquet as pq

        self.inputs = gen.cached(cache, "docs", seed, self.size, gen.build_docs)
        self.records = gen.read_json(os.path.join(self.inputs, "meta.json"))["records"]
        self.planted = {tuple(p) for p in gen.read_json(os.path.join(self.inputs, "planted.json"))}
        t = pq.read_table(os.path.join(self.inputs, "docs"))
        self.texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        quality = [d for d, s in self.texts.items() if len(s.split(" ")) >= 10]
        self.expected_kept = len(quality) - len(self.planted)
        self.budget = 40 * self.records

    def _stages(self):
        from pyspark.sql import functions as F

        from siskin_spark.functions import text
        from siskin_spark.operators import curation, neardup

        docs_dir, n_docs, budget = os.path.join(self.inputs, "docs"), self.records, self.budget

        def quality(spark, ins):
            docs = spark.read.parquet(docs_dir)
            return docs.filter(text.quality_keep(F.col("text")))

        def shingle(spark, ins):
            return neardup.shingle_table(ins["quality"])

        def candidates(spark, ins):
            return neardup.lsh_candidates(
                ins["quality"], shingles=ins["shingles"], k=LSH_K, bands=LSH_BANDS,
                hash_family="xxhash64",
            )

        def verified(spark, ins):
            scored = neardup.exact_jaccard(ins["candidates"], ins["shingles"], corpus_docs=n_docs)
            return scored.filter(F.col("jaccard") >= JACCARD_MIN).select("id_a", "id_b", "jaccard")

        def kept(spark, ins):
            return neardup.keep_canonical_cc(ins["quality"], ins["verified"])

        def sample(spark, ins):
            return curation.token_budget_sample(ins["kept"], budget)

        return [
            ("quality", "text.quality", (), quality),
            ("shingles", "neardup.shingle", ("quality",), shingle),
            ("candidates", "neardup.candidates", ("quality", "shingles"), candidates),
            ("verified", "neardup.jaccard", ("candidates", "shingles"), verified),
            ("kept", "neardup.cc", ("quality", "verified"), kept),
            ("sample", "curation.sample", ("kept",), sample),
        ]

    def _check(self, pipe) -> list[str]:
        errors = []
        verified = read_stage(pipe, "verified")
        pairs = set(zip(verified.column("id_a").to_pylist(), verified.column("id_b").to_pylist()))
        missed = self.planted - pairs
        if missed:
            errors.append(f"{len(missed)} planted near-duplicate pairs not found")
        low = [p for p in pairs if checks.jaccard(self.texts[p[0]], self.texts[p[1]]) < JACCARD_MIN]
        if low:
            errors.append(f"{len(low)} reported pairs below Jaccard {JACCARD_MIN}")
        kept = read_stage(pipe, "kept").num_rows
        if kept != self.expected_kept:
            errors.append(f"kept {kept} docs, expected {self.expected_kept}")
        tokens = sum(read_stage(pipe, "sample").column("n_tokens").to_pylist())
        if not self.budget - 100 < tokens <= self.budget:
            errors.append(f"sample holds {tokens} tokens for a budget of {self.budget}")
        return errors

    def _layers(self, self_times: dict, sums: dict, rows: dict) -> dict:
        out = {
            f"{layer}_s": sum(layer_seconds(self_times, sums, layer))
            for layer in ("text.quality", "curation.sample", "neardup.shingle",
                          "neardup.candidates", "neardup.jaccard", "neardup.cc")
        }
        out["neardup.cc_jobs"] = _span_sum(sums, "neardup.cc", "jobs")
        out["neardup.candidate_pairs"] = rows.get("candidates", 0)
        out["neardup.verified_pairs"] = rows.get("verified", 0)
        if rows.get("candidates"):
            out["neardup.useful_ratio"] = rows["verified"] / rows["candidates"]
        return out


# -- semdedup_daily --------------------------------------------------------------

ADMIT_THRESHOLD = 0.95
SEARCH_K = 10
CELLS = 64


class SemdedupDaily:
    """The incremental semantic-dedup index: each pass admits a batch,
    appends its survivors, runs one query batch against the grown index
    and compacts the index (a daily compaction)."""

    name = "semdedup_daily"

    def __init__(self, size: int):
        self.size = size
        self.passes: dict[int, dict] = {}

    def generate(self, cache: str, seed: int) -> None:
        self.inputs = gen.cached(cache, "vectors", seed, self.size, gen.build_vectors)
        self.meta = gen.read_json(os.path.join(self.inputs, "meta.json"))
        self.records = self.meta["batch"]
        self.index_vecs = np.load(os.path.join(self.inputs, "index.npy"))
        self.queries = checks.unit_rows(np.load(os.path.join(self.inputs, "queries.npy")))

    def setup(self, spark, work: str) -> None:
        from siskin_spark.functions import vectors

        self.index_dir = os.path.join(work, "index")
        shutil.rmtree(self.index_dir, ignore_errors=True)
        emb = spark.read.parquet(os.path.join(self.inputs, "index"))
        vectors.semdedup_index_build(emb, self.index_dir, k=CELLS, sample=self.size, seed=7)
        # the brute-force mirror of the index's live vectors
        self.live = checks.unit_rows(self.index_vecs)
        self.live_ids = np.arange(len(self.index_vecs))
        self.cycle = 0

    def run_pass(self, spark, tracer, n: int):
        import time

        from siskin_spark.functions import vectors

        b = self.cycle % self.meta["n_batches"]
        self.cycle += 1
        with tracer.span("sources.read"):
            batch = spark.read.parquet(os.path.join(self.inputs, "batches", f"b{b:03d}"))
            queries = spark.read.parquet(os.path.join(self.inputs, "queries"))
        with tracer.span("vectors.admit"):
            pairs = vectors.incremental_semdedup(
                spark, batch, self.index_dir, threshold=ADMIT_THRESHOLD, engine="gemm"
            )
            dropped = {r.vec_id for r in pairs.select("vec_id").distinct().collect()}
        with tracer.span("vectors.append"):
            survivors = vectors.incremental_semdedup_keep(batch, pairs)
            vectors.semdedup_index_append(survivors, self.index_dir, batch_id=f"c{self.cycle}")
        t0 = time.perf_counter()
        with tracer.span("vectors.search"):
            hits = vectors.semdedup_index_search(
                spark, queries, self.index_dir, k=SEARCH_K, engine="gemm"
            ).collect()
        search_s = time.perf_counter() - t0
        with tracer.span("layout.compact"):
            compact = vectors.semdedup_index_compact(spark, self.index_dir)
        return n, b, dropped, hits, search_s, compact

    def check(self, out) -> list[str]:
        n, b, dropped, hits, search_s, compact = out
        errors = []
        vecs = np.load(os.path.join(self.inputs, "batches", f"b{b:03d}.npy"))
        first = self.meta["first_batch_id"] + b * self.meta["batch"]
        ids = np.arange(first, first + len(vecs))
        expect = {int(ids[i]) for i in checks.brute_force_drops(self.live, vecs, ADMIT_THRESHOLD)}
        if dropped != expect:
            errors.append(
                f"admit dropped {len(dropped)} vectors, brute force drops {len(expect)} "
                f"({len(dropped - expect)} extra, {len(expect - dropped)} missed)"
            )
        keep = np.array([int(i) not in expect for i in ids])
        self.live = np.vstack([self.live, checks.unit_rows(vecs[keep])])
        self.live_ids = np.concatenate([self.live_ids, ids[keep]])
        # exact cosine of every hit, and recall@k of each query's planted neighbour
        pos = {int(v): i for i, v in enumerate(self.live_ids)}
        qpos = {q: i for i, q in enumerate(self.meta["query_ids"])}
        found, bad_cos = set(), 0
        for h in hits:
            q = qpos[h.query_id]
            if abs(float(self.queries[q] @ self.live[pos[h.neighbor_id]]) - h.cos_sim) > 1e-4:
                bad_cos += 1
            if self.meta["query_source"][q] == h.neighbor_id:
                found.add(h.query_id)
        if bad_cos:
            errors.append(f"{bad_cos} search hits report a wrong cosine")
        self.passes[n] = {
            "dropped": len(dropped),
            "compact": compact,
            "index": dir_stats(self.index_dir),
            "search_s": search_s,
            "recall": len(found) / len(qpos),
        }
        return errors

    def pass_metrics(self) -> dict:
        timed = [p for n, p in self.passes.items() if n >= 0]
        per_vector = dir_stats(self.index_dir)[0] / len(self.live_ids)
        return {
            "out_bytes_per_record": per_vector,
            "search_s": statistics.median(p["search_s"] for p in timed),
            "search_recall": statistics.median(p["recall"] for p in timed),
            "index_bytes_per_vector": per_vector,
        }

    def layer_metrics(self, self_times: dict, sums: dict, n: int) -> dict:
        info = self.passes.get(n, {})
        compact = info.get("compact") or {}
        index_bytes, index_files = info.get("index", (0, 0))
        search_in = _span_sum(sums, "vectors.search", "input_bytes")
        out = {
            f"{layer}_s": self_times.get(layer, 0.0)
            for layer in ("sources.read", "vectors.admit", "vectors.append",
                          "vectors.search", "layout.compact")
        }
        out.update({
            "vectors.dropped_rows": info.get("dropped", 0),
            "vectors.search_bytes_read": search_in,
            "vectors.search_read_share": search_in / index_bytes if index_bytes else 0.0,
            "layout.bytes_rewritten": compact.get("bytes_before", 0),
            "layout.index_files": index_files,
            **plan_counts(sums),
        })
        return out


WORKLOADS = {w.name: w for w in (AiUpdate, CurateNeardup, SemdedupDaily)}
