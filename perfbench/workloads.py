"""The two workloads, serve and pipeline. Each is a closed loop with one
client: an operation starts only after the previous one returned.

A workload gets a :class:`Context` (session, seed, measuring time, work
directory, optional tracer, failure ledger) and returns a
:class:`Measured`: its set-up seconds, the samples of its end-to-end
metrics and a detail record. Set-up and checks stay outside every timed
region.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np

import inputs
import stats
from cpu import CpuMeter
from spans import Tracer, WorkMeter

now = time.perf_counter
SCORE_TOL = 2e-6     # scores are rounded to 6 decimals on both sides
THRESHOLD = 0.1


@dataclass
class Context:
    spark: Any
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None
    cpu: CpuMeter | None = None
    counts: WorkMeter | None = None
    ledger: stats.Ledger = field(default_factory=stats.Ledger)
    requests: int = 0     # measured requests (ids starting with "m")

    def span(self, name: str, **attrs):
        """A tracer span, or nothing in an untraced run."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def request(self, rid: str | None) -> None:
        """Tag the spans that follow with a request id."""
        if rid is not None and rid.startswith("m"):
            self.requests += 1
        if self.tracer is not None:
            self.tracer.request = rid

    def engine(self, name: str):
        """A DocumentSearchEngine over ``<work>/<name>``. In a traced run
        its embedder is the traced ``embed_hash``: the engine compares
        embedders by identity to pick its query fast path, so the instance
        must hold the same object the engine module now names."""
        from server2_vector_search_server_spark import engine

        eng = engine.DocumentSearchEngine(self.spark,
                                          os.path.join(self.work, name))
        if self.tracer is not None:
            eng.embedder = engine.embed_hash
        return eng


@dataclass
class Measured:
    setup_s: float        # the workload's own set-up, after the session
    py4j_calls_per_op: float  # py4j round trips per measured operation
    jobs_per_op: float    # Spark jobs per measured operation
    main_op_cpu_ms: float  # typical CPU time of its main operation
    cpu_ms_per_op: float  # CPU time per operation of the workload's mix
    main_op_ms: float     # typical latency of its main operation
    detail: dict[str, Any]


def doc_id(name: str) -> str:
    """The deterministic id ``plans.ingest`` gives a document."""
    return hashlib.md5(name.encode()).hexdigest()


def store_snapshot(store, doc_names: list[str] | None = None):
    """The stored chunks (of ``doc_names`` only, if given) as a pandas
    frame. Read outside every timed region."""
    from pyspark.sql import functions as F

    df = store.read(None)
    if doc_names is not None:
        df = df.filter(F.col("doc_name").isin(doc_names))
    return (df.select("chunk_id", "doc_id", "doc_name", "collection",
                      "content", "embedding")
            .toPandas().sort_values("chunk_id", ignore_index=True))


def store_disk(root: str) -> tuple[int, int]:
    """(parquet data files, bytes of all files) under a store root."""
    files = size = 0
    for base, _dirs, names in os.walk(root):
        for name in names:
            size += os.path.getsize(os.path.join(base, name))
            files += name.endswith(".parquet")
    return files, size


# -- serve -------------------------------------------------------------------

def build_serve_store(spark, store, docs: list[tuple[str, str, str]]) -> None:
    """Write ``(doc_name, text, collection)`` documents the way
    ``plans.ingest.ingest_documents`` does (same ids, metadata, chunking and
    embedding operators), in one pass over all five collections instead of
    one upload per collection."""
    from pyspark.sql import functions as F

    from server2_vector_search_server_spark.embedding import embed_hash
    from server2_vector_search_server_spark.operators.chunking import (
        chunk_documents,
    )

    frame = spark.createDataFrame(
        docs, "doc_name string, text string, collection string")
    chunks = (
        chunk_documents(frame, text_col="text")
        .withColumn("doc_id", F.md5(F.col("doc_name")))
        .withColumn("chunk_id", F.md5(F.concat_ws(
            "#", F.col("doc_name"), F.col("chunk_index").cast("string"))))
        .withColumn("original_collection", F.col("collection"))
        .withColumn("metadata", F.create_map(F.lit("source"),
                                             F.col("doc_name"))))
    chunks = embed_hash(chunks, text_col="content", out_col="embedding")
    store.append(chunks.withColumn(
        "embedding", F.col("embedding").cast("array<float>")))


class Corpus:
    """The stored chunks, kept in step with every write, for brute-force
    reference answers."""

    def __init__(self, snap):
        self.set(snap)

    def set(self, snap) -> None:
        self.snap = snap.sort_values("chunk_id", ignore_index=True)
        self.ids = self.snap["chunk_id"].to_numpy()
        self.names = self.snap["doc_name"].to_numpy()
        self.colls = self.snap["collection"].to_numpy()
        self.emb = (np.stack(self.snap["embedding"].to_numpy())
                    .astype(np.float64) if len(self.snap)
                    else np.zeros((0, 1)))
        self.row = {cid: i for i, cid in enumerate(self.ids)}

    def add(self, snap) -> None:
        import pandas as pd

        self.set(pd.concat([self.snap, snap], ignore_index=True))

    def drop_doc(self, did: str) -> None:
        self.set(self.snap[self.snap["doc_id"] != did])

    def chunks(self) -> list[tuple[str, str, str, str]]:
        return list(zip(self.ids, self.names, self.colls,
                        self.snap["content"]))

    def mask(self, collection: str, doc_names: tuple[str, ...]):
        m = np.ones(len(self.ids), dtype=bool)
        if collection != inputs.MASTER:
            m &= self.colls == collection
        if doc_names:
            m &= np.isin(self.names, list(doc_names))
        return m

    def scores(self, qvec: list[float]) -> np.ndarray:
        """``round(1 - ||q - v||², 6)`` for every chunk, as knn_topk scores."""
        d = self.emb - np.asarray(qvec, dtype=np.float64)
        return np.round(1.0 - np.einsum("ij,ij->i", d, d), 6)


def check_search(out: stats.Outcome, corpus: Corpus, req: inputs.Request,
                 qvec, rows, scored: bool) -> None:
    """Results must be the brute-force top-k (ties allowed to reorder)."""
    allowed = corpus.mask(req.collection, req.doc_names)
    scores = corpus.scores(qvec)
    cand = scores[allowed]
    if scored:
        cand = cand[cand >= THRESHOLD]
    want_n = min(req.k, len(cand))
    if not out.check(len(rows) == want_n,
                     f"{len(rows)} rows, brute force gives {want_n}"):
        return
    if want_n == 0:
        return
    kth = np.sort(cand)[::-1][want_n - 1]
    prev = None
    for r in rows:
        i = corpus.row.get(r["chunk_id"])
        if not out.check(i is not None and allowed[i],
                         f"{r['chunk_id']} outside collection/filter"):
            return
        s = scores[i]
        out.check(s >= kth - SCORE_TOL, f"{r['chunk_id']} not in top-k")
        out.check(prev is None or s <= prev + SCORE_TOL, "not descending")
        prev = s
        if scored:
            out.check(abs(r["score"] - s) <= SCORE_TOL,
                      f"score {r['score']} vs {s}")
            out.check(r["score"] >= THRESHOLD, "below threshold")
    if req.fulltext:
        top = {r["chunk_id"] for r in rows
               if scores[corpus.row[r["chunk_id"]]] >= 1.0 - SCORE_TOL}
        out.check(req.chunk_id in top, "own chunk not first at score 1.0")


def check_catalog(out: stats.Outcome, corpus: Corpus, req: inputs.Request,
                  got) -> None:
    snap = corpus.snap
    if req.collection != inputs.MASTER:
        snap = snap[snap["collection"] == req.collection]
    if req.kind == "exists":
        want = bool((snap["doc_name"] == req.query).any())
        out.check(got == want, f"exists {req.query}: {got} vs {want}")
        return
    groups = snap.groupby("doc_id")
    if req.kind == "list":
        want = {(d, g["doc_name"].min(), len(g)) for d, g in groups}
        have = {(r["doc_id"], r["doc_name"], r["n_chunks"]) for r in got}
    else:
        want = {(d, tuple(sorted(g["chunk_id"])), len(g)) for d, g in groups}
        have = {(r["doc_id"], tuple(r["chunk_ids"]), r["n_chunks"])
                for r in got}
    out.check(have == want, f"{req.kind} {req.collection}: "
                            f"{len(have)} docs vs {len(want)}")


class Session:
    """One user's session against a DocumentSearchEngine: every call is
    timed, checked against the reference state and counted in the ledger.
    Timings cover the engine call and the collect of its result only."""

    def __init__(self, ctx: Context, eng, corpus: Corpus,
                 plan: inputs.IngestPlan):
        self.ctx, self.eng, self.corpus, self.plan = ctx, eng, corpus, plan
        self.captured: list[list[float]] = []
        self.chunks_added: dict[str, int] = {}
        kinds = ("search", "catalog", "upload", "delete")
        self.latency: dict[str, list[float]] = {k: [] for k in kinds}
        self.cpu: dict[str, list[float]] = {k: [] for k in kinds}
        self.py4j: dict[str, list[int]] = {k: [] for k in kinds}
        self.jobs: dict[str, list[int]] = {k: [] for k in kinds}
        self.accepted = self.submitted = 0
        self.round: inputs.IngestRound | None = None
        embed = eng.embed_query

        def capture(query):
            vec = embed(query)
            self.captured.append(vec)
            return vec

        eng.embed_query = capture

    def reset(self) -> None:
        """Forget the warm-up requests' figures."""
        for per_kind in (self.latency, self.cpu, self.py4j, self.jobs):
            for samples in per_kind.values():
                samples.clear()
        self.accepted = self.submitted = 0

    @contextlib.contextmanager
    def _timed(self, kind: str):
        """Time the enclosed call. A call that raises is timed too, so
        every request of a block leaves a sample of its kind."""
        counted = self.ctx.counts.snapshot()
        t, snap = now(), self.ctx.cpu.snapshot()
        try:
            yield
        finally:
            self.latency[kind].append(now() - t)
            self.cpu[kind].append(self.ctx.cpu.since(snap))
            calls, jobs = self.ctx.counts.since(counted)
            self.py4j[kind].append(calls)
            self.jobs[kind].append(jobs)

    def upload(self) -> None:
        rd = self.round = self.plan.next_round()
        self.submitted += len(rd.docs)
        with self.ctx.ledger.op("upload") as out:
            with self._timed("upload"):
                statuses = self.eng.upload_documents(rd.docs, rd.collection)
            got = {s["filename"]: s["status"] for s in statuses}
            out.check(got == rd.expected, f"statuses {got} vs {rd.expected}")
            added = []
            for s in statuses:
                if s["status"] == "success":
                    out.check(s["chunks_added"] >= 1, "no chunks")
                    self.chunks_added[s["filename"]] = s["chunks_added"]
                    added.append(s["filename"])
            self.accepted += len(added)
            self.corpus.add(store_snapshot(
                self.eng.store, doc_names=added))

    def delete(self) -> None:
        name = self.round.delete_name
        with self.ctx.ledger.op("delete") as out:
            with self._timed("delete"):
                found = self.eng.delete_document(doc_id(name))
            out.check(found, f"delete {name} found nothing")
            self.corpus.drop_doc(doc_id(name))

    def search(self, req: inputs.Request) -> None:
        with self.ctx.ledger.op(req.kind) as out:
            where = {"doc_name": {"$in": list(req.doc_names)}} \
                if req.doc_names else None
            call = self.eng.search_score if req.kind == "search_score" \
                else self.eng.search
            self.captured.clear()
            with self._timed("search"):
                df = call(req.query, k=req.k, filter=where,
                          collection_name=req.collection)
                with self.ctx.span("spark.action"):
                    rows = df.collect()
            check_search(out, self.corpus, req, self.captured[-1], rows,
                         scored=req.kind == "search_score")

    def catalog(self, req: inputs.Request) -> None:
        with self.ctx.ledger.op(req.kind) as out:
            with self._timed("catalog"):
                if req.kind == "exists":
                    coll = None if req.collection == inputs.MASTER \
                        else req.collection
                    got = self.eng.document_exists(req.query, coll)
                else:
                    call = self.eng.list_documents if req.kind == "list" \
                        else self.eng.documents_ui
                    df = call(req.collection)
                    with self.ctx.span("spark.action"):
                        got = df.collect()
            check_catalog(out, self.corpus, req, got)

    def probe(self) -> inputs.Request:
        """A read-after-write search for the chunk the last upload stored."""
        rd = self.round
        return inputs.Request(
            kind="search_score", query=rd.probe_text, fulltext=True,
            chunk_id=hashlib.md5(f"{rd.probe_name}#0".encode()).hexdigest(),
            collection=rd.collection)


SERVE_DOCS_PER_COLLECTION = 20


def serve(ctx: Context) -> Measured:
    eng = ctx.engine("serve")
    base = [(name, text, coll) for coll in inputs.COLLECTIONS
            for name, text in inputs.documents(
                ctx.seed, f"{coll[-1]}-", SERVE_DOCS_PER_COLLECTION)]
    plan = inputs.IngestPlan(seed=ctx.seed,
                             live={n: t for n, t, _c in base})
    mix = inputs.ServeMix(ctx.seed)

    ctx.request("setup")
    t0 = now()
    build_serve_store(ctx.spark, eng.store, base)
    eng.store.compact()
    t_store = now() - t0
    corpus = Corpus(store_snapshot(eng.store))
    session = Session(ctx, eng, corpus, plan)

    def block(label: str, kinds: tuple[str, ...]) -> None:
        for i, kind in enumerate(kinds):
            ctx.request(f"{label}-{i}")
            if kind == "upload":
                session.upload()
            elif kind == "delete":
                session.delete()
            elif kind == "catalog":
                session.catalog(mix.catalog(sorted(plan.live)))
            elif i and kinds[i - 1] == "delete":
                session.search(session.probe())
            else:
                session.search(mix.search(corpus.chunks()))

    # untimed reads, so the process's first-use costs and the JVM's first
    # compilation of the query path stay out of the measured window (the
    # store build above has already run the chunking, embedding and append
    # code the upload uses)
    block("warm", inputs.WARMUP)
    setup_s = now() - t0
    warm = {kind: list(samples) for kind, samples in session.latency.items()}
    warm_cpu = {kind: list(samples) for kind, samples in session.cpu.items()}
    session.reset()

    # whole blocks only, so every run has the block's composition: the
    # first always runs, each further one only if it should fit
    window = stats.Window(ctx.seconds)
    blocks = 0
    while window.more():
        t_block = now()
        blocks += 1
        block(f"m{blocks}", inputs.BLOCK)
        window.add(now() - t_block)

    ctx.request("verify")
    with ctx.ledger.op("verify-store") as out:
        snap = store_snapshot(eng.store)
        live = set(snap["doc_name"])
        out.check(live == set(plan.live),
                  f"{len(live)} live docs vs {len(plan.live)}")
        gone = {doc_id(d) for d in plan.deleted} & set(snap["doc_id"])
        out.check(not gone, f"{len(gone)} deleted docs still stored")
        out.check(set(snap["chunk_id"]) == set(corpus.ids),
                  f"{len(snap)} chunks stored vs {len(corpus.ids)} expected")
    ctx.request(None)
    files, size = store_disk(eng.store.root)
    text_bytes = sum(len(t.encode()) for t in plan.live.values())
    lat, cpu = session.latency, session.cpu
    requests = blocks * len(inputs.BLOCK)
    uploaded = sum(lat["upload"])
    return Measured(
        setup_s=setup_s,
        py4j_calls_per_op=sum(map(sum, session.py4j.values())) / requests,
        jobs_per_op=sum(map(sum, session.jobs.values())) / requests,
        main_op_cpu_ms=stats.median(cpu["search"]) * 1e3,
        cpu_ms_per_op=sum(sum(v) for v in cpu.values()) / requests * 1e3,
        main_op_ms=stats.median(lat["search"]) * 1e3,
        detail={
            "blocks": blocks, "requests": requests,
            "samples": {kind: len(v) for kind, v in lat.items()},
            "requests_per_s": requests / sum(window.durations),
            "search_p50_ms": stats.median(lat["search"]) * 1e3,
            "search_tail": stats.tail_percentile(lat["search"]),
            "catalog_p50_ms": stats.median(lat["catalog"]) * 1e3,
            "upload_p50_s": stats.median(lat["upload"]),
            "delete_p50_s": stats.median(lat["delete"]),
            "docs_per_s": session.accepted / uploaded,
            "bytes_per_input_byte": size / text_bytes,
            "chunks_per_doc": (sum(session.chunks_added.values())
                               / max(len(session.chunks_added), 1)),
            "accept_ratio": session.accepted / session.submitted,
            "latency_s": lat, "cpu_s": cpu,
            "py4j_calls": session.py4j, "jobs": session.jobs,
            "setup_store_s": t_store, "setup_warm_s": warm,
            "setup_warm_cpu_s": warm_cpu,
            "store_files": files, "store_bytes": size,
            "live_docs": len(plan.live), "stored_chunks": len(corpus.ids)})


# -- pipeline ------------------------------------------------------------------

# One registry pillar per operator family.
PILLARS = {
    "search": "search_score_topk",
    "ann": "ann_ivf_knn",
    "dedup": "dedup_minhash_lsh",
    "text": "text_tfidf_top_terms",
    "graph": "graph_adamic_adar_links",
    "streaming": "streaming_wal_replay",
    "relational": "revenue_by_nation",
    "multimodal": "multimodal_image_png_roundtrip",
}


def _normalized(df):
    """Columns sorted by name, list cells as tuples, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(
                v, (list, tuple, np.ndarray)) else v)
    return df.sort_values(list(df.columns), ignore_index=True)


def same_rows(got, want) -> str | None:
    """Order-insensitive exact comparison of two result frames, with the
    registry's oracle-parity rules (an int never equals a float; NaN equals
    NaN). Returns the first difference, or None."""
    import math

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)}"
    g, w = _normalized(got), _normalized(want)

    def equal(a, b) -> bool:
        fa = isinstance(a, (float, np.floating))
        fb = isinstance(b, (float, np.floating))
        ia = isinstance(a, (int, np.integer)) and not isinstance(a, bool)
        ib = isinstance(b, (int, np.integer)) and not isinstance(b, bool)
        if (fa and ib) or (ia and fb):
            return False
        if fa and fb:
            return a == b or (math.isnan(a) and math.isnan(b))
        if isinstance(a, tuple) and isinstance(b, tuple):
            return len(a) == len(b) and all(map(equal, a, b))
        return bool(a == b)

    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if not equal(a, b):
                return f"row {i} col {c}: {a!r} vs {b!r}"
    return None


def pipeline(ctx: Context) -> Measured:
    import duckdb

    from server2_vector_search_server_spark.plans import load_registry

    registry = load_registry()
    sf_dir = os.path.join(ctx.work, "tables")
    ctx.request("setup")
    t0 = now()
    rows = inputs.pipeline_tables(ctx.seed, sf_dir)
    # warm pass: every pillar once, collected for the verify step below
    results = {}
    for name in PILLARS.values():
        with ctx.ledger.op(f"warm {name}"):
            results[name] = registry[name].fn(ctx.spark, sf_dir).toPandas()
        ctx.spark.catalog.clearCache()
    setup_s = now() - t0

    ctx.request("verify")
    duck = duckdb.connect()
    for table in rows:
        path = os.path.join(sf_dir, f"{table}.parquet")
        duck.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    for name, got in results.items():
        with ctx.ledger.op(f"verify {name}") as out:
            diff = same_rows(got, duck.execute(registry[name].oracle).df())
            out.check(diff is None, diff or "")
            out.check(len(got) > 0, "both sides empty")
    duck.close()

    times: dict[str, list[float]] = {n: [] for n in PILLARS.values()}
    builds: dict[str, list[float]] = {n: [] for n in times}
    cpus: dict[str, list[float]] = {n: [] for n in times}
    calls: dict[str, list[int]] = {n: [] for n in times}
    jobs: dict[str, list[int]] = {n: [] for n in times}
    passes = 0
    window = stats.Window(ctx.seconds)
    while window.more():
        t_pass = now()
        passes += 1
        for family, name in PILLARS.items():
            ctx.request(f"m{passes}-{name}")
            with ctx.ledger.op(name):
                # a pillar that raises is timed too, so each has a sample
                counted = ctx.counts.snapshot()
                snap, t = ctx.cpu.snapshot(), now()
                try:
                    with ctx.span(f"plans.{family}", pillar=name):
                        df = registry[name].fn(ctx.spark, sf_dir)
                    builds[name].append(now() - t)
                    with ctx.span("spark.action", pillar=name,
                                  family=family):
                        df.write.format("noop").mode("overwrite").save()
                finally:
                    times[name].append(now() - t)
                    cpus[name].append(ctx.cpu.since(snap))
                    n_calls, n_jobs = ctx.counts.since(counted)
                    calls[name].append(n_calls)
                    jobs[name].append(n_jobs)
            ctx.spark.catalog.clearCache()
        window.add(now() - t_pass)
    ctx.request(None)
    per_pillar = {n: stats.median(v) for n, v in times.items()}
    per_cpu = {n: stats.median(v) for n, v in cpus.items()}
    runs = [c for v in cpus.values() for c in v]
    return Measured(
        setup_s=setup_s,
        py4j_calls_per_op=sum(map(sum, calls.values())) / len(runs),
        jobs_per_op=sum(map(sum, jobs.values())) / len(runs),
        main_op_cpu_ms=stats.geomean(list(per_cpu.values())) * 1e3,
        cpu_ms_per_op=sum(runs) / len(runs) * 1e3,
        main_op_ms=stats.geomean(list(per_pillar.values())) * 1e3,
        detail={
            "passes": passes,
            "samples": {n: len(v) for n, v in times.items()},
            "pillars_per_s": len(runs) / sum(window.durations),
            "pass_s": sum(per_pillar.values()),
            "pillar_geomean_s": stats.geomean(list(per_pillar.values())),
            "pillar_s": per_pillar, "pillar_runs_s": times,
            "pillar_cpu_s": per_cpu, "pillar_cpu_runs_s": cpus,
            "pillar_py4j_calls": calls, "pillar_jobs": jobs,
            "pillar_build_s": {n: stats.median(v)
                               for n, v in builds.items() if v},
            "table_rows": rows})
