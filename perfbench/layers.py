"""Per-layer metrics of a traced run.

:func:`instrument` wraps the package's public functions at the layer
boundaries, from here; :func:`per_layer` turns the recorded spans into the
``<module>.<function>.<stat>`` metrics listed in ``BENCHMARK.json``, which
owns their names and units. Every workload reports every metric: a layer
the workload never calls reads 0.

Stats are medians per call over the measured window (spans whose request
id starts with ``m``), except ``.calls`` (calls per measured request); the
family metrics of the pipeline are medians over the passes of the family's
one pillar.
"""

from __future__ import annotations

from typing import Any

import stats
from spans import Tracer
from workloads import PILLARS

# (owner module path, attribute, span name)
_BOUNDARIES = [
    ("engine", "DocumentSearchEngine.embed_query", "engine.embed_query"),
    ("engine", "DocumentSearchEngine.upload_documents",
     "engine.upload_documents"),
    # hash_embedding_expr is shared by the query path (through the engine
    # module's name) and the ingest path (through embed_hash's module)
    ("engine", "hash_embedding_expr", "embedding.hash_embedding_expr"),
    ("embedding", "hash_embedding_expr", "embedding.hash_embedding_expr"),
    ("engine", "embed_hash", "embedding.embed_hash"),
    ("engine", "ingest_documents", "plans.ingest.ingest_documents"),
    ("engine", "_list_documents", "operators.catalog.list_documents"),
    ("engine", "group_documents", "operators.catalog.group_documents"),
    ("plans.ingest", "search_store", "plans.ingest.search_store"),
    ("plans.ingest", "chunk_documents", "operators.chunking.chunk_documents"),
    ("plans.ingest", "dedup_new_documents",
     "operators.catalog.dedup_new_documents"),
    ("operators.knn", "knn_topk", "operators.knn.knn_topk"),
    ("sources.store", "ChunkStore.read", "sources.store.read"),
    ("sources.store", "ChunkStore.append", "sources.store.append"),
    ("sources.store", "ChunkStore.delete_document",
     "sources.store.delete_document"),
]

# (span name, stats) reported as <span>.<stat>
_SPAN_STATS = [
    ("engine.embed_query", ["wall_s", "py4j_calls", "jobs"]),
    ("embedding.hash_embedding_expr", ["wall_s", "py4j_calls"]),
    ("plans.ingest.search_store", ["wall_s", "py4j_calls"]),
    ("operators.knn.knn_topk", ["wall_s", "py4j_calls"]),
    ("sources.store.read", ["calls"]),
    ("operators.catalog.list_documents", ["wall_s"]),
    ("operators.catalog.group_documents", ["wall_s"]),
    ("spark.action", ["wall_s", "jobs", "stages", "executor_run_s",
                      "input_bytes", "max_task_s"]),
    ("engine.upload_documents", ["self_s", "jobs"]),
    ("plans.ingest.ingest_documents", ["self_s", "jobs", "executor_run_s"]),
    ("operators.chunking.chunk_documents", ["wall_s", "py4j_calls"]),
    ("embedding.embed_hash", ["wall_s", "py4j_calls"]),
    ("operators.catalog.dedup_new_documents", ["wall_s"]),
    ("sources.store.append", ["wall_s", "jobs", "output_bytes"]),
    ("sources.store.delete_document", ["wall_s", "jobs", "output_bytes"]),
]
# a delete's output bytes are the partitions it rewrote
_RENAME = {"sources.store.delete_document.output_bytes":
           "sources.store.delete_document.bytes_rewritten"}
FAMILY_STATS = ["build_s", "eager_jobs", "py4j_calls", "exec_s", "jobs",
                "shuffle_bytes", "spill_bytes", "max_task_s"]
# metrics the workloads compute from their own bookkeeping
_DETAIL = {
    "operators.chunking.chunk_documents.chunks_per_doc": "chunks_per_doc",
    "operators.catalog.dedup_new_documents.accept_ratio": "accept_ratio",
    "sources.store.files": "store_files",
    "sources.store.bytes": "store_bytes",
}


def instrument(tracer: Tracer) -> None:
    import importlib

    for module, attr, name in _BOUNDARIES:
        owner = importlib.import_module(
            f"server2_vector_search_server_spark.{module}")
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        tracer.wrap(owner, leaf, name)


def _stat(tracer: Tracer, span: dict[str, Any], key: str) -> float:
    if key in ("wall_s", "self_s"):
        return span[key]
    if key == "py4j_calls":
        return span["py4j"]
    if key == "jobs":
        return len(span["jobs"])
    totals = tracer.span_stages(span)
    return totals["stages" if key == "stages" else key]


def per_layer(tracer: Tracer, requests: int, measured,
              detail: dict[str, Any]) -> dict[str, float]:
    spans = tracer.finished()
    in_window = [s for s in spans if (s["request"] or "").startswith("m")]
    by_name: dict[str, list[dict[str, Any]]] = {}
    for s in in_window:
        by_name.setdefault(s["name"], []).append(s)

    out: dict[str, float] = {}
    setup = [s for s in spans if s["name"] == "session.get_spark"]
    out["session.get_spark.wall_s"] = setup[0]["wall_s"] if setup else 0.0
    for name, keys in _SPAN_STATS:
        group = by_name.get(name, [])
        if name == "spark.action":   # pipeline writes count per family
            group = [s for s in group if "family" not in s["attrs"]]
        for key in keys:
            metric = _RENAME.get(f"{name}.{key}", f"{name}.{key}")
            if key == "calls":
                out[metric] = len(group) / requests if requests else 0.0
            elif group:
                out[metric] = stats.median([_stat(tracer, s, key)
                                            for s in group])
            else:
                out[metric] = 0.0
    for metric, key in _DETAIL.items():
        out[metric] = float(detail.get(key) or 0.0)

    def med(group, key):
        return stats.median([_stat(tracer, s, key) for s in group])

    for fam in PILLARS:
        builds = by_name.get(f"plans.{fam}", [])
        execs = [s for s in by_name.get("spark.action", [])
                 if s["attrs"].get("family") == fam]
        fam_out = dict.fromkeys(FAMILY_STATS, 0.0)
        if builds and execs:
            fam_out.update(
                build_s=med(builds, "wall_s"),
                eager_jobs=med(builds, "jobs"),
                py4j_calls=med(builds, "py4j_calls"),
                exec_s=med(execs, "wall_s"),
                jobs=med(execs, "jobs"),
                shuffle_bytes=(med(builds, "shuffle_bytes")
                               + med(execs, "shuffle_bytes")),
                spill_bytes=(med(builds, "spill_bytes")
                             + med(execs, "spill_bytes")),
                max_task_s=max(med(builds, "max_task_s"),
                               med(execs, "max_task_s")))
        for key, value in fam_out.items():
            out[f"plans.{fam}.{key}"] = value
    out["trace.main_op_ms"] = measured.main_op_ms
    out["trace.main_op_cpu_ms"] = measured.main_op_cpu_ms
    out["trace.cpu_ms_per_op"] = measured.cpu_ms_per_op
    return out
