"""pythonvectordb_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference `PythonVectorDB`
(in-memory int8-quantized brute-force vector DB; see SURVEY.md), rebuilt
Spark-first for 100 TB scale.

Design stance (SURVEY.md §7):
  * One Parquet-backed vector table ``(vec_id, embedding, qvec, metadata…)``;
    immutable snapshots, never positional state.
  * Every operator is a pure ``DataFrame -> DataFrame`` function.
  * Native ``pyspark.sql.functions`` expressions (whole-stage codegen) for
    all hot paths; Pandas UDFs only where built-ins can't express semantics.
  * No custom Catalyst rules needed (SURVEY.md §4).
"""

import importlib
import os

__version__ = "0.1.0"

# Cap BLAS pools on any import of the package, before numpy loads and
# before the JVM (and its Python workers) spawn: N concurrent pandas-UDF
# tasks each opening a full-width OpenBLAS pool oversubscribes the host
# (measured: ~3x slowdown on 32 cores).
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "4")

# public name -> defining submodule, imported on first access (PEP 562):
# importing the package (as every Python worker's daemon does) loads no
# numpy, pandas or pyspark.sql until a name is used
_SUBMODULES = {
    "session": ("get_spark",),
    "functions.vector": (
        "cosine_similarity",
        "cosine_similarity_int8",
        "cosine_similarity_int8_sym",
        "dequantize",
        "l2_normalize",
        "quantize",
    ),
    "operators.search": (
        "ann_ivf_pq_search",
        "ann_ivf_search",
        "ann_lsh_multiprobe_search",
        "ann_lsh_search",
        "ann_pq_search",
        "get_vector",
        "pq_code_expr",
        "knn_join",
        "knn_search",
        "knn_search_float",
        "l2_knn_search",
        "mips_search",
        "rrf_fuse",
        "with_qvec",
    ),
    "operators.curation": (
        "cap_per_source",
        "decontaminate",
        "dup_cluster_stats",
        "pii_scrub",
        "stratified_sample",
    ),
    "operators.mutation": ("add_vectors", "delete_vectors", "upsert_vectors"),
    "operators.dedup": (
        "connected_components",
        "dedup_exact",
        "embedding_near_dup",
        "incremental_minhash_dedup",
        "minhash_lsh_pairs",
        "minhash_side",
        "ngram_jaccard_pairs",
        "resolve_duplicates",
        "semantic_dedup_pairs",
        "simhash_pairs",
    ),
    "operators.textops": (
        "build_vocab",
        "chunk_documents",
        "corpus_stats",
        "encode_tokens",
        "pack_sequences",
    ),
    "operators.timeseries": (
        "asof_join",
        "hypertable_rollup",
        "moving_window_stats",
        "sessionize",
    ),
    "operators.sketch": ("cms_build", "cms_estimate", "key_skew_report"),
    "operators.export": ("assign_shards", "shard_stats", "write_training_shards"),
    "operators.graph": ("pagerank",),
    "sources.snapshot": (
        "build_vector_table",
        "load_snapshot",
        "save_snapshot",
        "validate_batch",
    ),
    "serving": ("KnnServer", "quantize_query"),
    "operators.layout": (
        "bloom_pass_filter",
        "bloom_semi_join",
        "snapshot_diff",
        "zorder_key",
        "zorder_pruning_stats",
    ),
    "sources.zonemap": ("build_zone_map", "pruned_read", "zone_files_for_range"),
}
_EXPORTS = {name: mod for mod, names in _SUBMODULES.items() for name in names}
__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value
