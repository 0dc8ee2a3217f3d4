"""The benchmark's workloads: which operations each one runs, and the
layer every operation belongs to.

An operation (op) is either a registered query, called and then fully
materialized with a `noop` write, or one of the two index-store writes
(`build_index`, `refresh_index`). A workload is a list of steps; every
pass runs the steps in order. The first pass runs the ops inside a step
in listed order, every warm pass in a seeded random order.
"""

from __future__ import annotations

# gmall warehouse chain, one to three queries per pipeline module, plus a
# stateful stream replay over the same event log (a dropDuplicates state
# store). JVM path: Catalyst, job and stage scheduling, shuffle, codegen
# and the state store.
WAREHOUSE = (
    "log_split",                                # pipelines.dwd
    "uv_daily", "order_wide", "user_jump",      # pipelines.dwm
    "product_stats",                            # pipelines.dws
    "gmv_daily",                                # pipelines.serving
    "scd2_history",                             # pipelines.cdc
    "pricing_summary",                          # pipelines.tpch
    "topn_orders_per_priority",                 # pipelines.analytics
    "stream_uv_dedup",                          # streaming
)

# training-data operators derived live (SPARK_GRAFT_INDEX_DIR unset):
# pandas UDF / mapInPandas workers and the session-memo checkpoints
CORPUS_LIVE = (
    "dedup_exact",                              # operators.dedup
    "ann_ivf_topk",                             # operators.similarity
    "text_quality", "token_count",              # operators.text
    "media_features",                           # operators.multimodal
)

# index-store writes, each into a fresh root
INDEX_WRITES = ("build_index", "refresh_index")

# store-backed reads (SPARK_GRAFT_INDEX_DIR set to the run's store dir)
INDEX_READS = (
    "minhash_lsh_pairs_from_index",
    "simhash_neardup_pairs_from_index",
    "bpe_doc_tokens_from_index",
)

WORKLOADS: dict[str, tuple[tuple[str, ...], ...]] = {
    "warehouse": (WAREHOUSE,),
    "corpus": (CORPUS_LIVE, INDEX_WRITES, INDEX_READS),
}

# warm passes per run: enough samples for op_p50_ms (20) and a steady
# warm_pass_s, inside the benchmark's time budget
WARM_PASSES = 2

# artifact families of the two write ops' roots. Only bpe: building the
# docs family costs about 9 s per pass at this scale, more than the
# budget allows per warm pass.
WRITE_FAMILIES = ("bpe",)

# artifact families of the read store, which the first store read of a
# run builds. The vecs family (IVF/PQ/SRP) is left out for time.
READ_FAMILIES = ("docs", "bpe")

STORE_READS = frozenset(INDEX_READS)

# layer name -> the program module whose QUERIES registers its ops
LAYER_MODULES = {
    "pipelines.dwd": "gmallbiguan_parent_spark.pipelines.dwd",
    "pipelines.dwm": "gmallbiguan_parent_spark.pipelines.dwm",
    "pipelines.dws": "gmallbiguan_parent_spark.pipelines.dws",
    "pipelines.serving": "gmallbiguan_parent_spark.pipelines.serving",
    "pipelines.cdc": "gmallbiguan_parent_spark.pipelines.cdc",
    "pipelines.tpch": "gmallbiguan_parent_spark.pipelines.tpch",
    "pipelines.analytics": "gmallbiguan_parent_spark.pipelines.analytics",
    "operators.dedup": "gmallbiguan_parent_spark.operators.dedup",
    "operators.similarity": "gmallbiguan_parent_spark.operators.similarity",
    "operators.text": "gmallbiguan_parent_spark.operators.text",
    "operators.multimodal": "gmallbiguan_parent_spark.operators.multimodal",
    "operators.index_store": "gmallbiguan_parent_spark.operators.index_store",
    "streaming": "gmallbiguan_parent_spark.streaming.queries",
}


def query_ops() -> list[str]:
    """Every registered query some workload runs (the golden file's keys)."""
    return [
        op
        for steps in WORKLOADS.values()
        for step in steps
        for op in step
        if op not in INDEX_WRITES
    ]


def op_layers() -> dict[str, str]:
    """op name -> layer, read from each layer module's QUERIES registry."""
    import importlib

    layers = {op: "operators.index_store" for op in INDEX_WRITES}
    for layer, module in LAYER_MODULES.items():
        for op in importlib.import_module(module).QUERIES:
            layers.setdefault(op, layer)
    return layers
