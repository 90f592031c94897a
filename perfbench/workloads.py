"""The benchmark's workloads: which registered queries run, and why.

Every name here is a key of ``python_etl_sample_spark.registry.REGISTRY``.
The lists are fixed so that two commits time the same work; the run's
``--seed`` only permutes their order within a pass.
"""

from __future__ import annotations

#: 14 of the 69 ``registry.SURVEY_ORDER`` inventory queries, at least
#: one per inventory section: scans and a scratch-staged source, row
#: ops, joins (``join_theta`` has a 25-value equi-key), aggregates,
#: windows, sorts, set ops, scalar functions, batch streaming semantics,
#: a text operator and a scalar pandas UDF. Of the 69, only
#: ``udf_scalar_pandas`` loses plan nodes under ``count()`` at sf0.01 (its
#: ArrowEvalPython), so it is here. Queries whose
#: warm-up would build large shared memos are left to analytics_heavy.
ETL_CORE_QUERIES: tuple[str, ...] = (
    "scan_parquet",
    "source_csv",
    "filter_null",
    "join_inner",
    "join_theta",
    "join_multiway",
    "agg_groupby",
    "win_rank",
    "topk_per_group",
    "set_except",
    "fn_math",
    "stream_session",
    "text_lang_stats",
    "udf_scalar_pandas",
)

#: 6 of the 84 queries outside the inventory in the dedup, text,
#: embedding and streaming-demo families, one for each layer that
#: dominates them: memoized shared intermediates (a cached_df GEMM grid
#: and a cached_value BPE model), Python workers, an embedding kernel,
#: a bounded micro-batch stream that is drained while the query is built
#: and keeps its state in Python workers, and the plans ``count()``
#: prunes. Of the 84, 13 lose exchanges under ``count()`` at sf0.01; two
#: are here: it drops 21 of ``text_boilerplate_ngrams``'s 23 exchanges
#: and 2 of ``dedup_incremental_batch``'s 3. ``graph_pagerank`` (90 of
#: 102) takes 4.5-6 s a call on four cores, more than a run's share of
#: the time budget allows, so no graph query is here.
ANALYTICS_HEAVY_QUERIES: tuple[str, ...] = (
    "text_boilerplate_ngrams",
    "dedup_incremental_batch",
    "dedup_embedding_cosine",
    "text_bpe_encode",
    "embedding_int8_quantize",
    "stream_demo_stateful",
)

#: workload name -> its queries; why each exists is in BENCHMARK.json
WORKLOADS: dict[str, tuple[str, ...]] = {
    "etl_core": ETL_CORE_QUERIES,
    "analytics_heavy": ANALYTICS_HEAVY_QUERIES,
}
