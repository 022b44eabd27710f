"""Multi-row operators: upsert/merge library, dedup family, similarity
search, temporal joins, multimodal pipelines, bucketed layout, table
maintenance (CDC diff, compaction, z-order), training-shard export."""

from airflow_dags_spark.operators.export import (
    read_shard_subset,
    shard_assignment,
    shard_histogram,
    write_packed_shards,
    write_training_shards,
)
from airflow_dags_spark.operators.bucketing import (
    colocated_join,
    read_bucketed,
    write_bucketed,
)
from airflow_dags_spark.operators.dedup import (
    connected_components,
    exact_dedup,
    minhash_bands,
    minhash_candidate_pairs,
    minhash_incremental_screen,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash,
)
from airflow_dags_spark.operators.packing import (
    TokenStreamStore,
    spans_from_counts,
    token_window_spans,
)
from airflow_dags_spark.operators.scoring import linear_score_arrow
from airflow_dags_spark.operators.maintenance import (
    agg_delta,
    agg_state,
    compact,
    merge_agg_state,
    table_diff,
    zorder_layout,
)
from airflow_dags_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
    semantic_dedup,
    semantic_dedup_two_level,
)
from airflow_dags_spark.operators.skipping import (
    collect_file_blooms,
    collect_file_stats,
    point_lookup,
    prune_files,
    prune_files_bloom,
    read_with_skipping,
    update_file_stats,
)
from airflow_dags_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_payload,
    extract_features,
    resize_decoded,
    sample_frames,
)
from airflow_dags_spark.operators.similarity import (
    brute_force_topk,
    cosine_topk,
    embedding_near_dup,
    ivf_ann_topk,
    lsh_ann_topk,
    pq_ann_topk,
)
from airflow_dags_spark.operators.bloomjoin import bloom_filtered_join
from airflow_dags_spark.operators.hidden_partitioning import HiddenPartitionTable
from airflow_dags_spark.operators.temporal import asof_join, asof_join_cogrouped, range_join
from airflow_dags_spark.operators.ingest import (
    MinhashSignatureStore,
    bloom_screened_insert_if_absent,
)
from airflow_dags_spark.operators.versioning import VersionedParquetTable
from airflow_dags_spark.operators.upsert import ParquetTable

__all__ = [
    "colocated_join",
    "read_bucketed",
    "write_bucketed",
    "connected_components",
    "exact_dedup",
    "minhash_bands",
    "minhash_candidate_pairs",
    "minhash_incremental_screen",
    "minhash_lsh_pairs",
    "linear_score_arrow",
    "ngram_jaccard",
    "simhash",
    "TokenStreamStore",
    "spans_from_counts",
    "token_window_spans",
    "agg_delta",
    "agg_state",
    "compact",
    "merge_agg_state",
    "table_diff",
    "zorder_layout",
    "assign_clusters",
    "kmeans_fit",
    "semantic_dedup",
    "semantic_dedup_two_level",
    "collect_file_blooms",
    "collect_file_stats",
    "point_lookup",
    "prune_files",
    "prune_files_bloom",
    "read_with_skipping",
    "update_file_stats",
    "bloom_filtered_join",
    "attach_payload_metadata",
    "decode_payload",
    "extract_features",
    "resize_decoded",
    "sample_frames",
    "brute_force_topk",
    "cosine_topk",
    "embedding_near_dup",
    "ivf_ann_topk",
    "lsh_ann_topk",
    "pq_ann_topk",
    "HiddenPartitionTable",
    "asof_join",
    "asof_join_cogrouped",
    "range_join",
    "ParquetTable",
    "VersionedParquetTable",
    "MinhashSignatureStore",
    "bloom_screened_insert_if_absent",
    "read_shard_subset",
    "shard_assignment",
    "shard_histogram",
    "write_packed_shards",
    "write_training_shards",
]
