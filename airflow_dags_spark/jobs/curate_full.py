"""End-to-end training-corpus curation pipeline: the composed form of the
engine's LLM-data operators, runnable as one job.

Stages (each optional, each observable):

1. quality gate      — functions/text.quality_gate: language, stopword
                       and punctuation ratios, ``min_tokens``
2. exact dedup       — operators/dedup.exact_dedup (min key per content
                       hash); survivors' rows come back by a key semi-join
3. near dedup        — operators/dedup.near_dup_losers: MinHash band
                       candidates capped at 8 representatives per bucket,
                       exact 3-shingle Jaccard verify ≥ threshold,
                       min-key survivor
4. span removal      — (optional, ``remove_spans=True``) substring-grain
                       rewrite: non-owned exactly-duplicated spans removed
                       (operators/dedup.remove_duplicated_spans — the
                       rewrite is whitespace-normalized but CASE-
                       PRESERVING); docs left empty by the rewrite drop
                       out of the funnel, and the stage row carries
                       ``tokens_removed`` summed over ALL docs, including
                       the fully-removed ones
5. semantic dedup    — SemDeDup over the embeddings table (cluster-bounded
                       cosine), joined back by doc id
6. mixture balance   — (optional, ``balance_by=<group col>``) deterministic
                       md5-threshold downsampling of every group to
                       ``balance_target`` docs (default: the smallest
                       group) — functions/sampling.mixture_sample
7. sequence packing  — (optional, ``pack_window=<n tokens>``) annotate each
                       surviving doc with its [start, end) offset in the
                       concatenated token stream and the first/last
                       training window it lands in
                       (operators/packing.token_stream_offsets; two-phase
                       distributed prefix sum, never a global window);
                       ``out["packing"]`` reports stream totals
8. shard export      — deterministic hash shards via
                       operators/export.write_training_shards, or (with
                       ``pack_window`` + ``windows_per_shard``)
                       self-contained token-range dataloader shards via
                       write_packed_shards

Funnel accounting is single-pass: boundary counts come from Observations
embedded in the lineage plus carried-forward counts (stage N's rows_in IS
stage N-1's rows_out), the stage-1 and stage-2 outputs are
DISK_ONLY-persisted for their multiple consumers, and the input therefore
streams through the pipeline exactly once (tests/test_curate_full.py::
test_funnel_is_single_pass). The job returns the funnel —
``[{stage, rows_in, rows_out, dropped}, ...]`` — the number the reference
prints into task logs (dags/pull_new_sales_list.py logging), made a
first-class result. Stages 1-3 are the functions the registered
``curate_funnel_counts`` query calls, so its DuckDB oracle checks this
job's funnel (tests/test_curate_full.py pins the two equal); funnel
monotonicity and end-state equality are tested there too.

100 TB shape: stages 1-2 are scan + one md5 shuffle; 3 shuffles band keys
(bounded by docs × bands); 4 is the bounded-cluster SemDeDup; 5 is one
hash shuffle. Nothing all-pairs, nothing driver-resident but counters.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_dags_spark.functions.text import quality_gate, token_count
from airflow_dags_spark.operators.dedup import (
    exact_dedup,
    near_dup_losers,
    remove_duplicated_spans,
)

# Fixed settings of the optional stages.
SPAN_N_SHINGLE = 8          # span removal: shingle length of a duplicated span
SEMANTIC_THRESHOLD = 0.95   # semantic dedup: cosine at which docs are dups
EMB_KEY = "vec_id"          # semantic dedup: embeddings key joined to key_col
PACK_BUCKET_WIDTH = 65536   # packing: key-range bucket of the prefix sum


def curate_full(
    spark: SparkSession,
    docs: DataFrame,
    *,
    embeddings: DataFrame | None = None,
    out_path: str | None = None,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    jaccard_threshold: float = 0.8,
    remove_spans: bool = False,
    span_min_run: int = 2,
    balance_by: str | None = None,
    balance_target: int | None = None,
    pack_window: int | None = None,
    windows_per_shard: int | None = None,
    n_shards: int = 16,
) -> dict:
    """Run the curation funnel; returns ``{"funnel": [...], "result": df}``
    (plus ``"shards"`` when ``out_path`` is given). ``embeddings`` enables
    the semantic stage (joined on ``key_col == EMB_KEY``). Keys must be
    unique in ``docs``."""
    from airflow_dags_spark.functions.metrics import with_observation
    from airflow_dags_spark.operators.clustering import semantic_dedup

    funnel: list[dict] = []

    def record(name: str, n_in: int, n_out: int):
        funnel.append(
            {"stage": name, "rows_in": n_in, "rows_out": n_out,
             "dropped": n_in - n_out}
        )

    # Funnel accounting is SINGLE-PASS: boundary counts come from
    # Observations embedded in the lineage (computed while rows stream
    # through during the stage actions below) plus carried-forward counts
    # (stage N's rows_in IS stage N-1's rows_out) — no stage ever
    # re-executes upstream lineage just to count it.
    docs, obs_docs = with_observation(docs, "curate_docs", n=F.count(F.lit(1)))

    # 1 — quality gate (one scan-side filter, zero shuffle). Persisted:
    # stage 2 reads the gated rows twice (the hash aggregate and the
    # survivor semi-join), and the input must stream once.
    gated = quality_gate(docs, text_col, min_tokens).persist(
        StorageLevel.DISK_ONLY
    )
    n_gated = gated.count()  # ONE action executes stage 1, fills cache
    n_docs = int(obs_docs.get["n"])
    record("quality_gate", n_docs, n_gated)

    # 2 — exact dedup (one hash shuffle, min key wins), full rows back by
    # a key semi-join. Stage 3 consumes `exact` three times (banding, the
    # shingle projection, the anti-join base); persisting it makes those
    # reuses read a local copy instead of re-running stage 2 per consumer.
    # DISK_ONLY: the deduped corpus must not compete with executor heap at
    # 100 TB — it spills to local shuffle disks exactly like an exchange.
    survivors = exact_dedup(gated, text_col, key_col).select(key_col)
    exact = gated.join(survivors, key_col, "left_semi").persist(
        StorageLevel.DISK_ONLY
    )
    n_exact = exact.count()
    record("exact_dedup", n_gated, n_exact)

    # 3 — near dedup: capped band candidates, exact verify, min key wins
    losers = near_dup_losers(exact, text_col, key_col, jaccard_threshold)
    near = exact.join(losers, key_col, "left_anti")

    # 4 — span removal (optional): substring-grain rewrite of the
    # surviving corpus. remove_duplicated_spans consumes its input through
    # several branches (positioned hashes twice, content twice, the token
    # rebuild) — persist the stage-3 survivors first so those branches
    # read a local copy instead of re-running stages 1-3 (the same
    # DISK_ONLY discipline as the stage-2 cache), at the cost of one extra
    # boundary action for the concrete near-dedup count.
    obs_span = None
    n_near_concrete = None
    near_cached = None
    if remove_spans:
        near_cached = near.persist(StorageLevel.DISK_ONLY)
        n_near_concrete = near_cached.count()  # executes stage 3 once
        cleaned = remove_duplicated_spans(
            near_cached, text_col, key_col, SPAN_N_SHINGLE, span_min_run
        )
        # tokens_removed is observed BEFORE the NULL filter: docs whose
        # ENTIRE text was removed (clean_text NULL) are exactly the
        # largest removals, and summing after the inner join below would
        # exclude them from the reported total. CollectMetrics is a
        # predicate-pushdown barrier, so the filter cannot sink below the
        # observation (tests/test_curate_full.py pins this).
        cleaned, obs_tok = with_observation(
            cleaned, "curate_span_tokens", tok=F.sum("n_tokens_removed")
        )
        # inner join: docs whose every token was a non-owned duplicated
        # span have NULL clean_text and DROP out of the funnel here
        near = near_cached.drop(text_col).join(
            cleaned.where(F.col("clean_text").isNotNull()).select(
                F.col(key_col),
                F.col("clean_text").alias(text_col),
            ),
            key_col,
        )
        near, obs_span = with_observation(
            near, "curate_span", n=F.count(F.lit(1))
        )

    # 5 — semantic dedup (optional): SemDeDup kept-flags joined back
    result = near
    obs_near = None
    if embeddings is not None:
        near, obs_near = with_observation(
            near, "curate_near", n=F.count(F.lit(1))
        )
        marked = semantic_dedup(
            embeddings, SEMANTIC_THRESHOLD, key_col=EMB_KEY
        ).where(F.col("kept"))
        result = near.join(
            marked.select(F.col(EMB_KEY).alias(key_col)), key_col, "left_semi"
        )

    # 6 — mixture balance (optional): deterministic per-group downsample.
    # The keep rule is a pure hash predicate (scan-side filter, no window,
    # rates broadcast), so it composes into the final action for free; the
    # stage input count is one more Observation on the chain.
    obs_prebal = None
    if balance_by is not None:
        from airflow_dags_spark.functions.sampling import mixture_sample

        result, obs_prebal = with_observation(
            result, "curate_prebal", n=F.count(F.lit(1))
        )
        result = mixture_sample(result, balance_by, key_col, balance_target)

    # 7 — sequence packing (optional): annotate survivors with their
    # token-stream offsets and window span. The offsets subtree consumes
    # the survivor frame a second time (bucket sums + the cumsum join),
    # so persist-and-materialize first — the same DISK_ONLY discipline as
    # the other multi-consumer stages.
    obs_pack = None
    packed_cache = None
    if pack_window is not None:
        if pack_window < 1:
            raise ValueError(f"pack_window must be >= 1, got {pack_window}")
        from airflow_dags_spark.operators.packing import token_stream_offsets

        packed_cache = result.persist(StorageLevel.DISK_ONLY)
        packed_cache.count()  # one action: stages 3-6 run once, fill cache
        counts = packed_cache.select(
            F.col(key_col), token_count(text_col).alias("__n")
        )
        offsets = token_stream_offsets(
            counts, key_col, "__n", PACK_BUCKET_WIDTH
        )
        offsets, obs_pack = with_observation(
            offsets, "curate_pack", n_tokens=F.max("end")
        )
        wt = F.lit(pack_window).cast("bigint")
        result = packed_cache.join(
            offsets.select(
                key_col,
                F.col("start").alias("token_start"),
                F.col("end").alias("token_end"),
                F.floor(F.col("start") / wt).cast("bigint").alias("first_window"),
                F.floor((F.col("end") - 1) / wt).cast("bigint").alias("last_window"),
            ),
            key_col,
            # left: packing annotates, never filters — a zero-count doc
            # (possible only with an injected real tokenizer; the portable
            # whitespace count is always >= 1) keeps NULL placement
            "left",
        )

    out: dict = {"funnel": funnel, "result": result}

    # The FINAL action both finishes the funnel and (optionally) ships the
    # shards: stages 3-7 execute exactly once, off the stage caches.
    if out_path is not None:
        if windows_per_shard is not None:
            # packed export: shards are ranges of the token stream
            # (self-contained — boundary straddlers duplicated), so the
            # dataloader reads window K's shard alone; requires the
            # packing stage's offset annotation
            if pack_window is None:
                raise ValueError("windows_per_shard requires pack_window")
            from airflow_dags_spark.operators.export import write_packed_shards

            stats = write_packed_shards(
                result, out_path, pack_window, windows_per_shard,
                key_col=key_col,
            )
            out["shards"] = stats
            n_final = stats["n_docs"]  # straddler copies are not new docs
        else:
            from airflow_dags_spark.operators.export import (
                write_training_shards,
            )

            stats = write_training_shards(result, out_path, [key_col], n_shards)
            out["shards"] = stats
            n_final = stats["rows"]
    else:
        n_final = result.count()

    # resolve the observation chain back-to-front into funnel rows; each
    # stage's rows_in IS the previous stage's rows_out. The balance stage
    # (when enabled) observes its own input, so it — not n_final — is the
    # rows_out of whatever stage precedes it.
    n_prebal = int(obs_prebal.get["n"]) if obs_prebal is not None else None
    n_last = n_prebal if n_prebal is not None else n_final
    if remove_spans:
        n_span = int(obs_span.get["n"])
        tokens_removed = int(obs_tok.get["tok"] or 0)
        record("near_dedup", n_exact, n_near_concrete)
        funnel.append(
            {
                "stage": "span_removal",
                "rows_in": n_near_concrete,
                "rows_out": n_span,
                "dropped": n_near_concrete - n_span,
                "tokens_removed": tokens_removed,
            }
        )
        if obs_near is not None:
            # obs_near re-measures the span output on the semantic branch;
            # the semantic row is the only count-changing stage left
            record("semantic_dedup", n_span, n_last)
    elif obs_near is not None:
        n_near = int(obs_near.get["n"])
        record("near_dedup", n_exact, n_near)
        record("semantic_dedup", n_near, n_last)
    else:
        record("near_dedup", n_exact, n_last)
    if n_prebal is not None:
        record("mixture_balance", n_prebal, n_final)
    if obs_pack is not None:
        total_tokens = int(obs_pack.get["n_tokens"] or 0)
        out["packing"] = {
            "window_tokens": pack_window,
            "n_tokens": total_tokens,
            "n_windows": -(-total_tokens // pack_window),
        }
    if packed_cache is not None:
        packed_cache.unpersist(blocking=False)
    if near_cached is not None:
        near_cached.unpersist(blocking=False)
    exact.unpersist(blocking=False)
    gated.unpersist(blocking=False)
    return out
