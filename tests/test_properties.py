"""Property-based tests (hypothesis) for the genuinely custom pieces: the
balanced-brace extractor (pure function → many examples) and the MERGE
library's algebraic laws (Spark round-trips → few examples, wide coverage)."""

from __future__ import annotations

import pytest
import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_dags_spark.functions.json_extract import extract_balanced_json
from airflow_dags_spark.operators.upsert import ParquetTable

# --- balanced-brace extractor: pure function, heavy example budget ----------

json_scalars = st.one_of(
    st.integers(min_value=-(10**9), max_value=10**9),
    st.booleans(),
    st.none(),
    st.text(max_size=40),  # includes braces, quotes, backslashes, unicode
)
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=10), children, max_size=4),
    ),
    max_leaves=12,
)
json_objects = st.dictionaries(st.text(max_size=10), json_values, max_size=5)


@given(
    obj=json_objects,
    prefix=st.text(max_size=60),
    suffix=st.text(max_size=60),
)
@settings(max_examples=300, deadline=None)
def test_balanced_extract_roundtrips_arbitrary_json(obj, prefix, suffix):
    """Whatever JSON object is embedded after the marker — nested braces,
    braces inside strings, escapes — the extractor returns exactly it."""
    payload = json.dumps(obj)
    text = f"{prefix}<script>window.jsonModel = {payload};</script>{suffix}"
    got = extract_balanced_json(text)
    assert got is not None
    assert json.loads(got) == obj


@given(noise=st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_balanced_extract_no_marker_is_null(noise):
    assert extract_balanced_json(noise.replace("window.jsonModel", "")) is None


@given(depth=st.integers(min_value=1, max_value=50))
@settings(max_examples=50, deadline=None)
def test_balanced_extract_unbalanced_is_null(depth):
    text = "window.jsonModel = " + "{" * depth + '"k": 1'
    assert extract_balanced_json(text) is None


# --- MERGE library laws: Spark-backed, small example budget ------------------

batches = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # key (small domain → conflicts)
        st.integers(min_value=-100, max_value=100),  # value
        st.integers(min_value=0, max_value=9),  # order_by column
    ),
    min_size=1,
    max_size=8,
)


@given(b1=batches, b2=batches)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_merge_laws(spark, tmp_path_factory, b1, b2):
    """Laws the reference's ON CONFLICT semantics imply, on arbitrary batches:
    - idempotency: applying a batch twice == once (both K3 and K4)
    - K3 insert-if-absent never changes existing keys
    - K4 merge leaves exactly one row per distinct key
    """
    base = tmp_path_factory.mktemp("merge_laws")
    df1 = spark.createDataFrame(b1, "k int, v int, ord int")
    df2 = spark.createDataFrame(b2, "k int, v int, ord int")

    # K3 idempotency + no-touch
    t3 = ParquetTable(spark, str(base / "t3"), "k")
    t3.insert_if_absent(df1, order_by=["ord", "v"])
    first = {(r["k"], r["v"]) for r in t3.read().collect()}
    t3.insert_if_absent(df1, order_by=["ord", "v"])
    assert {(r["k"], r["v"]) for r in t3.read().collect()} == first
    t3.insert_if_absent(df2, order_by=["ord", "v"])
    after = {r["k"]: r["v"] for r in t3.read().collect()}
    # existing keys kept their first values
    for k, v in first:
        assert after[k] == v

    # K4: one row per key, idempotent
    t4 = ParquetTable(spark, str(base / "t4"), "k")
    t4.merge_upsert(df1, order_by=["ord", "v"])
    t4.merge_upsert(df2, order_by=["ord", "v"])
    rows = t4.read().collect()
    keys = [r["k"] for r in rows]
    assert len(keys) == len(set(keys)) == len({k for k, _, _ in b1} | {k for k, _, _ in b2})
    snapshot = {(r["k"], r["v"]) for r in rows}
    t4.merge_upsert(df2, order_by=["ord", "v"])
    assert {(r["k"], r["v"]) for r in t4.read().collect()} == snapshot


# --- one keyed-write sequence, both layouts, one plain-Python model ----------

keyed_writes = st.lists(
    st.one_of(
        st.tuples(st.just("merge_upsert"), batches),
        st.tuples(st.just("delete_where"), st.integers(min_value=-100, max_value=100)),
        st.tuples(
            st.just("delete_keys"), st.lists(st.integers(min_value=0, max_value=6), max_size=4)
        ),
    ),
    min_size=1,
    max_size=4,
)


# key k lives in partition PARTS[k % 7]: digit strings (read back as int
# while no other value is left), "" and None (both stored as
# __HIVE_DEFAULT_PARTITION__, read back as null) and values Spark escapes
# in directory names
PARTS = ["202400", "202401", "202402", "", None, "a/b", "x=y"]


def _part(v):
    return None if v in (None, "") else str(v)


@given(ops=keyed_writes)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_keyed_writes_match_model_on_both_layouts(spark, tmp_path_factory, ops):
    """A random sequence of merge_upsert / delete_where (``v < x``) /
    delete_keys calls after a seed merge gives the same rows on an unpartitioned table and on
    one partitioned by ``part`` (whole-table swap vs touched-partition
    rewrite), equal after every call to a dict model of the same
    statements: first-wins by (ord, v) within a key, then
    update-or-insert; delete the keys the predicate or the key set
    names."""
    base = tmp_path_factory.mktemp("keyed_writes")
    tables = [
        ParquetTable(spark, str(base / "flat"), "k"),
        ParquetTable(spark, str(base / "part"), "k", partition_by=["part"]),
    ]
    model: dict[int, tuple[int, int]] = {}  # k -> (v, ord)
    seed = [(k, 0, 0) for k in range(7, 14)]  # a row in each partition
    for op, arg in [("merge_upsert", seed), *ops]:
        if op == "merge_upsert":
            df = spark.createDataFrame(
                [(k, v, PARTS[k % 7], o) for k, v, o in arg],
                "k int, v int, part string, ord int",
            )
            for t in tables:
                t.merge_upsert(df, order_by=["ord", "v"])
            for k in {k for k, _, _ in arg}:
                ordv = min((o, v) for kk, v, o in arg if kk == k)
                model[k] = (ordv[1], ordv[0])
        elif op == "delete_where":
            for t in tables:
                t.delete_where(F.col("v") < arg)
            model = {k: vo for k, vo in model.items() if not vo[0] < arg}
        else:
            keys = spark.createDataFrame([(k,) for k in arg], "k int")
            for t in tables:
                t.delete_keys(keys)
            model = {k: vo for k, vo in model.items() if k not in arg}
        want = {(k, v, _part(PARTS[k % 7]), o) for k, (v, o) in model.items()}
        for t in tables:
            if t.exists():
                got = {(r["k"], r["v"], _part(r["part"]), r["ord"]) for r in t.read().collect()}
            else:
                got = set()
            assert got == want, (t.path, op, arg)


# --- as-of join vs naive reference -------------------------------------------

asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=1000), # ts (seconds offset)
        st.integers(min_value=-50, max_value=50), # value
    ),
    min_size=0,
    max_size=12,
)


@given(lrows=asof_rows, rrows=asof_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_naive(spark, lrows, rrows):
    """The union-window as-of rewrite must agree with the obvious per-row
    definition (latest right row with ts <= left ts, per key) on arbitrary
    inputs, including duplicate left timestamps and empty sides."""
    from datetime import datetime, timedelta

    from airflow_dags_spark.operators.temporal import asof_join

    base = datetime(2026, 1, 1)
    # dedupe right rows on (key, ts): the survivor is undefined otherwise
    # (document contract; DuckDB ASOF has the same caveat)
    rmap = {}
    for k, t, v in rrows:
        rmap[(k, t)] = v
    left = spark.createDataFrame(
        [(k, base + timedelta(seconds=t), v) for k, t, v in lrows] or [],
        "k bigint, ts timestamp, lv bigint",
    ) if lrows else spark.createDataFrame([], "k bigint, ts timestamp, lv bigint")
    right = spark.createDataFrame(
        [(k, base + timedelta(seconds=t), v) for (k, t), v in rmap.items()] or [],
        "k bigint, ts timestamp, rv bigint",
    ) if rmap else spark.createDataFrame([], "k bigint, ts timestamp, rv bigint")

    got = sorted(
        (r["k"], r["ts"].isoformat(), r["lv"], r["rv_asof"])
        for r in asof_join(left, right, key="k", ts="ts", value_cols=["rv"]).collect()
    )

    expected = []
    for k, t, v in lrows:
        cands = [(rt, rv) for (rk, rt), rv in rmap.items() if rk == k and rt <= t]
        rv = max(cands)[1] if cands else None
        expected.append((k, (base + timedelta(seconds=t)).isoformat(), v, rv))
    assert got == sorted(expected)


@given(points=asof_rows, rrows=asof_rows)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_range_join_matches_naive(spark, points, rrows):
    """Bucketized range join == naive containment filter on arbitrary
    inputs, for a bucket width smaller than most intervals (31s)."""
    from datetime import datetime, timedelta

    from airflow_dags_spark.operators.temporal import range_join

    base = datetime(2026, 1, 1)
    left = spark.createDataFrame(
        [(k, base + timedelta(seconds=t), v) for k, t, v in points] or [],
        "k bigint, ts timestamp, lv bigint",
    ) if points else spark.createDataFrame([], "k bigint, ts timestamp, lv bigint")
    intervals = [
        (k, base + timedelta(seconds=t), base + timedelta(seconds=t + 120), v)
        for k, t, v in rrows
    ]
    right = spark.createDataFrame(
        intervals or [],
        "k bigint, start_ts timestamp, end_ts timestamp, rv bigint",
    ) if intervals else spark.createDataFrame(
        [], "k bigint, start_ts timestamp, end_ts timestamp, rv bigint"
    )
    got = sorted(
        (r["k"], r["ts"].isoformat(), r["lv"], r["rv"])
        for r in range_join(
            left, right, key="k", ts="ts", start="start_ts", end="end_ts",
            bucket_seconds=31,
        ).collect()
    )
    expected = sorted(
        (k, (base + timedelta(seconds=t)).isoformat(), v, rv)
        for k, t, v in points
        for rk, s, e, rv in intervals
        if rk == k and s <= base + timedelta(seconds=t) <= e
    )
    assert got == expected


# --- connected components vs naive union-find --------------------------------

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=19),
        st.integers(min_value=0, max_value=19),
    ),
    min_size=0,
    max_size=25,
)


@given(edges=edge_lists, n_nodes=st.integers(min_value=1, max_value=20))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, edges, n_nodes):
    """Min-label propagation + pointer jumping must agree with a sequential
    union-find on arbitrary graphs: self-loops, parallel edges, isolated
    nodes, and edges referencing nodes outside the node set."""
    from airflow_dags_spark.operators.dedup import connected_components

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes]
    nodes_df = spark.createDataFrame([(i,) for i in range(n_nodes)], "node bigint")
    edges_df = (
        spark.createDataFrame(edges, "key_a bigint, key_b bigint")
        if edges
        else spark.createDataFrame([], "key_a bigint, key_b bigint")
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(nodes_df, edges_df).collect()
    }

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    members = {}
    for i in range(n_nodes):
        members.setdefault(find(i), []).append(i)
    expected = {
        (i, min(group)) for group in members.values() for i in group
    }
    assert got == expected


def test_connected_components_chain_converges(spark):
    """A single 60-node chain (worst-case diameter) must fully converge —
    this is what pointer jumping buys; propagation alone would need 60
    rounds > max_iter."""
    from airflow_dags_spark.operators.dedup import connected_components

    n = 60
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "key_a bigint, key_b bigint"
    )
    rows = connected_components(nodes_df, edges_df, max_iter=10).collect()
    assert {(r["node"], r["component"]) for r in rows} == {(i, 0) for i in range(n)}


def test_connected_components_raises_when_not_converged(spark):
    """Two rounds cannot settle the 60-node chain: returning its labels
    would silently give clusters whose ids are not the minimum."""
    from airflow_dags_spark.operators.dedup import connected_components

    n = 60
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "key_a bigint, key_b bigint"
    )
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(nodes_df, edges_df, max_iter=2)


def _reference_pack(tokens_by_key: list[tuple[int, int]], budget: int):
    """Pure-python greedy first-fit in key order: (key, n) -> seq index."""
    out, seq, used = {}, 0, 0
    for key, n in sorted(tokens_by_key):
        if used > 0 and used + n > budget:
            seq += 1
            used = 0
        used += n
        out[key] = seq
    return out


@given(
    tokens=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=60
    ),
    budget=st.integers(min_value=64, max_value=512),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pack_sequences_matches_reference_fold(spark, tokens, budget):
    """pack_sequences ≡ the sequential greedy fold, per shard: every
    (shard, key) lands in exactly the sequence the reference fold assigns
    when run over that shard's keys in order."""
    from airflow_dags_spark.operators.export import pack_sequences

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    got = pack_sequences(df, "doc_id", "n_tokens", budget=budget, n_shards=3)
    rows = got.collect()
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.doc_id, r.n_tokens))
    assert sum(len(v) for v in by_shard.values()) == len(tokens)
    for shard, pairs in by_shard.items():
        expect = _reference_pack(pairs, budget)
        got_map = {r.doc_id: r.seq_id for r in rows if r.shard == shard}
        assert got_map == expect, f"shard {shard}"


# --- Probabilistic-structure laws (functions/probabilistic.py) --------------

key_sets = st.lists(
    st.integers(min_value=-(10**9), max_value=10**9), min_size=1, max_size=30
)


@given(present=key_sets, probes=key_sets)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_bloom_never_false_negative(spark, present, probes):
    """For ANY key set and ANY probe set: every inserted key probes True
    (the Bloom guarantee), at any (m, k) configuration."""
    from airflow_dags_spark.functions.probabilistic import (
        bloom_build,
        bloom_might_contain,
    )

    df = spark.createDataFrame([(int(x),) for x in present], "k bigint")
    pr = spark.createDataFrame(
        [(int(x),) for x in set(present) | set(probes)], "k bigint"
    )
    bloom = bloom_build(df, "k", m_bits=512, k=3)
    got = {
        r["k"]: r["might_contain"]
        for r in bloom_might_contain(bloom, pr, "k", m_bits=512, k=3).collect()
    }
    for x in set(present):
        assert got[x] is True


@given(stream=key_sets, split=st.integers(min_value=0, max_value=30))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_cms_upper_bound_and_merge_law(spark, stream, split):
    """For ANY stream: every CMS estimate ≥ the true count, and splitting
    the stream arbitrarily then merging the sketches equals sketching the
    whole stream (associativity of counter sums)."""
    from airflow_dags_spark.functions.probabilistic import (
        cms_build,
        cms_estimate,
        cms_merge,
    )
    from pyspark.sql import functions as F

    whole = spark.createDataFrame([(int(x),) for x in stream], "k bigint")
    cms = cms_build(whole, "k", depth=3, width=64)
    truth = whole.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    for r in cms_estimate(cms, truth, "k", depth=3, width=64).collect():
        assert r["cms_est"] >= r["true_cnt"]

    cut = min(split, len(stream))
    a = spark.createDataFrame([(int(x),) for x in stream[:cut]] or [(0,)], "k bigint")
    b = spark.createDataFrame([(int(x),) for x in stream[cut:]] or [(0,)], "k bigint")
    if not stream[:cut] or not stream[cut:]:
        return  # degenerate split: nothing to merge
    merged = cms_merge(
        cms_build(a, "k", depth=3, width=64), cms_build(b, "k", depth=3, width=64)
    )
    assert {tuple(r) for r in merged.collect()} == {tuple(r) for r in cms.collect()}


null_join_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # key
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=0,
    max_size=12,
)


@given(lrows=null_join_rows, rrows=st.lists(
    st.tuples(st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=99)),
    min_size=0, max_size=8))
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_null_split_join_equals_plain_left_join(spark, lrows, rrows):
    """For ANY left rows (nullable keys, duplicates) and right rows: the
    null-split rewrite is row-for-row the plain left join."""
    from airflow_dags_spark.functions.skew import left_join_null_split

    left = spark.createDataFrame(
        [(k, v) for k, v in lrows] or [(None, 0)], "k bigint, lv bigint"
    )
    right = spark.createDataFrame(
        [(k, v) for k, v in rrows] or [(0, 0)], "k bigint, rv bigint"
    )
    got = sorted(
        map(tuple, left_join_null_split(left, right, "k").collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    want = sorted(
        map(tuple, left.join(right, "k", "left").collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    assert got == want


# --- round-5 statistics: randomized cross-checks ------------------------------


def _midranks_py(vals):
    return {
        v: sum(1 for u in vals if u < v) + (sum(1 for u in vals if u == v) + 1) / 2
        for v in set(vals)
    }


@given(
    a=st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=12),
    b=st.lists(st.integers(min_value=0, max_value=6), min_size=2, max_size=12),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_mann_whitney_matches_reference_on_random_tied_samples(spark, a, b):
    """U from the histogram-midrank cascade equals the O(n²) textbook
    computation on arbitrary tie-heavy samples, and U_a + U_b = n_a·n_b."""
    from airflow_dags_spark.functions.stats import mann_whitney_u

    av, bv = [float(x) for x in a], [float(x) for x in b]
    rows = [("a", v) for v in av] + [("b", v) for v in bv]
    df = spark.createDataFrame(rows, "g string, v double")
    got = mann_whitney_u(df, "v", "g", "a", "b").first()
    ranks = _midranks_py(av + bv)
    u_a = sum(ranks[v] for v in av) - len(av) * (len(av) + 1) / 2
    assert got["u_a"] == u_a
    assert got["u_a"] + got["u_b"] == len(av) * len(bv)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=4,
        max_size=15,
    )
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_spearman_matches_midrank_pearson(spark, pairs):
    import numpy as np
    import pytest as _pt

    from airflow_dags_spark.functions.stats import spearman_corr

    xs = [float(x) for x, _ in pairs]
    ys = [float(y) for _, y in pairs]
    rx = _midranks_py(xs)
    ry = _midranks_py(ys)
    rxv = np.array([rx[v] for v in xs])
    ryv = np.array([ry[v] for v in ys])
    if rxv.std() == 0 or ryv.std() == 0:
        return  # constant ranks → rho undefined; engine returns null
    want = float(np.corrcoef(rxv, ryv)[0, 1])
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    got = spearman_corr(df, "x", "y").first()
    assert got["rho"] == _pt.approx(want, abs=1e-5)


@given(
    base=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=12,
    ),
    del_mask=st.lists(st.booleans(), min_size=12, max_size=12),
    inserts=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3", "g4"]),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=5,
    ),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_minmax_ivm_equals_recompute_on_random_change_sets(
    spark, base, del_mask, inserts
):
    """For ANY base + delete-subset + insert set, maintained MAX state is
    indistinguishable from a recompute — including deletes that hit the
    group max, vanish a group, or arrive with inserts simultaneously."""
    from pyspark.sql import functions as F

    from airflow_dags_spark.operators.maintenance import (
        merge_minmax_state,
        minmax_state,
    )

    rows = [(k, float(v), i) for i, (k, v) in enumerate(base)]
    bdf = spark.createDataFrame(rows, "k string, v double, rid bigint")
    state = minmax_state(bdf, {"k": F.col("k")}, F.col("v"))
    deleted = [r for i, r in enumerate(rows) if del_mask[i % len(del_mask)] and i % 2 == 0]
    kept = [r for r in rows if r not in deleted]
    ins = [(k, float(v)) for k, v in inserts]
    changes_rows = [("delete", k, v, None) for k, v, _ in deleted] + [
        ("insert", k, None, v) for k, v in ins
    ]
    if not changes_rows:
        return
    changes = spark.createDataFrame(
        changes_rows, "change_type string, k string, old_v double, new_v double"
    )
    after = spark.createDataFrame(
        [(k, v) for k, v, _ in kept] + ins, "k string, v double"
    )
    got = merge_minmax_state(
        state, changes, after, ["k"], {"k": F.col("k")},
        F.col("old_v"), F.col("new_v"),
        base_group_exprs={"k": F.col("k")}, base_val=F.col("v"),
    )
    want = after.groupBy("k").agg(
        F.max("v").alias("max_v"), F.count("*").alias("cnt")
    )
    lhs = {(r["k"]): (r["max_v"], r["cnt"]) for r in got.collect()}
    rhs = {(r["k"]): (r["max_v"], r["cnt"]) for r in want.collect()}
    assert lhs == rhs


# --- top-k IVM ≡ recompute under random change sets ------------------------------

topk_base = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 100)),
    min_size=1,
    max_size=25,
)
topk_inserts = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c", "d"]), st.integers(0, 100)),
    max_size=8,
)


@given(base=topk_base, del_mask=st.lists(st.booleans(), min_size=1, max_size=25),
       inserts=topk_inserts)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_topk_ivm_equals_recompute(spark, base, del_mask, inserts):
    """merge_topk_state(state, Δ) must equal top-k recomputed from the
    post-change base for EVERY random change set — including deleting a
    group's champion, deleting whole groups, and insert-only new groups."""
    from airflow_dags_spark.operators.maintenance import merge_topk_state, topk_state

    rows = [(k, float(v), i) for i, (k, v) in enumerate(base)]
    bdf = spark.createDataFrame(rows, "k string, v double, rid bigint")
    state = topk_state(bdf, {"k": F.col("k")}, F.col("v"), F.col("rid"), 2)
    deleted = [r for i, r in enumerate(rows) if del_mask[i % len(del_mask)]]
    kept = [r for r in rows if r not in deleted]
    ins = [(k, float(v), 1000 + i) for i, (k, v) in enumerate(inserts)]
    changes_rows = [("delete", k, rid, None) for k, v, rid in deleted] + [
        ("insert", k, rid, v) for k, v, rid in ins
    ]
    if not changes_rows:
        return
    changes = spark.createDataFrame(
        changes_rows, "change_type string, k string, __id long, __v double"
    )
    after_rows = [(k, rid, v) for k, v, rid in kept + ins]
    if not after_rows:
        return
    after = spark.createDataFrame(after_rows, "k string, __id long, __v double")
    got = merge_topk_state(state, changes, after, ["k"], 2)

    import heapq
    from collections import defaultdict

    groups = defaultdict(list)
    for k, rid, v in after_rows:
        groups[k].append((-v, rid))
    want = set()
    for k, items in groups.items():
        for nv, rid in sorted(items)[:2]:
            want.add((k, rid, -nv))
    assert {(r["k"], r["__id"], r["__v"]) for r in got.collect()} == want


# --- clamped fold: invariants over arbitrary delta sequences ---------------------


@given(deltas=st.lists(st.floats(min_value=-100, max_value=100,
                                 allow_nan=False, allow_infinity=False),
                       min_size=1, max_size=30))
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_clamped_fold_expression_matches_python(spark, deltas):
    """The GREATEST(0, acc+x) fold expression == the Python recursion for
    arbitrary float sequences (and is always >= the plain running sum)."""
    df = spark.createDataFrame([(list(map(float, deltas)),)], "ds array<double>")
    clamped = F.aggregate(
        F.col("ds"), F.lit(0.0), lambda acc, x: F.greatest(F.lit(0.0), acc + x)
    )
    net = F.aggregate(F.col("ds"), F.lit(0.0), lambda acc, x: acc + x)
    row = df.select(clamped.alias("c"), net.alias("n")).first()
    acc = 0.0
    for d in deltas:
        acc = max(0.0, acc + d)
    assert row["c"] == acc
    assert row["c"] >= row["n"] - 1e-9
