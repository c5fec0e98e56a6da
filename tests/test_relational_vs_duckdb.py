"""Every declared query (SURVEY.md §2.11) hash-matches the DuckDB oracle
at sf0.001 (fast inner loop; the driver re-checks at sf0.01)."""

from __future__ import annotations

import pytest

from fifteenmc_spark.operators.relational import QUERIES

from .oracle_util import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle(sf_small):
    con = duckdb_conn(sf_small)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_declared_query_matches_oracle(name, spark, sf_small, oracle):
    q = QUERIES[name]
    sdf = q.build(spark, sf_small)
    if q.oracle is None:
        assert sdf.count() >= 0
        return
    pdf = oracle.execute(q.oracle).fetchdf()
    compare(sdf, pdf, name)


@pytest.mark.parametrize("max_df", [1, 3])
def test_x5_capped_equivalence(spark, sf_small, max_df):
    """The df-capped plan is lossless at ANY cap — even max_df=1, where the
    inverted-index path sees no shared shingle at all and every pair must
    be recovered through high-df prefix collisions (path 2)."""
    from fifteenmc_spark.operators.dedup import (
        X5_THRESHOLD,
        _capped_intersections,
        _jaccard_from_intersections,
        shingle_rows,
    )

    base = QUERIES["x5_ngram_jaccard"].build(spark, sf_small).collect()
    ex = shingle_rows(spark, sf_small).localCheckpoint()
    capped = _jaccard_from_intersections(
        ex, _capped_intersections(ex, X5_THRESHOLD, max_df)
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, capped))
    assert len(base) > 0


def test_x5_capped_dispatch_capped_branch(spark, sf_small, monkeypatch):
    """The REGISTERED x5_capped function's capped branch must be wired
    correctly — drive it by monkeypatching the cap below the corpus's max
    df AND lifting the occupancy threshold (this small corpus has no viral
    tail, so the real threshold would correctly dispatch to the plain
    join)."""
    from fifteenmc_spark.operators import dedup

    monkeypatch.setattr(dedup, "X5_MAX_DF", 3)
    monkeypatch.setattr(dedup, "X5_HIGH_DF_FRAC", 1.0)
    base = QUERIES["x5_ngram_jaccard"].build(spark, sf_small).collect()
    df = dedup.x5_capped(spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "window" in plan.lower(), "dispatch took the plain branch"
    assert sorted(map(tuple, base)) == sorted(map(tuple, df.collect()))
    assert len(base) > 0


def test_x5_capped_dispatch_refuses_bulk_high_df(spark, sf_small, monkeypatch):
    """When the high-df slice is the BULK of the index (occupancy over the
    threshold), the dispatch must take the plain join even though max df
    exceeds the cap — the r11 scale measurement: on a bounded-vocab 10x
    corpus with high_frac ~ 1.0 the capped plan ran 403.6 s vs the plain
    join's 42.0 s.  The capped plan is the only x5 shape with a window
    (the per-doc prefix rank), so its absence identifies the branch."""
    from fifteenmc_spark.operators import dedup

    max_df, high_frac = dedup._df_stats(spark, sf_small, 3)
    assert max_df > 3 and high_frac > 0.0  # premise: cap exceeded, tail not tiny
    monkeypatch.setattr(dedup, "X5_MAX_DF", 3)
    monkeypatch.setattr(dedup, "X5_HIGH_DF_FRAC", 0.0)
    df = dedup.x5_capped(spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "window" not in plan.lower(), "dispatch took the capped branch"
    assert df.count() > 0


@pytest.fixture(params=["auto", "local", "star"])
def cluster_side(request, monkeypatch):
    """Run a near_dup_clusters test under its unforced size dispatch
    ('auto') or forced onto one side of it: 'local' lifts the bound above
    any pair count, 'star' drops it below any pair count."""
    from fifteenmc_spark.operators import dedup

    if request.param == "local":
        monkeypatch.setattr(dedup, "LOCAL_CLUSTER_MAX_PAIRS", 1 << 30)
    elif request.param == "star":
        monkeypatch.setattr(dedup, "LOCAL_CLUSTER_MAX_PAIRS", -1)
    return request.param


def _clusters(pairs) -> dict:
    from fifteenmc_spark.operators.dedup import near_dup_clusters

    return {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}


def test_near_dup_clusters_transitivity(spark, cluster_side):
    """A~B and B~C must land in ONE cluster even though A~C was never an
    edge; disjoint components keep distinct min-doc_id labels, and a doc
    paired only with itself is its own cluster (the recursive-CTE oracle
    keeps it) — unforced and on both dispatch sides."""
    pairs = spark.createDataFrame(
        [(2, 9), (9, 4), (7, 8), (20, 21), (21, 3), (5, 5)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    assert _clusters(pairs) == {2: 2, 9: 2, 4: 2, 7: 7, 8: 7, 20: 3, 21: 3, 3: 3, 5: 5}


def test_near_dup_clusters_empty_graph(spark, cluster_side):
    """An EMPTY pair graph returns an empty cluster table, unforced and on
    both sides."""
    pairs = spark.createDataFrame([], "doc_a BIGINT, doc_b BIGINT")
    assert _clusters(pairs) == {}


def test_near_dup_clusters_chain_convergence(spark, monkeypatch):
    """A 50-node chain (diameter 49) gets one label on both dispatch
    sides — star contraction converges in O(log n) star rounds regardless
    of diameter — and the star side RAISES once its round cap runs out
    (never silently returns truncated labels)."""
    from fifteenmc_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 149)], "doc_a BIGINT, doc_b BIGINT"
    )
    want = {i: 100 for i in range(100, 150)}
    assert _clusters(pairs) == want
    monkeypatch.setattr(dedup, "LOCAL_CLUSTER_MAX_PAIRS", -1)
    assert _clusters(pairs) == want

    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not stabilize"):
        dedup.near_dup_clusters(pairs)


def test_near_dup_clusters_random_graphs(spark, monkeypatch):
    """Both dispatch sides equal an independent union-find oracle on
    randomized graphs (mixed component shapes: stars, chains, cliques,
    isolated edges)."""
    import random

    from fifteenmc_spark.operators import dedup

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = set()
        for _ in range(70):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b) + 1000 * trial, max(a, b) + 1000 * trial))
        edges = sorted(edges)

        parent = {}
        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        for a, b in edges:
            union(a, b)
        want = {x: find(x) for x in parent}

        pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        for bound in (1 << 30, -1):
            monkeypatch.setattr(dedup, "LOCAL_CLUSTER_MAX_PAIRS", bound)
            assert _clusters(pairs) == want, (trial, bound)


def test_p5_chunk_dedup_paths_equivalent(spark, sf_small, monkeypatch):
    """The join-path rebuild (boilerplate set too big to collect) must match
    the literal InSet scan-side rebuild row-for-row — forced by dropping
    BP_COLLECT_BOUND to 0 so the dispatch cannot take the scan-side
    shortcut."""
    from fifteenmc_spark.operators import textops

    lit = textops.chunk_dedup(spark, sf_small).collect()
    monkeypatch.setattr(textops, "BP_COLLECT_BOUND", 0)
    joined = textops.chunk_dedup(spark, sf_small).collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, joined))
    assert any(r["n_removed"] > 0 for r in lit)  # the demo actually removes


def test_lsh_banding_rejects_a_ragged_split(spark, sf_small):
    """A band split that does not divide the seeds raises ValueError on
    the batch and streaming sides alike — a check that holds under
    ``python -O``, where n_hashes=6, n_bands=4 would otherwise band on
    mh0..mh3 and silently ignore mh4/mh5."""
    from fifteenmc_spark.io import read_table
    from fifteenmc_spark.operators.dedup import (
        lsh_jaccard_pairs,
        minhash_sig_index,
        shingle_index,
    )
    from fifteenmc_spark.streaming.minhash_lsh import minhash_features

    ex = shingle_index(spark, sf_small)
    sig = minhash_sig_index(spark, sf_small, 6)
    with pytest.raises(ValueError):
        lsh_jaccard_pairs(ex, sig, n_hashes=6, n_bands=4)
    with pytest.raises(ValueError):
        minhash_features(read_table(spark, sf_small, "documents"), n_hashes=6, n_bands=4)
    with pytest.raises(ValueError):
        minhash_sig_index(spark, sf_small, 17)
