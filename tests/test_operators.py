"""Operator unit tests: LWW against a Python oracle, canonicalisation,
dedup_ml pipelines, similarity recall, unnest, joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.operators.dedup import (
    canonicalize,
    distinct_union,
    lww_latest,
)
from aus_land_data_etl_spark.operators.dedup_ml import (
    exact_duplicates,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard,
    simhash_candidates,
)
from aus_land_data_etl_spark.operators.explode import unnest_parallel_columns
from aus_land_data_etl_spark.operators.joins import null_safe_join
from aus_land_data_etl_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    ivf_topk,
)


def test_lww_latest_matches_python_oracle(spark):
    """The aggregate LWW keeps, per key, the row with the greatest
    (ver, eid) — each key's versions tie in threes, so the string
    tiebreak decides."""
    rows = [(f"k{i % 7}", i // 21, f"e{i}", i * 3) for i in range(2_000)]
    df = spark.createDataFrame(rows, "key string, ver long, eid string, payload long")
    want: dict[str, tuple] = {}
    for r in rows:
        if r[0] not in want or r[1:3] > want[r[0]][1:3]:
            want[r[0]] = r
    got = {tuple(r) for r in lww_latest(df, "key", ["ver", "eid"]).collect()}
    assert got == set(want.values())
    assert len(got) == 7


def test_canonicalize_completeness_rank(spark):
    df = spark.createDataFrame(
        [
            # key, a, b, ver, tid — row 2 has more non-null fields, older ts
            ("k", "x", None, 10, "t1"),
            ("k", "x", "y", 5, "t2"),
            ("k2", None, None, 1, "t3"),
        ],
        "key string, a string, b string, ver int, tid string",
    )
    out = canonicalize(df, ["key"], ["a", "b"], "ver", "tid")
    got = {r["tid"]: r["canonical"] for r in out.collect()}
    assert got == {"t1": False, "t2": True, "t3": True}


def test_distinct_union_superset_schema(spark):
    d1 = spark.createDataFrame([(1, "a")], "k int, x string")
    d2 = spark.createDataFrame([(1, "b")], "k int, y string")
    out = distinct_union([d1, d2])
    assert set(out.columns) == {"k", "x", "y"}
    assert out.count() == 2


def test_exact_duplicates_whitespace_case_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    groups = exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 1
    assert sorted(groups[0]["member_ids"]) == [1, 2]


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs through the "
        "forest chasing rabbits while birds sing in the morning light of summer"
    )
    rows = [
        (1, base),
        (2, base + " extra tail words"),  # near-dup of 1
        (3, base.replace("quick", "slow").replace("lazy", "sleepy")),  # near
        (4, "completely unrelated text about database engines and query plans"),
        (5, "another unrelated document mentioning spark catalyst optimizer"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_near_dups(spark, near_dup_docs):
    pairs = minhash_dedup(near_dup_docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(4 not in p and 5 not in p for p in got)


def test_ngram_jaccard_exact_values(spark, near_dup_docs):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "id_a long, id_b long")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard(near_dup_docs, pairs, "doc_id", "text").collect()
    }
    assert out[(1, 2)] > 0.7
    assert out[(1, 4)] < 0.1


def test_simhash_candidates_cluster(spark, near_dup_docs):
    cands = simhash_candidates(near_dup_docs, "doc_id", "text", max_hamming=12)
    got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in got


def test_lsh_ann_recall_vs_bruteforce(spark):
    """LSH ANN must recover most of the exact top-3 at this scale."""
    import math
    import random

    rng = random.Random(7)
    # three well-separated clusters in 16-d
    rows = []
    for i in range(120):
        c = i % 3
        center = [10.0 * (1 if d == c * 5 else 0) for d in range(16)]
        vec = [center[d] + rng.gauss(0, 0.5) for d in range(16)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(df, q, k=3)
    approx = cosine_topk_lsh(df, q, dim=16, k=3, n_planes=8, n_tables=6)
    e = {(r["query_id"], r["neighbour_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbour_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, recall


def _clustered_vectors(spark, n=120, dim=16, n_clusters=3, sigma=0.5):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(n):
        c = i % n_clusters
        center = [10.0 * (1 if d == c * 5 else 0) for d in range(dim)]
        vec = [center[d] + rng.gauss(0, sigma) for d in range(dim)]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_full_probe_equals_bruteforce(spark):
    """IVF with nprobe == n_cells is exhaustive: must equal the exact
    brute-force result row for row (same scoring expression, same total
    order) — pins that cell partitioning loses nothing, only prunes."""
    df = _clustered_vectors(spark)
    q = df.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(df, q, k=3)
    ivf = ivf_topk(df, q, k=3, n_cells=4, nprobe=4)
    cols = ["query_id", "neighbour_id", "rank", "cosine_sim"]
    assert sorted(map(tuple, exact.select(*cols).collect())) == sorted(
        map(tuple, ivf.select(*cols).collect())
    )


def test_ivf_partial_probe_recall(spark):
    """With clustered data, probing 2 of 6 cells keeps high recall while
    scoring a strict subset of the corpus."""
    df = _clustered_vectors(spark)
    q = df.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(df, q, k=3)
    approx = ivf_topk(df, q, k=3, n_cells=6, nprobe=2)
    e = {(r["query_id"], r["neighbour_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbour_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.8


def test_ivf_plan_size_flat_in_n_cells(spark):
    """Centroids travel as a broadcast variable, not plan literals: the
    physical plan must not grow with the quantizer size (the round-1
    plan-explosion finding at realistic n_cells)."""
    import random

    df = _clustered_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    rng = random.Random(7)
    dim = 8

    def plan_len(n_cells):
        cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_cells)]
        plan = ivf_topk(df, q, k=3, n_cells=n_cells, nprobe=2, centroids=cents)
        return len(plan._jdf.queryExecution().executedPlan().toString())

    small, large = plan_len(8), plan_len(512)
    assert large < small * 1.2, f"plan grew with n_cells: {small} -> {large}"


def test_cosine_neardup_pairs_thresholds(spark):
    """Same-cluster pairs sit near cosine 1; cross-cluster near 0 — the
    0.9 threshold must keep exactly the same-cluster pairs."""
    df = _clustered_vectors(spark, n=30)
    pairs = cosine_neardup_pairs(df, "vec_id", "embedding", threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got, "expected same-cluster near-dup pairs"
    assert all(a % 3 == b % 3 for a, b in got)
    n_same_cluster = sum(
        1 for a in range(30) for b in range(a + 1, 30) if a % 3 == b % 3
    )
    assert len(got) == n_same_cluster


def test_jaccard_all_pairs_matches_candidate_path(spark, near_dup_docs):
    """The exact all-pairs Jaccard must agree with the candidate-restricted
    ngram_jaccard on every pair both enumerate."""
    from aus_land_data_etl_spark.operators.dedup_ml import jaccard_all_pairs

    allp = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in jaccard_all_pairs(near_dup_docs, "doc_id", "text").collect()
    }
    pairs = spark.createDataFrame(
        sorted(allp), "id_a long, id_b long"
    )
    cand = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard(near_dup_docs, pairs, "doc_id", "text").collect()
    }
    assert allp == cand
    assert allp[(1, 2)] > 0.7


def test_unnest_parallel_columns_drops_all_null(spark):
    df = spark.createDataFrame(
        [(1, "a", "b", None, 10, 20, None)],
        "k int, v1 string, v2 string, v3 string, w1 int, w2 int, w3 int",
    )
    out = unnest_parallel_columns(
        df,
        groups={"v": ["v1", "v2", "v3"], "w": ["w1", "w2", "w3"]},
        keep=["k"],
    )
    rows = out.orderBy("idx").collect()
    assert [(r["idx"], r["v"], r["w"]) for r in rows] == [(1, "a", 10), (2, "b", 20)]


def test_null_safe_join_matches_nulls(spark):
    l = spark.createDataFrame([(1, None), (2, "x")], "lid int, k string")
    r = spark.createDataFrame([(10, None), (20, "x"), (30, "y")], "rid int, k string")
    out = null_safe_join(l, r, ["k"], "inner")
    got = {(row["lid"], row["rid"]) for row in out.collect()}
    assert got == {(1, 10), (2, 20)}


def test_jaccard_stop_shingle_cap(spark):
    """max_doc_frac drops corpus-wide boilerplate shingles: with the cap at
    1.0 results equal the uncapped exact form; with a tight cap, a pair
    whose only overlap is boilerplate disappears."""
    from aus_land_data_etl_spark.operators.dedup_ml import jaccard_all_pairs

    boiler = "common footer text appears everywhere in this corpus"
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique first {boiler}"),
            (2, f"alpha unique first words {boiler}"),  # near-dup of 1
            (3, f"totally different payload {boiler}"),  # only boilerplate shared
        ],
        "doc_id long, text string",
    )
    exact = jaccard_all_pairs(docs, "doc_id", "text")
    capped_loose = jaccard_all_pairs(docs, "doc_id", "text", max_doc_frac=1.0)
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, capped_loose.collect())
    )

    tight = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_all_pairs(
            docs, "doc_id", "text", max_doc_frac=0.67
        ).collect()
    }
    assert (1, 2) in tight  # discriminative overlap survives
    assert (1, 3) not in tight and (2, 3) not in tight  # boilerplate-only pairs gone


def test_pick_bands_aligns_midpoint_with_threshold():
    """S-curve midpoint (1/b)^(1/r) closest to the dedup threshold."""
    from aus_land_data_etl_spark.operators.dedup_ml import (
        lsh_collision_prob,
        pick_bands,
    )

    assert pick_bands(32, 0.8) == 4   # r=8, midpoint 0.841
    assert pick_bands(32, 0.5) == 8   # r=4, midpoint 0.595
    assert pick_bands(16, 0.8) == 4   # r=4, midpoint 0.707 beats b=2's 0.917
    # junk-pair collision probability drops ~25x from b=8 to b=4 at j=0.5
    assert lsh_collision_prob(0.5, 32, 4) < lsh_collision_prob(0.5, 32, 8) / 20
    # while a true j=0.95 near-dup still collides almost surely
    assert lsh_collision_prob(0.95, 32, 4) > 0.98


def test_minhash_banding_tradeoff_sf001(spark):
    """Round-2 verdict #3/#4: the tuned banding (b=4/r=8 at threshold
    0.8) must admit several-fold fewer LSH candidates than the old fixed
    b=8 while the verified output still equals the exact
    ``jaccard_all_pairs`` ground truth (recall 1.0, and precision 1.0 by
    construction) on the sf0.01 documents corpus."""
    from aus_land_data_etl_spark.operators.dedup_ml import (
        jaccard_all_pairs,
        minhash_lsh_candidates,
        pick_bands,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_all_pairs(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert truth, "fixture corpus must contain >=1 true near-dup pair"

    n_cands = {}
    for b in (8, pick_bands(32, 0.8)):
        n_cands[b] = minhash_lsh_candidates(
            docs, "doc_id", "text", k=32, n_bands=b
        ).count()
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_dedup(
                docs, "doc_id", "text", threshold=0.8, k=32, n_bands=b
            ).collect()
        }
        assert got == truth, f"n_bands={b}: recall/precision broken"
    assert n_cands[4] < n_cands[8] / 3, n_cands


def test_minhash_dedup_leaves_no_cached_rdds(spark):
    """Round-2 verdict #4: the ngram_jaccard semi-join cache leaked one
    RDD per invocation.  The returned frame is a localCheckpoint — ONE
    persisted RDD per result is its legitimate storage — so persist
    growth per invocation must be exactly 1, not 2 (the leak)."""
    docs = spark.createDataFrame(
        [(i, f"document body number {i % 3} with shared shingle text here")
         for i in range(12)],
        "doc_id long, text string",
    )

    def _n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = _n_persisted()
    results = [
        minhash_dedup(docs, "doc_id", "text", threshold=0.5) for _ in range(2)
    ]
    for r in results:
        r.collect()
    grown = _n_persisted() - before
    assert grown <= 2, (
        f"expected <=1 persisted RDD (the localCheckpoint) per invocation,"
        f" got +{grown} after 2 invocations — an operator-internal cache "
        f"is leaking"
    )


def test_ivf_index_persist_search_and_prune(spark, tmp_path):
    """Persisted IVF index (IvfIndex.build/search): full-probe search
    through the on-disk index equals brute force exactly; a partial
    probe opens ONLY the probed cell directories (partition pruning,
    proven via inputFiles); reloading the index from disk gives the
    same results as the freshly built handle."""
    import os

    from aus_land_data_etl_spark.operators.similarity import (
        IvfIndex,
        _probe_cells_udf,
        cosine_topk_bruteforce,
    )

    df = _clustered_vectors(spark)
    q = df.filter(F.col("vec_id") < 10)
    root = str(tmp_path / "ivf")
    idx = IvfIndex.build(df, root, n_cells=6, seed=42)

    cols = ["query_id", "neighbour_id", "rank", "cosine_sim"]
    exact = sorted(
        map(tuple, cosine_topk_bruteforce(df, q, k=3).select(*cols).collect())
    )
    full = sorted(map(tuple, idx.search(q, k=3, nprobe=6).select(*cols).collect()))
    assert full == exact

    # reload from disk: same answer, no retraining
    idx2 = IvfIndex(spark, root)
    assert idx2.centroids == idx.centroids
    again = sorted(
        map(tuple, idx2.search(q, k=3, nprobe=6).select(*cols).collect())
    )
    assert again == exact

    # partial probe prunes at the directory level.  inputFiles() ignores
    # PartitionFilters (it lists the unpruned FileIndex), so prove the
    # pruning two ways: (a) the executed plan carries the partition
    # filter, (b) RUNTIME: plant corrupt .parquet files in every
    # UNprobed cell directory — if the scan opened them it would throw,
    # so a clean result means they were never read.
    one_q = df.filter(F.col("vec_id") == 0)  # single cluster-0 query
    partial = idx2.search(one_q, k=3, nprobe=2)
    plan = partial._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan and " IN (" in plan, plan[:800]

    probe_udf_cells = {
        r["cell"]
        for r in one_q.select(
            F.explode(
                _probe_cells_udf(spark, idx2.centroids, 2)(
                    F.col("embedding").cast("array<double>")
                )
            ).alias("cell")
        ).collect()
    }
    assert len(probe_udf_cells) == 2
    for d in os.listdir(os.path.join(root, "cells")):
        if d.startswith("cell=") and int(d.split("=")[1]) not in probe_udf_cells:
            with open(os.path.join(root, "cells", d, "poison.parquet"), "wb") as f:
                f.write(b"not a parquet file")
    rows = idx2.search(one_q, k=3, nprobe=2).collect()  # must not throw
    assert rows
    # and recall stays high on clustered data for the full query batch
    # (poison removed first — the full batch probes those cells)
    for d in os.listdir(os.path.join(root, "cells")):
        p = os.path.join(root, "cells", d, "poison.parquet")
        if os.path.exists(p):
            os.remove(p)
    a = {
        (r["query_id"], r["neighbour_id"])
        for r in idx2.search(q, k=3, nprobe=2).collect()
    }
    e = {(r[0], r[1]) for r in exact}
    assert len(a & e) / len(e) >= 0.8


def test_ivf_index_incremental_add(spark, tmp_path):
    """IvfIndex.add: vectors indexed AFTER the build (frozen quantizer,
    cell-partitioned appends) are served identically to a from-scratch
    exhaustive search — full probe over the grown index equals brute
    force over the WHOLE corpus, and the appended rows land inside the
    existing cell directories (partition layout preserved)."""
    from aus_land_data_etl_spark.operators.similarity import (
        IvfIndex,
        cosine_topk_bruteforce,
    )

    df = _clustered_vectors(spark)
    half = df.filter(F.pmod("vec_id", F.lit(2)) == 0)
    rest = df.filter(F.pmod("vec_id", F.lit(2)) == 1)
    q = df.filter(F.col("vec_id") < 10)
    root = str(tmp_path / "ivf_inc")
    idx = IvfIndex.build(half, root, n_cells=6, seed=42)
    n_before = idx.cells().count()
    idx.add(rest)
    assert idx.cells().count() == df.count() > n_before

    cols = ["query_id", "neighbour_id", "rank", "cosine_sim"]
    exact = sorted(
        map(tuple, cosine_topk_bruteforce(df, q, k=3).select(*cols).collect())
    )
    grown = sorted(
        map(tuple, idx.search(q, k=3, nprobe=6).select(*cols).collect())
    )
    assert grown == exact
    # the add wrote INTO the cell-partitioned layout (no new top levels)
    import os

    tops = sorted(
        e for e in os.listdir(os.path.join(root, "cells"))
        if not e.startswith("_") and not e.startswith(".")
    )
    assert all(e.startswith("cell=") for e in tops), tops


def test_ivf_index_remove_revive_and_purge(spark, tmp_path):
    """Delete semantics on the persisted IVF index: removed vectors
    leave the top-k (full-probe search equals brute force over the LIVE
    corpus), re-adding the id revives it, and compact physically purges
    so the tombstone join disappears while answers stay identical."""
    import os

    from aus_land_data_etl_spark.operators.similarity import (
        IvfIndex,
        cosine_topk_bruteforce,
    )

    df = _clustered_vectors(spark)
    q = df.filter(F.col("vec_id") < 5)
    cols = ["query_id", "neighbour_id", "rank", "cosine_sim"]

    root = str(tmp_path / "ivf")
    idx = IvfIndex.build(df, root, n_cells=6, seed=42)

    def got():
        return sorted(map(tuple, idx.search(q, k=3, nprobe=6).select(*cols).collect()))

    def exact(corpus):
        return sorted(
            map(tuple, cosine_topk_bruteforce(corpus, q, k=3).select(*cols).collect())
        )

    before = got()
    assert before == exact(df)

    # remove query 0's top neighbour: it must vanish, next-best promotes
    victim = next(n for qq, n, r, s in before if qq == 0 and r == 1)
    idx.remove([victim])
    live = df.filter(F.col("vec_id") != victim)
    assert got() == exact(live)

    # revive with the same vector: original answers return
    idx.add(df.filter(F.col("vec_id") == victim))
    assert got() == before

    # remove again + compact: purged layout, no tombstone table, same answers
    idx.remove([victim])
    idx.compact()
    assert not os.path.isdir(os.path.join(root, "removed"))
    assert got() == exact(live)


def test_ivf_index_legacy_genless_cells_stay_live(spark, tmp_path):
    """An index written before generations existed has cells files with
    no ``gen`` column and no gen.txt.  After the upgrade, ``add`` and
    ``remove`` stamp generations; the pre-upgrade vectors count as
    generation 0, so they stay searchable and survive ``compact``
    (they used to read as NULL and fail every liveness filter)."""
    import os
    import shutil

    from aus_land_data_etl_spark.operators.similarity import (
        IvfIndex,
        cosine_topk_bruteforce,
    )

    df = _clustered_vectors(spark)
    old = df.filter(F.pmod("vec_id", F.lit(2)) == 0)
    new = df.filter(F.pmod("vec_id", F.lit(2)) == 1)
    q = df.filter(F.col("vec_id") < 6)
    cols = ["query_id", "neighbour_id", "rank", "cosine_sim"]
    root = str(tmp_path / "ivf_legacy")
    IvfIndex.build(old, root, n_cells=6, seed=42)
    # rewrite the build as the legacy layout: no gen column, no gen.txt
    cells = os.path.join(root, "cells")
    legacy = spark.read.parquet(cells).drop("gen").localCheckpoint(eager=True)
    shutil.rmtree(cells)
    legacy.write.partitionBy("cell").parquet(cells)
    os.remove(os.path.join(root, "gen.txt"))

    idx = IvfIndex(spark, root)
    idx.add(new)
    victim = new.select("vec_id").orderBy("vec_id").first()[0]
    idx.remove([victim])
    live = df.filter(F.col("vec_id") != victim)

    def got():
        return sorted(map(tuple, idx.search(q, k=3, nprobe=6).select(*cols).collect()))

    want = sorted(
        map(tuple, cosine_topk_bruteforce(live, q, k=3).select(*cols).collect())
    )
    assert got() == want
    idx.compact()
    assert idx.cells().count() == live.count()
    assert got() == want
