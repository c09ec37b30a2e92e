"""Persisted incremental near-dup index (operators/neardup_index.py).

The load-bearing property: starting from an empty index, the union of
pair sets returned by successive ``add`` calls equals the one-shot
``minhash_lsh_candidates`` over the union of the batches — the
incremental path is the batch path, just spread across ingest cycles.
Plus the IvfIndex-style scale proofs: the band probe is partition-pruned
at the directory level (executed-plan PartitionFilters AND a runtime
poison-file read of the unprobed buckets).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.operators.dedup_ml import (
    band_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    shingle_rows,
)
from aus_land_data_etl_spark.operators.neardup_index import NearDupIndex

PARAMS = dict(k=16, n_bands=8, shingle_n=5, seed=42, n_buckets=8)


def _docs(spark, ids):
    bases = [
        "the quick brown fox jumps over the lazy dog and runs through the "
        "forest chasing rabbits while birds sing in the morning light",
        "spark catalyst optimizer rewrites logical plans into physical "
        "plans with predicate pushdown and column pruning everywhere",
        "completely different third base text about parquet encodings "
        "dictionary pages and run length encoded definition levels",
        "a fourth unrelated passage mentioning watermarks micro batches "
        "and exactly once sinks with per partition offset manifests",
    ]
    rows = [
        (i, bases[i % 4] + (f" tail variant {i % 3}" if i % 3 else ""))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_incremental_union_equals_batch(spark, tmp_path):
    """Empty create → three adds; union of returned pairs == one-shot
    LSH candidates over the whole corpus (same hash family)."""
    all_ids = list(range(36))
    full = _docs(spark, all_ids)
    idx = NearDupIndex.create(spark, str(tmp_path / "ndi"), **PARAMS)

    got = set()
    for b in range(3):
        batch = _docs(spark, [i for i in all_ids if i % 3 == b])
        got |= _pairs(idx.add(batch))

    expect = _pairs(
        minhash_lsh_candidates(
            full, "doc_id", "text",
            k=PARAMS["k"], n_bands=PARAMS["n_bands"],
            shingle_n=PARAMS["shingle_n"], seed=PARAMS["seed"],
        )
    )
    assert got == expect
    assert len(expect) > 10  # the fixture genuinely has near-dups


def test_build_then_add_reports_only_new_pairs(spark, tmp_path):
    """``build`` bulk-loads without pair output; a later ``add`` reports
    exactly the pairs touching the new batch (batch-vs-corpus and
    batch-vs-batch), i.e. whole-corpus candidates minus within-corpus."""
    a_ids = [i for i in range(24) if i % 2 == 0]
    b_ids = [i for i in range(24) if i % 2 == 1]
    docs_a, docs_b = _docs(spark, a_ids), _docs(spark, b_ids)

    idx = NearDupIndex.build(docs_a, str(tmp_path / "ndi"), **PARAMS)
    got = _pairs(idx.add(docs_b))

    def cands(df):
        return _pairs(
            minhash_lsh_candidates(
                df, "doc_id", "text",
                k=PARAMS["k"], n_bands=PARAMS["n_bands"],
                shingle_n=PARAMS["shingle_n"], seed=PARAMS["seed"],
            )
        )

    whole = cands(_docs(spark, sorted(a_ids + b_ids)))
    within_a = cands(docs_a)
    assert got == whole - within_a


def test_candidates_for_probes_without_mutation(spark, tmp_path):
    idx = NearDupIndex.build(
        _docs(spark, list(range(0, 12))), str(tmp_path / "ndi"), **PARAMS
    )
    before = idx.bands().count()
    probe = _pairs(idx.candidates_for(_docs(spark, list(range(12, 18)))))
    assert probe  # near-dups of the indexed corpus exist by construction
    assert idx.bands().count() == before
    # reload from disk: the handle state is entirely in meta.json + parquet
    idx2 = NearDupIndex(spark, idx.root)
    assert _pairs(idx2.candidates_for(_docs(spark, list(range(12, 18))))) == probe


def test_candidates_for_answers_as_of_the_call(spark, tmp_path):
    """A probe's pairs are fixed when ``candidates_for`` returns: a
    near-duplicate added afterwards, and the compaction that replaces the
    files the probe planned over, must not change (or break) the answer
    when the probe is collected later."""
    idx = NearDupIndex.build(
        _docs(spark, list(range(0, 12))), str(tmp_path / "ndi"), **PARAMS
    )
    want = _pairs(idx.candidates_for(_docs(spark, [12])))
    probe = idx.candidates_for(_docs(spark, [12]))
    # doc 24 has the same text as doc 12: a near-duplicate of the probe
    assert any(24 in pair for pair in _pairs(idx.add(_docs(spark, [24]))))
    idx.compact()
    got = _pairs(probe)
    assert got == want and all(24 not in pair for pair in got)


def test_probe_prunes_unprobed_bucket_directories(spark, tmp_path):
    """Directory-level pruning, proven the same two ways as IvfIndex:
    (a) the executed plan carries the bucket partition filter;
    (b) RUNTIME: corrupt .parquet files planted in every UNprobed bucket
    directory do not fail the probe — they were never opened."""
    root = str(tmp_path / "ndi")
    idx = NearDupIndex.build(_docs(spark, list(range(24))), root, **PARAMS)

    one = _docs(spark, [100])  # single new doc → few band buckets
    sigs = idx._signatures(one, "doc_id", "text", idx.current_gen() + 1)
    probed = {
        r["bucket"]
        for r in idx._bands_with_bucket(sigs).select("bucket").distinct().collect()
    }
    assert 0 < len(probed) < PARAMS["n_buckets"]  # something to skip

    # (a) plan-level
    plan_df = idx.bands().filter(F.col("bucket").isin(sorted(probed)))
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan, plan[:800]

    # (b) runtime poison proof
    bands_dir = os.path.join(root, "bands")
    poisoned = []
    for d in os.listdir(bands_dir):
        if not d.startswith("bucket="):
            continue
        if int(d.split("=", 1)[1]) in probed:
            continue
        p = os.path.join(bands_dir, d, "poison.parquet")
        with open(p, "wb") as f:
            f.write(b"this is not a parquet file")
        poisoned.append(p)
    assert poisoned  # at least one unprobed directory existed
    try:
        out = idx.candidates_for(one)
        out.collect()  # must not touch the poisoned directories
    finally:
        for p in poisoned:
            os.remove(p)


def test_estimated_matches_unpruned_computation(spark, tmp_path):
    """``estimated`` (sbucket-pruned signature fetch) returns the same
    Broder estimates as computing them directly from batch signatures."""
    from aus_land_data_etl_spark.operators.dedup_ml import estimated_similarity

    docs = _docs(spark, list(range(18)))
    idx = NearDupIndex.build(docs, str(tmp_path / "ndi"), **PARAMS)
    pairs = band_pairs(
        minhash_signatures(
            shingle_rows(docs, "doc_id", "text", PARAMS["shingle_n"]),
            PARAMS["k"], PARAMS["seed"],
        ),
        PARAMS["k"], PARAMS["n_bands"],
    ).localCheckpoint(eager=True)

    direct_sigs = minhash_signatures(
        shingle_rows(docs, "doc_id", "text", PARAMS["shingle_n"]),
        PARAMS["k"], PARAMS["seed"],
    )
    want = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
        for r in estimated_similarity(pairs, direct_sigs, PARAMS["k"]).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
        for r in idx.estimated(pairs).collect()
    }
    assert got == want and want


def test_create_rejects_bad_banding(spark, tmp_path):
    with pytest.raises(ValueError):
        NearDupIndex.create(spark, str(tmp_path / "x"), k=16, n_bands=5)


def test_mixed_ops_subscription_feed_converges_to_live_corpus(spark, tmp_path):
    """The FULL CDC loop: a changelog subscription delivers inserts,
    updates and deletes; the consumer maps them to add / remove+add /
    remove; after the stream drains and ``compact`` purges, the index
    answers identically to a fresh build over the table's final live
    corpus — the continuously-maintained dedup index IS the corpus."""
    from pyspark.sql import Window

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.cdc.generator import generate_events
    from aus_land_data_etl_spark.lake.changelog import ChangelogSubscription
    from aus_land_data_etl_spark.lake.merge import read_current

    t = create_pages_table(spark, str(tmp_path / "lake"), n_buckets=4)
    ev = generate_events(spark, 500, seed=37).localCheckpoint(eager=True)

    params = dict(PARAMS)
    params.update(n_bands=16, id_type="string")
    idx = NearDupIndex.create(spark, str(tmp_path / "ndi"), **params)
    sub = ChangelogSubscription(
        t, str(tmp_path / "cursor.json"), start_at="origin"
    )

    for e in range(4):
        apply_batch(t, ev.filter(F.pmod(F.col("source_pos"), F.lit(4)) == e), epoch=e)
        got = sub.poll()
        if got is None:
            continue
        df, target = got
        df = df.localCheckpoint(eager=True)
        gone = df.filter(F.col("change_type") == "delete").select(
            F.col("url").alias("doc_id")
        )
        changed = df.filter(F.col("change_type") == "update").select(
            F.col("url").alias("doc_id")
        )
        stale = gone.unionAll(changed)
        if stale.count():
            idx.remove(stale)  # deletes + the updated docs' OLD text
        upserts = df.filter(F.col("change_type") != "delete").select("url", "text")
        if upserts.count():
            idx.add(upserts, id_col="url", text_col="text")
        sub.ack(target)

    idx.compact()
    live = read_current(t).select("url", "text")
    fresh = NearDupIndex.build(
        live, str(tmp_path / "fresh"), id_col="url", text_col="text", **params
    )
    # the purged index holds exactly the live docs...
    assert {r["doc_id"] for r in idx.sigs().select("doc_id").collect()} == {
        r["url"] for r in live.collect()
    }
    # ...and probes answer identically to a fresh build over them
    probe = live.limit(20)
    assert _pairs(idx.candidates_for(probe, id_col="url", text_col="text")) == _pairs(
        fresh.candidates_for(probe, id_col="url", text_col="text")
    )


def test_compact_collapses_files_and_preserves_candidates(spark, tmp_path):
    """Each add appends one file per touched bucket; compact rewrites
    every bucket directory to one file without changing any probe
    result (and the index keeps accepting adds afterwards)."""
    import glob

    root = str(tmp_path / "ndi")
    idx = NearDupIndex.create(spark, root, **PARAMS)
    for b in range(4):
        idx.add(_docs(spark, list(range(b * 6, b * 6 + 6))))

    probe_docs = _docs(spark, [200])
    before_pairs = _pairs(idx.candidates_for(probe_docs))
    files_before = glob.glob(os.path.join(root, "bands", "bucket=*", "*.parquet"))
    assert len(files_before) > PARAMS["n_buckets"]

    res = idx.compact()
    assert res["files_before"] == len(files_before)
    assert res["files_after"] <= PARAMS["n_buckets"]
    assert _pairs(idx.candidates_for(probe_docs)) == before_pairs

    # no-op when already compact (≤ one file per bucket)
    res2 = idx.compact()
    assert res2["files_after"] == res2["files_before"] <= PARAMS["n_buckets"]

    # still maintainable: a post-compact add sees the compacted corpus
    after_add = _pairs(idx.add(_docs(spark, [30, 31])))
    assert after_add  # near-dups of the indexed bases exist by construction


def test_remove_tombstones_and_revive(spark, tmp_path):
    """The delete half of a CDC feed: removed docs vanish from probe
    results, re-adding revives them, and compact physically purges dead
    rows so the post-compact index equals a fresh build over the LIVE
    corpus exactly."""
    all_ids = list(range(24))
    idx = NearDupIndex.build(_docs(spark, all_ids), str(tmp_path / "ndi"), **PARAMS)

    probe = _docs(spark, [100])  # near-dup of base-0 docs (0, 4, 8, ...)
    before = _pairs(idx.candidates_for(probe))
    base0 = [i for i in all_ids if i % 4 == 0]
    assert any(a in base0 or b in base0 for a, b in before)

    # remove every base-0 doc: pairs against them must vanish
    idx.remove(base0)
    after = _pairs(idx.candidates_for(probe))
    assert after == {
        (a, b) for a, b in before if a not in base0 and b not in base0
    }

    # revive one with NEW text (update = delete + re-add)
    revived = spark.createDataFrame(
        [(0, _docs(spark, [100]).first()["text"])], "doc_id long, text string"
    )
    idx.add(revived)
    rev = _pairs(idx.candidates_for(probe))
    assert (0, 100) in rev  # the revived doc matches the probe again
    assert not any(
        (a in base0 or b in base0) and 0 not in (a, b) for a, b in rev
    )  # the still-dead docs stay dead

    # compact purges: index state == fresh build over the live corpus
    idx.compact()
    assert not os.path.isdir(os.path.join(idx.root, "removed"))
    live_docs = _docs(spark, [i for i in all_ids if i not in base0]).unionByName(
        revived
    )
    fresh = NearDupIndex.build(live_docs, str(tmp_path / "fresh"), **PARAMS)
    assert _pairs(idx.candidates_for(probe)) == _pairs(
        fresh.candidates_for(probe)
    )


def test_changelog_subscription_feeds_index(spark, tmp_path):
    """The CDC composition the index exists for: documents land in the
    lake through exactly-once CDC batches, a durable changelog
    subscription delivers each interval's net inserts, and ``add``
    maintains the near-dup index from exactly those rows.  The union of
    the per-interval candidates equals the one-shot LSH candidates over
    the FINAL table state — a dropped, duplicated, or re-ordered
    subscription interval would break the set equality."""
    from pyspark.sql import Window

    from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
    from aus_land_data_etl_spark.cdc.generator import generate_events
    from aus_land_data_etl_spark.lake.changelog import ChangelogSubscription
    from aus_land_data_etl_spark.lake.merge import read_current

    t = create_pages_table(spark, str(tmp_path / "lake"), n_buckets=4)
    # insert-only, one event per url: the final state is exactly the
    # union of the inserts, so the append-only index can mirror it
    ev = generate_events(spark, 400, seed=31).filter(F.col("op") == "insert")
    ev = (
        ev.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy("source_pos", "event_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )

    params = dict(PARAMS)
    params.update(n_bands=16, id_type="string")  # r=1: collide at low jaccard
    idx = NearDupIndex.create(spark, str(tmp_path / "ndi"), **params)
    sub = ChangelogSubscription(
        t, str(tmp_path / "cursor.json"), start_at="origin"
    )

    got = set()
    for e in range(3):
        apply_batch(t, ev.filter(F.pmod(F.col("source_pos"), F.lit(3)) == e), epoch=e)
        df, target = sub.poll()
        inserts = df.filter(F.col("change_type") == "insert").select("url", "text")
        got |= _pairs(idx.add(inserts, id_col="url", text_col="text"))
        sub.ack(target)

    final = read_current(t).select("url", "text")
    expect = _pairs(
        minhash_lsh_candidates(
            final, "url", "text",
            k=params["k"], n_bands=params["n_bands"],
            shingle_n=params["shingle_n"], seed=params["seed"],
        )
    )
    assert got == expect
    assert expect  # the generated corpus genuinely has colliding pages
