"""Write-audit-publish branches (Iceberg branch analog): staged commits
are invisible to main, publish fast-forwards atomically with the
exactly-once state, conflicts are refused, and dropped-branch debris is
reclaimed while live-branch files survive every sweep.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aus_land_data_etl_spark.cdc.apply import apply_batch, create_pages_table
from aus_land_data_etl_spark.cdc.generator import generate_events
from aus_land_data_etl_spark.lake.merge import read_current
from aus_land_data_etl_spark.lake.table import ConflictError, LakeTable

COLS = ["url", "warc_ts", "event_id", "text"]


def _state(t):
    return sorted(map(tuple, read_current(t).select(*COLS).collect()))


@pytest.fixture()
def staged(spark, tmp_table_dir):
    t = create_pages_table(spark, tmp_table_dir, n_buckets=4)
    ev = generate_events(spark, 900, seed=17).localCheckpoint(eager=True)
    batches = [
        ev.filter(F.pmod(F.col("source_pos"), F.lit(3)) == i) for i in range(3)
    ]
    apply_batch(t, batches[0], epoch=0)
    return t, batches


def test_branch_commits_are_invisible_to_main(spark, staged):
    t, batches = staged
    main_v, main_state = t.current_version(), _state(t)

    br = t.create_branch("wap")
    apply_batch(br, batches[1], epoch=1)  # ordinary exactly-once commit
    assert _state(br) != main_state  # staged state visible on the branch
    assert t.current_version() == main_v  # main pointer untouched
    assert _state(t) == main_state  # main readers see nothing

    # a reopened handle sees the same staged state
    br2 = t.open_branch("wap")
    assert _state(br2) == _state(br)
    assert t.list_branches() == {"wap": br.current_version()}


def test_publish_fast_forwards_state_and_exactly_once(spark, staged):
    t, batches = staged
    br = t.create_branch("wap")
    apply_batch(br, batches[1], epoch=1)
    apply_batch(br, batches[2], epoch=2)
    want = _state(br)

    v = t.publish_branch("wap")
    assert t.current_version() == v
    assert _state(t) == want
    assert t.list_branches() == {}

    # the exactly-once bookkeeping was published too: replaying the
    # staged WAL batches against main is a pure no-op
    for i, b in ((1, batches[1]), (2, batches[2])):
        apply_batch(t, b, epoch=i)
    assert t.current_version() == v
    assert _state(t) == want


def test_publish_refuses_when_main_advanced(spark, staged):
    t, batches = staged
    br = t.create_branch("wap")
    apply_batch(br, batches[1], epoch=1)
    apply_batch(t, batches[2], epoch=2)  # main moves past the fork point

    with pytest.raises(ConflictError, match="re-fork"):
        t.publish_branch("wap")

    # recovery path: re-fork from the new main and replay the staged
    # batch — exactly-once dedup does the right thing, publish succeeds
    t.drop_branch("wap")
    br2 = t.create_branch("wap")
    apply_batch(br2, batches[1], epoch=1)
    t.publish_branch("wap")

    # main now equals applying all three batches directly
    ref_dir = str(t.root) + "_ref"
    ref = create_pages_table(spark, ref_dir, n_buckets=4)
    for i, b in enumerate(batches):
        apply_batch(ref, b, epoch=i)
    assert _state(t) == _state(ref)


def test_dropped_branch_debris_reclaimed_live_branch_spared(spark, staged):
    t, batches = staged
    br = t.create_branch("keepme")
    apply_batch(br, batches[1], epoch=1)
    keep_state = _state(br)
    br_files = {
        f
        for fs in br.snapshot().bucket_files.values()
        for f in fs
    } | {f for fs in br.snapshot().delta_files.values() for f in fs}

    dead = t.create_branch("dropme")
    apply_batch(dead, batches[2], epoch=2)
    dead_only = (
        {
            f
            for fs in dead.snapshot().bucket_files.values()
            for f in fs
        }
        | {f for fs in dead.snapshot().delta_files.values() for f in fs}
    ) - br_files - {
        f
        for fs in t.snapshot().bucket_files.values()
        for f in fs
    } - {f for fs in t.snapshot().delta_files.values() for f in fs}
    assert dead_only

    t.drop_branch("dropme")
    with pytest.raises(FileNotFoundError):
        t.open_branch("dropme")

    # retention + vacuum with a live branch: its staged files survive
    t.expire_snapshots(keep_last=1)
    t.vacuum_orphans(grace_seconds=0.0)
    for rel in br_files:
        assert os.path.exists(os.path.join(t.root, rel)), rel
    assert _state(t.open_branch("keepme")) == keep_state
    # the dropped branch's exclusive files are gone
    assert not any(
        os.path.exists(os.path.join(t.root, rel)) for rel in dead_only
    )


def test_branch_validation_and_guards(spark, staged):
    t, _ = staged
    with pytest.raises(ValueError):
        t.create_branch("bad name")
    br = t.create_branch("a")
    with pytest.raises(FileExistsError):
        t.create_branch("a")
    with pytest.raises(ValueError):
        br.create_branch("b")  # branch-of-branch
    with pytest.raises(ValueError):
        br.tag("x")  # tags name main versions
    with pytest.raises(ValueError):
        br.publish_branch("a")  # publish from main
    t.drop_branch("a")


def test_drop_branch_spares_a_branch_whose_name_extends_it(spark, staged):
    """Branch names may hold ``-v``: dropping ``a`` used to delete every
    file starting ``b-a-v``, branch ``a-v1``'s descriptors included."""
    t, batches = staged
    a = t.create_branch("a")
    av1 = t.create_branch("a-v1")
    apply_batch(av1, batches[1], epoch=1)
    want = _state(av1)
    assert t.list_branches() == {
        "a": a.current_version(),
        "a-v1": av1.current_version(),
    }

    t.drop_branch("a")
    with pytest.raises(FileNotFoundError):
        t.open_branch("a")
    assert t.list_branches() == {"a-v1": av1.current_version()}
    assert _state(t.open_branch("a-v1")) == want


def test_history_on_a_branch_lists_the_branch_versions(spark, staged):
    t, batches = staged
    br = t.create_branch("wap")
    fork_v = br.current_version()
    apply_batch(br, batches[1], epoch=1)
    apply_batch(br, batches[2], epoch=2)
    apply_batch(t, batches[1], epoch=1)  # main moves on too

    def versions(h):
        return [r["version"] for r in h.history().orderBy("version").collect()]

    assert versions(br) == [fork_v, fork_v + 1, fork_v + 2]
    assert versions(t) == list(range(t.current_version() + 1))
    last = br.history().orderBy(F.desc("version")).first()
    assert last["n_delta_files"] == sum(
        len(fs) for fs in br.snapshot().delta_files.values()
    )


def test_rollback_to_tag_refused_on_branch_handle(spark, staged):
    """Tags name MAIN versions, but a branch handle opens its own
    descriptors: rolling a branch back to a tag used to restore the
    branch's same-numbered version instead of the tagged main state.
    It now raises; a numeric rollback on the branch still works."""
    t, batches = staged
    fork_state = _state(t)
    br = t.create_branch("wap")
    fork_v = br.current_version()
    apply_batch(br, batches[1], epoch=1)
    apply_batch(t, batches[2], epoch=2)
    t.tag("main-2")  # same number as the branch's staged version
    staged_v, staged_state = br.current_version(), _state(br)
    with pytest.raises(ValueError, match="tags name MAIN versions"):
        br.rollback_to("main-2")
    assert br.current_version() == staged_v and _state(br) == staged_state
    br.rollback_to(fork_v)
    assert _state(br) == fork_state


def test_retention_refuses_branch_handle(spark, staged):
    """Retention computed from a branch handle sees only that branch's
    descriptors, so it used to delete main's snapshot descriptors and
    data dirs.  Both sweeps and the CLI's ``vacuum --branch`` now refuse,
    and main stays readable at its version."""
    from aus_land_data_etl_spark import cli

    t, batches = staged
    apply_batch(t, batches[1], epoch=1)
    br = t.create_branch("wap")
    apply_batch(br, batches[2], epoch=2)
    main_v, main_state = t.current_version(), _state(t)
    on_disk = sorted(os.listdir(t.root))

    with pytest.raises(ValueError, match="branch"):
        br.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="branch"):
        br.vacuum_orphans(grace_seconds=0.0)
    with pytest.raises(SystemExit):
        cli.main(["vacuum", "--table", t.root, "--branch", "wap",
                  "--keep-last", "1", "--grace-hours", "0"])
    assert sorted(os.listdir(t.root)) == on_disk
    assert t.current_version() == main_v
    assert _state(t) == main_state
    for v in range(1, main_v + 1):
        t.snapshot(v)  # every main descriptor survived


def test_subscription_sees_publish_as_one_net_interval(
    spark, staged, tmp_table_dir
):
    """A main-side changelog subscriber observes a branch publish as one
    ordinary net-diff interval covering everything staged — mirror
    convergence needs no knowledge that branches exist."""
    from aus_land_data_etl_spark.lake.changelog import ChangelogSubscription

    t, batches = staged
    cursor = os.path.join(tmp_table_dir, "_subscribers", "m.json")
    sub = ChangelogSubscription(t, cursor, start_at="origin")

    mirror: dict[str, tuple] = {}

    def consume():
        got = sub.poll()
        if got is None:
            return
        df, target = got
        for r in df.collect():
            if r["change_type"] == "delete":
                mirror.pop(r["url"], None)
            else:
                mirror[r["url"]] = (r["warc_ts"], r["event_id"], r["text"])
        sub.ack(target)

    consume()  # the bootstrap epoch
    br = t.create_branch("wap")
    apply_batch(br, batches[1], epoch=1)
    apply_batch(br, batches[2], epoch=2)
    assert sub.poll() is None  # staged commits: nothing to deliver
    t.publish_branch("wap")
    consume()  # the publish interval

    want = {
        r["url"]: (r["warc_ts"], r["event_id"], r["text"])
        for r in read_current(t).collect()
    }
    assert mirror == want


def test_refs_metadata_table(spark, staged):
    t, _ = staged
    t.tag("stable")
    t.create_branch("cand")
    rows = {(r["name"], r["kind"], r["version"]) for r in t.refs().collect()}
    assert rows == {
        ("stable", "tag", t.resolve_ref("stable")),
        ("cand", "branch", t.open_branch("cand").current_version()),
    }
    t.drop_branch("cand")
    t.drop_tag("stable")
    assert t.refs().count() == 0


def test_staged_maintenance_publishes_atomically(spark, staged):
    """Maintenance is stageable too: a fold, a rebucket AND a z-order
    clustered rewrite run on the branch; main keeps its old layout until
    the publish lands everything (data + bucket count + clustering) in
    one metadata commit."""
    from aus_land_data_etl_spark.lake.merge import fold_deltas
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder

    t, batches = staged
    apply_batch(t, batches[1], epoch=1)
    want = _state(t)
    main_snap = t.snapshot()

    br = t.create_branch("maint")
    fold_deltas(br, "event_id")
    br.rebucket(8)
    br.set_properties({"stats_cols": ["warc_ts"]})
    cluster_zorder(br, ["warc_ts"], bits=4, files_per_bucket=2)
    assert _state(br) == want  # maintenance is state-preserving
    assert t.snapshot().n_buckets == main_snap.n_buckets  # main untouched
    assert t.snapshot().bucket_files == main_snap.bucket_files

    t.publish_branch("maint")
    assert t.snapshot().n_buckets == 8
    assert _state(t) == want
    # serving reads agree with the published layout
    url = read_current(t).select("url").orderBy("url").first()["url"]
    assert t.lookup(url).count() == 1


def test_agg_view_refresh_across_publish(spark, staged, tmp_path):
    """An incremental aggregate view fed from main refreshes across a
    branch publish as one ordinary interval and keeps matching a full
    recompute — derived pipelines need no knowledge of staging."""
    from aus_land_data_etl_spark.lake.incremental import (
        AggSpec,
        AggView,
        full_compute,
    )

    t, batches = staged
    view = AggView.create(
        spark,
        str(tmp_path / "mv"),
        t,
        keys=["grp"],
        aggs=[AggSpec("n_pages", "count")],
        derived={"grp": "pmod(xxhash64(url), 5)"},
        n_buckets=2,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    view.refresh()
    assert rows(view.read()) == rows(full_compute(view))

    br = t.create_branch("wap")
    apply_batch(br, batches[1], epoch=1)
    apply_batch(br, batches[2], epoch=2)
    through_before = view.refreshed_through()
    view.refresh()
    assert view.refreshed_through() == through_before  # nothing visible
    t.publish_branch("wap")
    view.refresh()
    assert rows(view.read()) == rows(full_compute(view))
    assert view.refreshed_through() == t.current_version()


def test_audit_gate_recipe(spark, staged):
    """The composed WAP flow: stage, validate, publish-or-drop."""
    t, batches = staged
    before = _state(t)

    # a "bad deploy": stage a batch, validation rejects it, drop
    br = t.create_branch("candidate")
    apply_batch(br, batches[1], epoch=1)
    bad = read_current(br).filter(F.col("text").isNull()).count() > -1  # audit
    assert bad  # pretend validation failed
    t.drop_branch("candidate")
    assert _state(t) == before  # main never exposed the staged rows

    # the good deploy: same staging, validation passes, publish
    br = t.create_branch("candidate")
    apply_batch(br, batches[1], epoch=1)
    assert read_current(br).count() >= read_current(t).count()
    t.publish_branch("candidate")
    assert _state(t) != before
