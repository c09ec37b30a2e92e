"""Randomized differential test: resolve_cells vs a pure-Python per-cell
LWW model, over seeded random event sets and random batch splits.

100 cases ride ONE Spark aggregation (tagged by case id) so the whole
sweep costs two jobs, not 100 round trips.  The model is the spec from
operators/patch.py restated independently: per cell, the value from the
newest event (version, tiebreak) that determines it; full images and
deletes determine everything; row existence from the newest event
overall."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from aus_land_data_etl_spark.operators.patch import CELL_VERS, resolve_cells

COLS = ["x", "y", "z"]
TS0 = dt.datetime(2024, 1, 1)


def _gen_case(rng: random.Random, case_id: int):
    """A small random event set over a handful of keys."""
    events = []
    n = rng.randint(1, 12)
    for i in range(n):
        key = f"k{rng.randint(0, 2)}"
        sec = rng.randint(0, 20)  # deliberate version collisions -> tiebreak
        tb = f"e{case_id:03d}{i:02d}"
        op = rng.choice(["insert", "update", "delete", "patch", "patch"])
        vals = {c: rng.choice([None, f"{c}{rng.randint(0, 9)}"]) for c in COLS}
        sets = None
        if op == "patch":
            sets = sorted(rng.sample(COLS, rng.randint(1, 3)))
            for c in COLS:
                if c not in sets:
                    vals[c] = None
        elif op == "delete":
            vals = {c: None for c in COLS}
        events.append((key, sec, tb, op, vals, sets))
    return events


def _model(events):
    """Pure-Python per-cell LWW."""
    out = {}
    keys = {e[0] for e in events}
    for k in keys:
        evs = [e for e in events if e[0] == k]
        newest = max(evs, key=lambda e: (e[1], e[2]))
        row = {
            "ver": newest[1],
            "tb": newest[2],
            "deleted": newest[3] == "delete",
        }
        for c in COLS:
            det = [
                e for e in evs
                if e[5] is None or c in e[5]  # full/delete or named cell
            ]
            if det:
                w = max(det, key=lambda e: (e[1], e[2]))
                row[c] = None if w[3] == "delete" else w[4][c]
            else:
                row[c] = None
        out[k] = row
    return out


def test_resolve_cells_matches_model_randomized(spark):
    rng = random.Random(20260819)
    cases = {cid: _gen_case(rng, cid) for cid in range(100)}

    rows = []
    for cid, events in cases.items():
        for (key, sec, tb, op, vals, sets) in events:
            rows.append(
                (
                    cid,
                    key,
                    TS0 + dt.timedelta(seconds=sec),
                    tb,
                    op == "delete",
                    sets if op == "patch" else None,
                    vals["x"],
                    vals["y"],
                    vals["z"],
                )
            )
    df = spark.createDataFrame(
        rows,
        "case_id int, k string, v timestamp, t string, is_deleted boolean, "
        "_set_cols array<string>, x string, y string, z string",
    )
    got = resolve_cells(df, ["case_id", "k"], "v", "t").collect()
    got_map = {
        (r["case_id"], r["k"]): r for r in got
    }

    mismatches = []
    for cid, events in cases.items():
        want = _model(events)
        for k, w in want.items():
            g = got_map.get((cid, k))
            ok = (
                g is not None
                and g["v"] == TS0 + dt.timedelta(seconds=w["ver"])
                and g["t"] == w["tb"]
                and bool(g["is_deleted"]) == w["deleted"]
                and all(g[c] == w[c] for c in COLS)
            )
            if not ok:
                mismatches.append((cid, k, w, None if g is None else g.asDict()))
    assert not mismatches, f"{len(mismatches)} mismatches, e.g. {mismatches[:3]}"
    assert len(got_map) == sum(len({e[0] for e in ev}) for ev in cases.values())


def test_resolve_cells_split_invariance_randomized(spark):
    """Two-stage reduction over a random split == one-shot reduction,
    including the carried _cvers maps (the associativity MoR folds and
    merges over any batch split rely on)."""
    rng = random.Random(77)
    cases = {cid: _gen_case(rng, cid) for cid in range(40)}
    rows = []
    for cid, events in cases.items():
        for i, (key, sec, tb, op, vals, sets) in enumerate(events):
            rows.append(
                (
                    cid,
                    rng.randint(0, 1),  # random half assignment
                    key,
                    TS0 + dt.timedelta(seconds=sec),
                    tb,
                    op == "delete",
                    sets if op == "patch" else None,
                    vals["x"],
                    vals["y"],
                    vals["z"],
                )
            )
    df = spark.createDataFrame(
        rows,
        "case_id int, half int, k string, v timestamp, t string, "
        "is_deleted boolean, _set_cols array<string>, "
        "x string, y string, z string",
    ).localCheckpoint(eager=True)

    once = resolve_cells(df.drop("half"), ["case_id", "k"], "v", "t")
    h0 = resolve_cells(df.filter("half = 0").drop("half"), ["case_id", "k"], "v", "t")
    h1 = df.filter("half = 1").drop("half")
    twice = resolve_cells(
        h0.unionByName(h1, allowMissingColumns=True), ["case_id", "k"], "v", "t"
    )

    def as_map(rows_):
        return {
            (r["case_id"], r["k"]): (
                r["v"], r["t"], r["is_deleted"], r["x"], r["y"], r["z"],
                dict(r[CELL_VERS]),
            )
            for r in rows_
        }

    assert as_map(once.collect()) == as_map(twice.collect())
