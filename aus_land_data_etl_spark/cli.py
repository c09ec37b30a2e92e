"""spark-submit entry point for the CDC pipeline.

Packaging (north rule: run via ``spark-submit --py-files`` on a
multi-executor cluster)::

    bash scripts/package.sh                      # → dist/aus_land_data_etl_spark.zip
    spark-submit --py-files dist/aus_land_data_etl_spark.zip \
        --master <cluster> \
        aus_land_data_etl_spark/cli.py \
        --wal /data/wal --table /data/pages --checkpoint /data/ckpt

In the sandbox the same job runs on ``local[N]``.  Modes:

- ``ingest``    tail the WAL → exactly-once MERGE (availableNow drain or
                continuous with --continuous)
- ``generate``  write a deterministic synthetic WAL (for rehearsal)
- ``compact``   rewrite the table dropping tombstones
- ``zorder``    z-order maintenance rewrite (--zorder-cols a,b); with
                --incremental only buckets with stacks ≥ --min-files
                re-cluster (O(dirty data))
- ``derive``    run the derive DAG and print rollup summaries
- ``audit``     offset-coverage report from the lineage manifests
                (gaps, overlaps, watermarks, dead-letter count)
- ``stats``     metadata-first COUNT (and MIN/MAX with --col) of the
                serving view — answers from per-file zonemaps, scans
                only boundary files; reports how many files were
                answered from metadata vs scanned vs pruned
- ``vacuum``    retention + failure cleanup: expire old snapshots
                (--keep-last) then remove age-gated orphan files
                (--grace-hours; crash leftovers, lost-race spills)
- ``dlq``       count quarantined unknown-schema events; with --replay,
                re-inject those the registry now understands
                (--known-versions extends it), exactly-once per row set
- ``tag``       name the current (or --version) snapshot (--name) as a
                retention root / rollback anchor; --drop removes it
- ``rollback``  restore the table to --to (version number or tag name)
                as a new metadata-only commit; exactly-once state is
                restored too, so replaying the stream reconverges
- ``branch``    write-audit-publish: --create/--drop/--publish a named
                branch (--name), or list branches; staged commits are
                invisible to main until published.  Any table mode
                (ingest, compact, stats, audit, …) accepts ``--branch``
                to operate on the staged state instead of main
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="pages-cdc")
    p.add_argument(
        "mode",
        choices=[
            "ingest", "generate", "compact", "zorder", "derive", "audit",
            "stats", "vacuum", "tag", "rollback", "dlq", "branch",
        ],
    )
    p.add_argument("--wal", help="WAL directory (parquet change events)")
    p.add_argument("--table", required=True, help="lake table root")
    p.add_argument("--checkpoint", help="streaming checkpoint dir")
    p.add_argument("--n-events", type=int, default=100_000)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--offset-base", type=int, default=0,
                   help="generate: continue binlog positions from here"
                        " (a later WAL segment must not reuse offsets)")
    p.add_argument("--n-buckets", type=int, default=32)
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--zorder-cols", help="comma-separated z-order dimensions")
    p.add_argument("--files-per-bucket", type=int, default=4)
    p.add_argument("--zorder-bits", type=int, default=6)
    p.add_argument("--incremental", action="store_true",
                   help="zorder: re-cluster only buckets with deep stacks")
    p.add_argument("--min-files", type=int, default=2,
                   help="zorder --incremental: stack-depth threshold")
    p.add_argument("--col", help="stats: column for MIN/MAX bounds")
    p.add_argument(
        "--where",
        help=(
            "stats: conjunctive predicates 'col op value' joined by ';'"
            " — ops < <= > >= ==, values parsed as int/float when they"
            " look numeric (e.g. \"lang == en; warc_ts >= 1000\")"
        ),
    )
    p.add_argument("--keep-last", type=int, default=2,
                   help="vacuum: snapshots to retain")
    p.add_argument("--name", help="tag: tag name")
    p.add_argument("--version", type=int, help="tag: version to tag (default current)")
    p.add_argument("--drop", action="store_true", help="tag: remove the tag")
    p.add_argument("--to", help="rollback: target version number or tag name")
    p.add_argument("--replay", action="store_true",
                   help="dlq: re-inject quarantined events the registry knows")
    p.add_argument("--branch", help="operate on this branch instead of main")
    p.add_argument("--create", action="store_true", help="branch: create --name")
    p.add_argument("--publish", action="store_true",
                   help="branch: fast-forward main to --name and drop it")
    p.add_argument("--known-versions",
                   help="dlq: comma-separated schema versions the registry"
                        " should accept (default: built-in set)")
    p.add_argument("--grace-hours", type=float, default=1.0,
                   help="vacuum: age gate for orphan removal")
    p.add_argument("--cores", default=None)
    args = p.parse_args(argv)
    if args.mode == "vacuum" and args.branch:
        # retention from a branch handle would delete main's snapshots;
        # main's sweep already keeps every branch's files
        p.error("vacuum runs on main only: drop --branch")

    from aus_land_data_etl_spark.session import get_spark

    spark = get_spark("pages-cdc", cores=args.cores)

    from aus_land_data_etl_spark.cdc.apply import create_pages_table
    from aus_land_data_etl_spark.lake.merge import compact, read_current
    from aus_land_data_etl_spark.lake.table import LakeTable

    if args.mode == "generate":
        from aus_land_data_etl_spark.cdc.generator import generate_events
        from aus_land_data_etl_spark.streaming.runner import write_event_log

        assert args.wal, "--wal required"
        events = generate_events(
            spark, args.n_events, seed=args.seed, offset_base=args.offset_base
        )
        write_event_log(events, args.wal, n_files=8)
        print(json.dumps({"mode": "generate", "events": events.count(), "wal": args.wal}))
        return

    if args.mode == "ingest":
        from aus_land_data_etl_spark.streaming.runner import run_stream

        assert args.wal and args.checkpoint, "--wal/--checkpoint required"
        table = (
            LakeTable(spark, args.table)
            if LakeTable.exists(args.table)
            else create_pages_table(spark, args.table, n_buckets=args.n_buckets)
        )
        if args.branch:
            table = table.open_branch(args.branch)
        res = run_stream(
            spark,
            table,
            args.wal,
            args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        print(
            json.dumps(
                {
                    "mode": "ingest",
                    "batches": res.batches,
                    "rows": res.rows,
                    "snapshot": res.final_version,
                    "live_pages": read_current(table).count(),
                }
            )
        )
        return

    table = LakeTable(spark, args.table)
    if args.mode == "branch":
        if args.create:
            if not args.name:
                p.error("--name is required to create a branch")
            br = table.create_branch(args.name, from_ref=args.version)
            print(json.dumps({"mode": "branch", "created": args.name,
                              "fork": br.current_version()}))
        elif args.publish:
            if not args.name:
                p.error("--name is required to publish a branch")
            v = table.publish_branch(args.name)
            print(json.dumps({"mode": "branch", "published": args.name,
                              "snapshot": v,
                              "live_pages": read_current(table).count()}))
        elif args.drop:
            if not args.name:
                p.error("--name is required to drop a branch")
            table.drop_branch(args.name)
            print(json.dumps({"mode": "branch", "dropped": args.name,
                              "branches": table.list_branches()}))
        else:
            print(json.dumps({"mode": "branch",
                              "branches": table.list_branches()}))
        return

    if args.branch:
        table = table.open_branch(args.branch)
    if args.mode == "zorder":
        from aus_land_data_etl_spark.lake.zorder import (
            cluster_zorder,
            cluster_zorder_buckets,
        )

        if not args.zorder_cols:
            p.error("--zorder-cols is required for zorder mode")
        cols = [c.strip() for c in args.zorder_cols.split(",") if c.strip()]
        if args.incremental:
            v = cluster_zorder_buckets(
                table, cols, min_files=args.min_files, bits=args.zorder_bits,
                files_per_bucket=args.files_per_bucket,
            )
        else:
            v = cluster_zorder(
                table, cols, bits=args.zorder_bits,
                files_per_bucket=args.files_per_bucket,
            )
        snap = table.snapshot()
        print(
            json.dumps(
                {
                    "mode": "zorder",
                    "cols": cols,
                    "incremental": bool(args.incremental),
                    "snapshot": v,
                    "n_files": sum(len(f) for f in snap.bucket_files.values()),
                }
            )
        )
        return

    if args.mode == "compact":
        v = compact(table)
        merged = table.compact_manifests()
        print(json.dumps({"mode": "compact", "snapshot": v, "manifests_merged": merged}))
        return

    if args.mode == "audit":
        from aus_land_data_etl_spark.cdc.apply import read_dead_letters
        from aus_land_data_etl_spark.cdc.audit import coverage_summary, offset_gaps

        cov = [r.asDict() for r in coverage_summary(table).collect()]
        for c in cov:
            c.pop("source_file", None)
        gaps = offset_gaps(table).groupBy("kind").count().collect()
        print(
            json.dumps(
                {
                    "mode": "audit",
                    "snapshot": table.current_version(),
                    "namespaces": len(cov),
                    "contiguous": all(c["contiguous"] for c in cov),
                    "missing_offsets": sum(c["missing_offsets"] for c in cov),
                    "reapplied_offsets": sum(c["reapplied_offsets"] for c in cov),
                    "anomalies": {r["kind"]: r["count"] for r in gaps},
                    "dead_letters": read_dead_letters(table).count(),
                },
                default=str,
            )
        )
        return

    if args.mode == "vacuum":
        table.expire_snapshots(keep_last=args.keep_last)
        removed = table.vacuum_orphans(grace_seconds=args.grace_hours * 3600)
        print(
            json.dumps(
                {
                    "mode": "vacuum",
                    "snapshot": table.current_version(),
                    "keep_last": args.keep_last,
                    **removed,
                }
            )
        )
        return

    if args.mode == "stats":
        from aus_land_data_etl_spark.lake.metadata_agg import (
            count_current,
            minmax_current,
        )

        preds: list[tuple] = []
        for clause in (args.where or "").split(";"):
            clause = clause.strip()
            if not clause:
                continue
            parts = clause.split(None, 2)
            if len(parts) != 3:
                p.error(f"--where clause not 'col op value': {clause!r}")
            col, op, raw = parts
            try:
                value: object = int(raw)
            except ValueError:
                try:
                    value = float(raw)
                except ValueError:
                    value = raw
            preds.append((col, op, value))

        cp = count_current(table, predicates=preds or None)
        out = {
            "mode": "stats",
            "snapshot": table.current_version(),
            "count": cp.count,
            "count_plan": {
                "metadata_files": len(cp.metadata_files),
                "scanned_files": len(cp.scanned_files),
                "pruned_files": len(cp.pruned_files),
                "fallback": cp.fallback,
            },
        }
        if args.col:
            bp = minmax_current(table, args.col, predicates=preds or None)
            out["col"] = args.col
            out["min"] = bp.lo
            out["max"] = bp.hi
            out["count_nonnull"] = bp.count_nonnull
            out["bounds_plan"] = {
                "metadata_files": len(bp.metadata_files),
                "scanned_files": len(bp.scanned_files),
                "pruned_files": len(bp.pruned_files),
                "fallback": bp.fallback,
            }
        print(json.dumps(out, default=str))
        return

    if args.mode == "dlq":
        from aus_land_data_etl_spark.cdc.apply import (
            read_dead_letters,
            replay_dead_letters,
        )
        from aus_land_data_etl_spark.cdc.registry import SchemaRegistry

        registry = SchemaRegistry(
            tuple(int(v) for v in args.known_versions.split(","))
        ) if args.known_versions else SchemaRegistry()
        out = {"mode": "dlq", "quarantined": read_dead_letters(table).count()}
        if args.replay:
            out.update(replay_dead_letters(table, registry=registry))
            out["quarantined_after"] = read_dead_letters(table).count()
        print(json.dumps(out))
        return

    if args.mode == "tag":
        if not args.name:
            # bare `tag`: list every named ref (tags + live branches)
            refs = [r.asDict() for r in table.refs().collect()]
            print(json.dumps({"mode": "tag", "refs": refs}))
            return
        if args.drop:
            table.drop_tag(args.name)
            print(json.dumps({"mode": "tag", "dropped": args.name,
                              "tags": table.tags()}))
            return
        v = table.tag(args.name, version=args.version, replace_existing=True)
        print(json.dumps({"mode": "tag", "name": args.name, "version": v,
                          "tags": table.tags()}))
        return

    if args.mode == "rollback":
        if not args.to:
            p.error("--to is required for rollback mode")
        try:
            ref: object = int(args.to)
        except ValueError:
            ref = args.to
        v = table.rollback_to(ref)
        print(
            json.dumps(
                {
                    "mode": "rollback",
                    "to": args.to,
                    "snapshot": v,
                    "live_pages": read_current(table).count(),
                }
            )
        )
        return

    if args.mode == "derive":
        from aus_land_data_etl_spark.plans.derive import derive_all
        from aus_land_data_etl_spark.cdc.events import EVENT_SCHEMA

        assert args.wal, "--wal required"
        events = spark.read.schema(EVENT_SCHEMA).parquet(args.wal)
        out = derive_all(read_current(table), events)
        summary = {name: df.count() for name, df in out.items()}
        print(json.dumps({"mode": "derive", "counts": summary}))
        return


if __name__ == "__main__":
    main()
