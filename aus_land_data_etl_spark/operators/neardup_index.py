"""Persisted, incrementally-maintained MinHash-LSH near-duplicate index.

A 10^10-document corpus cannot re-run whole-corpus LSH banding on every
ingest cycle: the band table IS the index.  This module persists the
banded MinHash signatures once and lets each CDC batch probe + extend
them in O(batch) — the near-dup analog of ``similarity.IvfIndex``
(index once, query many, maintain incrementally), and the continuous
form of the reference's staged dedup pass (its pipeline re-deduplicates
per vintage load; here each exactly-once change batch is checked
against the full accumulated corpus as it lands — reference behavior:
ingest→clean→dedup staging flow, see SURVEY §2 W1/U1).

Layout under ``root``:

- ``meta.json`` — the hash-family contract (k, n_bands, shingle_n,
  seed, n_buckets, id type).  Probing with a different family would
  silently return garbage, so every handle loads it from disk.
- ``bands/bucket=*/`` — one row per (doc, band): (doc_id, band,
  band_hash), parquet **partitioned by** ``bucket =
  pmod(xxhash64(seed+1, band, band_hash), n_buckets)``.  A new batch's
  band hashes land in a subset of buckets; ``add`` /
  ``candidates_for`` push that subset as a partition filter, so
  unprobed bucket directories are never opened (the same
  directory-level pruning contract as ``IvfIndex.search``, proven the
  same two ways in tests: executed-plan PartitionFilters + a runtime
  poison-file read).  A batch of m docs probes ≤ min(m·n_bands,
  n_buckets) buckets — small batch against huge corpus ⇒ most of the
  band table is skipped.
- ``sigs/sbucket=*/`` — (doc_id, sig array<long>), partitioned by
  ``sbucket = pmod(xxhash64(seed+2, doc_id), n_buckets)`` so
  ``estimated`` fetches only the signature partitions its pair ids
  hash into (Broder estimate prefilter before the exact verify).

Equivalence contract (test-pinned): starting from an empty index, the
UNION of the pair sets returned by successive ``add`` calls equals
``minhash_lsh_candidates`` run once over the union of the batches.
Banding is per-document and the hash family is fixed (``band_rows`` is
shared code), so incremental vs batch can differ only in WHICH call
first reports a pair — never in the set.

Idempotence is the feeder's contract, exactly as for ``IvfIndex.add``:
drive ``add`` from an exactly-once change feed (e.g. a
``ChangelogSubscription`` net-insert stream) — a replayed ``add``
appends duplicate band rows, like any blind file append.  Updates to an
already-indexed document require tombstone + re-add semantics upstream.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aus_land_data_etl_spark.operators.dedup_ml import (
    band_pairs,
    band_rows,
    estimated_similarity,
    minhash_signatures,
    shingle_rows,
)

__all__ = ["NearDupIndex"]


class NearDupIndex:
    """Persisted banded-MinHash near-dup index with O(batch) maintenance."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "meta.json")) as f:
            meta = json.load(f)
        self.k: int = meta["k"]
        self.n_bands: int = meta["n_bands"]
        self.shingle_n: int = meta["shingle_n"]
        self.seed: int = meta["seed"]
        self.n_buckets: int = meta["n_buckets"]
        self.id_type: str = meta["id_type"]

    # ------------------------------------------------------------------
    # construction

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        k: int = 64,
        n_bands: int = 64,
        shingle_n: int = 5,
        seed: int = 42,
        n_buckets: int = 32,
        id_type: str = "bigint",
    ) -> "NearDupIndex":
        """Create an EMPTY index (the natural start of a CDC-fed corpus:
        every document arrives through ``add`` and is candidate-checked
        against everything indexed before it)."""
        if k % n_bands != 0:
            raise ValueError(f"k={k} must be divisible by n_bands={n_bands}")
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, "meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "k": k,
                    "n_bands": n_bands,
                    "shingle_n": shingle_n,
                    "seed": seed,
                    "n_buckets": n_buckets,
                    "id_type": id_type,
                },
                f,
            )
        os.replace(tmp, os.path.join(root, "meta.json"))
        return cls(spark, root)

    @classmethod
    def build(
        cls,
        docs: DataFrame,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        **kwargs,
    ) -> "NearDupIndex":
        """Create and bulk-load from an existing corpus WITHOUT computing
        any candidate pairs (the backfill path: pairs inside the initial
        corpus are a one-shot ``minhash_lsh_candidates`` job if wanted)."""
        idx = cls.create(docs.sparkSession, root, **kwargs)
        g = idx._next_gen()
        idx._append(idx._signatures(docs, id_col, text_col, g), g)
        return idx

    # ------------------------------------------------------------------
    # internal plumbing

    def _signatures(
        self, docs: DataFrame, id_col: str, text_col: str, gen: int
    ) -> DataFrame:
        """(doc_id, sig, gen) for a batch — ONE shuffle over its shingle
        rows, eagerly checkpointed: the result feeds the probe join, the
        self-join, and the append, and must not recompute per reference.
        ``gen`` is the batch's generation stamp (tombstone ordering)."""
        sigs = minhash_signatures(
            shingle_rows(docs, id_col, text_col, self.shingle_n),
            self.k,
            self.seed,
        ).withColumn("gen", F.lit(gen).cast("long"))
        return sigs.localCheckpoint(eager=True)

    @property
    def _gen_path(self) -> str:
        return os.path.join(self.root, "gen.txt")

    def current_gen(self) -> int:
        try:
            with open(self._gen_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _next_gen(self) -> int:
        """Bump the generation counter (single-writer feeder contract,
        like ``add`` itself).  Tombstones and index rows are ordered by
        these stamps: a doc is LIVE iff its newest index entry outranks
        its newest tombstone — so remove-then-re-add just works."""
        g = self.current_gen() + 1
        tmp = self._gen_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(g))
        os.replace(tmp, self._gen_path)
        return g

    def _bands_with_bucket(self, sigs: DataFrame) -> DataFrame:
        return band_rows(sigs, self.k, self.n_bands).withColumn(
            "bucket",
            F.pmod(
                F.xxhash64(F.lit(self.seed + 1), F.col("band"), F.col("band_hash")),
                F.lit(self.n_buckets),
            ).cast("int"),
        )

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _has_parquet(self, sub: str) -> bool:
        base = os.path.join(self.root, sub)
        for dirpath, _dirs, files in os.walk(base):
            if any(fn.endswith(".parquet") for fn in files):
                return True
        return False

    def bands(self) -> DataFrame:
        """The full persisted band table (maintenance / audit surface)."""
        if not self._has_parquet("bands"):
            return self._empty(
                f"doc_id {self.id_type}, band int, band_hash bigint,"
                " gen long, bucket int"
            )
        return self.spark.read.parquet(os.path.join(self.root, "bands"))

    def sigs(self) -> DataFrame:
        if not self._has_parquet("sigs"):
            return self._empty(
                f"doc_id {self.id_type}, sig array<bigint>, gen long,"
                " sbucket int"
            )
        return self.spark.read.parquet(os.path.join(self.root, "sigs"))

    def removed(self) -> DataFrame:
        if not self._has_parquet("removed"):
            return self._empty(f"doc_id {self.id_type}, gen long")
        return self.spark.read.parquet(os.path.join(self.root, "removed"))

    def _append(self, sigs_new: DataFrame, gen: int) -> None:
        # one add = one generation: the band rows' stamp is a constant,
        # not a per-row join back to the signature frame
        self._bands_with_bucket(sigs_new.drop("gen")).withColumn(
            "gen", F.lit(gen).cast("long")
        ).write.mode("append").partitionBy("bucket").parquet(
            os.path.join(self.root, "bands")
        )
        sigs_new.withColumn(
            "sbucket",
            F.pmod(
                F.xxhash64(F.lit(self.seed + 2), F.col("doc_id")),
                F.lit(self.n_buckets),
            ).cast("int"),
        ).write.mode("append").partitionBy("sbucket").parquet(
            os.path.join(self.root, "sigs")
        )

    def _probe(self, sigs_new: DataFrame) -> DataFrame:
        """Candidate pairs touching the batch: batch-vs-corpus via the
        bucket-pruned band probe, plus batch-vs-batch via the in-batch
        band self-join.  Output (id_a, id_b) with id_a < id_b, distinct."""
        bands_new = self._bands_with_bucket(sigs_new)
        # bounded driver-side set: ≤ n_buckets ints — the partition filter
        probed = sorted(
            r["bucket"] for r in bands_new.select("bucket").distinct().collect()
        )
        corpus = self.bands().filter(F.col("bucket").isin(probed))
        cross = (
            bands_new.alias("n")
            .join(
                corpus.alias("c"),
                (F.col("n.band") == F.col("c.band"))
                & (F.col("n.band_hash") == F.col("c.band_hash"))
                & (F.col("n.doc_id") != F.col("c.doc_id")),
            )
            .select(
                F.least("n.doc_id", "c.doc_id").alias("id_a"),
                F.greatest("n.doc_id", "c.doc_id").alias("id_b"),
            )
        )
        within = band_pairs(sigs_new, self.k, self.n_bands)
        pairs = cross.unionAll(within.select("id_a", "id_b")).distinct()
        return self._filter_tombstoned(pairs, sigs_new)

    def _filter_tombstoned(
        self, pairs: DataFrame, sigs_new: DataFrame
    ) -> DataFrame:
        """Drop pairs whose corpus side is tombstoned: a doc is live iff
        its newest index entry (sigs ∪ this batch) outranks its newest
        tombstone.  Fast path: no tombstones → no extra joins.  The
        liveness aggregation reads only the signature partitions the
        pair ids hash into (sbucket pruning) plus the tombstone table
        (assumed small relative to the corpus — deletes are the rare
        op; ``compact`` folds them away entirely)."""
        if not self._has_parquet("removed"):
            return pairs
        ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("id_b")))
            .distinct()
            .withColumn(
                "sbucket",
                F.pmod(
                    F.xxhash64(F.lit(self.seed + 2), F.col("doc_id")),
                    F.lit(self.n_buckets),
                ).cast("int"),
            )
        )
        probed = sorted(
            r["sbucket"] for r in ids.select("sbucket").distinct().collect()
        )
        entries = (
            self.sigs()
            .filter(F.col("sbucket").isin(probed))
            .select("doc_id", "gen")
            .unionAll(sigs_new.select("doc_id", "gen"))
            .join(ids.select("doc_id"), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.max("gen").alias("agen"))
        )
        rgen = self.removed().groupBy("doc_id").agg(F.max("gen").alias("rgen"))
        alive = (
            entries.join(rgen, "doc_id", "left")
            .filter(F.col("agen") > F.coalesce(F.col("rgen"), F.lit(-1)))
            .select("doc_id")
        )
        return (
            pairs.join(alive.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
            .join(alive.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        )

    # ------------------------------------------------------------------
    # public surface

    def candidates_for(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Probe-only: candidate pairs for a batch against corpus ∪ batch,
        WITHOUT mutating the index (e.g. pre-admission screening).  The
        peek generation (current + 1, never persisted) outranks every
        tombstone, so the probed batch always counts as live.  The pairs
        are materialised (eager localCheckpoint, as ``add`` does) so a
        later ``add``/``remove`` cannot change the answer."""
        return self._probe(
            self._signatures(docs, id_col, text_col, self.current_gen() + 1)
        ).localCheckpoint(eager=True)

    def add(
        self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> DataFrame:
        """Index a batch and return its candidate pairs (batch-vs-corpus
        and batch-vs-batch).  The pair set is materialised (eager
        localCheckpoint) BEFORE the band/signature append so the probe
        can never observe the batch's own freshly-written files —
        add-then-probe races are structurally impossible.  Adding a
        previously-removed doc_id revives it (its new generation
        outranks the tombstone)."""
        g = self._next_gen()
        sigs_new = self._signatures(docs, id_col, text_col, g)
        pairs = self._probe(sigs_new).localCheckpoint(eager=True)
        self._append(sigs_new, g)
        return pairs

    def remove(self, doc_ids) -> int:
        """Tombstone documents (the delete half of a CDC feed): future
        probes stop reporting pairs against them; an ``add`` of the same
        id revives it.  Stale band rows (and, for a revived doc, its
        OLD text's rows) stay on disk until ``compact`` folds them —
        until then a revived doc can surface stale-text candidates,
        which the exact-verify step downstream already filters (the
        candidate set is a superset by contract).  Accepts a DataFrame
        with a ``doc_id`` column or a Python list of ids."""
        g = self._next_gen()
        if not isinstance(doc_ids, DataFrame):
            doc_ids = self.spark.createDataFrame(
                [(d,) for d in doc_ids], f"doc_id {self.id_type}"
            )
        tomb = doc_ids.select("doc_id").distinct().withColumn(
            "gen", F.lit(g).cast("long")
        )
        tomb.write.mode("append").parquet(os.path.join(self.root, "removed"))
        return g

    def compact(self) -> dict[str, int]:
        """Rewrite each band-bucket directory into one file.  Every
        ``add`` appends one file per touched bucket, so after 10^4
        ingest cycles a probe pays 10^4 file opens per bucket — the
        classic small-file problem; this is the index's maintenance
        rewrite (same role as the lake's ``compact``).

        With tombstones present the rewrite also PURGES: band and
        signature rows whose generation does not outrank the doc's
        newest tombstone are dropped, and the tombstone table is cleared
        (the liveness filter becomes a no-op again).

        Crash-safe without a descriptor: new compacted files are
        appended FIRST, the superseded originals removed after, the
        tombstone table last.  A crash between the steps leaves either
        duplicate band rows — tolerated by construction (``_probe`` ends
        in ``distinct()``) — or tombstones whose dead rows are already
        gone (the liveness filter is then merely redundant); the next
        ``compact`` converges either way.
        """
        import glob

        bands_dir = os.path.join(self.root, "bands")
        sigs_dir = os.path.join(self.root, "sigs")
        old = glob.glob(os.path.join(bands_dir, "bucket=*", "*.parquet"))
        purge = self._has_parquet("removed")
        if not purge and len(old) <= self.n_buckets:
            return {"files_before": len(old), "files_after": len(old)}

        def survivors(df: DataFrame) -> DataFrame:
            if not purge:
                return df
            rgen = (
                self.removed().groupBy("doc_id").agg(F.max("gen").alias("rgen"))
            )
            return (
                df.join(F.broadcast(rgen), "doc_id", "left")
                .filter(F.col("gen") > F.coalesce(F.col("rgen"), F.lit(-1)))
                .drop("rgen")
            )

        # one shuffle partition per bucket → one output file per directory
        (
            survivors(self.bands())
            .repartition(self.n_buckets, F.col("bucket"))
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(bands_dir)
        )
        for p in old:
            os.remove(p)
        if purge:
            old_sigs = glob.glob(os.path.join(sigs_dir, "sbucket=*", "*.parquet"))
            (
                survivors(self.sigs())
                .repartition(self.n_buckets, F.col("sbucket"))
                .write.mode("append")
                .partitionBy("sbucket")
                .parquet(sigs_dir)
            )
            for p in old_sigs:
                os.remove(p)
            shutil.rmtree(os.path.join(self.root, "removed"), ignore_errors=True)
        after = glob.glob(os.path.join(bands_dir, "bucket=*", "*.parquet"))
        return {"files_before": len(old), "files_after": len(after)}

    def estimated(self, pairs: DataFrame) -> DataFrame:
        """Broder MinHash similarity estimate for candidate pairs off the
        persisted signatures — the cheap prefilter before an exact
        n-gram-Jaccard verify.  Signature partitions are pruned to the
        sbuckets the pair ids hash into (bounded collect: ≤ n_buckets
        ints), so a small candidate set reads a small fraction of sigs/."""
        ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("id_b")))
            .withColumn(
                "sbucket",
                F.pmod(
                    F.xxhash64(F.lit(self.seed + 2), F.col("doc_id")),
                    F.lit(self.n_buckets),
                ).cast("int"),
            )
        )
        probed = sorted(
            r["sbucket"] for r in ids.select("sbucket").distinct().collect()
        )
        sigs = self.sigs().filter(F.col("sbucket").isin(probed)).select("doc_id", "sig")
        return estimated_similarity(pairs, sigs, self.k)
