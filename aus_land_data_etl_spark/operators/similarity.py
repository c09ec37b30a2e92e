"""Similarity search over embedding columns (array<float>).

Two paths, same contract (query ids × corpus → top-k neighbours by
cosine):

- ``cosine_topk_bruteforce`` — the exact baseline: query×corpus join with
  the small side broadcast, dot products as Catalyst ``zip_with`` /
  ``aggregate`` expressions (JVM-side, no Python), top-k per query via
  window partial top-k.  Right answer at any scale where |queries|·|corpus|
  rows of arithmetic is acceptable.
- ``cosine_topk_lsh`` — the scale path: random-hyperplane LSH signatures
  bucket the corpus; each query only scores its own buckets (multi-probe
  across ``n_tables`` independent tables for recall).  Hyperplanes are
  seeded-deterministic and shipped as literal arrays (broadcast by the
  plan), so replay is reproducible.  This is the IVF-style pruning a
  10^10-row corpus needs: per-query work drops from |corpus| to the
  bucket population.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays (0 when either is zero)."""
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbours per query (excluding self-matches).

    Queries are broadcast (the small side by construction); the corpus
    never shuffles.  Output: (query_id, neighbour_id, cosine_sim, rank).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbour_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbour_id"))
        .select(
            "query_id",
            "neighbour_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact): all (a < b) pairs
    with cosine ≥ threshold.

    One side is broadcast, so the big side never shuffles; the dot product
    is a Catalyst ``zip_with``/``aggregate`` expression (JVM-side).  Exact
    all-pairs is the oracle-checkable ground truth; at corpus scale use
    ``cosine_topk_lsh``/``ivf_topk`` buckets as the candidate generator and
    this same scoring expression on candidates only.
    """
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means cells + nprobe search
# ---------------------------------------------------------------------------


def _unit(a: Column) -> Column:
    n = _norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)


def _centroid_matrix(centroids: list[list[float]]):
    """Row-normalised (n_cells × dim) float64 matrix."""
    import numpy as np

    m = np.asarray(centroids, dtype="float64")
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def _cell_scores(vs, M):
    """Cosine score matrix (batch × n_cells) for a pandas Series of vectors
    against the broadcast unit-centroid matrix."""
    import numpy as np

    X = np.stack([np.asarray(v, dtype="float64") for v in vs])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return (X / norms) @ M.T


def _cell_assign_udf(spark, centroids: list[list[float]]):
    """argmax_i cosine(vec, centroid_i) as an Arrow-batched pandas UDF.

    The centroid matrix travels as a Spark broadcast variable, NOT as plan
    literals: a realistic quantizer (4k cells × 768 dims) is ~25 MB of
    floats — fine as a torrent-broadcast ndarray, fatal as 3M Catalyst
    expression nodes (the round-1 plan-explosion finding).  Plan size is
    flat in n_cells; the batch scoring is one numpy matmul (vectorised,
    ~the cost of the dot products themselves).  Ties take the lowest cell
    id (np.argmax returns the first maximum).
    """
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(_centroid_matrix(centroids))

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        import numpy as np

        S = _cell_scores(vs, bc.value)
        return pd.Series(np.argmax(S, axis=1).astype("int32"))

    return assign


def _probe_cells_udf(spark, centroids: list[list[float]], nprobe: int):
    """The nprobe nearest cell ids per query vector (score desc, tie →
    lowest cell id), same broadcast-matrix mechanics as assignment."""
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(_centroid_matrix(centroids))
    np_probe = max(1, nprobe)

    @pandas_udf("array<int>")
    def probe(vs: pd.Series) -> pd.Series:
        import numpy as np

        S = _cell_scores(vs, bc.value)
        order = np.argsort(-S, axis=1, kind="stable")[:, :np_probe]
        return pd.Series([row.astype("int32") for row in order])

    return probe


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_iters: int = 2,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic coarse quantizer: hash-seeded init + Lloyd iterations.

    Init picks the ``n_cells`` corpus vectors with the smallest
    ``xxhash64(id, seed)`` (a deterministic uniform sample — no
    ``Math.random`` at plan time, replay-reproducible).  Each Lloyd pass is
    fully distributed: cell assignment is the broadcast-matrix pandas UDF
    (plan size flat in n_cells), and the per-cell mean reduces via
    ``posexplode → groupBy(cell, pos) → avg`` so only
    ``n_cells × dim`` scalars ever reach the driver.
    """
    vecs = corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).filter(F.col("v").isNotNull())
    init = (
        vecs.orderBy(F.xxhash64(F.col("_id"), F.lit(seed)))
        .limit(n_cells)
        .select("v")
        .collect()
    )
    centroids = [list(r["v"]) for r in init]
    spark = corpus.sparkSession
    for _ in range(n_iters):
        assign = _cell_assign_udf(spark, centroids)
        assigned = vecs.select("v", assign(F.col("v")).alias("cell"))
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = float(r["m"])
        centroids = [
            [by_cell[c][p] for p in sorted(by_cell[c])] if c in by_cell else centroids[c]
            for c in range(n_cells)
        ]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN: score only corpus vectors in the query's nprobe nearest
    cells.  Per-query work drops from |corpus| to ≈ |corpus|·nprobe/n_cells;
    the cell equi-join replaces the all-pairs product.  With
    ``nprobe == n_cells`` the search is exhaustive and equals
    ``cosine_topk_bruteforce`` exactly (the property the unit test pins).
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_cells=n_cells, seed=seed
        )
    spark = corpus.sparkSession
    assign = _cell_assign_udf(spark, centroids)
    probe = _probe_cells_udf(spark, centroids, nprobe)
    # NULL embeddings are unindexable: the numpy batch scorer would raise
    # on a ragged stack where the Catalyst paths simply drop the row —
    # keep the drop-the-row semantics here too
    c = (
        corpus.select(
            F.col(id_col).alias("neighbour_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .filter(F.col("cv").isNotNull())
        .withColumn("cell", assign(F.col("cv")))
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .filter(F.col("qv").isNotNull())
        .withColumn("cell", F.explode(probe(F.col("qv"))))
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbour_id"))
        .select(
            "query_id",
            "neighbour_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbour_id")
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Seeded Gaussian hyperplanes (driver-side constants, broadcast)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(
    vec: Column, dim: int, n_planes: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane signature: one bit per plane, packed to a long."""
    planes = _hyperplanes(dim, n_planes, seed)
    bits = []
    for p, w in enumerate(planes):
        wcol = F.array(*[F.lit(x) for x in w])
        proj = _dot(vec.cast("array<double>"), wcol)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long"))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH bucket
    with the query in any of ``n_tables`` independent tables."""
    from pyspark.sql import Window

    def with_sigs(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        cols = [F.col(id_col).alias(id_alias), F.col(vec_col).cast("array<double>").alias(vec_alias)]
        for t in range(n_tables):
            cols.append(
                lsh_signature(F.col(vec_col), dim, n_planes, seed + 1000 * t).alias(f"sig{t}")
            )
        return df.select(*cols)

    c = with_sigs(corpus, "neighbour_id", "cv")
    q = with_sigs(queries, "query_id", "qv")
    c_buckets = c.select(
        "neighbour_id",
        "cv",
        F.posexplode(F.array(*[F.col(f"sig{t}") for t in range(n_tables)])).alias(
            "table", "bucket"
        ),
    )
    q_buckets = q.select(
        "query_id",
        "qv",
        F.posexplode(F.array(*[F.col(f"sig{t}") for t in range(n_tables)])).alias(
            "table", "bucket"
        ),
    )
    cand = (
        c_buckets.join(F.broadcast(q_buckets), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbour_id"))
        .select("query_id", "neighbour_id", "qv", "cv")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbour_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbour_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


class IvfIndex:
    """Persisted IVF index: index ONCE, query many — the serving shape a
    100 TB embedding corpus needs (re-training the quantizer and
    re-assigning every corpus vector per query batch does not amortize).

    Layout under ``root``:
    - ``centroids.json`` — the trained coarse quantizer (n_cells × dim)
      plus metadata (columns, seed, n_cells);
    - ``cells/`` — the corpus with its cell assignment, parquet
      **partitioned by cell**: a query batch probing p of n cells reads
      only those p directories (partition pruning at the FILE level —
      ``search`` filters on the partition column before any scan, and
      ``inputFiles()`` proves it; tests pin this).

    Determinism: building twice from the same corpus/seed yields
    byte-identical centroids and assignments (hash-seeded init, Lloyd on
    deterministic data), so an index can be rebuilt for audit.
    """

    def __init__(self, spark, root: str):
        import json
        import os

        self.spark = spark
        self.root = root
        with open(os.path.join(root, "centroids.json")) as f:
            meta = json.load(f)
        self.centroids: list[list[float]] = meta["centroids"]
        self.id_col: str = meta["id_col"]
        self.n_cells: int = meta["n_cells"]

    # -- generation counter (tombstone ordering; single-writer feeder
    # contract, same discipline as neardup_index.NearDupIndex) ----------
    def current_gen(self) -> int:
        import os

        try:
            with open(os.path.join(self.root, "gen.txt")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _next_gen(self) -> int:
        import os

        g = self.current_gen() + 1
        tmp = os.path.join(self.root, "gen.txt.tmp")
        with open(tmp, "w") as f:
            f.write(str(g))
        os.replace(tmp, os.path.join(self.root, "gen.txt"))
        return g

    @staticmethod
    def _assign_cells(
        df: DataFrame, id_col: str, vec_col: str, centroids: list[list[float]]
    ) -> DataFrame:
        """The cells-layout projection shared by build and add: columns
        (neighbour_id, cv, cell) — ONE definition so the two write paths
        cannot drift schema-divergent files into the same directory."""
        assign = _cell_assign_udf(df.sparkSession, centroids)
        return (
            df.select(
                F.col(id_col).alias("neighbour_id"),
                F.col(vec_col).cast("array<double>").alias("cv"),
            )
            .filter(F.col("cv").isNotNull())
            .withColumn("cell", assign(F.col("cv")))
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 8,
        n_iters: int = 2,
        seed: int = 42,
    ) -> "IvfIndex":
        import json
        import os

        centroids = train_ivf_centroids(
            corpus, id_col, vec_col, n_cells=n_cells, n_iters=n_iters, seed=seed
        )
        spark = corpus.sparkSession
        indexed = cls._assign_cells(corpus, id_col, vec_col, centroids).withColumn(
            "gen", F.lit(1).cast("long")
        )
        indexed.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(root, "cells")
        )
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "gen.txt"), "w") as f:
            f.write("1")
        tmp = os.path.join(root, "centroids.json.tmp")
        with open(tmp, "w") as f:
            json.dump(
                {
                    "centroids": centroids,
                    "id_col": id_col,
                    "n_cells": n_cells,
                    "seed": seed,
                },
                f,
            )
        os.replace(tmp, os.path.join(root, "centroids.json"))
        return cls(spark, root)

    def cells(self) -> DataFrame:
        """The cell layout.  Files written before generations existed
        carry no ``gen`` column: their rows are generation 0, so they stay
        live until a tombstone names them (a NULL gen would fail every
        liveness filter and ``compact`` would purge the rows)."""
        import os

        d = os.path.join(self.root, "cells")
        df = self.spark.read.parquet(d)
        if "gen" not in df.columns:  # the footer read was a legacy file
            df = self.spark.read.schema(df.schema.add("gen", "long")).parquet(d)
        return df.withColumn("gen", F.coalesce(F.col("gen"), F.lit(0).cast("long")))

    def add(self, vectors: DataFrame, vec_col: str = "embedding") -> None:
        """Incrementally index new vectors WITHOUT retraining: assign each
        to its nearest existing centroid and append to that cell's
        partition directory — O(new vectors), the index stays serveable
        throughout, and ``search`` sees old ∪ new immediately.

        This is standard IVF maintenance (the coarse quantizer is kept
        until the distribution drifts, then ``build`` re-trains): the
        centroids are frozen, so recall for the NEW vectors matches what
        re-assignment under the same centroids would give — and a
        full-probe search stays exactly the brute-force top-k over the
        grown corpus (test-pinned).  Idempotence is the FEEDER's
        contract: drive ``add`` from an exactly-once change feed (e.g.
        ``ChangelogSubscription`` net inserts) — a replayed ``add``
        appends duplicate rows, exactly like any blind file append.
        Adding a previously-removed id revives it (the new generation
        outranks the tombstone).
        """
        import os

        g = self._next_gen()
        indexed = self._assign_cells(
            vectors, self.id_col, vec_col, self.centroids
        ).withColumn("gen", F.lit(g).cast("long"))
        indexed.write.mode("append").partitionBy("cell").parquet(
            os.path.join(self.root, "cells")
        )

    def removed(self) -> DataFrame:
        import os

        d = os.path.join(self.root, "removed")
        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return self.spark.createDataFrame(
                [], "neighbour_id long, gen long"
            )
        return self.spark.read.parquet(d)

    def remove(self, ids) -> int:
        """Tombstone vectors (the delete half of a CDC feed): ``search``
        stops returning them, an ``add`` of the same id revives it, and
        ``compact`` folds the tombstones away.  Accepts a DataFrame
        carrying the id column or a Python list of ids."""
        import os

        g = self._next_gen()
        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], "neighbour_id long"
            )
        else:
            ids = ids.select(F.col(self.id_col).alias("neighbour_id"))
        ids.select("neighbour_id").distinct().withColumn(
            "gen", F.lit(g).cast("long")
        ).write.mode("append").parquet(os.path.join(self.root, "removed"))
        return g

    def compact(self) -> None:
        """Purge tombstoned rows from the cell layout and clear the
        tombstone table — after this, ``search`` answers identically to
        a fresh ``add``-equivalent index over the live vectors and the
        liveness join disappears from the plan.  New files are appended
        before the superseded originals are removed (same crash posture
        as ``NearDupIndex.compact``: a crash leaves duplicates, which
        the top-k window dedupes by rank determinism, or redundant
        tombstones; re-running converges)."""
        import glob
        import os
        import shutil

        cells_dir = os.path.join(self.root, "cells")
        removed_dir = os.path.join(self.root, "removed")
        if not os.path.isdir(removed_dir):
            return  # nothing tombstoned: the layout is already live-only
        old = glob.glob(os.path.join(cells_dir, "cell=*", "*.parquet"))
        rgen = self.removed().groupBy("neighbour_id").agg(
            F.max("gen").alias("rgen")
        )
        (
            self.cells()
            .join(F.broadcast(rgen), "neighbour_id", "left")
            .filter(F.col("gen") > F.coalesce(F.col("rgen"), F.lit(-1)))
            .drop("rgen")
            .repartition(self.n_cells, F.col("cell"))
            .write.mode("append")
            .partitionBy("cell")
            .parquet(cells_dir)
        )
        for p in old:
            os.remove(p)
        shutil.rmtree(removed_dir, ignore_errors=True)

    def search(
        self,
        queries: DataFrame,
        vec_col: str = "embedding",
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k neighbours per query over the persisted cells.

        The probed-cell set of the whole query batch is pushed as a
        partition filter BEFORE the corpus scan — unprobed cell
        directories are never opened.  Tombstoned vectors (``remove``)
        are liveness-filtered out; the join vanishes when no tombstones
        exist."""
        import os

        from pyspark.sql import Window

        probe = _probe_cells_udf(self.spark, self.centroids, nprobe)
        q = (
            queries.select(
                F.col(self.id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("qv"),
            )
            .filter(F.col("qv").isNotNull())
            .withColumn("cell", F.explode(probe(F.col("qv"))))
        )
        # bounded driver-side set: ≤ n_cells ints — the partition filter
        probed = sorted(
            r["cell"] for r in q.select("cell").distinct().collect()
        )
        c = self.cells().filter(F.col("cell").isin(probed))
        if os.path.isdir(os.path.join(self.root, "removed")):
            rgen = self.removed().groupBy("neighbour_id").agg(
                F.max("gen").alias("rgen")
            )
            c = (
                c.join(F.broadcast(rgen), "neighbour_id", "left")
                .filter(F.col("gen") > F.coalesce(F.col("rgen"), F.lit(-1)))
                .drop("rgen")
            )
        scored = (
            c.join(F.broadcast(q), "cell")
            .filter(F.col("query_id") != F.col("neighbour_id"))
            .select(
                "query_id",
                "neighbour_id",
                F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine_sim"), F.asc("neighbour_id")
        )
        return scored.withColumn(
            "rank", F.row_number().over(w).cast("long")
        ).filter(F.col("rank") <= k)
