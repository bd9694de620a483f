#!/usr/bin/env python3
"""Scale-up generator: synthesize a larger scale factor from the driver's
read-only sf0.1 tables by key-remapped replication, for scale-proof bench
runs (the driver only ships sf <= 0.1).

Design goals, so sf1 numbers measure the ENGINE and not a generator
artifact:

- **Foreign keys stay consistent.** Each replica r shifts every key
  column by ``r * stride(table)`` where the stride is the same power of
  ten on both sides of every FK edge (lineitem.l_orderkey moves exactly
  as orders.o_orderkey does, etc.). Every query that joins at sf0.1
  joins identically at sf1, with 10x the rows on both sides.
- **Dup structure scales linearly, not quadratically.** Replica text is
  passed through a per-replica character substitution cipher
  (``F.translate`` over a rotated alphabet). A char-bijection maps word
  shingles AND char n-grams injectively, so within-replica exact-dup /
  near-dup relationships (and their Jaccard values) are preserved
  EXACTLY, while cross-replica texts share no shingles at all. Without
  this, every doc would have K-1 exact twins and LSH candidate pairs
  would grow O(K^2) — an artifact, not a workload.
- **Embedding replicas are rotated, not perturbed.** Each replica
  applies the same dimension rotation to every vector — the vector-space
  analog of the text cipher: cosine between two vectors is invariant
  under a shared permutation, so within-replica geometry (clusters,
  near-dup pairs, top-k neighborhoods) is preserved EXACTLY, while
  cross-replica similarity decorrelates toward 0. A tiny sin-keyed
  perturbation on top guards the degenerate dims<k case. Without the
  rotation every vector has k-1 cosine≈0.999 twins, all replicas of a
  bucket land in the SAME LSH bucket, and candidate pairs grow O(k²) —
  a generator artifact (measured: 109x wall-clock at k=10 pre-fix).
- **Time range is NOT stretched**: dates/timestamps keep their sf0.1
  distribution, so date-predicate selectivity is the same fraction and
  events gain 10x users with unchanged session shapes.

region/nation are fixed-size dimensions in TPC-H and are copied as-is.

Usage:
    python tools/make_sf.py --target 1 [--out .tmp/sf1]
then:
    SPARK_GRAFT_SF_DIR=.tmp/sf1 python bench.py
"""

from __future__ import annotations

import argparse
import math
import os
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SRC_SF = 0.1
LOWER = string.ascii_lowercase
UPPER = string.ascii_uppercase

# key column -> FK group; every column in a group shares one stride so
# joins keep lining up across replicas
KEY_GROUPS = {
    "o_orderkey": "order", "l_orderkey": "order",
    "c_custkey": "cust", "o_custkey": "cust",
    "s_suppkey": "supp", "l_suppkey": "supp",
    "p_partkey": "part", "l_partkey": "part",
    "event_id": "event", "user_id": "user",
    "doc_id": "doc", "vec_id": "vec",
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FIXED_DIMS = {"region", "nation"}
# fact-sized tables get one output file per core (scan parallelism);
# dims stay single-file like the driver's own layout
BIG_TABLES = {"customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"}
# hash-cluster each table by its dominant group/join key on write — the
# standard lakehouse layout (TPC-H ships lineitem clustered by orderkey).
# Round-robin splitting measured 2-5x WORSE on key-grouped aggregates:
# when per-task row count ~ group cardinality, every task emits its own
# partial row per group and the partial-aggregate output multiplies by
# the task count (see docs/SCALING.md layout experiment).
CLUSTER_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey",
                "customer": "c_custkey", "supplier": "s_suppkey",
                "part": "p_partkey", "events": "user_id",
                "documents": "doc_id", "embeddings": "vec_id"}


def _stride(max_val: int) -> int:
    return 10 ** math.ceil(math.log10(max_val + 2))


# multipliers coprime with 26: the decimation axis of the affine cipher
_COPRIME26 = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _cipher_expr(col: str, rep) -> F.Column:
    """Per-replica AFFINE substitution cipher, a char-bijection: length,
    word boundaries, and all within-replica Jaccard relationships
    survive exactly.

    Letter i maps to ``m·(i + s) mod 26`` with shift ``s = rep % 26``
    and decimation ``m = coprime[(rep // 26) % 12]`` — 26 × 12 = 312
    distinct permutations. The previous single rotation axis wraps at
    26 replicas: at sf20 (k=200) replicas r and r+26 produced IDENTICAL
    texts, so every base doc had ~8 exact twins per rotation class and
    the true near-dup pair set (and every candidate scheme's work) grew
    O(k²) — a generator artifact, not a workload (measured: 30×
    ngram-jaccard wall at 4× data). Two distinct affine permutations
    agree on at most one letter, so cross-class texts share essentially
    no letter n-grams. For rep < 26 the decimation is the identity
    (m=1), so every k ≤ 26 corpus (sf1 and below) is byte-identical to
    the old scheme. Replicas share a cipher class only when
    rep₁ ≡ rep₂ (mod 312) — keep k ≤ 312."""
    rot = F.col(col)
    for r in range(1, 26):
        rot = F.when(
            rep % 26 == r,
            F.translate(F.col(col), LOWER + UPPER,
                        LOWER[r:] + LOWER[:r] + UPPER[r:] + UPPER[:r])
        ).otherwise(rot)
    out = rot
    for j, m in enumerate(_COPRIME26):
        if m == 1:
            continue  # identity decimation: `rot` already is the result
        dec_l = "".join(LOWER[(m * i) % 26] for i in range(26))
        dec_u = "".join(UPPER[(m * i) % 26] for i in range(26))
        out = F.when(F.floor(rep / 26) % 12 == j,
                     F.translate(rot, LOWER + UPPER, dec_l + dec_u)
                     ).otherwise(out)
    return out


def scale_table(df: DataFrame, name: str, k: int, strides: dict) -> DataFrame:
    if name in FIXED_DIMS or k == 1:
        return df
    rep = F.col("_rep")
    out = df.crossJoin(
        F.broadcast(
            df.sparkSession.range(k).select(F.col("id").alias("_rep"))))
    for c in df.columns:
        grp = KEY_GROUPS.get(c)
        if grp is not None:
            out = out.withColumn(c, F.col(c) + rep * F.lit(strides[grp]))
    if name == "documents":
        out = out.withColumn("text", _cipher_expr("text", rep))
        # length is invariant under the cipher, but recompute for honesty
        out = out.withColumn("n_chars", F.length("text").cast("long"))
    if name == "embeddings":
        dim = len(df.select("embedding").first()[0])
        step = max(1, dim // k)
        shift = (rep * step) % dim
        emb = F.col("embedding")
        rotated = F.when(shift == 0, emb).otherwise(
            F.concat(F.slice(emb, shift + 1, F.lit(dim) - shift),
                     F.slice(emb, F.lit(1), shift)))
        # the rotation wraps at `dim` replicas: at k > dim, replicas r
        # and r+dim share a shift and differ only by the ±0.002
        # perturbation (cosine ≈ 0.9999 — artifact twins, quadratic in
        # k/dim). Compose a per-wrap-class ±1 diagonal (an orthogonal
        # transform: within-replica inner products are preserved
        # EXACTLY; cross-class cosine decorrelates since ~half the dims
        # flip). Class 0 (every k ≤ dim corpus) keeps the identity, so
        # existing sf1/sf5 embeddings are unchanged.
        wrap = F.floor(rep / dim)
        out = out.withColumn(
            "embedding",
            F.transform(
                rotated,
                lambda x, i: (
                    x * F.when(wrap == 0, F.lit(1.0)).otherwise(
                        F.signum(F.sin(i * 13.37 + wrap * 96.71)))
                    + F.lit(0.002) * F.sin(
                        F.col("vec_id") * 7 + i * 13 + rep * 31)
                ).cast("float")))
    return out.drop("_rep")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", type=float, default=1.0)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--tables", default=None,
                    help="comma-separated subset to (re)generate in place")
    args = ap.parse_args()

    k = round(args.target / SRC_SF)
    assert k >= 1, "target must be >= source sf"
    out_dir = args.out or os.path.join(REPO, ".tmp", f"sf{args.target:g}")
    os.makedirs(out_dir, exist_ok=True)

    from feldman_spark.session import get_spark
    spark = get_spark(app_name="make-sf", master=f"local[{args.cpus}]",
                      shuffle_partitions=int(args.cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # one stride per FK group, from the source table that owns the key
    strides = {}
    owners = {"order": ("orders", "o_orderkey"), "cust": ("customer", "c_custkey"),
              "supp": ("supplier", "s_suppkey"), "part": ("part", "p_partkey"),
              "event": ("events", "event_id"), "user": ("events", "user_id"),
              "doc": ("documents", "doc_id"), "vec": ("embeddings", "vec_id")}
    for grp, (tbl, col) in owners.items():
        mx = (spark.read.parquet(f"{args.src}/{tbl}.parquet")
              .agg(F.max(col)).first()[0])
        strides[grp] = _stride(int(mx))
    print(f"strides: {strides}", file=sys.stderr)

    wanted = (args.tables.split(",") if args.tables else TABLES)
    for name in wanted:
        assert name in TABLES, name
        t0 = time.time()
        src = spark.read.parquet(f"{args.src}/{name}.parquet")
        scaled = scale_table(src, name, k, strides)
        dest = f"{out_dir}/{name}.parquet"
        # write one file per core: a 100 TB table has thousands of
        # splits, so a 2-file layout (what the crossJoin replication
        # produces) would serialize every scan stage onto 2 tasks and
        # misreport the engine's scaling — parquet row groups are the
        # parallelism floor, and these files are ~1 row group each
        if name in BIG_TABLES:
            scaled = scaled.repartition(int(args.cpus),
                                        F.col(CLUSTER_KEYS[name]))
        else:
            scaled = scaled.repartition(1)
        scaled.write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        print(f"{name}: {n:,} rows in {time.time() - t0:.1f}s -> {dest}",
              file=sys.stderr)
    print(out_dir)


if __name__ == "__main__":
    main()
