"""The one timing loop behind ``bench.py`` and the ``tools/`` A/B scripts.

A query is a zero-argument callable returning a DataFrame; one call is
timed from the call to the end of a write to the ``noop`` sink, which
materializes every row of every column without the projection pruning
``count()`` allows. ``perfbench/`` keeps its own loop: it is the
benchmark that judges changes to this one.
"""

from __future__ import annotations

import statistics
from time import perf_counter


class ChecksumMismatch(RuntimeError):
    """Two A/B arms returned different row sets."""


def session(app_name: str, sf_dir: str, cpus):
    """A ``local[cpus]`` session warmed so the first timed query pays no
    one-time session cost: JVM codegen paths and parquet footers (a
    lineitem count) and the Python/Arrow worker pool (a mapInPandas)."""
    from feldman_spark.session import get_spark

    n = int(cpus)
    spark = get_spark(app_name=app_name, master=f"local[{n}]",
                      shuffle_partitions=n,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long").count()
    return spark


def _timed(fn):
    t0 = perf_counter()
    df = fn()
    df.write.format("noop").mode("overwrite").save()
    return df, perf_counter() - t0


def _stats(first: float, samples: list) -> dict:
    return {"first": first, "samples": samples,
            "median": statistics.median(samples) if samples else None,
            "min": min(samples, default=None)}


def run(fn, reps: int) -> dict:
    """Time ``fn``: one untimed warm-up call, then ``reps`` timed calls.

    The warm-up carries the query's one-time costs (Janino compile,
    persist materialization, first touch of its tables); it is reported
    as ``first``, and ``median`` and ``min`` are over the timed
    ``samples`` only, which reuse what the warm-up persisted. The cache
    is cleared after the query (not when a call raises), so its persists
    cannot slow later queries through memory pressure (measured: 0.8 s
    to 18 s on ``text_fingerprint`` purely by session position). ``df``
    is the last frame materialized.
    """
    df, first = _timed(fn)
    samples = []
    for _ in range(reps):
        df, dt = _timed(fn)
        samples.append(dt)
    df.sparkSession.catalog.clearCache()
    return dict(_stats(first, samples), df=df)


def _checksum(df) -> tuple:
    """``(bit_xor(xxhash64(row)), count)`` over ``df``'s rows, with float
    columns hashed at single precision: arms that sum in another order
    (another partitioning) differ in the last bits of a double, which
    the queries' own rounding does not absorb at large magnitudes."""
    from feldman_spark.formats.columns import quote_ident

    cols = [f"CAST({quote_ident(c)} AS FLOAT)" if t in ("double", "float")
            else quote_ident(c) for c, t in df.dtypes]
    return tuple(df.selectExpr(f"bit_xor(xxhash64({', '.join(cols)}))",
                               "count(1)").first())


def ab(arms: dict, reps: int) -> dict:
    """Time the arms (name -> query) of one query against each other.

    Each arm's untimed warm-up must return the first arm's row set by
    ``_checksum``, or :class:`ChecksumMismatch` names the arm. Then
    ``reps`` rounds time every arm once, reversing the order each round
    so a host burst hits the arms alike. The cache is cleared after every
    call, so no timed call reads another call's persists. Returns
    name -> ``run``'s statistics plus ``checksum``.
    """
    names = list(arms)
    firsts, sums, samples = {}, {}, {name: [] for name in names}
    for name in names:
        df, firsts[name] = _timed(arms[name])
        sums[name] = _checksum(df)
        df.sparkSession.catalog.clearCache()
        if sums[name] != sums[names[0]]:
            raise ChecksumMismatch(
                f"arm {name!r} returned (xor, rows) {sums[name]}, but arm "
                f"{names[0]!r} returned {sums[names[0]]}")
    for r in range(reps):
        for name in names if r % 2 == 0 else names[::-1]:
            df, dt = _timed(arms[name])
            df.sparkSession.catalog.clearCache()
            samples[name].append(dt)
    return {name: dict(_stats(firsts[name], samples[name]),
                       checksum=sums[name]) for name in names}
