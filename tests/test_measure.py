"""``tools/measure.py``'s protocol, pinned with fake frames and a fake
clock: no Spark session is started."""

import pytest

from tools import measure


class FakeSpark:
    def __init__(self, log):
        self.catalog = self
        self._log = log

    def clearCache(self):
        self._log.append("clear")


class FakeFrame:
    """What ``measure`` touches of a DataFrame: the noop write, which
    advances the clock by ``secs``, the session's cache and the checksum
    aggregate."""

    def __init__(self, clock, secs, sums, spark):
        self.write, self.sparkSession = self, spark
        self._clock, self._secs, self._sums = clock, secs, sums

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self._clock[0] += self._secs

    dtypes = [("id", "bigint"), ("x`y", "double")]

    def selectExpr(self, *exprs):
        assert exprs == ("bit_xor(xxhash64(`id`, CAST(`x``y` AS FLOAT)))",
                         "count(1)")
        return self

    def first(self):
        return self._sums


@pytest.fixture
def env(monkeypatch):
    clock, log = [0.0], []
    monkeypatch.setattr(measure, "perf_counter", lambda: clock[0])
    spark = FakeSpark(log)

    def query(name, secs, sums=(7, 3)):
        """A fake query whose n-th call takes ``secs[n]`` seconds."""
        calls = iter(secs)

        def fn():
            log.append(name)
            return FakeFrame(clock, next(calls), sums, spark)
        return fn
    return query, log


def test_run_excludes_the_warmup(env):
    query, log = env
    r = measure.run(query("q", [10.0, 3.0, 1.0, 2.0]), 3)
    assert r["first"] == 10.0
    assert r["samples"] == [3.0, 1.0, 2.0]
    assert (r["median"], r["min"]) == (2.0, 1.0)
    # the timed reps reuse the warm-up's persists; one clear, at the end
    assert log == ["q"] * 4 + ["clear"]


def test_ab_swaps_the_first_arm_each_round(env):
    query, log = env
    r = measure.ab({"A": query("A", [5.0] * 5), "B": query("B", [6.0] * 5)},
                   4)
    calls = [e for e in log if e != "clear"]
    assert calls == ["A", "B",  # warm-ups
                     "A", "B", "B", "A", "A", "B", "B", "A"]
    assert r["A"]["first"] == 5.0 and r["A"]["samples"] == [5.0] * 4
    assert r["B"]["median"] == 6.0 and r["B"]["checksum"] == (7, 3)


def test_ab_clears_the_cache_before_every_timed_call(env):
    query, log = env
    measure.ab({"A": query("A", [1.0] * 4), "B": query("B", [1.0] * 4)}, 3)
    calls = [i for i, e in enumerate(log) if e != "clear"]
    assert len(calls) == 2 + 2 * 3
    for i in calls[2:]:
        assert log[i - 1] == "clear"
    assert log[-1] == "clear"


def test_ab_checksum_mismatch_names_the_arm(env):
    query, log = env
    arms = {"base": query("base", [1.0] * 4, sums=(7, 3)),
            "variant": query("variant", [1.0] * 4, sums=(8, 3))}
    with pytest.raises(measure.ChecksumMismatch, match="'variant'"):
        measure.ab(arms, 3)
    # found at the warm-ups, before any timed call
    assert [e for e in log if e != "clear"] == ["base", "variant"]
