"""HyperLogLog sketch (operators/sketches.py) unit tests: register/rho
bit-math vs a Python mirror, the merge = element-wise-max property,
estimate accuracy within HLL's theoretical error, re-shard determinism,
and a plan guard (one m-row groupBy, no window)."""

import hashlib

from pyspark.sql import functions as F

from tribeca_insights_spark.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _keys(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], ["key"])


def _py_reg_rho(key, p=6):
    hx = hashlib.md5(str(key).encode()).hexdigest()
    hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
    reg = hi >> (32 - p)
    rem = (hi % (1 << (32 - p))) << 32 | lo
    width = 64 - p
    bits = rem.bit_length()
    return reg, width - bits + 1


class TestHllRegisters:
    def test_matches_python_mirror(self, spark):
        keys = [f"tok{i}" for i in range(200)]
        got = {r.register: r.max_rho
               for r in hll_registers(_keys(spark, keys), "key").collect()}
        want = {}
        for k in keys:
            reg, rho = _py_reg_rho(k)
            want[reg] = max(want.get(reg, 0), rho)
        assert got == want

    def test_duplicates_dont_change_sketch(self, spark):
        a = hll_registers(_keys(spark, ["x", "y", "z"]), "key")
        b = hll_registers(_keys(spark, ["x", "y", "z"] * 50), "key")
        assert sorted(map(tuple, a.collect())) == \
            sorted(map(tuple, b.collect()))

    def test_merge_is_union(self, spark):
        ka = [f"a{i}" for i in range(300)]
        kb = [f"b{i}" for i in range(300)]
        merged = hll_merge(
            hll_registers(_keys(spark, ka), "key"),
            hll_registers(_keys(spark, kb), "key"),
        )
        whole = hll_registers(_keys(spark, ka + kb), "key")
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, whole.collect()))

    def test_reshard_deterministic(self, spark):
        df = _keys(spark, [f"k{i}" for i in range(500)])
        a = sorted(map(tuple, hll_registers(df, "key").collect()))
        b = sorted(map(tuple,
                       hll_registers(df.repartition(7), "key").collect()))
        assert a == b

    def test_bad_p(self, spark):
        import pytest

        with pytest.raises(ValueError):
            hll_registers(_keys(spark, ["a"]), "key", p=2)

    def test_plan_no_window(self, spark):
        plan = hll_registers(_keys(spark, ["a"]), "key")._jdf \
            .queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestHllEstimate:
    def test_accuracy_within_hll_error(self, spark):
        # p=6 -> relative error ~1.04/sqrt(64) = 13%; allow 3 sigma
        n = 5000
        df = _keys(spark, [f"key-{i}" for i in range(n)])
        row = hll_estimate(hll_registers(df, "key", p=6), p=6).head()
        est = row.estimate_micros / 1e6
        assert abs(est - n) / n < 0.39
        assert row.m == 64
        assert 0 < row.n_registers_hit <= 64

    def test_harmonic_halves_nonneg(self, spark):
        df = _keys(spark, [f"v{i}" for i in range(50)])
        row = hll_estimate(hll_registers(df, "key", p=6), p=6).head()
        assert row.harmonic_hi >= 0 and row.harmonic_lo >= 0
        # at least one half carries signal
        assert row.harmonic_hi + row.harmonic_lo > 0


class TestCountMin:
    def _toks(self, spark, words):
        return spark.createDataFrame([(w,) for w in words], ["key"])

    def test_never_underestimates_and_tight_when_sparse(self, spark):
        from collections import Counter

        from tribeca_insights_spark.operators.sketches import (
            cms_build,
            cms_point_estimates,
        )

        words = ["a"] * 10 + ["b"] * 3 + ["c"] * 1
        toks = self._toks(spark, words)
        cms = cms_build(toks, "key", depth=4, width=64)
        est = {r.key: r.est_count for r in cms_point_estimates(
            cms, toks.distinct(), depth=4, width=64).collect()}
        exact = Counter(words)
        for k, n in exact.items():
            assert est[k] >= n          # CMS invariant
        # 3 keys in a 4x64 sketch: collisions essentially impossible
        assert est == dict(exact)

    def test_absent_key_estimates_small(self, spark):
        from tribeca_insights_spark.operators.sketches import (
            cms_build,
            cms_point_estimates,
        )

        cms = cms_build(self._toks(spark, ["x"] * 5), "key")
        est = {r.key: r.est_count for r in cms_point_estimates(
            cms, self._toks(spark, ["never-seen"])).collect()}
        assert est["never-seen"] == 0

    def test_merge_by_cellwise_sum(self, spark):
        from pyspark.sql import functions as F

        from tribeca_insights_spark.operators.sketches import cms_build

        a = cms_build(self._toks(spark, ["a", "b", "a"]), "key")
        b = cms_build(self._toks(spark, ["a", "c"]), "key")
        merged = a.unionByName(b).groupBy("row", "col").agg(
            F.sum("cnt").alias("cnt"))
        whole = cms_build(self._toks(spark, ["a", "b", "a", "a", "c"]),
                          "key")
        assert sorted(map(tuple, merged.collect())) == \
            sorted(map(tuple, whole.collect()))

    def test_bad_params(self, spark):
        import pytest

        from tribeca_insights_spark.operators.sketches import cms_build

        with pytest.raises(ValueError):
            cms_build(self._toks(spark, ["a"]), "key", depth=0)
