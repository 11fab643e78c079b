"""Property-based differentials for the round-7 operators: random
inputs, exact equivalence against an independent reference
(full recompute / pure-Python implementation).

Spark-backed hypothesis tests keep example counts small — each
example runs real Spark jobs; the value is the adversarial SHAPE
search (duplicated extremes, empty groups, one-char words), not raw
example volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from library_data_warehouse_and_business_analytics_system_spark.operators.bpe import (
    bpe_train, word_freqs,
)
from library_data_warehouse_and_business_analytics_system_spark.operators.incremental_agg import (
    build_minmax_aggregate, refresh_minmax_aggregate,
)
from library_data_warehouse_and_business_analytics_system_spark.sources.txlog import (
    tx_merge_parts, tx_read, tx_write_parts,
)
from tests.test_bpe import _ref_train

import pytest

# Opt-in slow lane (r14): randomized property sweeps (minmax/scan/holt/bpe) across many seeds.
pytestmark = pytest.mark.slow


_SETTINGS = dict(max_examples=8, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


# --- MIN/MAX refresh ≡ recompute under random merge sequences ------------

_rows = st.lists(
    st.tuples(st.integers(0, 11),                 # key
              st.sampled_from([2019, 2020]),      # partition
              st.integers(0, 3),                  # group
              st.integers(-5, 5)),                # value (dup-heavy domain)
    min_size=1, max_size=8,
    unique_by=lambda r: r[0])


@given(seed=_rows, merges=st.lists(_rows, min_size=1, max_size=3))
@settings(**_SETTINGS)
def test_minmax_refresh_equals_recompute_random(spark, tmp_path_factory,
                                                seed, merges):
    tmp = tmp_path_factory.mktemp("mmprop")
    t, agg = str(tmp / "fact"), str(tmp / "agg")

    def df(rows):
        return spark.createDataFrame(
            rows, "k long, part int, grp long, v long")

    tx_write_parts(df(seed), t, "part", mode="overwrite")
    v = build_minmax_aggregate(spark, t, agg, ["grp"], ["v"])
    for m in merges:
        tx_merge_parts(spark, t, df(m), keys=["k"], part_col="part")
        v, _ = refresh_minmax_aggregate(spark, t, agg, ["grp"], ["v"], v)
        got = {(r.grp, r.min_v, r.max_v, r.n_rows)
               for r in tx_read(spark, agg).collect()}
        want = {(r.grp, r.m, r.x, r.n) for r in
                tx_read(spark, t).groupBy("grp")
                .agg(F.min("v").alias("m"), F.max("v").alias("x"),
                     F.count(F.lit(1)).alias("n")).collect()}
        assert got == want


# --- distributed BPE ≡ pure-Python reference on random corpora ----------

_word = st.text(alphabet="abc", min_size=1, max_size=5)


@given(words=st.lists(_word, min_size=1, max_size=12),
       n_merges=st.integers(1, 6))
@settings(**_SETTINGS)
def test_bpe_matches_reference_random(spark, tmp_path_factory, words,
                                      n_merges):
    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    wf = word_freqs(docs).localCheckpoint(eager=True)
    word_freq = {r["word"]: r["freq"] for r in wf.collect()}
    want_merges, want_vocab = _ref_train(word_freq, n_merges)
    got_merges, vocab_df = bpe_train(wf, n_merges)
    assert got_merges == want_merges
    assert {r["symbol"]: r["freq"]
            for r in vocab_df.collect()} == want_vocab


# --- scan family ≡ sequential fold under random series -------------------

from library_data_warehouse_and_business_analytics_system_spark.operators.timeseries import (  # noqa: E402
    cumsum_scan, ewma_scan, holt_scan,
)

_series = st.lists(
    st.tuples(st.integers(0, 3),                       # key
              st.integers(0, 40),                      # t
              st.floats(-1e3, 1e3, allow_nan=False,
                        allow_infinity=False)),
    min_size=1, max_size=30,
    unique_by=lambda r: (r[0], r[1]))


def _seq_scans(rows, alpha):
    ew, cs, state_e, state_c = {}, {}, {}, {}
    for k, t, x in sorted(rows):
        if k not in state_e:
            state_e[k] = x
        else:
            state_e[k] = (1 - alpha) * state_e[k] + alpha * x
        s, mn, mx = state_c.get(k, (0.0, float("inf"), float("-inf")))
        s += x
        state_c[k] = (s, min(mn, s), max(mx, s))
        ew[(k, t)] = state_e[k]
        cs[(k, t)] = state_c[k]
    return ew, cs


@given(rows=_series,
       parts=st.sampled_from([1, 3, 17]),
       alpha=st.sampled_from([0.25, 0.5, 1.0]),
       mode=st.sampled_from(["ranged", "grouped"]))
@settings(**_SETTINGS)
def test_scan_family_matches_sequential(spark, rows, parts, alpha, mode):
    rows = [(f"k{k}", t, x) for k, t, x in rows]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    ew_ref, cs_ref = _seq_scans(rows, alpha)

    for r in ewma_scan(df, "k", "t", "x", alpha=alpha,
                       n_partitions=parts, mode=mode).collect():
        e = ew_ref[(r["k"], r["t"])]
        assert abs(r["ewma"] - e) <= 1e-9 * max(1.0, abs(e))

    for r in cumsum_scan(df, "k", "t", "x", n_partitions=parts,
                         mode=mode).collect():
        es, emn, emx = cs_ref[(r["k"], r["t"])]
        assert abs(r["run_sum"] - es) <= 1e-9 * max(1.0, abs(es))
        assert abs(r["run_min"] - emn) <= 1e-9 * max(1.0, abs(emn))
        assert abs(r["run_max"] - emx) <= 1e-9 * max(1.0, abs(emx))


@given(rows=_series, parts=st.sampled_from([1, 5, 23]),
       mode=st.sampled_from(["ranged", "grouped"]))
@settings(**_SETTINGS)
def test_holt_matches_sequential_property(spark, rows, parts, mode):
    rows = [(f"k{k}", t, x) for k, t, x in rows]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    # driver-side sequential Holt (alpha=gamma=0.5, l1=x1, b1=0)
    state, ref = {}, {}
    for k, t, x in sorted(rows):
        if k not in state:
            state[k] = (x, 0.0)
        else:
            lev, trd = state[k]
            l_new = 0.5 * (lev + trd) + 0.5 * x
            state[k] = (l_new, 0.5 * (l_new - lev) + 0.5 * trd)
        ref[(k, t)] = state[k]
    for r in holt_scan(df, "k", "t", "x", n_partitions=parts,
                       mode=mode).collect():
        el, eb = ref[(r["k"], r["t"])]
        assert abs(r["level"] - el) <= 1e-9 * max(1.0, abs(el))
        assert abs(r["trend"] - eb) <= 1e-9 * max(1.0, abs(eb))
