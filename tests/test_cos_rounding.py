"""Rounding pin of the NumPy exact-cosine twins (queries_text.round4, used
by exact_cos_pairs and queries_ml._group_cosine_pairs) on inputs that sit
on and around 4-decimal midpoints and the cosine gates (0.3 / 0.35).

The oracle is DuckDB's ROUND(raw, 4), which rounds the product raw*1e4;
Spark's F.round rounds the shortest decimal repr of raw instead, so the
two can disagree within a few ulps of a midpoint. Fixture data happens to
hold no such value — these synthetic inputs do, so a data refresh cannot
flip gate membership or a cos value unnoticed."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spardaqus_spark.queries_text import (
    COS_P_CTE,
    COS_PAIRS_SQL,
    COS_V_CTE,
    exact_cos_pairs,
    round4,
)


def _near_midpoints(lo: float, hi: float) -> np.ndarray:
    """For every midpoint (k + 0.5)/1e4 in [lo, hi): its nearest double and
    the three doubles on either side of it."""
    out = []
    for k in range(round(lo * 1e4), round(hi * 1e4)):
        x = (2 * k + 1) / 2e4  # correctly rounded: the nearest double
        for _ in range(3):
            x = np.nextafter(x, 0.0)
        for _ in range(7):
            out.append(x)
            x = np.nextafter(x, 1.0)
    return np.array(out)


def _repr_is_midpoint(x: np.ndarray) -> np.ndarray:
    """True where the shortest repr of x ends in a 5 at the 5th decimal."""
    def one(v):
        t = Decimal(repr(float(v))).as_tuple()
        return t.exponent == -5 and t.digits[-1] == 5

    return np.array([one(v) for v in x], dtype=bool)


def _within_ulps_of_midpoint(x: np.ndarray, ulps: int = 4) -> np.ndarray:
    v = x * 1e4
    return np.abs(v - np.floor(v) - 0.5) <= ulps * np.spacing(v)


def _duck_round4(x: np.ndarray) -> np.ndarray:
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    return con.sql("SELECT ROUND(x, 4) AS r FROM t ORDER BY i").df()["r"].to_numpy()


def _spark_round4(spark, x: np.ndarray) -> np.ndarray:
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x}))
    got = df.select("i", F.round("x", 4).alias("r")).toPandas()
    return got.sort_values("i")["r"].to_numpy()


def test_round4_is_the_oracle_round_at_midpoints(spark):
    x = np.concatenate([_near_midpoints(0.0, 1.0), _near_midpoints(0.29, 0.36)])
    ours = round4(x)
    assert (ours == _duck_round4(x)).all()  # hence every gate agrees too

    # F.round: differs only within a few ulps of a midpoint, by one unit
    # of the 4th decimal, in both directions
    spark_r = _spark_round4(spark, x)
    diff = ours != spark_r
    up = diff & (spark_r > ours)
    assert up.any() and (diff & ~up).any(), "vacuous: midpoints not stressed"
    assert (up <= _repr_is_midpoint(x)).all()
    assert not (diff & ~_within_ulps_of_midpoint(x)).any()
    assert np.allclose(np.abs(spark_r[diff] - ours[diff]), 1e-4)


def test_exact_cos_pairs_gate_matches_oracle_near_tau(spark, tmp_path):
    """Synthetic embeddings whose cosine with vec 0 lands within a few ulps
    of the midpoints around both gates: v0 = e0, v_i = m_i e0 +
    sqrt(1 - m_i^2) e_i. Probe pairs (v_i, v_j) have cos m_i m_j ~ 0.1, far
    below any gate, and every dot product holds one nonzero term per
    summand, so both engines compute bit-identical raws and only the
    rounding/gating is under test."""
    m = np.concatenate([_near_midpoints(0.2998, 0.3002), _near_midpoints(0.3498, 0.3502)])
    dim = len(m) + 1
    vecs = [np.eye(1, dim, 0)[0]]
    for i, mi in enumerate(m, start=1):
        v = np.zeros(dim)
        v[0], v[i] = mi, np.sqrt(1.0 - mi * mi)
        vecs.append(v)
    sf = tmp_path / "sf_midpoints"
    sf.mkdir()
    pd.DataFrame(
        {"vec_id": np.arange(len(vecs), dtype=np.int64), "embedding": [v.tolist() for v in vecs]}
    ).to_parquet(sf / "embeddings.parquet", index=False)

    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')")

    def duck(gate):
        rows = con.sql(COS_PAIRS_SQL.replace("@GATE", gate)).fetchall()
        return sorted((int(a), int(b), float(c)) for a, b, c in rows)

    def ours(tau, gate_rounded):
        rows = exact_cos_pairs(spark, str(sf), tau, gate_rounded).collect()
        return sorted((r.v1, r.v2, r.cos) for r in rows)

    for tau in (0.3, 0.35):
        want = duck(f"ROUND(raw, 4) >= {tau}")
        assert want and len(want) < len(m), "gate must split the probes"
        assert ours(tau, True) == want
        assert ours(tau, False) == duck(f"raw >= {tau}")

    # the same raws through Spark's F.round: any gate or cos difference is
    # confined to raws within a few ulps of a midpoint
    raws = con.sql(
        f"WITH {COS_V_CTE},\n{COS_P_CTE}\nSELECT v2, raw FROM p WHERE v1 = 0 ORDER BY v2"
    ).df()["raw"].to_numpy()
    assert _within_ulps_of_midpoint(raws, 1).any(), "vacuous: no raw on a midpoint"
    spark_r = _spark_round4(spark, raws)
    assert not ((round4(raws) != spark_r) & ~_within_ulps_of_midpoint(raws)).any()
