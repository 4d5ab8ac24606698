"""Pin: the driver-side Python EM (``fs_em_params_py`` /
``fs_posterior_ppm_py``, r13) is BIT-identical to the Spark
expression form it replaced on the q207/q208 hot path.

The expression form lives here as the reference implementation: this
test evaluates it through a real Spark plan (DECIMAL(38,0) products,
integer ``div``) on crafted censuses that exercise every agreement
pattern, degenerate censuses whose answer is NULL, and the actual
sf0.001 corpus census, and requires equality of every trained
parameter and every per-pattern posterior. Any drift in the Python
twin (overflow, floor-vs-truncate, term ordering, an exception where
SQL gives NULL) fails here before it can reach an oracle run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from polla_spark.functions import linkage as LK
from polla_spark.functions.linkage import EM_INIT, PPM

_N = len(LK.FS_FIELDS)
_DEC = "CAST({} AS DECIMAL(38,0))"
CENSUS_COLS = [*LK.fs_census_flag_cols(), "c"]

# (g1..g4, c) censuses: all 16 patterns uniform; skewed counts with a
# dominant all-agree pattern; a sparse 3-pattern census; a census with
# huge counts (exercises the DECIMAL(38,0) headroom argument); every
# count 0 (every divisor 0: all-NULL params); an all-agree pattern of
# count 0 (round 1 trains m = u = 0, so round 2's posterior of that
# pattern divides 0 by 0 and the pattern drops out of the sums).
CENSUSES = [
    [(g1, g2, g3, g4, 7) for g1 in (0, 1) for g2 in (0, 1)
     for g3 in (0, 1) for g4 in (0, 1)],
    [(1, 1, 1, 1, 900), (0, 0, 0, 0, 90_000), (1, 0, 1, 0, 3),
     (0, 1, 0, 1, 41)],
    [(0, 0, 0, 0, 1), (1, 1, 1, 1, 1), (1, 0, 0, 1, 1)],
    [(1, 1, 1, 1, 10**12), (0, 0, 0, 0, 10**13), (0, 1, 1, 0, 10**9)],
    [(g1, g2, g3, g4, 0) for g1 in (0, 1) for g2 in (0, 1)
     for g3 in (0, 1) for g4 in (0, 1)],
    [(0, 0, 0, 0, 5), (1, 1, 1, 1, 0)],
]


def _pm_pu_exprs() -> tuple[str, str]:
    """The E-step's two product terms as Spark SQL strings over a
    frame carrying g1..g4 and p/m_k/u_k ppm columns."""
    def term(g: str, m: str) -> str:
        return f"(CASE WHEN {g} = 1 THEN {m} ELSE {PPM} - {m} END)"

    pm = _DEC.format("p")
    pu = _DEC.format(f"{PPM} - p")
    for k in range(1, _N + 1):
        pm += f" * {term(f'g{k}', f'm{k}')}"
        pu += f" * {term(f'g{k}', f'u{k}')}"
    return pm, pu


def fs_posterior_expr() -> str:
    """Spark SQL expr: the pattern's ppm match posterior
    w = p·Πm · 10^6 div (p·Πm + (1−p)·Πu) — the E-step weight AND
    q208's classification score (same algebra, trained params)."""
    pm, pu = _pm_pu_exprs()
    return f"CAST(({pm}) * {PPM} div (({pm}) + ({pu})) AS LONG)"


def fs_em_round(census: DataFrame, params: DataFrame) -> DataFrame:
    """One Winkler EM round in exact ppm integers.

    ``census``: (g1..g4, c) agreement-pattern counts (≤2^4 rows);
    ``params``: 1-row (p, m1..m4, u1..u4) ppm frame. Returns the next
    round's 1-row params frame.
    """
    j = census.crossJoin(F.broadcast(params))
    w = j.withColumn("w", F.expr(fs_posterior_expr()))
    agg = [
        F.expr(f"CAST(sum({_DEC.format('w')} * c) AS DECIMAL(38,0))").alias("sw"),
        F.expr(
            f"CAST(sum({_DEC.format(f'{PPM} - w')} * c) AS DECIMAL(38,0))"
        ).alias("snw"),
        F.sum("c").alias("n"),
    ]
    for k in range(1, _N + 1):
        agg.append(F.expr(
            f"CAST(sum({_DEC.format('w')} * c * g{k}) AS DECIMAL(38,0))"
        ).alias(f"swg{k}"))
        agg.append(F.expr(
            f"CAST(sum({_DEC.format(f'{PPM} - w')} * c * g{k}) AS DECIMAL(38,0))"
        ).alias(f"snwg{k}"))
    stats = w.agg(*agg)
    return stats.select(
        F.expr("CAST(sw div n AS LONG)").alias("p"),
        *[
            F.expr(f"CAST(swg{k} * {PPM} div sw AS LONG)").alias(f"m{k}")
            for k in range(1, _N + 1)
        ],
        *[
            F.expr(f"CAST(snwg{k} * {PPM} div snw AS LONG)").alias(f"u{k}")
            for k in range(1, _N + 1)
        ],
    )


def fs_init_params(spark) -> DataFrame:
    """The 1-row ppm prior frame (``EM_INIT``)."""
    cols = "p long, " + ", ".join(
        f"m{k} long" for k in range(1, _N + 1)
    ) + ", " + ", ".join(f"u{k} long" for k in range(1, _N + 1))
    return spark.createDataFrame(
        [(EM_INIT["p"], *([EM_INIT["m"]] * _N), *([EM_INIT["u"]] * _N))],
        cols,
    )


def _rows(census) -> list[Row]:
    return [Row(**dict(zip(CENSUS_COLS, r))) for r in census]


def _spark_reference(spark, rows, rounds):
    """Params and per-pattern posteriors of the expression form. It runs
    without ANSI arithmetic, so a zero divisor gives NULL (as DuckDB's
    ``//`` does) instead of an error."""
    census = spark.createDataFrame(
        rows, "g1 long, g2 long, g3 long, g4 long, c long"
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        frames = [fs_init_params(spark)]
        for _ in range(rounds):
            frames.append(fs_em_round(census, frames[-1]))
        params = [f.collect()[0].asDict() for f in frames]
        post = (
            census.crossJoin(F.broadcast(frames[-1]))
            .select("g1", "g2", "g3", "g4",
                    F.expr(fs_posterior_expr()).alias("w_ppm"))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    return params, {
        (r["g1"], r["g2"], r["g3"], r["g4"]): r["w_ppm"] for r in post
    }


def _assert_matches(ref_params, ref_post, py_params, census):
    assert len(py_params) == len(ref_params)
    for ref, py in zip(ref_params, py_params):
        for col in LK.fs_param_cols():
            assert py[col] == ref[col], (col, ref, py)
    r2 = py_params[-1]
    for row in census:
        gs = tuple(row[:4])
        assert LK.fs_posterior_ppm_py(gs, r2) == ref_post[gs], gs


@pytest.mark.parametrize("census", CENSUSES, ids=range(len(CENSUSES)))
def test_python_em_matches_spark_expression_form(spark, census):
    ref_params, ref_post = _spark_reference(spark, census, rounds=2)
    py_params = LK.fs_em_params_py(_rows(census), rounds=2)
    _assert_matches(ref_params, ref_post, py_params, census)


def test_python_em_reads_census_columns_by_name(spark):
    """A census collected as (c, g1..g4) trains the same params as the
    (g1..g4, c) census the reference reads."""
    census = CENSUSES[1]
    moved = spark.createDataFrame(
        [(r[4], *r[:4]) for r in census], "c long, g1 long, g2 long, g3 long, g4 long"
    ).collect()
    ref_params, ref_post = _spark_reference(spark, census, rounds=2)
    _assert_matches(ref_params, ref_post, LK.fs_em_params_py(moved, rounds=2), census)


def test_python_em_matches_on_corpus_census(spark):
    """Same pin over the real sf0.001 SNM census (the exact input the
    FS query family feeds the kernel)."""
    from tests.conftest import SF_SMOKE
    from polla_spark.plans.llmdata import _fs_census, _fs_neighbors

    collected = _fs_census(_fs_neighbors(spark, SF_SMOKE)).select(*CENSUS_COLS).collect()
    rows = [tuple(r) for r in collected]
    ref_params, ref_post = _spark_reference(spark, rows, rounds=2)
    _assert_matches(ref_params, ref_post, LK.fs_em_params_py(collected, rounds=2), rows)
