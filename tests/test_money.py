"""Pins for the one money-sum rule, ``queries.MONEY_SUM``: Spark builders
call ``money_sum(<sql expr>)`` and each DuckDB twin embeds the same template
text, so a money total is summed exactly in integer micro-units and rounded
half-up to cents on both engines. A double sum rounded by hand splits the
engines whenever the exact sum lands on a half cent."""

from __future__ import annotations

import inspect
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pytest

from perfbench import fixtures
from soict20221_bigdata_financialplatform_spark import queries
from soict20221_bigdata_financialplatform_spark.queries import (
    MONEY_SUM,
    ORACLE,
    QUERIES,
    money_sum,
)

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import parity_check  # noqa: E402

_CALL = re.compile(r"money_sum\(")
_LITERAL_CALL = re.compile(r'money_sum\(\s*"([^"]+)"\s*\)')
_TEMPLATE = re.compile(
    re.escape(MONEY_SUM).replace(re.escape("{}"), "(.+?)"), re.S
)


@pytest.mark.parametrize("seed", [55, 115, 189])
def test_q09_matches_oracle_on_half_cent_seeds(spark, tmp_path, seed):
    """On these fixture seeds an order's exact revenue lands on a half cent,
    where Spark and DuckDB used to round the double sum to different
    cents."""
    d = str(tmp_path)
    fixtures.write_tpch(fixtures.tpch_tables(seed, 0.002), d)
    name = "q09_shipping_priority"
    sdf = QUERIES[name](spark, d)
    got = parity_check._norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    parity_check._register_views(con, d)
    rel = con.sql(ORACLE[name])
    want = parity_check._norm_rows(rel.columns, rel.fetchall())
    assert got == want


def test_money_sum_rounds_half_cents_like_decimal_half_up(spark):
    rows = [
        ("half", 10.05, 0.5),  # 5.025
        ("neg", -10.05, 0.5),  # -5.025
        ("multi", 0.335, 0.0),  # 0.335 + 0.33 = 0.665
        ("multi", 0.33, 0.0),
        ("big", 1234567890.125, 0.0),
        ("charge", 104999.99, 0.07),  # 97649.9907
    ]
    expr = "p * (1 - d)"
    spark_out = {
        r.g: r.m
        for r in spark.createDataFrame(rows, "g string, p double, d double")
        .groupBy("g")
        .agg(money_sum(expr).alias("m"))
        .collect()
    }
    t = pd.DataFrame(rows, columns=["g", "p", "d"])  # noqa: F841 (DuckDB scan)
    duck_out = dict(
        duckdb.sql(f"SELECT g, {MONEY_SUM.format(expr)} AS m FROM t GROUP BY g")
        .fetchall()
    )
    exact: dict[str, Decimal] = {}
    for g, p, d in rows:
        exact[g] = exact.get(g, Decimal(0)) + Decimal(repr(p)) * (1 - Decimal(repr(d)))
    want = {
        g: float(v.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        for g, v in exact.items()
    }
    assert want == {"half": 5.03, "neg": -5.03, "multi": 0.67,
                    "big": 1234567890.13, "charge": 97649.99}
    assert spark_out == want
    assert duck_out == want


def _builder_source(fn) -> str:
    """The builder's source plus that of the module-level helpers it calls
    (``_cust_cents`` and the like), one level deep."""
    src = inspect.getsource(fn)
    helpers = [
        getattr(queries, h)
        for h in sorted(set(re.findall(r"\b(_[a-z]\w*)\(", src)))
        if inspect.isfunction(getattr(queries, h, None))
        and getattr(queries, h).__module__ == queries.__name__
    ]
    return src + "".join(inspect.getsource(h) for h in helpers)


def test_every_money_sum_builder_has_the_same_template_in_its_oracle():
    users = 0
    for name, fn in QUERIES.items():
        src = _builder_source(fn)
        exprs = _LITERAL_CALL.findall(src)
        assert len(exprs) == len(_CALL.findall(src)), (
            f"{name}: money_sum takes a string literal, so its twin can be checked"
        )
        oracle_exprs = _TEMPLATE.findall(ORACLE.get(name, ""))
        if not exprs and not oracle_exprs:
            continue
        users += 1
        assert name in ORACLE, f"{name} calls money_sum but has no twin"
        for e in exprs:
            assert MONEY_SUM.format(e) in ORACLE[name], (name, e)
        assert set(oracle_exprs) <= set(exprs), (name, oracle_exprs, exprs)
    assert users >= 20
