"""``tpch_pricing_summary`` stays exact when a group's cent sums pass the
long range: each row's charge product still fits a long, but the per-group
sum does not, so a long ``sum`` overflows (an error under ANSI mode, a
silent wrap without it)."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from tools import check_contract


def test_pricing_summary_sums_past_long_range(spark, tmp_path):
    n = 16  # 16 × ~9.4e17 charge units per row > 2^63
    ship = dt.datetime(1995, 3, 1)
    rows = {
        "l_quantity": [50.0] * n + [7.0],
        "l_extendedprice": [912345678901.23 + i for i in range(n)] + [1234.56],
        "l_discount": [0.05] * n + [0.1],
        "l_tax": [0.08] * n + [0.02],
        "l_returnflag": ["A"] * n + ["N"],
        "l_linestatus": ["F"] * n + ["O"],
        "l_shipdate": [ship] * (n + 1),
    }
    table = pa.table(
        {**rows, "l_shipdate": pa.array(rows["l_shipdate"], pa.timestamp("us"))}
    )
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))

    sdf = entrymod.q_tpch_pricing_summary(spark, str(tmp_path))
    srows = [r.asDict() for r in sdf.collect()]
    con = check_contract.oracle_connection(str(tmp_path), ["lineitem"])
    ddf = con.sql(entrymod.oracle_sql()["tpch_pricing_summary"]).df()
    con.close()
    assert len(srows) == 2
    assert check_contract.mismatch(srows, sdf.columns, ddf) is None
