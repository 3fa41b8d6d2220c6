"""Inputs come from the seed alone: the same seed gives the same inputs,
another seed gives others."""

from __future__ import annotations

import hashlib

from perfbench import datagen, etl_daily, query_mix, warehouse_api

IDS = [f"{i}-1-{i % 7}-{i % 3}" for i in range(500)]
ACCOUNTS = list(range(150))


def test_now_sequence():
    a = etl_daily.now_sequence(7)
    assert a == etl_daily.now_sequence(7)
    assert a != etl_daily.now_sequence(8)
    assert all((b - a_).days == 1 for a_, b in zip(a, a[1:]))
    assert a[0].month in etl_daily.START_MONTHS and a[0].day in etl_daily.START_DAYS
    assert a[-1].month == a[0].month


def test_query_order():
    a = query_mix.order(7)
    assert a == query_mix.order(7)
    assert a != query_mix.order(8)
    assert sorted(a) == sorted(query_mix.QUERY_SET)
    assert query_mix.order(7, 1) == query_mix.order(7, 1) != a


def test_api_op_sequence():
    a = warehouse_api.op_sequence(7, 3, IDS, ACCOUNTS)
    assert a == warehouse_api.op_sequence(7, 3, IDS, ACCOUNTS)
    assert a != warehouse_api.op_sequence(8, 3, IDS, ACCOUNTS)
    per_round = len(warehouse_api.READS) + len(warehouse_api.WRITES)
    assert len(a) == 3 * per_round
    assert sorted(k for k, _ in a[:per_round]) == sorted(warehouse_api.READS + warehouse_api.WRITES)


def test_api_deletes_never_touch_updated_rows():
    ops = warehouse_api.op_sequence(7, 20, IDS, ACCOUNTS)
    deleted = {a["transaction_id"] for k, a in ops if k == "delete_transaction"}
    changed = {a["transaction_id"] for k, a in ops
               if k in ("update_transaction", "set_transaction_tags")}
    assert deleted and changed and not deleted & changed


def _digest(d) -> str:
    h = hashlib.sha256()
    for f in sorted(d.iterdir()):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def test_datagen(tmp_path):
    counts = datagen.generate(str(tmp_path / "a"), 7)
    datagen.generate(str(tmp_path / "b"), 7)
    datagen.generate(str(tmp_path / "c"), 8)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert set(counts) == set(datagen_tables())
    assert counts["orders"] == 1500 and counts["lineitem"] > 5900


def datagen_tables():
    from dieter___etl___monarchmoney_spark.sources.parquet import TABLES

    return TABLES
