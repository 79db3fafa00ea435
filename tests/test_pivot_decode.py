"""Unit tests for the wide-column structural operators and decoders."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from datafusion_bigtable_spark.operators.decode import decode_int64_be, encode_int64_be
from datafusion_bigtable_spark.operators.pivot import (
    compose_row_key,
    latest_cells,
    pivot_cells,
    split_row_key,
)
from datafusion_bigtable_spark.sources.cells import CELLS_SCHEMA


def _cells(spark, rows):
    return spark.createDataFrame(rows, CELLS_SCHEMA)


T0 = dt.datetime(2021, 1, 1, 0, 0, 0)
T1 = dt.datetime(2021, 1, 1, 0, 0, 1)


def test_decode_int64_be_roundtrip(spark):
    # Full signed range incl. negatives and boundaries — the reference's
    # BigEndian::read_i64 equivalent (src/execute_plan.rs:287-293), kept
    # JVM-side: encode via hex/lpad/unhex, decode via conv + two's complement.
    values = [0, 1, -1, 94558, -94558, 2**63 - 1, -(2**63), 42, -(2**31) - 7]
    df = spark.createDataFrame([(v,) for v in values], "v long")
    out = (
        df.withColumn("enc", encode_int64_be(F.col("v")))
        .withColumn("dec", decode_int64_be(F.col("enc")))
        .select("v", "dec", F.length("enc").alias("n"))
        .collect()
    )
    for r in out:
        assert r.n == 8
        assert r.dec == r.v


def test_decode_int64_be_bad_length_is_null(spark):
    df = spark.createDataFrame([(b"",), (b"\x01\x02",), (None,)], "v binary")
    out = df.select(decode_int64_be(F.col("v")).alias("d")).collect()
    assert [r.d for r in out] == [None, None, None]


def test_latest_cells_per_column(spark):
    # Two versions of `p` for key k; latest filter keeps ts=T1 only —
    # CellsPerColumnLimitFilter(1) semantics (composer.rs:257-261).
    df = _cells(
        spark,
        [
            ("k", "f", "p", T0, b"old"),
            ("k", "f", "p", T1, b"new"),
            ("k", "f", "t", T0, b"t0"),
        ],
    )
    out = {(r.qualifier, r.ts): bytes(r.value) for r in latest_cells(df).collect()}
    assert out == {("p", T1): b"new", ("t", T0): b"t0"}


def test_pivot_one_row_per_key_ts(spark):
    # Versioned cells → one output row per (row_key, ts) with NULL holes
    # (src/execute_plan.rs:223-271; NULL not empty-bytes, SURVEY §1.3).
    df = _cells(
        spark,
        [
            ("k", "f", "p", T0, b"p0"),
            ("k", "f", "p", T1, b"p1"),
            ("k", "f", "t", T0, b"t0"),
        ],
    )
    out = pivot_cells(df, ["p", "t"]).orderBy("_timestamp").collect()
    assert [(r._timestamp, r.p, r.t) for r in out] == [
        (T0, b"p0", b"t0"),
        (T1, b"p1", None),
    ]


def test_pivot_prunes_undeclared_qualifiers(spark):
    df = _cells(spark, [("k", "f", "p", T0, b"x"), ("k", "f", "zz", T0, b"y")])
    out = pivot_cells(df, ["p"]).collect()
    assert len(out) == 1
    assert out[0].asDict() == {"row_key": "k", "_timestamp": T0, "p": b"x"}


def test_split_and_compose_row_key(spark):
    df = spark.createDataFrame([("a#b#c",)], "row_key string")
    out = split_row_key(df, ["x", "y", "z"]).collect()[0]
    assert (out.x, out.y, out.z) == ("a", "b", "c")

    df2 = spark.createDataFrame([("a", "b", 3)], "x string, y string, z long")
    key = df2.select(compose_row_key(["x", "y", "z"]).alias("k")).collect()[0].k
    assert key == "a#b#3"


def test_split_preserves_trailing_empty(spark):
    df = spark.createDataFrame([("a##",)], "row_key string")
    out = split_row_key(df, ["x", "y", "z"]).collect()[0]
    assert (out.x, out.y, out.z) == ("a", "", "")


def test_pivot_regex_metachar_qualifiers(spark):
    # A9 quirk NOT replicated: the reference's ColumnQualifierRegexFilter
    # joins names with '|' so a qualifier like 'a.b' over-matches 'axb'.
    # Our declared-list pruning must match exactly.
    df = _cells(
        spark,
        [
            ("k", "f", "a.b", T0, b"dot"),
            ("k", "f", "axb", T0, b"x"),
            ("k", "f", "a|b", T0, b"pipe"),
        ],
    )
    out = pivot_cells(df, ["a.b", "a|b"]).collect()
    assert len(out) == 1
    row = out[0].asDict()
    assert row["a.b"] == bytearray(b"dot") or row["a.b"] == b"dot"
    assert row["a|b"] == bytearray(b"pipe") or row["a|b"] == b"pipe"
    assert "axb" not in row


def test_pandas_pivot_multichar_separator_parity():
    # ADVICE r1: pandas str.split treats multi-char patterns as regex by
    # default, so a separator like '||' (regex: two empty alternations)
    # exploded every key char-by-char — inconsistent with split_row_key,
    # which re.escape()s.  Both paths must split literally.
    import pyarrow as pa

    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.sources.datasource import _pivot_partition

    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("temperature", "string"),),
        table_partition_cols=("region", "balloon_id"),
        table_partition_separator="||",
    )
    cells = pa.table(
        {
            "row_key": ["us-west2||3698", "us-east1||0042"],
            "qualifier": ["temperature", "temperature"],
            "ts": pa.array(
                [dt.datetime(2021, 3, 5, 12, 0, 5), dt.datetime(2021, 3, 5, 12, 0, 6)],
                pa.timestamp("us"),
            ),
            "value": pa.array([b"9.6", b"7.1"], pa.binary()),
        }
    )
    (batch,) = list(_pivot_partition(cells, cfg))
    got = batch.to_pandas().sort_values("region").reset_index(drop=True)
    assert list(got["region"]) == ["us-east1", "us-west2"]
    assert list(got["balloon_id"]) == ["0042", "3698"]


def test_schema_tail_key_components_nullable():
    # ADVICE r1: tail key components ARE emitted as NULL for short keys, so
    # declaring them non-nullable could let Catalyst mis-prune IsNotNull.
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec

    cfg = BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("pressure", "int64"),),
        table_partition_cols=("a", "b", "c"),
    )
    fields = {f.name: f.nullable for f in cfg.schema().fields}
    assert fields["a"] is False
    assert fields["b"] is True and fields["c"] is True
    assert fields["_timestamp"] is False


# -- the Data Source's Arrow pivot (sources/datasource.py::_pivot_partition)


def _ds_cfg(latest=True, pcols=("a", "b", "c"), sep="#", key_types=None):
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec

    return BigtableTableConfig(
        table="t",
        column_family="f",
        columns=(ColumnSpec("p", "int64"), ColumnSpec("s", "string"), ColumnSpec("raw", "binary")),
        table_partition_cols=pcols,
        table_partition_separator=sep,
        only_read_latest=latest,
        key_types=key_types,
    )


def _ds_pivot(cells, cfg):
    """(row_key, qualifier, ts, value) tuples → the pivot's rows as dicts."""
    import pyarrow as pa

    from datafusion_bigtable_spark.sources.datasource import _pivot_partition

    table = pa.table(
        {
            "row_key": pa.array([c[0] for c in cells], pa.string()),
            "qualifier": pa.array([c[1] for c in cells], pa.string()),
            "ts": pa.array([c[2] for c in cells], pa.timestamp("us")),
            "value": pa.array([c[3] for c in cells], pa.binary()),
        }
    )
    (batch,) = list(_pivot_partition(table, cfg))
    return batch


_P5 = (5).to_bytes(8, "big", signed=True)
_P7 = (7).to_bytes(8, "big", signed=True)
_PNEG = (-(2**40) - 7).to_bytes(8, "big", signed=True)


@pytest.mark.parametrize(
    "case,cfg,cells,want",
    [
        (
            "null newest cell does not bring back the older value",
            _ds_cfg(),
            [("x#y#z", "p", T0, _P5), ("x#y#z", "p", T1, None)],
            [{"a": "x", "b": "y", "c": "z", "_timestamp": T1, "p": None, "s": None, "raw": None}],
        ),
        (
            "duplicate (row_key, ts, qualifier) keeps the last write (latest)",
            _ds_cfg(),
            [("x#y#z", "p", T0, _P5), ("x#y#z", "p", T0, _P7)],
            [{"a": "x", "b": "y", "c": "z", "_timestamp": T0, "p": 7, "s": None, "raw": None}],
        ),
        (
            "duplicate (row_key, ts, qualifier) keeps the last write (unnest)",
            _ds_cfg(latest=False),
            [("x#y#z", "p", T0, _P7), ("x#y#z", "p", T1, _P5), ("x#y#z", "p", T0, _P5)],
            [
                {"a": "x", "b": "y", "c": "z", "_timestamp": T0, "p": 5, "s": None, "raw": None},
                {"a": "x", "b": "y", "c": "z", "_timestamp": T1, "p": 5, "s": None, "raw": None},
            ],
        ),
        (
            "7- and 9-byte ints decode to NULL, 8-byte negatives decode",
            _ds_cfg(latest=False),
            [("k1#b#c", "p", T0, b"\x00" * 7), ("k2#b#c", "p", T0, b"\x00" * 9), ("k3#b#c", "p", T0, _PNEG)],
            [
                {"a": "k1", "b": "b", "c": "c", "_timestamp": T0, "p": None, "s": None, "raw": None},
                {"a": "k2", "b": "b", "c": "c", "_timestamp": T0, "p": None, "s": None, "raw": None},
                {"a": "k3", "b": "b", "c": "c", "_timestamp": T0, "p": -(2**40) - 7, "s": None, "raw": None},
            ],
        ),
        (
            "invalid UTF-8 decodes to U+FFFD, binary passes through",
            _ds_cfg(),
            [("x#y#z", "s", T0, b"\xffok"), ("x#y#z", "raw", T0, b"\xff\x00")],
            [{"a": "x", "b": "y", "c": "z", "_timestamp": T0, "p": None, "s": "\ufffdok", "raw": b"\xff\x00"}],
        ),
        (
            "short key gets NULL tail components; a## keeps trailing empties",
            _ds_cfg(),
            [("a", "s", T0, b"1"), ("a##", "s", T0, b"2"), ("a#b#c#d", "s", T0, b"3")],
            [
                {"a": "a", "b": None, "c": None, "_timestamp": T0, "p": None, "s": "1", "raw": None},
                {"a": "a", "b": "", "c": "", "_timestamp": T0, "p": None, "s": "2", "raw": None},
                {"a": "a", "b": "b", "c": "c", "_timestamp": T0, "p": None, "s": "3", "raw": None},
            ],
        ),
        (
            "'||' separator splits literally; int64 key components decode",
            _ds_cfg(pcols=("a", "n"), sep="||", key_types=("string", "int64")),
            [
                ("r||09223372036854775803", "s", T0, b"v"),
                ("r||09223372036854775813", "s", T0, b"w"),
                ("r||junk", "s", T0, b"j"),
            ],
            [
                {"a": "r", "n": -5, "_timestamp": T0, "p": None, "s": "v", "raw": None},
                {"a": "r", "n": 5, "_timestamp": T0, "p": None, "s": "w", "raw": None},
                {"a": "r", "n": None, "_timestamp": T0, "p": None, "s": "j", "raw": None},
            ],
        ),
        (
            "qualifiers at different latest timestamps fan out into rows",
            _ds_cfg(),
            [("x#y#z", "p", T0, _P5), ("x#y#z", "s", T1, b"t"), ("x#y#z", "s", T0, b"old")],
            [
                {"a": "x", "b": "y", "c": "z", "_timestamp": T0, "p": 5, "s": None, "raw": None},
                {"a": "x", "b": "y", "c": "z", "_timestamp": T1, "p": None, "s": "t", "raw": None},
            ],
        ),
    ],
    ids=lambda v: v if isinstance(v, str) else "",
)
def test_ds_pivot_decode_table(case, cfg, cells, want):
    assert _ds_pivot(cells, cfg).to_pylist() == want, case


def test_ds_pivot_empty_input_keeps_schema():
    import pyarrow as pa

    cfg = _ds_cfg(key_types=("string", "int64", "string"))
    batch = _ds_pivot([], cfg)
    assert batch.num_rows == 0
    assert batch.schema == pa.schema(
        [
            ("a", pa.string()),
            ("b", pa.int64()),
            ("c", pa.string()),
            ("_timestamp", pa.timestamp("us")),
            ("p", pa.int64()),
            ("s", pa.string()),
            ("raw", pa.binary()),
        ]
    )
