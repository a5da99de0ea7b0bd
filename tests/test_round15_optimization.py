"""Round-15 optimization invariants.

The r15 round changed HOW internals produce bytes, never WHAT any query
computes. These tests pin the equivalences the optimizations rely on:

- the manifest builder's local form (``_local_manifest``, the
  committer-side pyarrow fold) must equal its Spark form
  (``_spark_manifest``) over the same staged files for every aggregate
  kind and staging layout — or fall back, logging why, before reading
  any table — and the manifest ``_stage_version`` writes must read back
  as the Spark form (with the shard manifest's ``part=`` layout).
- the fused single-scan matview deltas must equal the per-slice
  ``_mv_agg`` frames they replaced.
- the argmin-as-aggregate (min over struct(d, cell)) must equal the
  row_number-window form, ties and all.
- q_duplicate_payments_fuzzy's candidate join must be duplicate-free
  without the DISTINCT (each pair matches exactly one probe offset).
"""

from __future__ import annotations

import logging
import math
import os

import pytest
from pyspark.sql import functions as F

from dock_financial_data_pipelines_spark.catalog import (
    load,
    read_parquet_or_empty,
)

pytestmark = pytest.mark.usefixtures("spark")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_sample(spark, tmp_path, rows):
    """Stage `rows` (doc_id, tokens, dg, shard) as version 1 under a
    fresh root and return (root, data_dir, man_dir)."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _stage_version,
    )

    root = str(tmp_path / "root")
    os.makedirs(root, exist_ok=True)
    df = spark.createDataFrame(
        rows, "doc_id long, tokens long, dg string, shard long"
    )
    _stage_version(spark, df, root, 1)
    return (
        root,
        os.path.join(root, "data", "v=1"),
        os.path.join(root, "manifest", "v=1"),
    )


def test_local_manifest_zero_rows_writes_no_partitions(spark, tmp_path):
    _root, _data_dir, man_dir = _stage_sample(spark, tmp_path, [])
    assert [n for n in os.listdir(man_dir) if n.startswith("part=")] == []


_LOG = "dock_fdp_spark.tableformat"

_FLAT_ROWS = [
    (1, 10, "a", 0),
    (2, 20, "b", 0),
    (3, None, "c", 1),  # null tokens: skipped by sum, distinct and digest
    (4, 7, "d", 5),     # part = 5 % 4 = 1
    (None, 9, "e", 2),  # null doc_id: skipped by min/max and digest
    (6, 0, "f", 2),
    (7, 7, "g", -3),    # negative shards: part = -3 (Java remainder)
    (8, None, "h", -3),
    (9, 3, "i", -4),
]

_PE_ROWS = [
    (1, 10, "1998-01-01", "1998-01-01"),
    (2, 11, "1998-01-01", "1998-01-01"),
    (3, 12, "1998-01-02", "1998-01-02"),
    (4, 13, None, "1998-01-02"),  # null day: skipped by
    (5, 14, "1998-02-03", "1998-02"),  # distinct/min/max
]

# every aggregate kind, per schema (the partition-evolution rows carry
# no doc_id/tokens, so the digest kind is covered by the shard layouts)
_REL_KINDS = (
    ("n", "count", None),
    ("s", "sum", "tokens"),
    ("lo", "min", "doc_id"),
    ("hi", "max", "doc_id"),
    ("nd", "count_distinct", "tokens"),
    ("dg", "digest", None),
)
_PE_KINDS = (
    ("n", "count", None),
    ("s", "sum", "event_id"),
    ("lo", "min", "day"),
    ("hi", "max", "day"),
    ("nd", "count_distinct", "day"),
)

# layout -> the fallback reason the local form must log (None: it must
# not fall back)
_LAYOUTS = {
    "flat": None,
    "flat_empty": None,
    "hive_shard": None,
    "hive_p": None,
    "hive_p_null": "default-partition directory",
    "hive_p_escaped": "escaped partition directory",
    "flat_null_shard": "null partition",
    "over_byte_cap": "byte cap",
    "over_row_cap": "row cap",
}
# reasons known from the file listing and footers alone
_READ_FREE = {
    "byte cap",
    "row cap",
    "default-partition directory",
    "escaped partition directory",
}


def _stage_layout(spark, sf_dir, root, layout, pl):
    """Stage ``layout`` as version 1 through ``_stage_version``; return
    (schema, part_col, production aggregate list, every-kind list,
    hive)."""
    if layout.startswith("hive_p"):
        rows = list(_PE_ROWS)
        if layout == "hive_p_null":
            rows.append((6, 15, "1998-03-01", None))
        if layout == "hive_p_escaped":
            rows.append((7, 16, "1998-03-02", "1998:03"))
        pl._stage_version(
            spark, spark.createDataFrame(rows, pl._PE_DDL), root, 1,
            layout="hive", schema=pl._PE_DDL, part_col="p",
            manifest=pl._PE_STATS,
        )
        return pl._PE_DDL, "p", pl._PE_STATS, _PE_KINDS, True
    if layout == "hive_shard":
        docs = load(spark, sf_dir, "documents")
        packed = pl._pack_where(
            docs, "doc_id % 2 = 0", pl._COMPACT_SMALL_BUDGET
        )
        pl._stage_version(
            spark, packed, root, 1, layout="hive", manifest=pl._RANGE_STATS
        )
        return pl._REL_SCHEMA_DDL, "shard", pl._RANGE_STATS, _REL_KINDS, True
    rows = [] if layout == "flat_empty" else list(_FLAT_ROWS)
    if layout == "flat_null_shard":
        rows.append((10, 1, "j", None))
    # file_rows=2: small-file debris, many files per shard
    pl._stage_version(
        spark, spark.createDataFrame(rows, pl._REL_SCHEMA_DDL), root, 1,
        file_rows=2,
    )
    return pl._REL_SCHEMA_DDL, "shard", pl._SHARD_STATS, _REL_KINDS, False


def _keyed(rows, part_col):
    return {
        r[part_col]: tuple(v for k, v in r.items() if k != part_col)
        for r in rows
    }


def _no_table_reads(monkeypatch):
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    def no_read(*_a, **_kw):
        raise AssertionError("table read before the fallback")

    monkeypatch.setattr(ds, "dataset", no_read)
    monkeypatch.setattr(pq, "ParquetDataset", no_read)
    monkeypatch.setattr(pq, "read_table", no_read)


@pytest.mark.parametrize("layout", sorted(_LAYOUTS))
def test_manifest_local_form_matches_spark_form(
    spark, sf_dir, tmp_path, monkeypatch, caplog, layout
):
    """The one differential test of the manifest builder: for every
    aggregate kind the local form equals the Spark form over the
    read-back, or falls back (logging the reason) without reading any
    table; and the manifest _stage_version wrote reads back as the
    Spark form of its aggregate list."""
    from dock_financial_data_pipelines_spark.plans import pipeline as pl

    caplog.set_level(logging.INFO, logger=_LOG)
    if layout == "over_byte_cap":
        monkeypatch.setattr(pl, "_LOCAL_MANIFEST_MAX_BYTES", 1)
    if layout == "over_row_cap":
        monkeypatch.setattr(pl, "_LOCAL_MANIFEST_MAX_ROWS", 2)
    root = str(tmp_path / "root")
    schema, part_col, stats, kinds, hive = _stage_layout(
        spark, sf_dir, root, layout, pl
    )
    data_dir = os.path.join(root, "data", "v=1")
    man_dir = os.path.join(root, "manifest", "v=1")
    staged = read_parquet_or_empty(spark, data_dir, schema)
    want = _keyed(
        [r.asDict() for r in pl._spark_manifest(staged, part_col, kinds)
         .collect()],
        part_col,
    )
    reason = _LAYOUTS[layout]
    staging_logs = [r.getMessage() for r in caplog.records if r.name == _LOG]
    caplog.clear()
    with monkeypatch.context() as m:
        if reason in _READ_FREE:
            _no_table_reads(m)
        got = pl._local_manifest(data_dir, schema, part_col, kinds, hive)
    logs = [r.getMessage() for r in caplog.records if r.name == _LOG]
    if reason is None:
        assert logs == [] and staging_logs == []
        assert _keyed(got, part_col) == want
    else:
        assert got is None
        assert len(logs) == 1 and reason in logs[0]
        # staging fell back the same way and wrote the Spark form
        assert len(staging_logs) == 1 and reason in staging_logs[0]

    # the manifest _stage_version wrote reads back as the Spark form
    man = read_parquet_or_empty(
        spark, man_dir, pl._manifest_ddl(schema, part_col, stats)
    )
    assert _keyed([r.asDict() for r in man.drop("part").collect()],
                  part_col) == _keyed(
        [r.asDict() for r in pl._spark_manifest(staged, part_col, stats)
         .collect()],
        part_col,
    )
    if stats is pl._SHARD_STATS and want and None not in want:
        # the shard manifest's part = shard % 4 (Java remainder) dirs
        assert sorted(
            n for n in os.listdir(man_dir) if n.startswith("part=")
        ) == sorted({f"part={int(math.fmod(s, 4))}" for s in want})

    if layout == "flat_empty":
        assert want == {} and got == []
    if layout == "hive_p_null":
        # p=__HIVE_DEFAULT_PARTITION__ reads back as NULL in Spark
        assert os.path.isdir(
            os.path.join(data_dir, "p=__HIVE_DEFAULT_PARTITION__")
        )
        assert None in want
    if layout == "hive_p_escaped":
        assert "1998:03" in want
    if layout == "hive_shard":
        _assert_bounds_sound_for_pruning(staged.toPandas(), got)


def _assert_bounds_sound_for_pruning(pdf, man_rows):
    """Manifest pruning: the skipped shards provably contain no
    matches, and the bounds are exact (packing clusters by doc_id)."""
    from dock_financial_data_pipelines_spark.plans.pipeline import (
        _PRUNE_HI,
        _PRUNE_LO,
    )

    if pdf.empty:
        pytest.skip("empty fixture")
    pruned_out = {
        r["shard"]
        for r in man_rows
        if r["hi"] < _PRUNE_LO or r["lo"] > _PRUNE_HI
    }
    hits = pdf[(pdf["doc_id"] >= _PRUNE_LO) & (pdf["doc_id"] <= _PRUNE_HI)]
    assert len(hits) and set(hits["shard"]).isdisjoint(pruned_out)
    for r in man_rows:
        if r["shard"] not in pruned_out:
            assert r["hi"] >= _PRUNE_LO and r["lo"] <= _PRUNE_HI


def test_local_manifest_row_cap_falls_back(
    tmp_path, spark, monkeypatch, caplog
):
    """The builder checks the row cap from the parquet footers and
    falls back BEFORE reading any table, for flat and hive layouts,
    emitting one record that names the reason."""
    from dock_financial_data_pipelines_spark.plans import pipeline as pl

    flat_root, pe_root = str(tmp_path / "flat"), str(tmp_path / "pe")
    _stage_layout(spark, None, flat_root, "flat", pl)
    _stage_layout(spark, None, pe_root, "hive_p", pl)

    caplog.set_level(logging.INFO, logger=_LOG)
    caplog.clear()
    monkeypatch.setattr(pl, "_LOCAL_MANIFEST_MAX_ROWS", 2)
    _no_table_reads(monkeypatch)
    assert pl._local_manifest(
        os.path.join(flat_root, "data", "v=1"), pl._REL_SCHEMA_DDL,
        "shard", pl._SHARD_STATS, False,
    ) is None
    assert pl._local_manifest(
        os.path.join(pe_root, "data", "v=1"), pl._PE_DDL, "p",
        pl._PE_STATS, True,
    ) is None
    records = [r for r in caplog.records if r.name == _LOG]
    assert len(records) == 2
    assert all("row cap" in r.getMessage() for r in records)


def test_matview_fused_deltas_match_mv_agg(spark, sf_dir):
    from dock_financial_data_pipelines_spark.plans.pipeline import _mv_agg

    orders = load(spark, sf_dir, "orders")
    ym = F.date_format("o_orderdate", "yyyy-MM").alias("ym")

    def signed(df, sgn):
        return df.select(
            "o_orderpriority", ym, F.lit(sgn).alias("sgn"), "o_totalprice"
        )

    base = orders.where("o_orderkey % 4 < 2")
    b1 = orders.where("o_orderkey % 4 = 2")
    b2i = orders.where("o_orderkey % 4 = 3")
    b2d = base.where("o_orderkey % 8 = 0")

    dec = F.col("o_totalprice").cast("decimal(27,2)")
    in_base = F.expr("o_orderkey % 4 < 2")
    in_b1 = F.expr("o_orderkey % 4 = 2")
    in_b2i = F.expr("o_orderkey % 4 = 3")
    in_b2d = F.expr("o_orderkey % 8 = 0")
    wide = orders.groupBy("o_orderpriority", ym).agg(
        F.count(F.when(in_base, 1)).cast("long").alias("c0"),
        F.sum(F.when(in_base, dec)).cast("decimal(27,2)").alias("r0"),
        F.count(F.when(in_b1, 1)).cast("long").alias("c1"),
        F.sum(F.when(in_b1, dec)).cast("decimal(27,2)").alias("r1"),
        F.count(F.when(in_b2i, 1)).cast("long").alias("c2i"),
        F.sum(F.when(in_b2i, dec)).cast("decimal(27,2)").alias("r2i"),
        F.count(F.when(in_b2d, 1)).cast("long").alias("c2d"),
        F.sum(F.when(in_b2d, dec)).cast("decimal(27,2)").alias("r2d"),
    )
    zero = F.lit(0).cast("decimal(27,2)")
    keys = ["o_orderpriority", "ym"]
    fused_mv0 = wide.where(F.col("c0") > 0).select(
        *keys, F.col("c0").alias("n_orders"), F.col("r0").alias("revenue")
    )
    fused_d1 = wide.where(F.col("c1") > 0).select(
        *keys, F.col("c1").alias("n_orders"), F.col("r1").alias("revenue")
    )
    fused_d2 = wide.where((F.col("c2i") + F.col("c2d")) > 0).select(
        *keys,
        (F.col("c2i") - F.col("c2d")).cast("long").alias("n_orders"),
        (F.coalesce(F.col("r2i"), zero) - F.coalesce(F.col("r2d"), zero))
        .cast("decimal(27,2)")
        .alias("revenue"),
    )
    assert _rows(fused_mv0) == _rows(_mv_agg(signed(base, 1)))
    assert _rows(fused_d1) == _rows(_mv_agg(signed(b1, 1)))
    assert _rows(fused_d2) == _rows(
        _mv_agg(signed(b2i, 1).unionAll(signed(b2d, -1)))
    )


def test_argmin_struct_agg_matches_row_number(spark):
    from pyspark.sql import Window

    # ties on d (rows (1,0,d=5) vs (1,0,...)): the struct min must pick
    # the lowest cell, exactly like ORDER BY d, cell / rk = 1.
    d = spark.createDataFrame(
        [
            (1, 0, 0, 7),
            (1, 0, 1, 5),
            (1, 0, 2, 5),
            (1, 1, 0, 9),
            (2, 0, 3, 1),
            (2, 0, 0, 1),
        ],
        "vec_id long, sub int, cell int, d long",
    )
    wv = Window.partitionBy("vec_id", "sub").orderBy(F.col("d"), F.col("cell"))
    want = _rows(
        d.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("vec_id", "sub", "cell", "d")
    )
    got = _rows(
        d.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d", "cell")).alias("m"))
        .select(
            "vec_id",
            "sub",
            F.col("m.cell").alias("cell"),
            F.col("m.d").alias("d"),
        )
    )
    assert got == want


def test_fuzzy_candidates_unique_without_distinct(spark, sf_dir):
    # the r15 proof: a pair (a, b) joins for exactly ONE probe offset,
    # so candidate rows are unique before any DISTINCT.
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("cust"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("dd"),
    )
    probes = o.select(
        "okey", "cust", "dd",
        F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("b"),
    ).withColumn("bucket", F.expr("(dd div 7) + b"))
    c = o.select(
        F.col("okey").alias("okey_b"),
        F.col("cust").alias("cust_b"),
        F.col("dd").alias("dd_b"),
    )
    cand = probes.join(
        c,
        (F.col("cust") == F.col("cust_b"))
        & (F.col("bucket") == F.expr("dd_b div 7"))
        & (F.col("okey") < F.col("okey_b")),
    ).select("cust", "okey", "okey_b")
    assert cand.count() == cand.distinct().count()
