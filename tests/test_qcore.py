"""The shared query core (``_qcore``): the ``_t`` table reader's
per-session schema cache and the on-demand ``ssurgo_synth`` mapping."""

from __future__ import annotations

import inspect
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from soil_data_development_tools___arcmap_spark import _qcore
from soil_data_development_tools___arcmap_spark._qcore import _t, ssurgo_synth

SYNTH_TABLES = [
    "component",
    "chorizon",
    "chtexturegrp",
    "chtexture",
    "chfrags",
    "corestrictions",
    "cointerp",
]


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"qcore-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_t_reuses_schema_of_unchanged_file(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [3, 1, 2], "v": ["c", "a", "b"]}),
        tmp_path / "tbl.parquet",
    )
    first, jobs = _with_jobs(spark, lambda: _t(spark, str(tmp_path), "tbl"))
    assert jobs >= 1  # the first read infers the schema
    again, jobs = _with_jobs(spark, lambda: _t(spark, str(tmp_path), "tbl"))
    assert jobs == 0
    assert again.schema == first.schema
    assert _rows(again) == _rows(first) == [(1, "a"), (2, "b"), (3, "c")]
    # a fresh relation each call: a self-join resolves unambiguously
    assert first.alias("a").join(again.alias("b"), "k").count() == 3


def test_t_rewritten_file_is_a_cache_miss(spark, tmp_path):
    path = tmp_path / "tbl.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert _rows(_t(spark, str(tmp_path), "tbl")) == [(1,), (2,)]
    pq.write_table(pa.table({"k": [7, 8, 9], "w": [0.5, 1.5, 2.5]}), path)
    df, jobs = _with_jobs(spark, lambda: _t(spark, str(tmp_path), "tbl"))
    assert jobs >= 1
    assert df.columns == ["k", "w"]
    assert _rows(df) == [(7, 0.5), (8, 1.5), (9, 2.5)]


def test_ssurgo_synth_keeps_table_order_and_is_read_only(spark):
    t = ssurgo_synth(spark, SF_SMOKE)
    assert list(t) == SYNTH_TABLES
    assert [name for name, _ in t.items()] == SYNTH_TABLES
    assert t["component"] is t["component"]
    with pytest.raises(TypeError):
        t["component"] = t["chorizon"]


def test_ssurgo_synth_builds_only_what_is_read(spark, monkeypatch):
    reads = []

    def recording_t(s, d, name):
        reads.append(name)
        return _t(s, d, name)

    monkeypatch.setattr(_qcore, "_t", recording_t)
    t = ssurgo_synth(spark, SF_SMOKE)
    assert reads == []
    scanned = t["component"].inputFiles()
    assert reads == ["orders"]
    assert [os.path.basename(f) for f in scanned] == ["orders.parquet"]
    t["chorizon"], t["chfrags"], t["corestrictions"]
    assert reads == ["orders", "lineitem"]  # one lineitem read, shared


def test_ssurgo_synth_source_covers_builders():
    # source_salt(ssurgo_synth, ...) keys the nightly export and lake
    # caches, so every builder must live inside the function's source
    src = inspect.getsource(ssurgo_synth)
    for name in SYNTH_TABLES + ["lineitem"]:
        assert f"def {name}(" in src, name


def test_ssurgo_synth_matches_eager_build(spark):
    t = ssurgo_synth(spark, SF_SMOKE)
    ref = _eager_synth(spark, SF_SMOKE)
    for name in SYNTH_TABLES:
        got = t[name]
        assert got.schema == ref[name].schema, name
        assert got.exceptAll(ref[name]).count() == 0, name
        assert ref[name].exceptAll(got).count() == 0, name
    assert t["chorizon"].count() > 0 and t["chfrags"].count() > 0


def _eager_synth(spark, sf_dir):
    """Reference: the eager build of all seven tables that the
    on-demand mapping replaced, reading the parquet files directly."""
    read = lambda name: spark.read.parquet(  # noqa: E731
        f"{sf_dir}/{name}.parquet"
    )
    ok = F.col("o_orderkey")
    component = read("orders").select(
        F.col("o_custkey").alias("mukey"),
        ok.alias("cokey"),
        (ok % 97 + 3).alias("comppct_r"),
        F.when(ok % 4 != 0, "Yes").otherwise("No").alias("majcompflag"),
        F.when(ok % 5 == 0, "Miscellaneous area")
        .when(ok % 5 == 1, F.lit(None).cast("string"))
        .otherwise("Series")
        .alias("compkind"),
        F.when(ok % 23 == 0, "Water").otherwise("Soil").alias("compname"),
        F.when(ok % 7 == 0, "Yes")
        .when(ok % 7 == 1, "Unranked")
        .otherwise("No")
        .alias("hydricrating"),
        F.when(ok % 3 == 0, "Poorly drained")
        .when(ok % 3 == 1, "Very poorly drained")
        .otherwise("Well drained")
        .alias("drainagecl"),
        F.when(ok % 11 == 0, "partially drained").alias("localphase"),
        F.lit(None).cast("string").alias("otherph"),
        F.when(ok % 13 == 0, "Histosols").otherwise("Mollisols").alias("taxorder"),
        F.when(ok % 17 == 0, "Histic Epiaquolls")
        .otherwise("Typic Hapludolls")
        .alias("taxsubgrp"),
    )
    li = read("lineitem")
    lk, ln = F.col("l_orderkey"), F.col("l_linenumber")
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    chkey = lk * 10 + ln
    chorizon = li.select(
        lk.alias("cokey"),
        chkey.alias("chkey"),
        ((ln - 1) * 15).cast("long").alias("hzdept_r"),
        ((ln - 1) * 15 + 5 + pk % 11).cast("long").alias("hzdepb_r"),
        (pk % 5).cast("double").alias("awc_r"),
        (pk % 7).cast("double").alias("om_r"),
        (F.lit(1.0) + (pk % 100) / F.lit(100.0)).alias("dbthirdbar_r"),
        (F.lit(3.0) + (sk % 60) / F.lit(10.0)).alias("ph1to1h2o_r"),
        (sk % 20).cast("double").alias("ec_r"),
        (pk % 60 + 10).cast("double").alias("sandtotal_r"),
        (sk % 40 + 10).cast("double").alias("silttotal_r"),
        (100 - (pk % 60 + 10) - (sk % 40 + 10)).cast("double").alias("claytotal_r"),
        F.when(ln % 4 == 0, "O")
        .when(ln % 4 == 1, "A")
        .when(ln % 4 == 2, "B")
        .otherwise("C")
        .alias("desgnmaster"),
    )
    chtexturegrp = li.select(
        chkey.alias("chkey"),
        chkey.alias("chtgkey"),
        F.when(sk % 6 == 0, "No").otherwise("Yes").alias("rvindicator"),
        F.when(pk % 19 == 0, "MUCK").otherwise("SL").alias("texture"),
    )
    chtexture = li.select(
        chkey.alias("chtgkey"), F.when(pk % 23 == 0, "Peat").alias("lieutex")
    )
    chfrags = li.where(pk % 3 == 0).select(
        chkey.alias("chkey"), (sk % 30).cast("double").alias("fragvol_r")
    )
    corestrictions = li.where(pk % 13 == 0).select(
        lk.alias("cokey"),
        chkey.alias("corestrictkey"),
        (sk % 180).cast("int").alias("resdept_r"),
        F.when(sk % 8 == 0, "Lithic bedrock")
        .when(sk % 8 == 1, "Paralithic bedrock")
        .when(sk % 8 == 2, "Densic bedrock")
        .when(sk % 8 == 3, "Fragipan")
        .when(sk % 8 == 4, "Duripan")
        .when(sk % 8 == 5, "Sulfuric")
        .when(sk % 8 == 6, "Petrocalcic")
        .otherwise("Abrupt textural change")
        .alias("reskind"),
    )
    cointerp = (
        read("orders")
        .select(
            ok.alias("cokey"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("ruledepth"),
                        F.lit("NCCPI - NCCPI").alias("rulename"),
                    ),
                    F.struct(
                        F.lit(1).alias("ruledepth"),
                        F.lit("NCCPI - Corn Submodel").alias("rulename"),
                    ),
                    F.struct(
                        F.lit(1).alias("ruledepth"),
                        F.lit("NCCPI - Soybeans Submodel").alias("rulename"),
                    ),
                )
            ).alias("r"),
        )
        .select(
            "cokey",
            F.col("r.ruledepth").alias("ruledepth"),
            F.col("r.rulename").alias("rulename"),
            F.lit("NCCPI - National Commodity Crop Productivity Index").alias(
                "mrulename"
            ),
            ((F.col("cokey") * (F.col("r.ruledepth") + 2)) % 101)
            .cast("double")
            .alias("interphr"),
        )
    )
    return dict(
        component=component,
        chorizon=chorizon,
        chtexturegrp=chtexturegrp,
        chtexture=chtexture,
        chfrags=chfrags,
        corestrictions=corestrictions,
        cointerp=cointerp,
    )
