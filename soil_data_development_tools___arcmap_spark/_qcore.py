"""Shared query infrastructure: the synthetic-table readers and
SSURGO synthesis every family file builds on (split from queries.py
in round 9; queries.py re-exports everything, so the public namespace
is unchanged)."""

from __future__ import annotations

import functools
import os
import weakref
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import (
    RatingSpec,
    agg_dcd,
    agg_dcp,
    agg_hz_dcp_wta,
    agg_limiting,
    agg_maxmin,
    agg_pp_sum,
    agg_wta,
    month_collapse,
)
from .operators.horizon_agg import _member_sums, clipped_thickness




# Session confs that change what parquet schema inference returns; a
# cached schema is only reused while they read the same.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
)
# session -> {absolute path: (file key, inferred schema)}
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _file_key(path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under a local parquet path
    (a single file or a directory); None for a URI or a missing path."""
    if "://" in path or not os.path.exists(path):
        return None
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    ]
    return tuple(sorted(
        (f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
    ))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh relation over ``sf_dir/name.parquet``.

    Schema inference is a Spark job (one parquet footer read, ~70 ms
    of driver time), so each input's inferred schema is kept per
    session and the read passes it back through ``.schema(...)``. The
    key is the absolute path plus (name, size, mtime_ns) of every file
    under it and the values of ``_SCHEMA_CONFS``: rewriting a file, or
    adding or removing one, invalidates it. Non-local URIs are inferred
    on every read. Only the schema is cached: every call still lists
    the files afresh and returns a new relation with new attribute IDs,
    so self-joins of two ``_t`` reads stay unambiguous."""
    # The driver supplies its own session; pin the timestamp semantics
    # the oracle comparison assumes (naive/UTC rendering).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    files = _file_key(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    # concurrent misses only repeat an inference: a hit needs an equal key
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(os.path.abspath(path))
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[os.path.abspath(path)] = (key, df.schema)
    return df


def cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


def li_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem as a component table: okey=mapunit, member=component,
    comppct_r=quantity; price in cents, discount in basis points."""
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("member"),
        F.col("l_quantity").cast("long").alias("comppct_r"),
        cents("l_extendedprice").alias("price_c"),
        cents("l_discount").alias("disc_bp"),
        F.col("l_returnflag").alias("rflag"),
        F.col("l_partkey").alias("pkey"),
        F.month("l_shipdate").alias("monthseq"),
    )


def li_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→orders→lineitem as mapunit→component→horizon.

    ckey=mapunit, okey=component (weight = order totalprice in cents),
    each lineitem a horizon with synthetic depths
    top=(linenumber-1)*15, bot=top+5+(partkey mod 11) — overlapping /
    gapped intervals, exactly reproducible in the oracle SQL.
    """
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        cents("o_totalprice").alias("o_w"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lnum"),
        ((F.col("l_linenumber") - 1) * 15).cast("long").alias("hzdept"),
        (
            (F.col("l_linenumber") - 1) * 15 + 5 + F.col("l_partkey") % 11
        ).cast("long").alias("hzdepb"),
        cents("l_discount").alias("disc_bp"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    # orders is the smaller side only at tiny SF; at scale both are
    # fact-sized and this is a co-partitioned shuffle join on okey.
    return li.join(orders, "okey")


class _LazyTables(Mapping):
    """Read-only name -> DataFrame mapping that builds each table on
    first access and remembers it; iteration builds every table."""

    def __init__(self, builders: dict) -> None:
        self._builders = builders
        self._built: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._builders[name]()
        return self._built[name]

    def __iter__(self):
        return iter(self._builders)

    def __len__(self) -> int:
        return len(self._builders)


def ssurgo_synth(spark: SparkSession, sf_dir: str) -> Mapping[str, DataFrame]:
    """SSURGO-shaped tables synthesized deterministically from the
    TPC-H tables, so the REAL Valu1 pipeline code paths run under the
    oracle gate: orders→component (mukey=o_custkey, cokey=o_orderkey),
    lineitem→chorizon/chtexturegrp/chtexture/chfrags/corestrictions.
    All numeric soil properties are integer-valued doubles (exact under
    float summation) except dbthirdbar_r/ph1to1h2o_r, which feed only
    per-row products and comparisons (IEEE-deterministic).

    Returns a read-only mapping that builds each table on first access
    (a table costs a parquet read and tens of Column calls, and most
    callers use one or two of the seven); the one lineitem read is
    shared by the five tables built from it. The builders stay nested
    here so that ``source_salt(ssurgo_synth)`` covers their source."""

    def component() -> DataFrame:
        ok = F.col("o_orderkey")
        return _t(spark, sf_dir, "orders").select(
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
            F.when(ok % 13 == 0, "Histosols")
            .otherwise("Mollisols")
            .alias("taxorder"),
            F.when(ok % 17 == 0, "Histic Epiaquolls")
            .otherwise("Typic Hapludolls")
            .alias("taxsubgrp"),
        )

    @functools.cache
    def lineitem() -> DataFrame:
        return _t(spark, sf_dir, "lineitem")

    def li_cols() -> tuple[Column, ...]:
        """(l_orderkey, l_linenumber, l_partkey, l_suppkey, chkey)."""
        lk, ln = F.col("l_orderkey"), F.col("l_linenumber")
        return lk, ln, F.col("l_partkey"), F.col("l_suppkey"), lk * 10 + ln

    def chorizon() -> DataFrame:
        lk, ln, pk, sk, chkey = li_cols()
        return lineitem().select(
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
            (100 - (pk % 60 + 10) - (sk % 40 + 10))
            .cast("double")
            .alias("claytotal_r"),
            F.when(ln % 4 == 0, "O")
            .when(ln % 4 == 1, "A")
            .when(ln % 4 == 2, "B")
            .otherwise("C")
            .alias("desgnmaster"),
        )

    def chtexturegrp() -> DataFrame:
        _, _, pk, sk, chkey = li_cols()
        return lineitem().select(
            chkey.alias("chkey"),
            chkey.alias("chtgkey"),
            F.when(sk % 6 == 0, "No").otherwise("Yes").alias("rvindicator"),
            F.when(pk % 19 == 0, "MUCK").otherwise("SL").alias("texture"),
        )

    def chtexture() -> DataFrame:
        _, _, pk, _, chkey = li_cols()
        return lineitem().select(
            chkey.alias("chtgkey"),
            F.when(pk % 23 == 0, "Peat").alias("lieutex"),
        )

    def chfrags() -> DataFrame:
        _, _, pk, sk, chkey = li_cols()
        return lineitem().where(pk % 3 == 0).select(
            chkey.alias("chkey"), (sk % 30).cast("double").alias("fragvol_r")
        )

    def corestrictions() -> DataFrame:
        lk, _, pk, sk, chkey = li_cols()
        return lineitem().where(pk % 13 == 0).select(
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

    def cointerp() -> DataFrame:
        return (
            _t(spark, sf_dir, "orders")
            .select(
                F.col("o_orderkey").alias("cokey"),
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
                            F.lit("NCCPI - Soybeans Submodel").alias(
                                "rulename"
                            ),
                        ),
                    )
                ).alias("r"),
            )
            .select(
                "cokey",
                F.col("r.ruledepth").alias("ruledepth"),
                F.col("r.rulename").alias("rulename"),
                F.lit(
                    "NCCPI - National Commodity Crop Productivity Index"
                ).alias("mrulename"),
                ((F.col("cokey") * (F.col("r.ruledepth") + 2)) % 101)
                .cast("double")
                .alias("interphr"),
            )
        )

    return _LazyTables(
        dict(
            component=component,
            chorizon=chorizon,
            chtexturegrp=chtexturegrp,
            chtexture=chtexture,
            chfrags=chfrags,
            corestrictions=corestrictions,
            cointerp=cointerp,
        )
    )


VALU1_RANGES = [(0, 20), (20, 50), (50, 100), (0, 100)]


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to exact integer nanoseconds
    since epoch (UTC). The driver's parquet stores ``ts`` as
    TIMESTAMP(µs, NTZ); converting once at the scan (session tz UTC,
    so Spark ``unix_micros`` == DuckDB ``epoch_us``) keeps every
    derived value engine-exact integer math downstream (``_t`` pins
    the session tz to UTC). A plain-int64 ``ts`` (already ns) passes
    through unchanged; Parquet TIMESTAMP(NANOS) files are not
    supported — regenerate or read with
    ``spark.sql.legacy.parquet.nanosAsLong``."""
    ev = _t(spark, sf_dir, "events")
    if dict(ev.dtypes).get("ts") in ("timestamp", "timestamp_ntz"):
        ev = ev.withColumn(
            "ts",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast(
                "long"
            ),
        )
    return ev


def _even_grid_rects(src: DataFrame, key: str) -> DataFrame:
    """The even-coordinate rectangle layer the clip family synthesizes
    (one closed rect per row, same parametrization as
    clip_select_by_location so the two certifications compose):
    returns (okey, x0, y0, x1, y1, wkt). Shared by the batch spatial
    joins (q_tools) and the streaming geofence twin
    (streaming/events.py)."""
    k = F.col(key)
    x0, y0 = (k % 100) * 2, (k % 57) * 2
    x1 = x0 + (k % 13 + 1) * 2
    y1 = y0 + (k % 7 + 1) * 2
    pt = lambda x, y: F.concat(  # noqa: E731
        x.cast("string"), F.lit(" "), y.cast("string")
    )
    sep = F.lit(", ")
    wkt = F.concat(
        F.lit("POLYGON (("),
        pt(x0, y0), sep, pt(x1, y0), sep, pt(x1, y1), sep, pt(x0, y1),
        sep, pt(x0, y0),
        F.lit("))"),
    )
    return src.select(
        k.alias("okey"),
        x0.cast("long").alias("x0"),
        y0.cast("long").alias("y0"),
        x1.cast("long").alias("x1"),
        y1.cast("long").alias("y1"),
        wkt.alias("wkt"),
    )
