"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

- the result check fires on a deliberately truncated result, both
  against the DuckDB oracle and against a recorded fingerprint;
- on sf0.001 inputs, a reduced workload that touches every layer
  reports exactly the pinned end-to-end and per-layer metric names and
  units, in agreement with BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "cpu_s": "s"}
# printed by an untraced run beside END_TO_END, reported per-layer by a
# traced run: too noisy run to run for a bound on a shared 4-core box
REPORT_ONLY = {
    "request_p50_s": "s",
    "request_p95_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.arrow_worker_start_s": "s",
    "q.construct_s": "s",
    "q.construct_jobs": "count",
    "q.plan_s": "s",
    "engine.exec_s": "s",
    "engine.exec_frac": "ratio",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.exchanges": "count",
    "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.executor_cpu_s": "s",
    "engine.executor_run_s": "s",
    "engine.gc_s": "s",
    "engine.scan_bytes": "bytes",
    "engine.rows_in_per_row_out": "ratio",
    "engine.peak_exec_mem_mb": "MB",
    "engine.retained_storage_mb": "MB",
    "engine.first_pass_extra_s": "s",
    "operators.component_agg_s": "s",
    "operators.horizon_agg_s": "s",
    "operators.month_agg_s": "s",
    "plans.construct_s": "s",
    "plans.exec_s": "s",
    "valu1.exec_s": "s",
    "valu1.shuffle_bytes": "bytes",
    "ingest.export_s": "s",
    "ingest.export_bytes": "bytes",
    "ingest.load_rows": "count",
    "geo.python_run_s": "s",
    "geo.arrow_bytes_sent": "bytes",
    "geo.arrow_bytes_received": "bytes",
    "dedup.checkpoint_jobs": "count",
    "geo.spatial_join_overlap.candidate_pairs": "count",
    "geo.spatial_join_overlap.hit_pairs": "count",
    "geo.spatial_join_overlap.hit_ratio": "ratio",
    "geo.spatial_join_overlap_wkt.candidate_pairs": "count",
    "geo.spatial_join_overlap_wkt.hit_pairs": "count",
    "geo.spatial_join_overlap_wkt.hit_ratio": "ratio",
    "geo.spatial_join_points.candidate_pairs": "count",
    "geo.spatial_join_points.hit_pairs": "count",
    "geo.spatial_join_points.hit_ratio": "ratio",
    "dedup.docs_simhash_pairs.candidate_pairs": "count",
    "dedup.docs_simhash_pairs.verified_pairs": "count",
    "dedup.docs_simhash_pairs.verify_ratio": "ratio",
    "request_p50_s": "s",
    "request_p95_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
    "failed_frac": "ratio",
}


@pytest.fixture(scope="module")
def sf0001(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf0.001"))
    datagen.generate(d, 0.001)
    return d


def test_truncated_result_fails_the_check(sf0001, tmp_path):
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    import worker

    name = "sdv_wta"
    oracle = check.oracle_canon(ROOT, sf0001, [name])
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    try:
        df = E.queries()[name](spark, sf0001)
        pdf = df.toPandas()
        assert check.matches_oracle(pdf, oracle[name])
        assert not check.matches_oracle(pdf.iloc[:-1], oracle[name])

        full = check.fingerprint(check.fingerprint_df(df).collect()[0], df.columns)
        cut = df.limit(len(pdf) - 1)
        short = check.fingerprint(check.fingerprint_df(cut).collect()[0], cut.columns)
        assert short != full

        oracle_file = tmp_path / "oracle.json"
        oracle_file.write_text(json.dumps(oracle))
        cfg = {
            "data_dir": sf0001,
            "fingerprint_file": str(tmp_path / "fp.json"),
            "oracle_file": str(oracle_file),
            "fp_key": "test",
        }
        runner = worker.Runner(spark, cfg, worker.Spans())
        recs = [
            {"name": name, "fingerprint": full},
            {"name": name, "fingerprint": short},
            {"name": name, "fingerprint": full, "error": "boom"},
        ]
        runner.check([{"requests": recs}])
        assert [r["ok"] for r in recs] == [True, False, False]
    finally:
        spark.stop()


def test_metric_names_and_units_are_pinned(tmp_path, monkeypatch):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert run.END_TO_END_UNITS == END_TO_END
    assert layers.PER_LAYER_UNITS == PER_LAYER

    # one request per layer family on sf0.001 inputs: component /
    # horizon / month operators, the planner, the nightly (ingest) and,
    # as probes, Valu1, a geo and two dedup pair requests
    monkeypatch.setattr(run, "BUILD", str(tmp_path / "build"))
    monkeypatch.setattr(
        run,
        "WORKLOADS",
        {
            "tiny": dict(
                sf=0.001,
                replica=2,
                requests=[
                    "sdv_wta", "sdv_hz_wta_wta", "sdv_mo_wta",
                    "planner_sdv_rating", "nightly_gssurgo",
                ],
                probe_requests=[
                    "valu1_wide", "spatial_join_points", "docs_simhash_pairs",
                    "docs_minhash_lsh",
                ],
                probe_layers=("valu1", "geo", "dedup"),
            )
        },
    )
    for trace, want, line in (
        (0, dict(END_TO_END, **REPORT_ONLY), END_TO_END),
        (1, PER_LAYER, PER_LAYER),
    ):
        rec = run.run_workload("tiny", seed=7, seconds=1, trace=trace)
        assert rec["failed"] == 0, rec["failures"]
        assert {k: m["unit"] for k, m in rec["metrics"].items()} == want
        assert rec["result_line_metrics"] == list(line)
    m = {k: v["value"] for k, v in rec["metrics"].items()}
    for k in (
        "q.construct_jobs", "engine.tasks", "engine.exchanges",
        "operators.component_agg_s", "operators.horizon_agg_s",
        "operators.month_agg_s", "plans.construct_s", "valu1.exec_s",
        "ingest.export_s", "ingest.export_bytes", "ingest.load_rows",
        "dedup.checkpoint_jobs",
        "geo.spatial_join_points.candidate_pairs",
        "dedup.docs_simhash_pairs.candidate_pairs",
    ):
        assert m[k] > 0, k
    # the refine keeps a strict subset of the candidate pairs
    assert 0 < m["geo.spatial_join_points.hit_ratio"] < 1
    assert 0 < m["dedup.docs_simhash_pairs.verify_ratio"] < 1
