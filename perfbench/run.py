"""Workload benchmark for the soil-rating engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all      # every workload, untraced
    python3 perfbench/run.py --workload all --trace 1

Run from the root of a checkout of the repository. The benchmark
builds its inputs under ``.bench_build/perfbench`` (deterministic
synthetic tables; the nightly replica per seed), verifies every
request against its DuckDB oracle once per input, then drives the
engine's public query callables (``__spark_entry__.queries()``) from
one client process with one Spark session on ``local[nproc]``
(``perfbench/worker.py``).

Workloads (one client, closed loop; a seed permutes the request
order and picks the nightly replica's key offsets):

- ``sdv_interactive``: 15 single-attribute Soil Data Viewer rating
  requests (the ``sdv_*`` operators and the metadata-driven planner).
- ``nightly_10x``: the composed ``nightly_gssurgo`` run on a 10x
  replica of the fact tables, export cache emptied before every pass.
- ``pair_kernels``: the candidate-generate-then-verify operators:
  spatial joins, raster zonal stats and the document dedup family.

A run costs one Spark start plus a cold and a warm pass, so
``BENCHMARK.json`` lists only the first two workloads; the traced run
of ``sdv_interactive`` runs the ``pair_kernels`` requests once as
probes, which measures the geo and dedup layers, and the traced run of
``nightly_10x`` probes the registered Valu1 callable on its replica.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (Spark event
log + spans, ``perfbench/layers.py``). The lines before it report every
metric with its unit, the drift flag of each wall time, and the
environment; the full record goes to ``.bench_build/perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "soil_data_development_tools___arcmap_spark"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "4g"
# a run must end within 180 s, except the first in a checkout, which
# also verifies every request against its oracle
WORKER_TIMEOUT_S, FIRST_RUN_TIMEOUT_S = 170, 870
# the nightly replica's key offsets come from seed % REPLICA_VARIANTS:
# each variant is verified against the oracle once per checkout
REPLICA_VARIANTS = 4

PAIR_REQUESTS = [
    "spatial_join_overlap", "spatial_join_overlap_wkt", "spatial_join_points",
    "raster_zonal_stats", "raster_polygon_cells", "docs_dsir_sample",
    "docs_simhash_pairs", "docs_minhash_lsh", "docs_clean_corpus",
]
# Each workload: scale factor of its base tables, its requests, an
# optional replica factor, and probe_requests — run once, cold, after
# the timed passes of a traced run. They measure the layers named in
# probe_layers, which no listed workload loads otherwise: geo and dedup
# (pair_kernels is not in BENCHMARK.json) and the registered Valu1
# callable on the nightly replica. A layer a workload does not load
# reads 0 there.
WORKLOADS = {
    "sdv_interactive": dict(
        sf=0.001,
        requests=[
            "sdv_dcp_numeric", "sdv_dcp_categorical", "sdv_dcd", "sdv_wta",
            "sdv_maxmin_max", "sdv_limiting_most", "sdv_pp_sum",
            "sdv_hz_wta_wta", "sdv_hz_dcp_wta", "sdv_mo_wta", "sdv_mo_dcd",
            "planner_sdv_rating", "planner_sdv_hz_rating",
            "planner_sdv_month_rating", "planner_sdv_batch",
        ],
        probe_requests=PAIR_REQUESTS,
        probe_layers=("geo", "dedup"),
    ),
    # sf0.005 x10: 75k orders / 300k lineitems, on which execution is
    # about three quarters of a warm pass; a cold and a warm pass take
    # ~43 s on 4 cores, which the benchmark's time budget allows
    "nightly_10x": dict(
        sf=0.005,
        replica=10,
        requests=["nightly_gssurgo"],
        probe_requests=["valu1_wide"],
        probe_layers=("valu1",),
    ),
    "pair_kernels": dict(
        sf=0.001,
        requests=PAIR_REQUESTS,
    ),
}

# the end-to-end metrics of an untraced run's result line. The report
# above it adds request_p50_s, request_p95_s, peak_rss_mb and
# failed_frac, which do not repeat run to run within the bounds on a
# shared 4-core box (percentiles of 15 samples; peak RSS follows GC
# timing; failures are 0); the traced run reports them per-layer.
END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "cpu_s": "s"}
REPORT_UNITS = dict(
    END_TO_END_UNITS,
    request_p50_s="s",
    request_p95_s="s",
    peak_rss_mb="MB",
    failed_frac="ratio",
)
# a wall time that moved more than this against the previous run of
# the same workload is "moved"; unmoved counters make it drift-suspect
DRIFT_FRAC = 0.10


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine since boot: the share of
    time a hypervisor gave this VM's CPUs to others explains wall time
    that moved while the counters did not."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def git_commit() -> str:
    try:
        p = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=30, cwd=ROOT,
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)),
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return p.stdout.strip() if p.returncode == 0 else "unknown"


# ----------------------------------------------------------------- inputs


def _built(path: str, build) -> float:
    """Build ``path`` once (marker file ``_DONE`` holds the seconds the
    build took); returns those seconds."""
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        build(path)
        with open(done, "w") as fh:
            fh.write(str(time.perf_counter() - t0))
    with open(done) as fh:
        return float(fh.read())


def prepare_inputs(name: str, seed: int) -> tuple[str, float]:
    """Data directory of the workload for ``seed``, and the seconds its
    nightly replica took to build (0 for workloads without one)."""
    import datagen

    w = WORKLOADS[name]
    base = os.path.join(BUILD, "data", f"base-sf{w['sf']}")
    _built(base, lambda d: datagen.generate(d, w["sf"]))
    if not w.get("replica"):
        return base, 0.0
    variant = seed % REPLICA_VARIANTS
    rep = os.path.join(
        BUILD, "data", f"replica-sf{w['sf']}-x{w['replica']}-v{variant}"
    )
    secs = _built(
        rep, lambda d: datagen.build_replica(base, d, variant, copies=w["replica"])
    )
    return rep, secs


def oracle_file(data_dir: str, names: list[str], key: str) -> str:
    """Oracle canon of every request on this input, cached by ``key``
    (input content + engine and oracle source); returns the path of a
    file {name: canon}."""
    from check import JsonCache, oracle_canon

    cache = JsonCache(os.path.join(BUILD, "state", "oracle.json"))
    missing = [n for n in names if cache.get(f"{key}:{n}") is None]
    if missing:
        t0 = time.perf_counter()
        for n, c in oracle_canon(ROOT, data_dir, missing).items():
            cache.put(f"{key}:{n}", c)
        log(f"perfbench: oracle for {len(missing)} requests "
            f"in {time.perf_counter() - t0:.1f}s")
    path = os.path.join(BUILD, "state", f"oracle-{key.replace(':', '-')}.json")
    with open(path, "w") as fh:
        json.dump({n: cache.get(f"{key}:{n}") for n in names}, fh)
    return path


# ---------------------------------------------------------------- workers


def kill_tree(pid: int) -> None:
    """SIGKILL a worker and everything it started (JVM, Python
    daemon and workers), then wait until each has ended."""
    from worker import proc_tree

    pids = proc_tree(pid)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(p)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.05)


def run_worker(cfg_path: str, env: dict, timeout: float) -> float:
    """Run the workload's worker and stop it; returns the seconds from
    its start until its session was READY (the set-up time)."""
    t0 = time.perf_counter()
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, env=env,
        text=True, cwd=ROOT,
    )
    watchdog = threading.Timer(timeout, kill_tree, [p.pid])
    watchdog.start()
    setup = None
    try:
        for line in p.stdout:
            if line.strip() == "READY":
                setup = time.perf_counter() - t0
            elif line.strip() == "DONE":
                break
        else:
            raise RuntimeError("worker ended before finishing")
    finally:
        watchdog.cancel()
        kill_tree(p.pid)
        p.wait()
        p.stdout.close()
    return setup


def worker_env(cpus: int) -> dict:
    tmp = os.path.join(BUILD, "tmp")
    # every run starts from empty scratch space: no spill, block
    # manager or engine cache (cachefs) left by an earlier run
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_MEM=HEAP,
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
    )
    return env


# ---------------------------------------------------------------- metrics


def end_to_end(result: dict, setup_s: float, failed_frac: float) -> dict:
    from layers import percentile

    passes = result["passes"][1:]  # the first pass is cold
    lat = [r["latency_s"] for p in passes for r in p["requests"] if r["ok"]]
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(p["wall_s"] for p in passes),
        "request_p50_s": percentile(lat, 0.50),
        "request_p95_s": percentile(lat, 0.95),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
        "failed_frac": failed_frac,
    }


def counters(result: dict, layers: dict | None) -> dict:
    """Deterministic counters of the last pass (drift reference)."""
    p = result["passes"][-1]["requests"]
    out = {
        "rows": sum(r.get("rows", 0) for r in p),
        "q.construct_jobs": sum(r.get("construct_jobs", 0) for r in p),
        "engine.tasks": sum(r.get("exec_tasks", 0) for r in p),
    }
    if layers:
        out["engine.shuffle_write_bytes"] = layers["engine.shuffle_write_bytes"]
    return out


def drift_flags(name: str, trace: int, metrics: dict, cnt: dict) -> dict:
    """Per time metric: 'new' | 'steady' | 'moved' (counters moved
    too) | 'drift-suspect' (wall moved, counters did not). Compared
    with the previous run of this workload in this checkout."""
    path = os.path.join(BUILD, "state", f"last-{name}-trace{trace}.json")
    prev = None
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
    with open(path, "w") as fh:
        json.dump({"metrics": metrics, "counters": cnt}, fh)
    flags = {}
    for m in (k for k in metrics if k.endswith("_s")):
        if not prev or m not in prev["metrics"] or not prev["metrics"][m]:
            flags[m] = "new"
            continue
        moved = abs(metrics[m] / prev["metrics"][m] - 1.0) > DRIFT_FRAC
        same = prev["counters"] == cnt
        flags[m] = "steady" if not moved else ("drift-suspect" if same else "moved")
    return flags


# ------------------------------------------------------------------- main


def run_workload(name: str, seed: int, seconds: int, trace: int) -> dict:
    from check import JsonCache, content_key
    from layers import PAIR_JOINS

    cpus = len(os.sched_getaffinity(0))
    env_rec = {
        "nproc": cpus,
        "heap": HEAP,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "seed": seed,
        "loadavg_before": os.getloadavg(),
    }
    w = WORKLOADS[name]
    reqs = list(w["requests"])
    random.Random(seed).shuffle(reqs)
    data_dir, build_s = prepare_inputs(name, seed)
    env_rec["replica_build_s"] = build_s
    # the oracle SQL and the engine live in the package; the oracle's
    # canon in tools/oracle_check.py: a change to any of them re-verifies
    code_key = content_key([
        os.path.join(ROOT, PKG),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, "tools", "oracle_check.py"),
    ])
    input_key = f"{content_key([data_dir])}:{code_key}"
    probes = w.get("probe_requests", []) if trace else []
    tag = f"{name}-seed{seed}-trace{trace}"
    cfg = {
        "root": ROOT,
        "requests": reqs,
        "probe_requests": probes,
        "candidate_requests": [r for r in dict.fromkeys(reqs + probes) if r in PAIR_JOINS],
        "data_dir": data_dir,
        "seconds": seconds,
        "trace": trace,
        "cpus": cpus,
        "tmp_dir": os.path.join(BUILD, "tmp"),
        "eventlog_dir": os.path.join(BUILD, "eventlog", tag),
        "oracle_file": oracle_file(data_dir, reqs + probes, input_key),
        "fingerprint_file": os.path.join(BUILD, "state", "fingerprints.json"),
        "fp_key": input_key,
        "result_file": os.path.join(BUILD, "results", f"{tag}.worker.json"),
    }
    os.makedirs(os.path.dirname(cfg["result_file"]), exist_ok=True)
    shutil.rmtree(cfg["eventlog_dir"], ignore_errors=True)
    cfg_path = os.path.join(BUILD, "state", f"{tag}.config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    env = worker_env(cpus)

    fps = JsonCache(cfg["fingerprint_file"])
    verified = all(fps.get(f"{cfg['fp_key']}:{r}") for r in reqs + probes)
    steal0, ticks0 = cpu_ticks()
    setup_s = run_worker(
        cfg_path, env, WORKER_TIMEOUT_S if verified else FIRST_RUN_TIMEOUT_S
    )
    steal1, ticks1 = cpu_ticks()
    env_rec["cpu_steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    with open(cfg["result_file"]) as fh:
        result = json.load(fh)

    all_reqs = [r for q in result["passes"] for r in q["requests"]]
    for k in ("probe", "candidates"):
        all_reqs += result.get(k, {}).get("requests", [])
    all_reqs += [r for q in result.get("untraced_passes", []) for r in q["requests"]]
    attempted = len(all_reqs)
    failed = sum(1 for r in all_reqs if not r["ok"])
    layers = None
    if trace:
        import layers as tr

        log_path = os.path.join(cfg["eventlog_dir"], result["app_id"])
        layers = tr.per_layer(result, log_path, w.get("probe_layers", ()))
        layers["failed_frac"] = failed / attempted
        metrics = {k: (layers[k], u) for k, u in tr.PER_LAYER_UNITS.items()}
        line = tr.PER_LAYER_UNITS
        result["span_self_times"] = tr.self_times(result.pop("spans"))
    else:
        e2e = end_to_end(result, setup_s, failed / attempted)
        metrics = {k: (e2e[k], u) for k, u in REPORT_UNITS.items()}
        line = END_TO_END_UNITS
    env_rec.update(result["versions"], loadavg_after=os.getloadavg())
    flat = {k: v for k, (v, _) in metrics.items()}
    flags = drift_flags(name, trace, flat, counters(result, layers))
    record = {
        "workload": name,
        "requests": reqs,
        "env": env_rec,
        "knobs": result["knobs"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "result_line_metrics": list(line),
        "drift": flags,
        "attempted": attempted,
        "failed": failed,
        "latency_samples": sum(len(p["requests"]) for p in result["passes"][1:]),
        "failures": [r for r in all_reqs if not r["ok"]],
        "worker": result,
    }
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return record


def report(rec: dict) -> None:
    print(f"== {rec['workload']}  (requests in order: {', '.join(rec['requests'])})")
    for k, m in rec["metrics"].items():
        flag = rec["drift"].get(k)
        print(f"  {k:44s} {m['value']:>16.6g} {m['unit']:6s}"
              + (f"  [{flag}]" if flag else ""))
    print(f"  attempted={rec['attempted']} failed={rec['failed']}"
          f" (latency percentiles over {rec['latency_samples']} timed requests)")
    for r in rec["failures"]:
        print(f"  FAILED {r['name']} pass {r['pass']}: {r.get('error', 'fingerprint mismatch')}")
    print(f"  knobs: {json.dumps(rec['knobs'])}")
    print(f"  env: {json.dumps(rec['env'])}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (
        os.path.isdir(os.path.join(ROOT, PKG))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        log(f"perfbench: no engine sources under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    recs = []
    for n in names:
        recs.append(run_workload(n, a.seed, a.seconds, a.trace))
        report(recs[-1])
    rec = recs[-1]
    print(json.dumps({
        "correct": all(r["failed"] == 0 for r in recs),
        "attempted": sum(r["attempted"] for r in recs),
        "failed": sum(r["failed"] for r in recs),
        "metrics": {k: rec["metrics"][k] for k in rec["result_line_metrics"]},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
