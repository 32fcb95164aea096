"""One benchmark client: a fresh Python process with one Spark session.

``python3 perfbench/worker.py CONFIG.json`` starts the session (the
set-up the benchmark times), prints ``READY`` on stdout, runs the
workload's passes in a closed loop and writes its result record to the
config's ``result_file``, then prints ``DONE``.

A pass issues every request of the workload once, in the seed's
order. Each request has three timed phases, each tagged with a Spark
job group ``pb|<request>|<pass>|<phase>`` so the event log attributes
every job:

- construct: the engine's query callable (driver planning plus any
  eager jobs such as checkpoints);
- plan: physical planning of the result's fingerprint aggregate,
  forced before execution;
- execute: the fingerprint job itself, which runs the whole result.

Pass 0 is cold (JIT, codegen) and serves as warm-up; warm passes
follow until ``seconds`` have passed, at least one. After timing,
each request whose verified fingerprint is not yet recorded is
checked against its oracle (untimed), and every timed request's
fingerprint is compared with the recorded one. With ``trace`` on, the
session writes Spark's event log, layer spans are recorded around the
engine's planner, ingest and Valu1 entry points, probe requests run
once after the passes, each candidate-join request runs once more
with predicate pushdown off (so its join counts its candidate pairs),
and a second, untraced session in the same process repeats the passes
to price the tracing itself.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import shutil
import sys
import time
import traceback

PKG = "soil_data_development_tools___arcmap_spark"
# pass numbers of the non-workload passes in the job tags
VERIFY_PASS, PROBE_PASS, CANDIDATE_PASS, UNTRACED_PASS = -2, -1, -3, 10_000
# optimizer rules that fuse a Filter above a join into the join's
# condition; with them off, the join's output rows are the pairs that
# meet on its equi-join keys and the condition runs as a Filter above
PUSHDOWN_RULES = ",".join(
    "org.apache.spark.sql.catalyst.optimizer." + r
    for r in ("PushDownPredicates", "PushPredicateThroughJoin")
)

# engine entry points timed as layer spans in traced runs: (module,
# function, layer). They are wrapped from outside, in every engine
# module that holds a reference, and restored afterwards.
LAYER_FUNCS = [
    (f"{PKG}.plans.planner", "create_soil_map", "plans"),
    (f"{PKG}.plans.planner", "hydrate", "plans"),
    (f"{PKG}.q_tools", "_pipe_text_export", "ingest.export"),
    (f"{PKG}.catalog", "load_full_export", "ingest.load"),
    (f"{PKG}.valu1.pipeline", "build_valu1", "valu1"),
]


class Spans:
    """In-memory spans: (layer, name, request, pass, phase, t0, t1)."""

    def __init__(self):
        self.items: list[dict] = []
        self.ctx = {"request": None, "pass": None, "phase": None}

    def add(self, layer: str, name: str, t0: float, t1: float) -> None:
        self.items.append(dict(self.ctx, layer=layer, name=name, t0=t0, t1=t1))

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(layer, fn.__name__, t0, time.perf_counter())

        return timed


def _patch_everywhere(orig, repl) -> list:
    """Point every loaded engine module's reference to ``orig`` at
    ``repl``; returns the (module, attribute) pairs changed."""
    changed = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, repl)
                changed.append((mod, attr))
    return changed


def install_layer_spans(spans: Spans) -> list:
    undo = []
    for modname, fname, layer in LAYER_FUNCS:
        orig = getattr(importlib.import_module(modname), fname)
        undo += [(m, a, orig) for m, a in _patch_everywhere(orig, spans.wrap(orig, layer))]
    return undo


# ---------------------------------------------------------------- /proc


def proc_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the process tree, plus reaped children's."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in proc_tree(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


def reset_peak_rss(root: int) -> None:
    for p in proc_tree(root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the tree's per-process RSS high-water marks (kB)."""
    total = 0
    for p in proc_tree(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except (OSError, ValueError):
            continue
    return total / 1024.0


# ------------------------------------------------------------- session


def start_session(cfg: dict, trace: bool, spans: Spans):
    from pyspark.sql import functions as F

    from soil_data_development_tools___arcmap_spark import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={cfg['tmp_dir']}"
        ),
        "spark.sql.warehouse.dir": os.path.join(cfg["tmp_dir"], "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        os.makedirs(cfg["eventlog_dir"], exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + cfg["eventlog_dir"]
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spans.ctx = {"request": None, "pass": None, "phase": "setup"}
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cfg['cpus']}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).select(F.sum("id")).collect()
    t1 = time.perf_counter()
    spark.range(64, numPartitions=4).mapInArrow(lambda it: it, "id long").collect()
    t2 = time.perf_counter()
    spans.add("session", "start", t0, t1)
    spans.add("session", "arrow_worker_start", t1, t2)
    return spark


def retained_storage_mb(spark) -> float:
    """Block-manager storage still held by cached / checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def purge_nightly_cache(tmp_dir: str) -> None:
    """Empty the nightly export's content-keyed cache (cachefs base
    under TMPDIR), so the next nightly construction repays it."""
    base = os.path.join(tmp_dir, f"sddt_cache_{os.getuid()}")
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith("nightly_"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def nightly_export_stats(tmp_dir: str) -> tuple[int, int]:
    """(bytes on disk, text lines) of the nightly export cache."""
    base = os.path.join(tmp_dir, f"sddt_cache_{os.getuid()}")
    nbytes = lines = 0
    for d, _, fs in os.walk(base):
        if "nightly_" not in d:
            continue
        for f in fs:
            p = os.path.join(d, f)
            nbytes += os.path.getsize(p)
            if not f.startswith((".", "_")):
                with open(p, "rb") as fh:
                    lines += fh.read().count(b"\n")
    return nbytes, lines


# ---------------------------------------------------------------- passes


class Runner:
    def __init__(self, spark, cfg: dict, spans: Spans):
        import __spark_entry__ as E

        from check import JsonCache

        self.spark = spark
        self.cfg = cfg
        self.spans = spans
        self.qs = E.queries()
        self.fps = JsonCache(cfg["fingerprint_file"])
        with open(cfg["oracle_file"]) as fh:
            self.oracle = json.load(fh)
        self.root_pid = os.getpid()

    def _phase(self, req: str, pno: int, phase: str) -> str:
        group = f"pb|{req}|{pno}|{phase}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.spans.ctx = {"request": req, "pass": pno, "phase": phase}
        return group

    def _jobs_tasks(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks

    def request(self, req: str, pno: int) -> dict:
        from check import fingerprint, fingerprint_df

        rec = {"name": req, "pass": pno}
        try:
            g = self._phase(req, pno, "construct")
            t0 = time.perf_counter()
            df = self.qs[req](self.spark, self.cfg["data_dir"])
            t1 = time.perf_counter()
            rec["construct_jobs"] = self._jobs_tasks(g)[0]
            fp_df = fingerprint_df(df)
            self._phase(req, pno, "plan")
            t2 = time.perf_counter()
            fp_df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            g = self._phase(req, pno, "execute")
            row = fp_df.collect()[0]
            t4 = time.perf_counter()
            self.spans.ctx = {"request": req, "pass": pno, "phase": None}
            self.spans.add("q", "construct", t0, t1)
            self.spans.add("q", "plan", t2, t3)
            self.spans.add("engine", "execute", t3, t4)
            rec.update(
                construct_s=t1 - t0,
                plan_s=t3 - t2,
                exec_s=t4 - t3,
                latency_s=t4 - t0 - (t2 - t1),
                rows=int(row["n"]),
                fingerprint=fingerprint(row, df.columns),
                exec_tasks=self._jobs_tasks(g)[1],
            )
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            self.spark.sparkContext.setJobGroup("pb|idle", "pb|idle")
            self.spans.ctx = {"request": None, "pass": None, "phase": None}
        rec["retained_storage_mb"] = retained_storage_mb(self.spark)
        return rec

    def one_pass(self, pno: int, requests: list[str]) -> dict:
        cfg = self.cfg
        # production nightlies always see new data: never a warm export
        nightly = "nightly_gssurgo" in requests
        if nightly:
            purge_nightly_cache(cfg["tmp_dir"])
        self.spark._jvm.System.gc()
        reset_peak_rss(self.root_pid)
        cpu0 = tree_cpu_s(self.root_pid)
        t0 = time.perf_counter()
        recs = [self.request(r, pno) for r in requests]
        out = {
            "pass": pno,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": tree_cpu_s(self.root_pid) - cpu0,
            "peak_rss_mb": tree_peak_rss_mb(self.root_pid),
            "requests": recs,
        }
        if nightly:
            out["export_bytes"], out["export_lines"] = nightly_export_stats(
                cfg["tmp_dir"]
            )
        return out

    def passes(self, first: int, at_least: int) -> list[dict]:
        """Passes back to back until ``seconds`` have passed and at
        least ``at_least`` passes ran."""
        out = []
        t0 = time.perf_counter()
        while len(out) < at_least or time.perf_counter() - t0 < self.cfg["seconds"]:
            out.append(self.one_pass(first + len(out), self.cfg["requests"]))
        return out

    def candidates(self, requests: list[str]) -> dict:
        """Run each candidate-join request once, untimed, with predicate
        pushdown off: the plan keeps its equi-join with the refine as a
        Filter above it, so the join node's output rows (event log) are
        the request's candidate pairs. The result must still match the
        verified fingerprint."""
        from check import fingerprint, fingerprint_df

        conf = "spark.sql.optimizer.excludedRules"
        recs = []
        self.spark.conf.set(conf, PUSHDOWN_RULES)
        try:
            for req in requests:
                rec = {"name": req, "pass": CANDIDATE_PASS}
                try:
                    self._phase(req, CANDIDATE_PASS, "candidates")
                    df = self.qs[req](self.spark, self.cfg["data_dir"])
                    row = fingerprint_df(df).collect()[0]
                    rec.update(rows=int(row["n"]), fingerprint=fingerprint(row, df.columns))
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                recs.append(rec)
        finally:
            self.spark.sparkContext.setJobGroup("pb|idle", "pb|idle")
            self.spark.conf.unset(conf)
        return {"pass": CANDIDATE_PASS, "requests": recs}

    def check(self, passes: list[dict]) -> None:
        """Verify (untimed, once per input and engine source) each
        request against its oracle, recording the fingerprint of the
        verified output; then mark every timed request ok iff its
        fingerprint equals the recorded one."""
        from check import fingerprint, fingerprint_df, matches_oracle

        recs = [r for p in passes for r in p["requests"]]
        for req in dict.fromkeys(r["name"] for r in recs):
            key = f"{self.cfg['fp_key']}:{req}"
            if self.fps.get(key) is not None:
                continue
            self._phase(req, VERIFY_PASS, "verify")
            df = None
            try:
                # cached: the fingerprint is taken of the very rows the
                # oracle checked, without executing the request twice
                df = self.qs[req](self.spark, self.cfg["data_dir"]).persist()
                if matches_oracle(df.toPandas(), self.oracle[req]):
                    row = fingerprint_df(df).collect()[0]
                    self.fps.put(key, fingerprint(row, df.columns))
            except Exception:  # noqa: BLE001 - unverified: its requests fail
                traceback.print_exc()
            finally:
                if df is not None:
                    df.unpersist(blocking=True)
                self.spark.sparkContext.setJobGroup("pb|idle", "pb|idle")
        for r in recs:
            want = self.fps.get(f"{self.cfg['fp_key']}:{r['name']}")
            r["ok"] = "error" not in r and want is not None and r["fingerprint"] == want


def graft_knobs(spark) -> dict:
    return {
        k: spark.conf.get(k, d)
        for k, d in (
            ("spark.graft.geom.kernel", "arrow"),
            ("spark.graft.checkpoint", "local"),
        )
    }


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    trace = bool(cfg["trace"])
    spans = Spans()
    spark = start_session(cfg, trace, spans)
    print("READY", flush=True)

    result: dict = {"knobs": graft_knobs(spark), "versions": versions(spark)}
    runner = Runner(spark, cfg, spans)
    undo = install_layer_spans(spans) if trace else []
    result["passes"] = runner.passes(0, 2)  # pass 0 is the cold warm-up
    if trace and cfg["probe_requests"]:
        # requests of layers this workload does not load, one cold pass
        result["probe"] = runner.one_pass(PROBE_PASS, cfg["probe_requests"])
    for mod, attr, orig in undo:
        setattr(mod, attr, orig)
    if trace and cfg["candidate_requests"]:
        result["candidates"] = runner.candidates(cfg["candidate_requests"])
    runner.check(
        result["passes"]
        + [result[k] for k in ("probe", "candidates") if k in result]
    )
    if trace:
        result["app_id"] = spark.sparkContext.applicationId
        result["spans"] = spans.items
        spark.stop()
        # the same passes without tracing, in a fresh session of this
        # process, price the tracing itself
        spark = start_session(cfg, False, Spans())
        runner.spark = spark
        result["untraced_passes"] = runner.passes(UNTRACED_PASS, 1)
        runner.check(result["untraced_passes"])
    with open(cfg["result_file"], "w") as fh:
        json.dump(result, fh)
    print("DONE", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
