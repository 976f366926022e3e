"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 24 --trace 0

Workloads (closed loop, one client; perfbench/README.md says why each
was chosen and what each metric should move):

- ``firebase_roundtrip``: export (``do_backup``), a seeded ~1 % mutation
  then ``incremental_backup`` on a fresh ``extract``, then wipe and
  ``writeback(restore_to_version(full, [delta]))`` — all through the
  production REST client ``HttpFirebase`` against a stub server process
  (perfbench/stub_firebase.py) serving a seeded tree.
- ``query_mix``: one call per query layer — ``tpch_q4_order_priority``
  (``relational``), ``tpch_q13_order_distribution`` (``tpch``) and
  production LLM-data operators (``dedup``, ``similarity``, ``text``,
  ``multimodal``) — each written to the noop sink.

A run builds its inputs from ``--seed`` under the checkout's
``.perfbench_work/`` directory (removed at exit), starts the engine
session, makes one warm pass that also checks every output and one
plain pass, then repeats timed passes for ``--seconds``.  The last
stdout line is the result object; with ``--trace 1`` its metrics are
the per-layer numbers of a traced run (Spark UI on, one job group per
call).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from functools import partial

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "firebase_realtime_database_backup_spark"

NPROC = len(os.sched_getaffinity(0))

#: Source tree sizes (the corpus sizes are in gen_data.py).
USERS = 10000         # firebase_roundtrip source tree
CANARY_USERS = 200    # the roundtrip of a traced query_mix run
MUTATE_FRAC = 0.01

#: One call per query layer: relational and tpch (Catalyst/JVM work, no
#: Python UDFs) and the production LLM-data operators (Arrow/pandas UDFs,
#: Python workers, memo caches, the persisted ``ivfpq_index`` scratch table).
#: pricing_summary (Q1) and tpch_q5_local_volume are left out: their
#: oracles compare ROUND(SUM(double)) of 4-decimal products, whose last
#: bit depends on summation order, so their checks fail on some seeds.
QUERY_MIX_OPS = [
    "tpch_q4_order_priority",
    "tpch_q13_order_distribution",
    "dedup_minhash_xxhash",
    "sim_ivfpq_persisted",
    "text_gopher_rules",
    "multimodal_media_features",
]
#: In a traced run, a query layer the workload does not call is measured
#: on one call of this query, so every per-layer metric is reported.
LAYER_CANARY = {
    "relational": "tpch_q4_order_priority",
    "tpch": "tpch_q13_order_distribution",
    "dedup": "dedup_content_hash",
    "similarity": "sim_knn_label_vote_arrow",
    "text": "text_gopher_rules",
    "multimodal": "multimodal_media_features",
}
ROUNDTRIP_LAYERS = ("firebase", "snapshot", "incremental", "writeback")
WORKLOAD_OPS = {"firebase_roundtrip": [], "query_mix": QUERY_MIX_OPS}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def run_child(script: str, *args: str) -> str:
    """Run one of the benchmark's scripts in a child process (so its
    memory never counts in the driver's peak RSS); returns its last
    stdout line."""
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, script), *args],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return res.stdout.strip().splitlines()[-1]


def load_expected_rows() -> dict:
    """Recorded row counts of the rows-only queries; empty (so every
    rows-only check fails) if they were recorded for another corpus."""
    from gen_data import DOCS, LLM_CORPUS_SEED, VECS

    with open(os.path.join(HERE, "expected_rows.json")) as fh:
        rows = json.load(fh)
    corpus = rows.pop("_corpus")
    if corpus != {"docs": DOCS, "vecs": VECS, "llm_corpus_seed": LLM_CORPUS_SEED}:
        return {}
    return rows


class RecordedOracles:
    """Stands in for the DuckDB connection in ``verify.compare_query``:
    ``execute(sql).fetchdf()`` returns the oracle frame that
    perfbench/oracles.py computed for that SQL in its own process."""

    def __init__(self, frames: dict[str, str]) -> None:
        self.frames = frames  # oracle SQL -> pickled result frame
        self.sql = ""

    def execute(self, sql: str) -> "RecordedOracles":
        self.sql = sql
        return self

    def fetchdf(self):
        import pandas as pd

        return pd.read_pickle(self.frames[self.sql])


def clear_scratch(corpus_dir: str) -> None:
    """Delete the published scratch tables built from the benchmark's
    corpus, so every run pays its own one-time builds.  Scratch keys
    hash the corpus files, not the code, so a changed builder would
    otherwise be timed against a table the parent built."""
    root = os.path.join(ROOT, ".scratch")
    if not os.path.isdir(root):
        return
    tag = f"_{os.path.basename(corpus_dir)}_"
    for name in os.listdir(root):
        if tag in name:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


class Stub:
    """The stub Firebase server process and its control calls."""

    def __init__(self, seed: int, users: int) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub_firebase.py"),
             "--seed", str(seed), "--users", str(users)],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            hello = json.loads(self.proc.stdout.readline())
        except ValueError:
            self.stop()
            raise
        self.url = f"http://127.0.0.1:{hello['port']}"
        self.source_mb = hello["source_bytes"] / 1e6

    def control(self, cmd: str, **params) -> dict:
        qs = "&".join(f"{k}={v}" for k, v in params.items())
        req = urllib.request.Request(
            f"{self.url}/__control/{cmd}" + (f"?{qs}" if qs else ""),
            data=b"", method="POST",
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.control("shutdown")
                self.proc.wait(timeout=10)
            except Exception:  # noqa: BLE001 — fall back to a hard stop
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# engine session
# ---------------------------------------------------------------------------

def pin_environment(work: str, trace: bool) -> None:
    """Load and placement knobs, set before pyspark starts the JVM."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM: no hsperfdata or temp files outside work
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    # executors import the engine for pandas UDFs and writeback tasks
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_CONF_JSON", None)


def start_session(work: str):
    from firebase_realtime_database_backup_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=10)


def layer_of(fn) -> str:
    """A query's layer is the engine module that defines it."""
    return fn.__module__.rsplit(".", 1)[-1]


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.wl = args.workload
        self.work = work
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {"seed": args.seed, "nproc": NPROC}
        self.metrics: dict[str, float] = {}   # end-to-end
        self.layer: dict[str, float] = {}     # per-layer (traced run)
        self.spark = None
        self.tracer = None
        self.pending_layers = None
        self.stub: Stub | None = None
        self.sf = None
        self.reg = None
        self.ops: list[tuple[str, object]] = []
        self.oracle_frames: dict[str, str] = {}

    # -- bookkeeping ----------------------------------------------------
    def op_done(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}"[:300])
            log(f"FAILED {name}: {why}"[:300])

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    # -- firebase roundtrip ---------------------------------------------
    def roundtrip(self, stub: Stub, rt_seed: int, check_only: bool = False) -> dict:
        """Export, mutate + delta backup, wipe + restore; returns the wall
        time of each step, or {} if a step raised (counted as a failed
        op).  Outputs are verified in every roundtrip."""
        try:
            return self._roundtrip(stub, rt_seed, check_only)
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            self.op_done("roundtrip", False, repr(exc))
            return {}

    def _roundtrip(self, stub: Stub, rt_seed: int, check_only: bool) -> dict:
        from firebase_realtime_database_backup_spark import api
        from firebase_realtime_database_backup_spark.sinks import incremental
        from firebase_realtime_database_backup_spark.sinks.writeback import writeback
        from firebase_realtime_database_backup_spark.sources.firebase import extract
        from firebase_realtime_database_backup_spark.sources.http_client import (
            HttpFirebase,
        )

        tr = self.tracer
        spark = self.spark
        full = os.path.join(self.work, "backup", "full")
        delta = os.path.join(self.work, "backup", "delta")
        client = HttpFirebase(stub.url)
        steps: dict[str, float] = {}
        stub.control("reset")

        # 1. export
        stub.control("stats", reset=1)
        t0 = time.perf_counter()
        with tr.span("do_backup", op="export"):
            api.do_backup(spark, client, full, parallelism=NPROC)
        steps["export"] = time.perf_counter() - t0
        export_stats = stub.control("stats", reset=1)
        self.op_done("export", True)  # verified by the restore below

        # 2. seeded mutation, fresh extract, delta backup
        expected = stub.control("mutate", seed=rt_seed, frac=MUTATE_FRAC)
        stub.control("stats", reset=1)
        t0 = time.perf_counter()
        with tr.span("extract", layer="firebase", op="delta"):
            cur = extract(spark, client, parallelism=NPROC)
        with tr.span("incremental_backup", layer="incremental", op="delta"):
            got = incremental.incremental_backup(spark, cur, full, delta)
        steps["delta"] = time.perf_counter() - t0
        delta_stats = stub.control("stats", reset=1)
        self.op_done("delta_backup", got == expected,
                     f"delta counts {got} != seeded mutation {expected}")

        # 3. wipe the target, restore full + delta through writeback
        stub.control("wipe")
        t0 = time.perf_counter()
        with tr.span("restore_to_version", layer="incremental", op="restore"):
            tree = incremental.restore_to_version(spark, full, [delta])
        with tr.span("writeback", layer="writeback", op="restore"):
            writeback(tree, partial(HttpFirebase, stub.url))
        steps["restore"] = time.perf_counter() - t0
        write_stats = stub.control("stats", reset=1)
        verdict = stub.control("verify")
        self.op_done("restore", verdict["equal"],
                     f"restored tree differs from the mutated source: {verdict}")

        if tr.enabled and not check_only:
            # attributed after the pass, so the REST harvest is not timed
            self.pending_layers = (stub, full, export_stats, delta_stats,
                                   write_stats, got)
        return steps

    def flush_roundtrip_layers(self) -> None:
        if self.pending_layers is not None:
            self._roundtrip_layers(*self.pending_layers)
            self.pending_layers = None

    def _roundtrip_layers(self, stub, full, export_stats, delta_stats,
                          write_stats, delta_counts) -> None:
        tr = self.tracer
        tr.harvest()
        last = {sp.name: sp for sp in tr.spans}  # this roundtrip's spans
        ex1, ex2 = last["extract(do_backup)"], last["extract"]
        snap, inc, wb = last["write_snapshot"], last["incremental_backup"], last["writeback"]
        self.add("firebase.extract_s", (ex1.end - ex1.start) + (ex2.end - ex2.start))
        for st in (export_stats, delta_stats):
            self.add("firebase.page_requests", st["page_requests"])
            self.add("firebase.shallow_requests", st["shallow_requests"])
            self.add("firebase.served_mb", st["served_bytes"] / 1e6)
            self.add("firebase.server_busy_s", st["busy_s"])
            self.add("_pages_served", st["page_requests"] - st["page_refusals"])
        self.add("firebase.materialize_s",
                 max(0.0, ex1.end - export_stats["last_page_at"])
                 + max(0.0, ex2.end - delta_stats["last_page_at"]))
        self.add("snapshot.write_s", snap.end - snap.start)
        self.add("snapshot.spark_jobs", tr.span_stats(snap)["jobs"])
        self.add("snapshot.files", sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(os.path.join(full, "tree")) for f in fs
        ))
        disk_mb = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(full) for f in fs
        ) / 1e6
        self.add("snapshot.disk_mb_per_source_mb", disk_mb / stub.source_mb)
        self.add("incremental.backup_s", inc.end - inc.start)
        self.add("incremental.spark_jobs", tr.span_stats(inc)["jobs"])
        self.add("incremental.delta_rows", sum(delta_counts.values()))
        self.add("writeback.write_s", wb.end - wb.start)
        self.add("writeback.patch_requests", write_stats["patch_requests"])
        self.add("_patch_ok", write_stats["patch_requests"] - write_stats["patch_refusals"])
        self.add("writeback.sent_mb", write_stats["patch_bytes"] / 1e6)
        self.add("writeback.spark_tasks", tr.span_stats(wb)["tasks"])
        self.add("_roundtrips", 1)

    # -- queries -----------------------------------------------------------
    def run_query(self, name: str, fn) -> float:
        """One timed op: build the DataFrame, write it to the noop sink."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(name, layer=layer_of(fn), op=name) as sp:
            with tr.span("build"):
                df = fn(self.spark, self.sf)
            t1 = time.perf_counter()
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        if sp is not None:
            sp.counters.update(build_s=t1 - t0, exec_s=t2 - t1)
        return t2 - t0

    def query_pass(self, by_op: dict[str, list[float]]) -> None:
        """One pass over the workload's queries; appends each call's
        latency to ``by_op``."""
        for name, fn in self.ops:
            try:
                by_op.setdefault(name, []).append(self.run_query(name, fn))
                self.attempted += 1
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                self.op_done(name, False, repr(exc))

    def check_query(self, name: str, fn, con, expected_rows: dict) -> float:
        """Untimed check of one query, which is also its warm-up call.
        Returns the engine-side seconds (query build + result fetch); the
        DuckDB oracle and the comparison are excluded."""
        from firebase_realtime_database_backup_spark import verify

        engine_s = 0.0

        def timed_fn(spark, sf_dir):
            nonlocal engine_s
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            engine_s += time.perf_counter() - t0
            fetch = df.toPandas

            def timed_fetch():
                nonlocal engine_s
                t1 = time.perf_counter()
                try:
                    return fetch()
                finally:
                    engine_s += time.perf_counter() - t1

            df.toPandas = timed_fetch
            return df

        oracle = self.reg.oracles.get(name)
        try:
            if oracle is not None:
                res = verify.compare_query(self.spark, con, name, timed_fn, oracle, self.sf)
                self.op_done(name, res.ok, "; ".join(res.details))
            else:
                n = len(timed_fn(self.spark, self.sf).toPandas())
                want = expected_rows.get(name)
                self.op_done(name, n == want, f"{n} rows, recorded {want}")
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            self.op_done(name, False, repr(exc))
        return engine_s

    def query_layers(self, passes: list[list]) -> None:
        """Per-layer sums over the given passes' top-level query spans,
        divided by the number of passes."""
        tr = self.tracer
        tr.harvest()
        n = len(passes)
        for spans in passes:
            for sp in spans:
                st = tr.span_stats(sp)
                for key, value in (
                    ("build_s", sp.counters["build_s"]),
                    ("exec_s", sp.counters["exec_s"]),
                    ("spark_jobs", st["jobs"]),
                    ("spark_tasks", st["tasks"]),
                    ("driver_only_s", st["driver_only_s"]),
                    ("executor_cpu_s", st["cpu_s"]),
                    ("gc_s", st["gc_s"]),
                    ("shuffle_write_mb", st["shuffle_write_mb"]),
                ):
                    self.add(f"{sp.layer}.{key}", value / n)

    # -- phases ------------------------------------------------------------
    def execute(self) -> None:
        try:
            self.make_inputs()
            self.set_up()
            self.timed_passes()
            if self.trace:
                self.finish_trace()
        finally:
            if self.stub is not None:
                self.stub.stop()

    def make_inputs(self) -> None:
        """Everything here is excluded from every metric."""
        from gen_data import SF

        if WORKLOAD_OPS[self.wl] or self.trace:
            t0 = time.perf_counter()
            self.sf = os.path.join(self.work, "perfbench_corpus")
            gen = json.loads(run_child("gen_data.py", "--out", self.sf,
                                       "--seed", str(self.args.seed)))
            self.info.update(sf=SF, corpus_rows=gen["rows"],
                             corpus_mb=round(gen["bytes"] / 1e6, 3),
                             gen_s=round(time.perf_counter() - t0, 3))
            clear_scratch(self.sf)
        if WORKLOAD_OPS[self.wl]:
            t0 = time.perf_counter()
            frames = os.path.join(self.work, "oracle_frames")
            names = json.loads(run_child("oracles.py", "--corpus", self.sf,
                                         "--out", frames, *WORKLOAD_OPS[self.wl]))
            self.oracle_frames = {n: os.path.join(frames, f"{n}.pkl") for n in names}
            self.info["oracle_s"] = round(time.perf_counter() - t0, 3)
        if self.wl == "firebase_roundtrip":
            self.stub = Stub(self.args.seed, USERS)
            self.info.update(users=USERS, source_mb=round(self.stub.source_mb, 3))
        elif self.trace:
            self.stub = Stub(self.args.seed, CANARY_USERS)
            self.info["canary_source_mb"] = round(self.stub.source_mb, 3)

    def set_up(self) -> None:
        """setup_s: session start + the warm pass (which is also the check
        pass) + the one-time builds it triggers + one plain pass, so the
        first timed pass is no longer warming up.  On query_mix the plain
        pass writes to the noop sink, which the checks (``toPandas``) do
        not."""
        from firebase_realtime_database_backup_spark import scratch
        from spans import Tracer  # perfbench/spans.py

        self.scratch0 = (len(scratch.SCRATCH_HITS), len(scratch.SCRATCH_BUILDS))
        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        session_s = time.perf_counter() - t0
        self.layer["session.start_s"] = session_s
        self.tracer = Tracer(self.spark, self.wl, enabled=self.trace)
        if self.trace:
            from firebase_realtime_database_backup_spark import api

            self.tracer.wrap(api, "extract", "extract(do_backup)", "firebase")
            self.tracer.wrap(api, "write_snapshot", "write_snapshot", "snapshot")
        if self.sf is not None:
            from firebase_realtime_database_backup_spark.registry import build_registry

            self.reg = build_registry()
            self.ops = [(n, self.reg.queries[n]) for n in WORKLOAD_OPS[self.wl]]

        if self.wl == "firebase_roundtrip":
            warm = self.roundtrip(self.stub, self.args.seed, check_only=True)
            plain_rt = self.roundtrip(self.stub, self.args.seed + 99, check_only=True)
            warm.update({f"plain.{k}": v for k, v in plain_rt.items()})
        else:
            con = RecordedOracles({self.reg.oracles[n]: path
                                   for n, path in self.oracle_frames.items()})
            expected_rows = load_expected_rows()
            warm = {name: self.check_query(name, fn, con, expected_rows)
                    for name, fn in self.ops}
            plain: dict[str, list[float]] = {}
            self.query_pass(plain)
            warm.update({f"plain.{k}": v[0] for k, v in plain.items()})
        self.metrics["setup_s"] = session_s + sum(warm.values())
        self.info["session_s"] = round(session_s, 3)
        self.info["warm_s"] = {k: round(v, 3) for k, v in warm.items()}
        self.info["setup_scratch"] = {
            "hits": len(scratch.SCRATCH_HITS) - self.scratch0[0],
            "builds": len(scratch.SCRATCH_BUILDS) - self.scratch0[1],
        }

    def timed_passes(self) -> None:
        """Closed loop until --seconds have passed; the pass in progress
        is finished, so at least one pass is measured."""
        from firebase_realtime_database_backup_spark import memo, scratch

        tr = self.tracer
        by_op: dict[str, list[float]] = {}
        self.pass_walls: list[float] = []    # traced passes in a traced run
        self.plain_walls: list[float] = []   # untraced passes in a traced run
        self.traced_passes: list[list] = []
        scratch_deltas = []
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while (not self.pass_walls or (self.trace and not self.plain_walls)
               or time.perf_counter() < deadline):
            # the traced run interleaves traced and untraced passes (ABBA,
            # so neither side gets all the early, less warm passes) to
            # measure the tracing overhead inside one session
            traced_now = self.trace and i % 4 in (0, 3)
            tr.enabled = traced_now
            h0, b0 = len(scratch.SCRATCH_HITS), len(scratch.SCRATCH_BUILDS)
            n_spans = len(tr.spans)
            t0 = time.perf_counter()
            if self.wl == "firebase_roundtrip":
                steps = self.roundtrip(self.stub, self.args.seed + 1 + i)
                for k, v in steps.items():  # {} if the roundtrip failed
                    by_op.setdefault(k, []).append(v)
            else:
                self.query_pass(by_op)
            wall = time.perf_counter() - t0
            self.flush_roundtrip_layers()
            (self.pass_walls if traced_now or not self.trace else self.plain_walls).append(wall)
            if traced_now and self.ops:
                self.traced_passes.append(
                    [sp for sp in tr.spans[n_spans:] if sp.parent is None])
            scratch_deltas.append([len(scratch.SCRATCH_HITS) - h0,
                                   len(scratch.SCRATCH_BUILDS) - b0])
            i += 1
        tr.enabled = self.trace

        # a call's typical latency: its median over the timed passes
        self.op_med = {k: median(v) for k, v in by_op.items()}
        self.memo_entries = sum(len(d) for d in memo._REGISTERED)
        self.info.update(
            passes=i,
            pass_walls=[round(x, 3) for x in self.pass_walls + self.plain_walls],
            op_s={k: [round(x, 3) for x in v] for k, v in by_op.items()},
            op_samples=sum(len(v) for v in by_op.values()),
            pass_scratch_deltas=scratch_deltas,
            memo_entries=self.memo_entries,
        )
        expected_ops = [n for n, _ in self.ops] or ["export", "delta", "restore"]
        if sorted(self.op_med) == sorted(expected_ops):
            meds = list(self.op_med.values())
            self.metrics.update(pass_s=sum(meds), op_p50_s=median(meds),
                                op_tail_s=max(meds))
            if self.wl == "firebase_roundtrip":
                # the roundtrip's steps as rates; their medians are already
                # gated through pass_s, op_p50_s and op_tail_s
                source_mb = self.stub.source_mb
                self.info.update(
                    export_mb_per_s=round(source_mb / self.op_med["export"], 4),
                    delta_backup_s=round(self.op_med["delta"], 4),
                    restore_mb_per_s=round(source_mb / self.op_med["restore"], 4),
                )

    def finish_trace(self) -> None:
        from firebase_realtime_database_backup_spark import scratch

        tr, L = self.tracer, self.layer
        if self.traced_passes:
            self.query_layers(self.traced_passes)
        canary_spans = []
        for layer, name in LAYER_CANARY.items():
            if f"{layer}.build_s" not in L:
                n0 = len(tr.spans)
                self.run_query(name, self.reg.queries[name])
                self.attempted += 1
                canary_spans += [sp for sp in tr.spans[n0:] if sp.parent is None]
        if canary_spans:
            self.query_layers([canary_spans])
        if "_roundtrips" not in L:
            # query_mix: one small roundtrip, warmed first, measures the
            # roundtrip layers; both are verified like any roundtrip
            self.roundtrip(self.stub, self.args.seed + 99, check_only=True)
            self.roundtrip(self.stub, self.args.seed + 100)
            self.flush_roundtrip_layers()

        rts = L.pop("_roundtrips", 0) or 1
        served, patch_ok = L.pop("_pages_served", 0), L.pop("_patch_ok", 0)
        for k in list(L):
            if k.split(".")[0] in ROUNDTRIP_LAYERS:
                L[k] /= rts
        pages = L.get("firebase.page_requests", 0)
        L["firebase.page_yield"] = served / rts / pages if pages else 0.0
        patches = L.get("writeback.patch_requests", 0)
        L["writeback.patch_yield"] = patch_ok / rts / patches if patches else 0.0
        L["memo.cached_relations"] = self.memo_entries
        L["scratch.hits"] = len(scratch.SCRATCH_HITS) - self.scratch0[0]
        L["scratch.builds"] = len(scratch.SCRATCH_BUILDS) - self.scratch0[1]
        L["trace.pass_s"] = median(self.pass_walls)
        L["trace.overhead_s"] = median(self.pass_walls) - median(self.plain_walls)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tr.dump(os.path.join(out, f"spans-{self.wl}-{self.args.seed}.jsonl"))
        tr.unwrap_all()

    def result(self, t_start: float) -> dict:
        """The result object, with every metric BENCHMARK.json names."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            wanted = json.load(fh)["per_layer" if self.trace else "end_to_end"]
        measured = dict(self.layer if self.trace else self.metrics)
        if not self.trace:
            measured["driver_peak_rss_mb"] = (
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)
        for m in wanted:
            if m["name"] not in measured and m["name"] != "ops_ok_frac":
                self.op_done(f"metric {m['name']}", False, "not measured")
        if not self.trace:
            # the complement of the failed fraction: an end-to-end metric
            # must never read 0
            measured["ops_ok_frac"] = (self.attempted - self.failed) / max(1, self.attempted)
        self.info["ops_failed_frac"] = self.failed / max(1, self.attempted)
        self.info["wall_s"] = round(time.perf_counter() - t_start, 2)
        if self.failures:
            self.info["failures"] = self.failures[:20]
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                for m in wanted
            },
        }


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"engine package {PKG}/ not found next to perfbench/; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    pin_environment(work, bool(args.trace))
    run = Run(args, work)
    t_start = time.perf_counter()
    try:
        run.execute()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if run.sf is not None:
            clear_scratch(run.sf)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    result = run.result(t_start)
    print(json.dumps({"info": run.info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
