"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this module as a child process, so the Spark session,
the JVM and the Python workers are new for every run and set-up and cold
cost are real. The engine is driven only from outside: the registry
entry points ``__spark_entry__.queries()[name]``, ``get_spark``,
``load_transcripts``, ``extract_features`` and ``run_resumable``, plus
public Spark and /proc counters.

A run is a closed loop with one client: one op at a time. It makes one
cold pass over the workload's op list, then warm passes: ``WARMUP``
passes while the JIT still compiles, whose times are not reported, then
steady passes until at least ``KEEP`` were made (two in a traced run)
and ``--seconds`` have gone by. Warm metrics are medians over the
steady passes. Every op's output is checked against the digest recorded
in ``expected.json``; a mismatch, an exception, a timeout or a wrong
bucket count fails the op.

The result is written as JSON to ``--out``. With ``--trace 1`` the run
also records spans and per-layer counters and returns the per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from spans import Tracer  # noqa: E402
from z_rad_spark.config import ALL_FAMILIES as FAMILIES  # noqa: E402

# Op lists are cut to what fits the benchmark's time budget (README.md,
# "Sizing"); each keeps one op per operator module it covers.
ASOF_OPS = ["q_stats_asof", "q_asof_enrich", "q_sessionize", "q_backfill_nn"]
CORPUS_OPS = ["q_minhash_pairs", "q_dup_clusters", "q_ivf_topk", "q_corpus_clean",
              "q_mahalanobis"]
# ops of no gated workload, run once cold and once warm in the traced
# `asof` run: operators.texture_sql, dedup, similarity and text
PROBE_OPS = ["q_glcm_salted", *CORPUS_OPS]
# the table whose rows an op is stated to process
SOURCE = {q: "events" for q in ["q_extract_full", "q_glcm_salted", *ASOF_OPS]}
SOURCE.update({q: "documents" for q in ["q_minhash_pairs", "q_dup_clusters", "q_corpus_clean"]})
SOURCE.update({q: "embeddings" for q in ["q_ivf_topk", "q_mahalanobis"]})

WORKLOADS = {
    "extract": ["q_extract_full"],
    "asof": ASOF_OPS,
    "corpus": CORPUS_OPS,
    # not a registry op list: full run, recovery pass, no-op resume, readback
    "resume": ["ckpt.full", "ckpt.recover", "ckpt.noop", "ckpt.verify"],
}
ALL_OPS = ["q_extract_full", *ASOF_OPS, *PROBE_OPS]
# one-off measurements a traced run makes after its passes; each sits on
# the workload whose traced run has room for it within the deadline
PROBES = {"extract": ("kernels", "scaling"),
          "asof": ("transcripts", "checkpoint", "ops"),
          "corpus": (), "resume": ("transcripts",)}
# what each probe of the worker may take on a slow host; one that would
# end past the run's deadline is skipped and noted, and its metrics read 0
PROBE_S = {"transcripts": 10.0, "kernels": 60.0, "checkpoint": 55.0, "ops": 55.0}
# spark.stop() and writing the result, after the last probe
STOP_S = 10.0

N_BUCKETS = 8
N_LOST = 4
OP_TIMEOUT_S = 90.0
# Warm passes keep getting faster while the JIT compiles. These many are
# made but not reported, so the median of the steady passes is within a
# few percent of a long run's (README.md, "Warm-up"). `resume`'s cold
# pass alone runs the extractor twelve times.
WARMUP = {"extract": 3, "asof": 4, "corpus": 1, "resume": 0}
# steady passes an untraced run makes at least; `asof` passes are short,
# so it takes the median of more of them
KEEP = {"extract": 2, "asof": 5, "corpus": 2, "resume": 2}
# a traced run makes two steady passes: the first untraced, the second traced
KEEP_TRACED = 2


END_TO_END = {
    "setup_s": "s", "cold_s": "s", "rows_per_s": "rows/s", "cpu_s": "CPU-s",
    "ok_rate": "fraction",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "entry.build_s": "s", "entry.build_cold_s": "s", "entry.py4j_calls": "count",
    "entry.py4j_calls_warm": "count", "entry.build_jobs": "count",
    "plan.optimize_s": "s", "plan.optimize_cold_s": "s",
    "plan.codegen_compiles_cold": "count", "plan.codegen_compiles_warm": "count",
    "exec.collect_s": "s", "exec.tasks": "count", "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.scan_rows": "count",
    "transcripts.load_s": "s", "transcripts.scan_s": "s",
    "extractor.floor_s": "s", "extractor.floor_python_cpu_s": "CPU-s",
    "python.bytes_sent": "bytes", "python.rows_received": "count",
    **{f"kernels.{f}_cpu_s": "CPU-s" for f in FAMILIES},
    "driver.cpu_s": "CPU-s", "jvm.cpu_s": "CPU-s", "python.cpu_s": "CPU-s",
    "mem.peak_rss_mb": "MB",
    **{f"op.{q}.{k}_s": "s" for q in ALL_OPS for k in ("cold", "warm")},
    "checkpoint.full_s": "s", "checkpoint.recover_s": "s", "checkpoint.noop_s": "s",
    "checkpoint.snapshot_id_s": "s", "checkpoint.build_df_s": "s",
    "checkpoint.bytes_written": "bytes", "checkpoint.buckets_full": "count",
    "checkpoint.buckets_recover": "count", "checkpoint.buckets_noop": "count",
    "extract.rows_per_s_untraced": "rows/s", "extract.rows_per_s_local1": "rows/s",
    "extract.scaling_eff": "ratio",
    "trace.overhead_frac": "fraction", "trace.op_uncovered_frac_max": "fraction",
}


class OpFailed(Exception):
    pass


def digest(df):
    """bench.py's unprunable action: row count + XOR of per-row xxhash64
    over every hashable column, and count(col) for map columns."""
    from pyspark.sql import functions as F

    hashable = [c for c, dt in df.dtypes if not dt.startswith("map")]
    maps = [c for c in df.columns if c not in hashable]
    aggs = [F.count(F.lit(1)).alias("n")]
    if hashable:
        aggs.append(F.expr("bit_xor(xxhash64(struct("
                           + ", ".join(f"`{c}`" for c in hashable) + ")))").alias("h"))
    aggs += [F.count(df[c]).alias(f"m{i}") for i, c in enumerate(maps)]
    return df.agg(*aggs)


def normalize_extract(out):
    """The exact normalization q_extract_full applies to extract_features
    output: epoch-us key, BIGINT counts, NaN -> NULL, 6dp rounding."""
    feat_cols = [c for c in out.columns
                 if c not in ("conv_id", "as_of", "n_turns", "n_eligible", "n_bins")]
    return out.selectExpr(
        "conv_id",
        "CAST(unix_micros(CAST(as_of AS TIMESTAMP)) AS BIGINT) AS as_of_us",
        "CAST(n_turns AS BIGINT) AS n_turns",
        "CAST(n_eligible AS BIGINT) AS n_eligible",
        "CAST(n_bins AS BIGINT) AS n_bins",
        *[f"round(nanvl(CAST(`{c}` AS DOUBLE), CAST(NULL AS DOUBLE)), 6)"
          f" + CAST(0.0 AS DOUBLE) AS `{c}`" for c in feat_cols],
    )


def table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


class Py4jCounter:
    """Counts py4j round trips while ``active`` by wrapping the gateway
    client's ``send_command`` in this process."""

    def __init__(self, spark):
        self.calls = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command


class Run:
    def __init__(self, args, spark):
        import bench
        import __spark_entry__ as entry
        from z_rad_spark.config import FeatureConfig

        self.args = args
        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = args.sf_dir
        self.cutoffs = list(bench.CUTOFFS)
        self.flagship = FeatureConfig(eligible_roles=("user", "assistant", "tool"),
                                      gap_seconds=entry.GAP_SECONDS)
        self.queries = entry.queries()
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)[args.scale]
        if args.poison_expected:
            self.expected = {k: [v[0], v[1] ^ 1, *v[2:]] for k, v in self.expected.items()}
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(False)
        self.py4j = Py4jCounter(spark) if args.trace else None
        self.codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.root_pid = os.getpid()
        self.attempted = 0
        self.failures: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.passes: list[dict] = []
        self.layer: dict[str, float] = {}
        self.pass_layer: dict[str, float] = {}
        self.group = 0

    # -- one op ------------------------------------------------------------

    def _guarded(self, label: str, fn):
        """Run ``fn`` with a job-group timeout; record failure, never raise."""
        self.group += 1
        gid = f"perfbench-{self.group}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=True)
        timed_out = threading.Event()

        def cancel():
            timed_out.set()
            self.sc.cancelJobGroup(gid)
            self.sc.cancelJobGroup(gid + "x")  # the digest action of a traced op

        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        timer.daemon = True
        timer.start()
        self.attempted += 1
        try:
            fn(gid)
            if timed_out.is_set():
                raise OpFailed(f"timeout after {OP_TIMEOUT_S:.0f} s")
        except Exception as ex:  # an op must fail alone, never the run
            reason = "timeout" if timed_out.is_set() else f"{type(ex).__name__}: {ex}"
            self.failures.append(f"{label}: {reason.splitlines()[0][:300]}")
        finally:
            timer.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def run_query(self, name: str, op_id: str):
        tr = self.tracer

        def body(gid):
            with tr.span("entry.build", op_id):
                if self.py4j:
                    self.py4j.active = True
                try:
                    df = self.queries[name](self.spark, self.sf_dir)
                finally:
                    if self.py4j:
                        self.py4j.active = False
            if tr.enabled:
                self.layer_add("entry.build_jobs", len(self._jobs(gid)))
                self.sc.setJobGroup(gid + "x", name, interruptOnCancel=True)
            with tr.span("plan.optimize", op_id):
                agg = digest(df)
                agg._jdf.queryExecution().executedPlan()
            with tr.span("exec.collect", op_id):
                row = tuple(agg.collect()[0])
            if tr.enabled:
                self.exec_counters(gid + "x", agg if name == "q_extract_full" else None)
            want = tuple(self.expected[name])
            if row != want:
                raise OpFailed(f"digest {list(row)} != expected {list(want)}")

        return body

    # -- counters ----------------------------------------------------------

    def layer_add(self, key: str, value: float) -> None:
        self.pass_layer[key] = self.pass_layer.get(key, 0.0) + value

    def _jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def exec_counters(self, gid: str, agg) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for job in self._jobs(gid):
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped: never ran, no data
                    continue
                self.layer_add("exec.tasks", st.numTasks())
                self.layer_add("exec.shuffle_bytes", st.shuffleWriteBytes())
                self.layer_add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
                self.layer_add("exec.scan_rows", st.inputRecords())
        if agg is not None:
            for node in self._plan_nodes(agg._jdf.queryExecution().executedPlan()):
                if node.nodeName() == "FlatMapGroupsInPandas":
                    m = node.metrics()
                    self.layer_add("python.bytes_sent", m.apply("pythonDataSent").value())
                    self.layer_add("python.rows_received", m.apply("pythonNumRowsReceived").value())

    @staticmethod
    def _plan_nodes(plan):
        stack, out = [plan], []
        while stack:
            node = stack.pop()
            out.append(node)
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
        return out

    # -- checkpoint ops (resume workload and the traced checkpoint probe) ----

    def checkpoint_pass(self, workdir: str, op_ids: dict[str, str]) -> dict[str, float]:
        """Full run, loss of seeded buckets, recovery, no-op resume and
        readback check; returns each step's seconds."""
        from z_rad_spark.checkpoint import bucket_filter, input_snapshot_id, run_resumable
        from z_rad_spark.extractor import extract_features
        from z_rad_spark.transcripts import load_transcripts

        tr = self.tracer
        out_dir = os.path.join(workdir, f"ckpt-{len(self.passes)}")
        lost = sorted(self.rng.sample(range(N_BUCKETS), N_LOST))
        t0 = time.perf_counter()
        snap = input_snapshot_id(self.sf_dir)
        self.layer_add("checkpoint.snapshot_id_s", time.perf_counter() - t0)
        built = []

        def build_df(b, n):
            with tr.span("checkpoint.build_df"):
                t = time.perf_counter()
                src = load_transcripts(self.spark, self.sf_dir, token_signal=True)
                df = extract_features(src.filter(bucket_filter(b, n)), self.flagship, self.cutoffs)
                built.append(time.perf_counter() - t)
                return df

        def resumable(name: str, want: int):
            def body(gid):
                with tr.span(f"checkpoint.{name}", op_ids[name]):
                    res = run_resumable(self.spark, build_df, out_dir, snap, N_BUCKETS)
                self.layer_add(f"checkpoint.buckets_{name}", res["computed"])
                if res["computed"] != want:
                    raise OpFailed(f"{name}: {res['computed']} buckets computed, want {want}")
            return body

        def lose_buckets():
            # a failed full run may have left some of these missing; the
            # recovery pass then fails on its bucket count, not here
            for b in lost:
                shutil.rmtree(os.path.join(out_dir, f"bucket={b}"), ignore_errors=True)
                manifest = os.path.join(out_dir, "_lineage", f"bucket-{b:05d}.json")
                if os.path.exists(manifest):
                    os.remove(manifest)

        def verify(gid):
            with tr.span("checkpoint.verify", op_ids["verify"]):
                back = self.spark.read.parquet(out_dir).drop("bucket")
                row = tuple(digest(normalize_extract(back)).collect()[0])
            want = tuple(self.expected["q_extract_full"])
            if row != want:
                raise OpFailed(f"readback digest {list(row)} != q_extract_full {list(want)}")

        steps = [("full", resumable("full", N_BUCKETS)), ("lose", None),
                 ("recover", resumable("recover", N_LOST)), ("noop", resumable("noop", 0)),
                 ("verify", verify)]
        step_s = {}
        for name, body in steps:
            if body is None:
                lose_buckets()
                continue
            t = time.perf_counter()
            self._guarded(f"ckpt.{name}", body)
            step_s[f"ckpt.{name}"] = time.perf_counter() - t
        self.layer_add("checkpoint.build_df_s", statistics.median(built) if built else 0.0)
        self.layer_add("checkpoint.bytes_written", _tree_bytes(out_dir))
        shutil.rmtree(out_dir, ignore_errors=True)
        return step_s

    # -- passes ------------------------------------------------------------

    def one_pass(self, kind: str, traced: bool, steady: bool = False,
                 ops: list[str] | None = None) -> None:
        """One pass over ``ops`` (default: the workload's op list), in
        seeded order. Passes given ``ops`` are probes: they are left out
        of the workload's pass metrics."""
        self.tracer.enabled = traced
        self.pass_layer = {}
        probe = ops is not None
        ops = list(ops or WORKLOADS[self.args.workload])
        self.rng.shuffle(ops)
        label = f"pass.{'probe.' if probe else ''}{kind}{len(self.passes)}"
        cpu0 = procfs.cpu_split(self.root_pid)
        codegen0 = self.codegen.METRIC_COMPILATION_TIME().getCount()
        py4j0 = self.py4j.calls if self.py4j else 0
        op_s: dict[str, float] = {}
        t0 = time.perf_counter()
        with self.tracer.span(label, op_id=label):
            if self.args.workload == "resume":
                ids = {n: f"{label}/{n}" for n in ("full", "recover", "noop", "verify")}
                op_s = self.checkpoint_pass(self.args.workdir, ids)
            else:
                for i, name in enumerate(ops):
                    op_id = f"{label}/{i}:{name}"
                    t = time.perf_counter()
                    with self.tracer.span("op", op_id):
                        self._guarded(name, self.run_query(name, op_id))
                    op_s[name] = time.perf_counter() - t
                    if kind == "cold" or steady or probe:
                        self.op_times.setdefault(f"{kind}:{name}", []).append(op_s[name])
        wall = time.perf_counter() - t0
        cpu1 = procfs.cpu_split(self.root_pid)
        rec = {
            "kind": kind, "traced": traced, "steady": steady, "probe": probe,
            "label": label, "wall_s": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "codegen_compiles": self.codegen.METRIC_COMPILATION_TIME().getCount() - codegen0,
            "py4j_calls": (self.py4j.calls - py4j0) if self.py4j else 0,
            "ops": op_s,
            "layer": self.pass_layer,
        }
        self.passes.append(rec)

    def run_passes(self) -> None:
        trace = bool(self.args.trace)
        self.one_pass("cold", traced=trace)
        for _ in range(self.args.warmup):
            self.one_pass("warm", traced=False)
        t0 = time.perf_counter()
        steady = 0
        # traced runs alternate untraced and traced steady passes, so the
        # tracing overhead is measured in the same session
        while steady < self.args.keep or time.perf_counter() - t0 < self.args.seconds:
            self.one_pass("warm", traced=trace and steady % 2 == 1, steady=True)
            steady += 1

    # -- metrics -----------------------------------------------------------

    def stated_rows(self) -> int:
        if self.args.workload == "resume":
            return table_rows(self.sf_dir, "events") * (N_BUCKETS + N_LOST) // N_BUCKETS
        return sum(table_rows(self.sf_dir, SOURCE[q]) for q in WORKLOADS[self.args.workload])

    def steady(self, traced: bool | None = None) -> list[dict]:
        """The workload's warm passes after the warm-up."""
        return [p for p in self.passes
                if p["steady"] and (traced is None or p["traced"] == traced)]

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        warm = self.steady()
        return {
            "setup_s": setup_s,
            "cold_s": self.passes[0]["wall_s"],
            "rows_per_s": self.stated_rows() / statistics.median(p["wall_s"] for p in warm),
            "cpu_s": statistics.median(sum(p["cpu"].values()) for p in warm),
            "ok_rate": 1.0 - len(self.failures) / max(self.attempted, 1),
        }

    def per_layer(self, session: dict[str, float]) -> dict[str, float]:
        """Every PER_LAYER metric; those this workload does not exercise are 0."""
        m = dict.fromkeys(PER_LAYER, 0.0)
        m.update(session)
        tr = self.tracer
        cold, plain, traced = self.passes[0], self.steady(False), self.steady(True)
        tw = traced[0]
        m["entry.build_s"] = tr.total("entry.build", tw["label"])
        m["entry.build_cold_s"] = tr.total("entry.build", cold["label"])
        m["entry.py4j_calls"] = cold["py4j_calls"]
        m["entry.py4j_calls_warm"] = tw["py4j_calls"]
        m["plan.optimize_s"] = tr.total("plan.optimize", tw["label"])
        m["plan.optimize_cold_s"] = tr.total("plan.optimize", cold["label"])
        m["plan.codegen_compiles_cold"] = cold["codegen_compiles"]
        m["plan.codegen_compiles_warm"] = tw["codegen_compiles"]
        m["exec.collect_s"] = tr.total("exec.collect", tw["label"])
        m.update(tw["layer"])
        # plus the builder jobs of the warm probe pass
        m["entry.build_jobs"] += sum(p["layer"].get("entry.build_jobs", 0.0) for p in self.passes
                                     if p["probe"] and p["kind"] == "warm")
        for cls in ("driver", "jvm", "python"):
            m[f"{cls}.cpu_s"] = statistics.median(p["cpu"][cls] for p in plain)
        for q in ALL_OPS:
            m[f"op.{q}.cold_s"] = self.op_times.get(f"cold:{q}", [0.0])[0]
            m[f"op.{q}.warm_s"] = statistics.median(self.op_times.get(f"warm:{q}", [0.0]))
        for name in ("full", "recover", "noop"):
            m[f"checkpoint.{name}_s"] = tr.total(f"checkpoint.{name}", tw["label"])
        self_time = tr.self_times()
        m["trace.op_uncovered_frac_max"] = max(
            (self_time[s["id"]] / (s["end"] - s["start"]) for s in tr.find("op")), default=0.0)
        untraced_wall = statistics.median(p["wall_s"] for p in plain)
        m["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in traced) / untraced_wall - 1.0)
        if self.args.workload == "extract":
            m["extract.rows_per_s_untraced"] = self.stated_rows() / untraced_wall
        m.update(self.layer)
        return m

    # -- probes run once in a traced run, after the passes --------------------

    def probe_transcripts(self) -> None:
        from z_rad_spark.transcripts import load_transcripts

        t = time.perf_counter()
        src = load_transcripts(self.spark, self.sf_dir, token_signal=True)
        self.layer["transcripts.load_s"] = time.perf_counter() - t
        digest(src).collect()
        t = time.perf_counter()
        digest(load_transcripts(self.spark, self.sf_dir, token_signal=True)).collect()
        self.layer["transcripts.scan_s"] = time.perf_counter() - t

    def probe_kernels(self) -> None:
        """Python-worker CPU of extract_features per family, minus the
        families=() floor (scan, exchange, Arrow crossing, prep)."""
        from dataclasses import replace

        from z_rad_spark.extractor import extract_features
        from z_rad_spark.transcripts import load_transcripts

        src = load_transcripts(self.spark, self.sf_dir, token_signal=True)

        def job(families):
            cfg = replace(self.flagship, families=families)
            c0 = procfs.cpu_split(self.root_pid)["python"]
            t0 = time.perf_counter()
            digest(extract_features(src, cfg, self.cutoffs)).collect()
            return time.perf_counter() - t0, procfs.cpu_split(self.root_pid)["python"] - c0

        floor_s, floor_cpu = job(())
        self.layer["extractor.floor_s"] = floor_s
        self.layer["extractor.floor_python_cpu_s"] = floor_cpu
        for fam in FAMILIES:
            self.layer[f"kernels.{fam}_cpu_s"] = job((fam,))[1] - floor_cpu

    def probe_checkpoint(self) -> None:
        """One full / recover / no-op / readback sequence, traced."""
        self.pass_layer = {}
        ids = {n: f"probe.checkpoint/{n}" for n in ("full", "recover", "noop", "verify")}
        self.tracer.enabled = True
        with self.tracer.span("probe.checkpoint", op_id="probe.checkpoint"):
            self.checkpoint_pass(self.args.workdir, ids)
        for name in ("full", "recover", "noop"):
            self.layer[f"checkpoint.{name}_s"] = self.tracer.total(f"checkpoint.{name}")
        self.layer.update(self.pass_layer)

    def probe_ops(self) -> None:
        """PROBE_OPS, one cold and one warm pass, traced: the only ops on
        operators.texture_sql, dedup, similarity and text. "Cold" here is
        each op's first run in a session the workload's passes warmed."""
        for kind in ("cold", "warm"):
            self.one_pass(kind, traced=True, ops=PROBE_OPS)


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main(argv=None) -> int:
    t_process0 = float(os.environ.get("PERFBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--scale", default="sf0.1")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--buckets", type=int, default=0)
    ap.add_argument("--warmup", type=int, default=None,
                    help="warm passes made but not reported (default: per workload)")
    ap.add_argument("--keep", type=int, default=None,
                    help="steady passes made at least (default: per workload)")
    ap.add_argument("--poison-expected", action="store_true")
    ap.add_argument("--deadline", type=float, default=float("inf"),
                    help="epoch time by which the worker must have ended")
    args = ap.parse_args(argv)
    if args.warmup is None:
        args.warmup = WARMUP[args.workload]
    if args.keep is None:
        args.keep = KEEP_TRACED if args.trace else KEEP[args.workload]

    import __spark_entry__  # noqa: F401  (module import is part of set-up)
    from z_rad_spark.session import get_spark

    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "failures": [],
              "notes": []}

    def save():
        with open(args.out + ".tmp", "w") as f:
            json.dump(result, f)
        os.replace(args.out + ".tmp", args.out)

    with procfs.PeakRss(os.getpid()) as rss:
        t = time.perf_counter()
        extra = {"spark.z_rad_spark.extract.buckets": str(args.buckets)} if args.buckets else None
        spark = get_spark(f"perfbench-{args.workload}", cores=args.cores, extra_conf=extra)
        get_spark_s = time.perf_counter() - t
        t = time.perf_counter()
        spark.range(1).count()
        first_job_s = time.perf_counter() - t
        setup_s = time.time() - t_process0
        run = Run(args, spark)
        try:
            run.run_passes()
            # the process tree's peak over set-up and passes, before any probe
            result["peak_rss_mb"] = rss.peak_now() / 2**20
            probes = PROBES[args.workload] if args.trace else ()
            for name in (p for p in probes if p in PROBE_S):
                left = args.deadline - STOP_S - time.time()
                if left < PROBE_S[name]:
                    result["notes"].append(
                        f"{name} probe skipped: {left:.0f} s left before the deadline")
                    continue
                getattr(run, f"probe_{name}")()
        finally:
            result["attempted"] = run.attempted
            result["failed"] = len(run.failures)
            result["failures"] = run.failures
            result["passes"] = [{k: v for k, v in p.items() if k != "layer"} for p in run.passes]
            save()
            spark.stop()
    if args.trace:
        metrics = run.per_layer({"session.get_spark_s": get_spark_s,
                                  "session.first_job_s": first_job_s,
                                  "mem.peak_rss_mb": result["peak_rss_mb"]})
        run.tracer.dump(os.path.join(args.workdir, "spans.jsonl"))
    else:
        metrics = run.end_to_end(setup_s)
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}
    result["correct"] = not run.failures and run.attempted > 0
    save()
    return 0


if __name__ == "__main__":
    sys.exit(main())
