"""Same-host benchmark of the point-in-time engine.

    python3 perfbench/run.py --workload {extract,asof,corpus,resume} \
        --seed N --seconds S --trace {0,1} [--smoke] [--poison-expected]

Run from the root of a checkout. Each call is one run of one workload in
a fresh worker process (``workload.py``); this script supervises it:
it sizes cores from the CPUs this process may run on, keeps Spark's
scratch space and checkpoint output in a per-run directory under
``.perfbench/`` that is removed at exit, enforces a deadline, stops every
process the worker started, and prints the result. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries the
error rate, the failures, the pass timings and ``bench._cpu_probe()``
read before and after the run. The exit code is 0 only when every op
succeeded and every output matched its expected digest.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0
TIMED_OUT = f"worker passed the {DEADLINE_S:.0f} s deadline"
# the local[1] side of the scaling probe needs about this long on a slow host
SCALING_MIN_S = 75.0
# the program under test; without it the benchmark cannot run
PROGRAM_FILES = ("__spark_entry__.py", "bench.py", "z_rad_spark/__init__.py")


def _pgroup(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def _stop_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the worker's group to end; signal the
    stragglers (TERM, then KILL) once ``grace_s`` has passed."""
    end = time.time() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            end = time.time() + 10
        while time.time() < end:
            if not _pgroup(pgid):
                return
            time.sleep(0.1)


def _steal_s() -> float:
    """CPU time the hypervisor has stolen from all CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _worker(argv: list[str], env: dict, cwd: str, timeout: float) -> str | None:
    """Run one worker process to completion; None on success, else why not."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "workload.py"), *argv],
                            env=env, cwd=cwd, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(timeout, 1.0))
        why = None if code == 0 else f"worker exited with code {code}"
    except subprocess.TimeoutExpired:
        why = TIMED_OUT
        _stop_group(proc.pid, 0)
        proc.wait()
    _stop_group(proc.pid, 30)
    return why


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the tiny sf0.001 input (the benchmark's own tests)")
    ap.add_argument("--poison-expected", action="store_true",
                    help="corrupt every expected digest; every op must then fail")
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workload as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import bench

    t_start = time.time()
    scale = "sf0.001" if args.smoke else "sf0.1"
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(base, "tmp"))
    for sub in ("spark-local", "tmp", "cwd"):
        os.makedirs(os.path.join(workdir, sub))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    env["TMPDIR"] = os.path.join(workdir, "tmp")
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData "
                                + env.get("JAVA_TOOL_OPTIONS", "")).strip()
    env["PYSPARK_PYTHON"] = sys.executable
    cwd = os.path.join(workdir, "cwd")

    result = None
    info = {"workload": args.workload, "seed": args.seed, "scale": scale,
            "trace": args.trace, "cores": len(os.sched_getaffinity(0)), "notes": []}
    try:
        info["cpu_probe_start_s"] = bench._cpu_probe()
        steal0 = _steal_s()
        out = os.path.join(workdir, "result.json")
        common = ["--seed", str(args.seed), "--scale", scale,
                  "--sf-dir", os.path.join(HERE, "data", scale), "--workdir", workdir]
        argv = ["--workload", args.workload, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--out", out,
                "--deadline", repr(t_start + DEADLINE_S), *common]
        argv += ["--poison-expected"] if args.poison_expected else []
        env["PERFBENCH_T0"] = repr(time.time())
        why = _worker(argv, env, cwd, DEADLINE_S - (time.time() - t_start))
        if os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
        if why or result is None:
            result = result or {"attempted": 0, "failed": 0, "failures": [], "metrics": {}}
            why = why or "worker wrote no result"
            result["failures"].append(why)
            result["failed"] += 1
            result["attempted"] += 1
            result["correct"] = False
        info["notes"].extend(result.get("notes", []))
        if args.trace and "scaling" in wl.PROBES[args.workload] and not why:
            _scaling(wl, result, info, env, cwd, common, workdir, t_start)
        spans = os.path.join(workdir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(
                base, "traces", f"{args.workload}-{scale}-seed{args.seed}.jsonl"))
        info["host_steal_s"] = _steal_s() - steal0
        info["cpu_probe_end_s"] = bench._cpu_probe()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    names = wl.PER_LAYER if args.trace else wl.END_TO_END
    metrics = result.get("metrics", {})
    for name, unit in names.items():
        # a run that died early still reports every metric, as 0
        metrics.setdefault(name, {"value": 0.0, "unit": unit})
    attempted = max(result["attempted"], 1)
    failed = min(result["failed"], attempted)
    correct = bool(result.get("correct")) and failed == 0
    info.update(error_rate=failed / attempted, peak_rss_mb=result.get("peak_rss_mb"),
                failures=result["failures"],
                passes=result.get("passes", []), wall_s=time.time() - t_start)
    print(json.dumps(info))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: metrics[k] for k in names}}))
    return 0 if correct else 1


def _scaling(wl, result: dict, info: dict, env: dict, cwd: str, common: list, workdir: str,
             t_start: float) -> None:
    """extract.scaling_eff: turns/s on all cores over n x turns/s at
    local[1], with the extractor's bucket count pinned to the all-cores
    default. The local[1] side runs as a second fresh worker, with one
    warm pass; both sides are read from their first warm pass, so the
    JIT has seen the same number of op runs on each. When too little time
    is left before the deadline the probe is skipped, or stopped, and its
    metrics read 0; that is noted, not counted as a failed op."""
    n = len(os.sched_getaffinity(0))
    out = os.path.join(workdir, "local1.json")
    left = DEADLINE_S - (time.time() - t_start)
    if left < SCALING_MIN_S:
        info["notes"].append(f"scaling probe skipped: {left:.0f} s left before the deadline")
        return
    why = _worker(["--workload", "extract", "--seconds", "0", "--trace", "0", "--out", out,
                   "--cores", "1", "--buckets", str(max(4 * n, 8)), "--warmup", "0", "--keep", "1",
                   *common], env, cwd, left)
    if why == TIMED_OUT:
        info["notes"].append(f"scaling probe stopped: {why}")
        return
    metrics = result["metrics"]
    one = {"attempted": 1, "failed": 1, "failures": [why or "no result"]}
    if not why and os.path.exists(out):
        with open(out) as f:
            one = json.load(f)
    result["attempted"] += one["attempted"]
    result["failed"] += one["failed"]
    result["failures"].extend(f"scaling probe: {x}" for x in one["failures"])
    if one["failed"]:
        result["correct"] = False
        return
    r1 = one["metrics"]["rows_per_s"]["value"]
    first = next(p for p in result["passes"] if p["kind"] == "warm")
    rn = wl.table_rows(common[common.index("--sf-dir") + 1], "events") / first["wall_s"]
    metrics["extract.rows_per_s_local1"] = {"value": r1, "unit": "rows/s"}
    metrics["extract.scaling_eff"] = {"value": rn / (n * r1), "unit": "ratio"}


if __name__ == "__main__":
    sys.exit(main())
