"""fte benchmark: one workload per process, closed loop, one client.

  python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.bench_cache/``; generation is left out of every metric.
A run sets up a Spark session on ``local[<cores>]`` with fte/conf.py's
defaults, runs one cold pass and a short warm-up, then passes back to
back until ``--seconds`` have been measured, checking every pass's
output outside the timed interval.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes after the warm-up, enables the Spark event
log, and prints the per-layer metrics, including the tracing overhead
(median traced minus median untraced pass). The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
# Warm passes a run measures, at least, one more when traced; a workload
# may ask for more (Workload.min_measured). wall_s is their median (a
# single warm pass of features_resume read 13-22 s between runs).
MIN_WARM = 2
# Warm passes that end within this many seconds of warm pass time are a
# warm-up, checked but not measured: the JIT is still compiling. On
# features the passes shrink from ~2x to 1x over the first ~12 s. A pass
# longer than half of it absorbs the JIT within itself (anchor_cv's first
# warm pass reads ~1.1x the next) and is measured, so such a workload
# spends no time on a warm-up.
WARMUP_S = 12.0

# Input sizes. "full" is the benchmark; "smoke" is the tiny scale the
# benchmark's own test runs.
SIZES = {
    "full": {
        "features": {"turns": 18000},
        "features_resume": {"turns": 18000},
        "anchor_cv": {"turns": 18000},
        "curate": {"docs": 1000},
        "catalog": {"scale": 0.05},
    },
    "smoke": {
        "features": {"turns": 5500},
        "features_resume": {"turns": 5500},
        "anchor_cv": {"turns": 6000},
        "curate": {"docs": 1000},
        "catalog": {"scale": 0.01},
    },
}


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--spans", default=None, help="write the trace's spans here (JSON lines)")
    return ap.parse_args(argv)


def check_checkout() -> None:
    for p in ("fte/conf.py", "jobs/run_features.py", "jobs/run_curation.py", "tools/check_oracle.py"):
        if not (ROOT / p).is_file():
            fail(f"{p} not found: run from the root of an fte checkout")


def benchmark_metrics(trace: bool) -> set[str] | None:
    """Names of the metrics BENCHMARK.json lists for this kind of run."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    return {m["name"] for m in json.loads(spec.read_text())["per_layer" if trace else "end_to_end"]}


def run_all(args: argparse.Namespace) -> int:
    """Every workload, each in its own fresh process (set-up and the cold
    pass are per process), reported together."""
    from perfbench.workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(BENCH / "run.py"), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            fail(f"workload {name} exited with {proc.returncode}", 1)
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(out))
    return 0


def start_spark(trace_dir: Path | None):
    from fte.conf import get_spark

    cores = len(os.sched_getaffinity(0))
    extra = {"spark.ui.enabled": "false"}
    if trace_dir is not None:
        trace_dir.mkdir(parents=True, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": str(trace_dir),
                      "spark.eventLog.compress": "false"})
    spark = get_spark("fte-perfbench", master=f"local[{cores}]", extra_confs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    for them: closing the gateway's stdin makes the JVM exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    check_checkout()
    for p in (str(ROOT / "jobs"), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    # Python workers import fte (and the job modules) by path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(ROOT / "jobs")] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if args.workload == "all":
        return run_all(args)

    from perfbench import report
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)} or all")
    cache = ROOT / ".bench_cache"
    work = cache / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    wl = WORKLOADS[args.workload](cache / "inputs", args.seed, SIZES[args.size][args.workload])

    t_gen = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t_gen
    tr = Tracer(enabled=bool(args.trace))
    t_sess = time.perf_counter()
    with tr.span("session.start", "conf"):
        spark = start_spark(work / "eventlog" if args.trace else None)
    session_s = time.perf_counter() - t_sess
    wl.register(spark)
    setup_s = time.perf_counter() - T_START - gen_s
    tr.spark, tr.enabled = spark, False
    passes: list[dict] = []
    state: dict = {}
    try:
        with RssSampler() as rss:
            # the cold pass, the warm-up, then measured passes until
            # --seconds have passed (at least min_measured); traced runs
            # alternate untraced and traced measured passes, at least one
            # of each
            passes.append(run_pass(spark, wl, tr, work / "pass-0", 0, False, state))
            measured: list[dict] = []
            warm_s, t_measure, i = 0.0, 0.0, 1
            min_measured = max(wl.min_measured, MIN_WARM + args.trace)
            while len(measured) < min_measured or time.perf_counter() - t_measure < args.seconds:
                traced = bool(args.trace) and len(measured) % 2 == 1
                t0 = time.perf_counter()
                p = run_pass(spark, wl, tr, work / f"pass-{i}", i, traced, state)
                passes.append(p)
                warm_s += p["wall_s"]
                if measured or warm_s >= WARMUP_S or p["wall_s"] > WARMUP_S / 2:
                    t_measure = t_measure or t0
                    measured.append(p)
                else:
                    p["warmup"] = True
                i += 1
        peak_rss_mb = rss.peak_kb / 1024.0
    finally:
        stop_spark(spark)
        state.pop("duckdb", None)

    for k, v in sorted(wl.checksums.items()):
        print(f"input {k} checksum {v} ({wl.rows} {wl.rows_label}, seed {args.seed})")
    for p in passes:
        status = "ok" if not p["errors"] else "FAILED: " + "; ".join(p["errors"])[:2000]
        kind = ("cold" if p["i"] == 0 else "warm-up" if p.get("warmup")
                else "traced" if p["traced"] else "warm")
        print(f"pass {p['i']} {kind} {p['wall_s']:.3f} s check {status}")
    failed = sum(bool(p["errors"]) for p in passes)
    if args.trace:
        metrics = report.layer_metrics(wl, tr, measured, work / "eventlog", session_s,
                                       peak_rss_mb, state)
        if args.spans:
            tr.write(Path(args.spans))
    else:
        metrics = report.end_to_end(wl, passes[0], measured, setup_s)
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']}")
    shutil.rmtree(work, ignore_errors=True)
    # the result line carries the metrics BENCHMARK.json names; the lines
    # above also show those of layers only the hand-run workloads reach
    named = benchmark_metrics(bool(args.trace))
    print(json.dumps({"correct": failed == 0, "attempted": len(passes), "failed": failed,
                      "metrics": {k: v for k, v in metrics.items() if named is None or k in named}}))
    return 0


def run_pass(spark, wl, tr, out: Path, i: int, traced: bool, state: dict) -> dict:
    """One timed pass, then its untimed output check. An exception or a
    failed check fails the pass; nothing is retried."""
    out.mkdir(parents=True)
    tr.pass_id = f"p{i}"
    tr.enabled = traced
    result, errors = None, []
    t0 = time.perf_counter()
    try:
        if traced:
            from perfbench.workloads import wrapped

            with wrapped(tr, wl.trace_targets()), tr.span("pass", "pass"):
                result = wl.run(spark, out, tr)
        else:
            result = wl.run(spark, out, tr)
    except Exception:  # a failing pass is counted, and the run goes on
        errors.append("raised: " + traceback.format_exc(limit=3).replace("\n", " | "))
    wall = time.perf_counter() - t0
    tr.enabled = False
    if not errors:
        try:
            errors += wl.check(spark, out, result, state)
            if traced:
                wl.layer_counts(out, state.setdefault(f"counts-p{i}", {}))
        except Exception:
            errors.append("check raised: " + traceback.format_exc(limit=3).replace("\n", " | "))
    shutil.rmtree(out, ignore_errors=True)
    return {"i": i, "traced": traced, "wall_s": wall, "errors": errors}


if __name__ == "__main__":
    if str(BENCH.parent) not in sys.path:
        sys.path.insert(0, str(BENCH.parent))
    raise SystemExit(main())
