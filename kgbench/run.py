#!/usr/bin/env python3
"""KG-construction benchmark: one command, seeded workloads, checked outputs.

    python3 kgbench/run.py --workload web --seed 1 --seconds 6 --trace 0

Runs the pages parquet → mentions → canonicalized triples → bucketed sink
with lineage job of ``ner_spark`` on one seeded workload (see
``BENCHMARK.json`` for why each exists) and prints, as the last stdout line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.  Lines
above it give the same numbers for people, with ``fail_rate``.

Load model: a closed loop with one client — one job at a time, in one driver
process on ``local[4]``.  Each run is a fresh driver process (so set-up is
measured from process start); ``--trace 1`` adds a 1-core companion process
pinned with ``sched_setaffinity`` before its JVM starts.

``--inject corrupt-triple|drop-bucket`` damages the first timed job's
committed table, to show that the output check fails the run.

Everything is written under ``.kgbench/`` in the checkout.  Exit status is
non-zero, with no result line, when the program cannot be imported or a
run cannot complete its set-up.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench")
WORKLOADS = ("web", "dense-bigkb")
RUN_BUDGET_S = 170            # every run ends within 180 s
DRIVER_MEM = "1g"


def _env() -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "NER_SPARK_DRIVER_MEM": DRIVER_MEM,
        "NER_SPARK_CKERNEL": "1",
        "NER_SPARK_CKERNEL_DIR": os.path.join(WORK, "ckernel"),
    })
    return env


def build_kernel() -> None:
    """Compile the C scan/resolve kernel (once per checkout) before any
    timed process starts, and fail if it does not build: the workloads
    measure the default kernel path."""
    os.environ.update(_env())
    sys.path.insert(0, ROOT)
    from ner_spark.fixtures.gen import gen_kb_rows
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.automaton import GazetteerAutomaton
    from ner_spark.semantics.kb import KBBundle, build_namelist
    from ner_spark.semantics.lang import EN

    bundle = KBBundle.from_rows(gen_kb_rows())
    atm = GazetteerAutomaton.build(build_namelist(bundle).items())
    if ckernel.try_scan_resolve(bundle, atm, "George Washington .",
                                lang=EN) is None:
        raise RuntimeError("the C scan/resolve kernel is unavailable")


def _kill_all(pids) -> None:
    for pid in pids:
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def launch(spec: dict, deadline: float) -> tuple[dict | None, float, str]:
    """Run one driver process to completion or ``deadline`` (epoch s).
    Returns (result or None, peak PSS in MB, log path).  Every process of
    its tree has ended when this returns."""
    from spans import PssSampler, process_tree

    run_dir = os.path.join(WORK, "runs", spec["run_id"])
    os.makedirs(run_dir, exist_ok=True)
    spec_path = os.path.join(run_dir, "spec.json")
    spec["result"] = os.path.join(run_dir, "result.json")
    spec["spans"] = os.path.join(run_dir, "spans.json")
    spec["budget_end"] = deadline
    log = os.path.join(run_dir, "driver.log")
    spec["launch_t"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), spec_path],
            cwd=run_dir, env=_env(), stdout=lf, stderr=subprocess.STDOUT)
        with PssSampler(proc.pid) as sampler:
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                _kill_all(process_tree(proc.pid) + sorted(sampler.seen))
                proc.wait()
    # stragglers (the JVM, pyspark's daemon and workers) end with the
    # driver; give them a moment, then make sure
    grace = time.time() + 10
    while time.time() < grace and any(_alive(p) for p in sampler.seen):
        time.sleep(0.1)
    _kill_all(p for p in sampler.seen if _alive(p))
    result = None
    if proc.returncode == 0 and os.path.exists(spec["result"]):
        with open(spec["result"]) as fh:
            result = json.load(fh)
    return result, sampler.peak_kb / 1024.0, log


def _count(records) -> tuple[int, int]:
    return len(records), sum(not r["ok"] for r in records)


def measure(args, t_start: float) -> dict:
    spec = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "cores": 4, "mode": "measure",
            "work": WORK, "inject": args.inject,
            "run_id": f"{args.workload}-s{args.seed}-{os.getpid()}"}
    res, peak_mb, log = launch(spec, t_start + RUN_BUDGET_S)
    if res is None:
        sys.stderr.write(f"driver process failed; see {log}\n")
        raise SystemExit(3)
    recs = res["records"]
    attempted, failed = _count(recs)
    times = [r["job_s"] for r in recs if "job_s" in r]
    if not times:
        sys.stderr.write(f"no job completed; see {log}\n")
        raise SystemExit(3)
    # min of k: interference on a shared host only ever adds time
    job_s = min(times)
    metrics = {
        "job_s": (job_s, "s"),
        "mchars_per_s": (res["n_chars"] / 1e6 / job_s, "MB-chars/s"),
        "setup_s": (res["setup"]["setup_s"], "s"),
    }
    q = statistics.quantiles(times, n=4) if len(times) > 1 else [job_s] * 3
    checked = [r["oracle"] for r in recs if "oracle" in r]
    table = next((r for r in recs if "fp" in r), {})
    print(f"# {args.workload} seed={args.seed}: {res['n_docs']} docs, "
          f"{res['n_chars'] / 1e6:.2f} MB-chars; corpus "
          f"{'cached' if res['cached'] else 'generated in %.1f s' % res['gen_s']}"
          f" (not in any metric)")
    print(f"# job_s: min of {len(times)} timed jobs (median "
          f"{statistics.median(times):.3f}, quartiles {q[0]:.3f}/{q[2]:.3f} s);"
          f" untimed warm-up job "
          f"{res['warm'].get('job_s', float('nan')):.3f} s")
    print(f"# output check: oracle min P="
          f"{min((o['precision'] for o in checked), default=0):.3f} min R="
          f"{min((o['recall'] for o in checked), default=0):.3f} over "
          f"{len(checked)} jobs x {checked[0]['docs'] if checked else 0} pages;"
          f" "
          f"triples n={table.get('n')} fp={table.get('fp')} "
          f"reference={'yes' if res['reference'] else 'first run'}")
    for name, (v, unit) in metrics.items():
        print(f"{name} = {v:.4f} {unit}")
    # the number of Python workers alive at the peak varies from run to run,
    # too much for a bound: per-layer (mem.peak_mb) in traced runs
    print(f"peak_mem_mb = {peak_mb:.1f} MB (summed PSS of the driver tree)")
    print(f"fail_rate = {failed / attempted:.4f} ratio ({failed} of "
          f"{attempted} jobs failed)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def traced(args, t_start: float) -> dict:
    import perlayer

    base = f"{args.workload}-s{args.seed}-{os.getpid()}"
    spec = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "cores": 4, "mode": "traced",
            "work": WORK, "inject": None, "run_id": base + "-traced"}
    res4, peak_mb, log4 = launch(spec, t_start + RUN_BUDGET_S * 0.55)
    if res4 is None:
        sys.stderr.write(f"traced driver failed; see {log4}\n")
        raise SystemExit(3)
    spec1 = dict(spec, cores=1, mode="single", run_id=base + "-1core",
                 kb_artifact=res4["kb_artifact"])
    res1, _, log1 = launch(spec1, t_start + RUN_BUDGET_S)
    if res1 is None:
        sys.stderr.write(f"1-core driver failed; see {log1}\n")
        raise SystemExit(3)
    t1 = res1["records"][0].get("job_s")
    if t1 is None or res4["cold_job_s"] is None:
        sys.stderr.write(f"a job failed; see {log4} and {log1}\n")
        raise SystemExit(3)
    m = dict(res4["metrics"], **{"mem.peak_mb": peak_mb})
    m["scale_eff_1to4"] = t1 / (4 * res4["cold_job_s"])
    m["ner.udf_overhead_ratio"] = res1["extract_s"] / res1["kernel_s"]
    recs = res4["records"] + res1["records"]
    attempted, failed = _count(recs)
    spans = os.path.join(WORK, "runs", spec["run_id"], "spans.json")
    print(f"# {args.workload} seed={args.seed} traced; spans: {spans}")
    for line in perlayer.time_table(m):
        print("# " + line)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = [(d["name"], d["unit"]) for d in json.load(fh)["per_layer"]]
    for name, unit in per_layer:
        print(f"{name} = {m[name]:.6g} {unit}  (moves {perlayer.MOVES[name]})")
    print(f"fail_rate = {failed / attempted:.4f} ratio ({failed} of "
          f"{attempted} jobs failed)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {name: {"value": m[name], "unit": unit}
                        for name, unit in per_layer}}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt-triple", "drop-bucket"))
    args = ap.parse_args()
    t_start = time.time()
    sys.path.insert(0, HERE)
    try:
        build_kernel()
    except (ImportError, RuntimeError, OSError, subprocess.CalledProcessError) as e:
        sys.stderr.write(f"cannot run the program under test: {e}\n")
        raise SystemExit(2)
    out = traced(args, t_start) if args.trace else measure(args, t_start)
    sys.stdout.flush()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
