"""One benchmark process: Spark set-up, the workload's jobs, output checks.

Launched by ``run.py`` (never imported by it) as

    python3 kgbench/driver.py SPEC.json

``SPEC.json`` holds workload, seed, seconds, cores, mode, launch time, the
work directory and the result path.  Modes:

* ``measure``: one untimed warm-up job, then timed jobs until ``seconds``
  have passed (at least ``MIN_JOBS``); every job's output is checked.
* ``traced`` and ``single``: the traced run and its 1-core companion
  (``layers.py``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext

MIN_JOBS = 3
SAMPLE_DOCS = 64          # oracle check sample
SEMANTICS_DOCS = 200      # driver-side single-core timing sample


class NoTrace:
    on = False

    def span(self, name):
        return nullcontext()

    phase = span


def pages_sample(corpus, n: int) -> list[tuple[str, str]]:
    """A fixed page sample: ``n`` pages evenly spaced in url order."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(corpus.pages, columns=["url", "text"])
    rows = sorted(zip(tbl.column("url").to_pylist(),
                      tbl.column("text").to_pylist()))
    step = max(1, len(rows) // n)
    return [(u, t or "") for u, t in rows[::step][:n]]


def set_up(spec: dict, extra_conf: dict):
    """Process start → SparkSession → KB compiled and broadcast → Python
    worker pool warm.  Returns (spark, art, kb_rows, timings).  With
    ``spec["kb_artifact"]`` the KB is loaded from that artifact instead of
    compiled (``run_job --kb-artifact``)."""
    from ner_spark.session import get_spark

    import workloads

    work, cores = spec["work"], spec["cores"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        **extra_conf,
    }
    t0 = time.perf_counter()
    spark = get_spark(f"kgbench-{spec['workload']}", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra=conf)
    session_ready = time.time()
    session_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    kb_rows = workloads.kb_rows(work, spec["workload"], spec["seed"])
    kb_gen_s = time.perf_counter() - t0

    from ner_spark.kb.build import compile_kb, load_kb_artifact
    from ner_spark.pipeline.ner import extract_mentions

    t0 = time.perf_counter()
    if spec.get("kb_artifact"):
        art = load_kb_artifact(spark, spec["kb_artifact"])
    else:
        art = compile_kb(spark, kb_rows)
    compile_s = time.perf_counter() - t0

    warm = spark.range(0, 2 * cores, 1, cores).selectExpr(
        "concat('warm://', id) AS url",
        "'George Washington visited Springfield on 1790-03-04 .' AS text")
    extract_mentions(warm, art).count()
    ready = time.time()
    return spark, art, kb_rows, {
        "setup_s": ready - spec["launch_t"] - kb_gen_s,
        "session_s": session_s,
        "session_from_launch_s": session_ready - spec["launch_t"],
        "compile_s": compile_s,
        "kb_gen_s": kb_gen_s,
    }


def log(msg: str) -> None:
    """Progress line in the process log (stderr), with the time since launch."""
    sys.stderr.write(f"[kgbench {time.time() - _LAUNCH_T:7.2f}s] {msg}\n")
    sys.stderr.flush()


_LAUNCH_T = time.time()


class Runner:
    """Runs and checks jobs on one corpus."""

    def __init__(self, spark, art, corpus, spec):
        import jobs

        self.spark, self.art, self.corpus, self.spec = spark, art, corpus, spec
        self.out_root = os.path.join(spec["work"], "out", spec["run_id"])
        self.n = 0
        self.records: list[dict] = []
        sample = pages_sample(corpus, SAMPLE_DOCS)
        self.sample_urls = [u for u, _ in sample]
        self.oracle = jobs.oracle_rows(art.bundle, art.automaton, sample)

    def read(self):
        return self.spark.read.parquet(self.corpus.pages)

    def warm_up(self):
        """An untimed job over the tenth of the pages whose url ends in 0:
        JIT, page cache and code caches, at a fraction of a full job's
        cost."""
        from pyspark.sql import functions as F

        return self.run(read=lambda: self.read().filter(
            F.col("url").endswith("0")), timed=False)[0]

    def run(self, read=None, tr=None, timed=True, keep=False):
        """One :func:`jobs.run_straight` job (by default over the whole
        corpus) and its output check → (record, JobResult or None).  Timed
        records are appended to ``records``.  The job's cached mentions are
        freed before this returns, so the next job cannot reuse them,
        unless ``keep``: then the caller frees them.  A job that raises is
        recorded as failed."""
        import jobs

        out = os.path.join(self.out_root, f"job{self.n}")
        self.n += 1
        jobs.remove_outputs(out)
        rec = {"out": out, "ok": False, "timed": timed}
        res = None
        try:
            t0 = time.perf_counter()
            res = jobs.run_straight(self.spark, self.art, read or self.read,
                                    out, tr or NoTrace())
            rec["job_s"] = time.perf_counter() - t0
            if timed and self.spec.get("inject") and not any(
                    r["timed"] for r in self.records):
                jobs.inject(out, self.spec["inject"])
                rec["injected"] = self.spec["inject"]
            rec.update(jobs.table_fingerprint(self.spark, out))
            rec["ok"] = rec["n"] == rec["lineage_rows"] and \
                len(res.manifest["completed"]) == rec["lineage_buckets"]
            if read is None:      # the sample is only complete in full jobs
                rec["oracle"] = jobs.oracle_check(self.oracle, res.mentions,
                                                  self.sample_urls)
                rec["ok"] = rec["ok"] and rec["oracle"]["precision"] == 1.0 \
                    and rec["oracle"]["recall"] == 1.0
        except Exception as e:  # a failed job is a result, not a crash
            import traceback

            traceback.print_exc()
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        log(f"job {out}: {rec.get('job_s', float('nan')):.3f} s ok={rec['ok']}")
        if timed:
            self.records.append(rec)
        if res is not None and not keep:
            jobs.free(res)
            res = None
        return rec, res

    def finish_checks(self, reference: dict | None) -> None:
        """Cross-job check: every job's (count, fingerprint) equals the
        reference (this corpus's table from an earlier clean run in the
        same work directory, when known), else the most common one among
        this run's jobs."""
        from collections import Counter

        keys = [(r["n"], r["fp"]) for r in self.records if "fp" in r]
        if reference is not None:
            want = (reference["n"], reference["fp"])
        elif keys:
            want = Counter(keys).most_common(1)[0][0]
        else:
            want = None
        for r in self.records:
            if "fp" in r and (r["n"], r["fp"]) != want:
                r["ok"] = False
                r["mismatch"] = {"want": list(want), "got": [r["n"], r["fp"]]}


def reference_path(corpus) -> str:
    return os.path.join(corpus.path, "expected.json")


def load_reference(corpus) -> dict | None:
    try:
        with open(reference_path(corpus)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def save_reference(corpus, rec: dict) -> None:
    path = reference_path(corpus)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"n": rec["n"], "fp": rec["fp"]}, fh)
    os.replace(tmp, path)


def measure(spec: dict) -> dict:
    import workloads

    spark, art, kb_rows, setup = set_up(spec, {})
    log(f"set-up done: {setup}")
    corpus = workloads.ensure_pages(spark, spec["work"], spec["workload"],
                                    spec["seed"], kb_rows)
    runner = Runner(spark, art, corpus, spec)
    reference = load_reference(corpus)
    warm = runner.warm_up()
    deadline = time.perf_counter() + spec["seconds"]
    while True:
        rec, _ = runner.run()
        if len(runner.records) >= MIN_JOBS and time.perf_counter() >= deadline:
            break
        if time.time() + 1.5 * rec.get("job_s", 1.0) > spec["budget_end"]:
            break
    runner.finish_checks(reference)
    if reference is None and not spec.get("inject") and \
            all(r["ok"] for r in runner.records):
        save_reference(corpus, runner.records[0])
    log("checks done")
    spark.stop()
    log("session stopped")
    return {"setup": setup, "warm": warm, "records": runner.records,
            "n_chars": corpus.n_chars,
            "n_docs": corpus.n_docs, "gen_s": corpus.gen_s,
            "cached": corpus.cached, "reference": reference}


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    if spec["cores"] == 1:
        # before the JVM exists, so it and every Python worker inherit it
        os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    global _LAUNCH_T
    _LAUNCH_T = spec["launch_t"]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import layers

    fn = {"measure": measure, "traced": layers.traced,
          "single": layers.single}[spec["mode"]]
    result = fn(spec)
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
