"""The traced run: per-layer metrics from spans around the benchmark's calls
into each layer, Spark phase counters from the event log, and single-core
driver-side timings of the semantics layer.

``traced`` runs on ``local[4]``; ``single`` is its 1-core companion (same
corpus), which gives ``scale_eff_1to4`` and ``ner.udf_overhead_ratio``.
"""

from __future__ import annotations

import os
import pickle
import shutil
import time

import driver
import jobs
import workloads
from spans import Tracer, phase_counters

SPARK_PHASES = ("ner.extract", "triples.exec", "catalog.write",
                "run.checkpoint")


def _dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, f))
    return n_bytes, n_files


def semantics_probe(bundle, automaton, docs: list[str]) -> dict:
    """Single-core driver-side timings over a fixed document sample."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.dates import find_dates
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.recognize import scan_and_resolve
    from ner_spark.semantics.resolve import (find_proper_nouns,
                                             offsets_of_paragraphs)
    from ner_spark.semantics.textnorm import remove_accent_unicode, sanitize

    docs = [sanitize(d) for d in docs]
    mchars = sum(len(d) for d in docs) / 1e6

    def timed(fn) -> float:
        t0 = time.perf_counter()
        for d in docs:
            fn(d)
        return time.perf_counter() - t0

    hits = sum(ckernel.try_scan_resolve(bundle, automaton, d, lang=EN)
               is not None for d in docs)
    scan = timed(automaton.scan)
    full = timed(lambda d: scan_and_resolve(bundle, automaton, d, lang=EN,
                                            as_tuples=True))
    ckernel.FORCE_DISABLE = True
    try:
        python = timed(lambda d: scan_and_resolve(bundle, automaton, d,
                                                  lang=EN, as_tuples=True))
    finally:
        ckernel.FORCE_DISABLE = False
    dates = timed(find_dates)
    pnouns = timed(lambda d: find_proper_nouns(
        remove_accent_unicode(d), frozenset(), EN.proper_nouns_preps))
    pars = timed(offsets_of_paragraphs)
    return {
        "semantics.scan_mchars_per_s": mchars / scan,
        "semantics.scan_resolve_mchars_per_s": mchars / full,
        "semantics.python_resolve_mchars_per_s": mchars / python,
        "semantics.dates_share": dates / full,
        "semantics.proper_nouns_share": pnouns / full,
        "semantics.paragraphs_share": pars / full,
        "semantics.kernel_hit_rate": hits / len(docs),
    }


def _spark_metrics(counters: dict, walls: dict, cores: int) -> dict:
    m = {}
    for p in SPARK_PHASES:
        c = counters.get(p) or {}
        pre = f"spark.{p}."
        m[pre + "jobs"] = c.get("jobs", 0)
        m[pre + "tasks"] = c.get("tasks", 0)
        m[pre + "busy_share"] = c.get("run_ms", 0) / 1000 / max(
            1e-9, walls[p] * cores)
        m[pre + "gc_s"] = c.get("gc_ms", 0) / 1000
        for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
            m[pre + k] = c.get(k, 0)
    return m


def traced(spec: dict) -> dict:
    """A cold job, one traced job, one untraced job, the layer probes and
    the traced checkpointed extraction, all on ``local[4]`` with an event
    log."""
    from pyspark.sql import functions as F

    from ner_spark.pipeline.ner import sanitized_pages
    from ner_spark.pipeline.triples import (comention_edges, redirect_edges,
                                            sameas_mapping)

    events = os.path.join(spec["work"], "eventlog", spec["run_id"])
    shutil.rmtree(events, ignore_errors=True)
    os.makedirs(events)
    spark, art, kb_rows, setup = driver.set_up(spec, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false"})
    driver.log(f"set-up done: {setup}")
    corpus = workloads.ensure_pages(spark, spec["work"], spec["workload"],
                                    spec["seed"], kb_rows)
    runner = driver.Runner(spark, art, corpus, spec)
    # the first job is cold, like the only job of a spark-submit run: it is
    # the local[4] side of scale_eff_1to4, whose 1-core side is cold too
    cold, _ = runner.run()
    # traced before untraced: what warm-up is left falls on the traced job,
    # so trace.overhead_s errs high, never low
    tr = Tracer(spec["run_id"], spark.sparkContext)
    traced_rec, res = runner.run(tr=tr, keep=True)
    m: dict[str, float] = {}
    with tr.span("probes"):
        # the probes that need the traced job's mentions; they are freed
        # before the untraced job, which must not find them cached
        m["ner.mentions"] = res.mentions.count()
        with tr.phase("triples.comention"):
            row = comention_edges(res.mentions).agg(
                F.count(F.lit(1)).alias("edges"),
                F.sum("weight").alias("pairs")).first()
        m["triples.comention_s"] = tr.wall("triples.comention")
        m["triples.comention_edges"] = row.edges
        m["triples.comention_pairs"] = row.pairs or 0
        straight_fp = jobs.mentions_fingerprint(res.mentions)
    jobs.free(res)
    untraced, _ = runner.run()
    m.update({
        "session.start_s": setup["session_from_launch_s"],
        "kb.compile_s": setup["compile_s"],
        "kb.broadcast_bytes": len(pickle.dumps(art.bundle, protocol=5))
        + len(pickle.dumps(art.automaton, protocol=5)),
        "kb.n_entities": art.n_entities,
        "kb.n_keys": art.n_keys,
        "trace.overhead_s": traced_rec["job_s"] - untraced["job_s"],
    })
    job = next(s for s in tr.spans if s["name"] == "job")
    m["trace.unattributed_share"] = tr.self_times()[job["id"]] / (
        job["end"] - job["start"])
    for name in ("ner.extract", "triples.plan", "triples.exec",
                 "catalog.write"):
        m[name + "_s"] = tr.wall(name)
    m["triples.n_triples"] = traced_rec["n"]
    m["catalog.bytes_written"], m["catalog.files_written"] = _dir_size(
        traced_rec["out"])
    m["catalog.buckets_committed"] = traced_rec["lineage_buckets"]

    pages = runner.read()
    with tr.span("probes"):
        with tr.phase("ner.read"):
            m["ner.chars"] = sanitized_pages(pages).select(
                F.sum(F.length("text"))).first()[0]
        with tr.phase("ner.arrow_floor"):
            sanitized_pages(pages).mapInPandas(
                lambda it: it, "url string, text string").count()
        m["ner.read_s"] = tr.wall("ner.read")
        m["ner.arrow_floor_s"] = tr.wall("ner.arrow_floor")
        m["ner.docs"] = corpus.n_docs
        with tr.phase("triples.sameas"):
            mapping = sameas_mapping(art.kb_df).persist()
            mapping.count()
        m["triples.sameas_s"] = tr.wall("triples.sameas")
        m["cc.components"] = mapping.select("component").distinct().count()
        mapping.unpersist()
        m["cc.edges"] = redirect_edges(art.kb_df).filter("src <> dst").count()
    # the checkpointed form of the extraction, interrupted and resumed on
    # the same corpus: its mentions must equal the straight-through ones
    art_dir = os.path.join(runner.out_root, "resume")
    rec = {"out": art_dir, "ok": False, "timed": True}
    try:
        resumed, reused = jobs.run_resume(spark, art, runner.read, art_dir, tr)
        rec["ok"] = jobs.mentions_fingerprint(resumed) == straight_fp
    except Exception as e:  # a failed check is a result, not a crash
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
        reused = 0
    runner.records.append(rec)
    for k in ("kb.save", "kb.load", "run.checkpoint", "run.resume"):
        m[k + "_s"] = tr.wall(k)
    m["run.buckets_reused"] = reused
    m["run.resume_useful_ratio"] = reused / jobs.FAIL_MENTIONS_AFTER
    with tr.span("semantics"):
        m.update(semantics_probe(
            art.bundle, art.automaton,
            [t for _, t in driver.pages_sample(corpus, driver.SEMANTICS_DOCS)]))
    walls = {p: tr.wall(p) for p in SPARK_PHASES}
    runner.finish_checks(driver.load_reference(corpus))
    spark.stop()
    counters = phase_counters(events)
    m.update(_spark_metrics(counters, walls, spec["cores"]))
    m["cc.jobs"] = counters.get("triples.sameas", {}).get("jobs", 0)
    tr.dump(spec["spans"])
    return {"setup": setup, "metrics": m, "records": runner.records,
            "cold_job_s": cold.get("job_s"),
            "n_chars": corpus.n_chars, "kb_artifact": art_dir + ".kb"}


def single(spec: dict) -> dict:
    """1-core companion: loads the KB artifact the traced run saved, then
    one cold job (as the traced run's first), a timed extraction, and the
    driver-side kernel time over the same text (this process is pinned to
    the same core)."""
    from ner_spark.pipeline.ner import extract_mentions
    from ner_spark.semantics.lang import EN
    from ner_spark.semantics.recognize import scan_and_resolve
    from ner_spark.semantics.textnorm import sanitize

    spark, art, kb_rows, setup = driver.set_up(spec, {})
    driver.log(f"set-up done: {setup}")
    corpus = workloads.ensure_pages(spark, spec["work"], spec["workload"],
                                    spec["seed"], kb_rows)
    runner = driver.Runner(spark, art, corpus, spec)
    runner.run()
    t0 = time.perf_counter()
    extract_mentions(runner.read(), art).count()
    extract_s = time.perf_counter() - t0
    docs = [sanitize(t) for _, t in driver.pages_sample(corpus, 1 << 30)]
    t0 = time.perf_counter()
    for d in docs:
        scan_and_resolve(art.bundle, art.automaton, d, lang=EN, as_tuples=True)
    kernel_s = time.perf_counter() - t0
    driver.log(f"1-core extract {extract_s:.2f} s, kernel {kernel_s:.2f} s")
    runner.finish_checks(driver.load_reference(corpus))
    spark.stop()
    return {"setup": setup, "records": runner.records, "extract_s": extract_s,
            "kernel_s": kernel_s}
