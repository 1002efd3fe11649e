"""For each per-layer metric of ``BENCHMARK.json`` (which holds only name,
unit and better), the end-to-end metric and workload it should move; and the
"where the time goes" rows a traced run prints."""

from __future__ import annotations

_SPARK = ("jobs", "tasks", "busy_share", "gc_s", "shuffle_write_bytes",
          "shuffle_read_bytes", "spill_bytes")
_SPARK_MOVES = {
    "ner.extract": "scale_eff_1to4 and job_s on web",
    "triples.exec": "job_s on dense-bigkb (shuffle bytes); scale_eff_1to4 on web",
    "catalog.write": "job_s on web and dense-bigkb",
    "run.checkpoint": "none bounded: the checkpoint/commit primitive",
}

MOVES = {
    "session.start_s": "setup_s, all workloads",
    "kb.compile_s": "setup_s on dense-bigkb",
    "kb.save_s": "none bounded: the --kb-artifact form",
    "kb.load_s": "none bounded: the --kb-artifact form",
    "kb.broadcast_bytes": "setup_s and peak_mem_mb on dense-bigkb",
    "kb.n_entities": "none: workload size",
    "kb.n_keys": "none: workload size",
    "ner.read_s": "job_s on web",
    "ner.arrow_floor_s": "job_s on web (Arrow boundary)",
    "ner.extract_s": "job_s on web; less on dense-bigkb",
    "ner.docs": "none: equals the input rows",
    "ner.chars": "none: mchars_per_s numerator",
    "ner.mentions": "none: output invariant",
    "ner.udf_overhead_ratio": "job_s on web (UDF boundary)",
    "semantics.scan_mchars_per_s": "job_s on web and dense-bigkb",
    "semantics.scan_resolve_mchars_per_s": "job_s on web and dense-bigkb",
    "semantics.python_resolve_mchars_per_s": "none on the kernel path: the Python fallback",
    "semantics.dates_share": "job_s on web only",
    "semantics.proper_nouns_share": "job_s on web only",
    "semantics.paragraphs_share": "job_s on web",
    "semantics.kernel_hit_rate": "job_s on web and dense-bigkb",
    "triples.plan_s": "job_s on web and dense-bigkb",
    "triples.exec_s": "job_s on dense-bigkb; small on web",
    "triples.comention_s": "job_s on dense-bigkb",
    "triples.comention_pairs": "none: output invariant",
    "triples.comention_edges": "none: output invariant",
    "triples.sameas_s": "job_s on dense-bigkb; setup_s if moved into compile",
    "triples.n_triples": "none: output invariant",
    "cc.edges": "none: KB invariant",
    "cc.components": "none: KB invariant",
    "cc.jobs": "job_s on dense-bigkb; setup_s if moved into compile",
    "catalog.write_s": "job_s on web and dense-bigkb",
    "catalog.bytes_written": "job_s on dense-bigkb",
    "catalog.files_written": "job_s on web and dense-bigkb",
    "catalog.buckets_committed": "none: output invariant",
    "run.checkpoint_s": "none bounded: the checkpoint/commit primitive",
    "run.resume_s": "none bounded: the checkpoint/commit primitive",
    "run.buckets_reused": "none: resume invariant",
    "run.resume_useful_ratio": "none: resume invariant",
    "mem.peak_mb": "none bounded: peak summed PSS of the traced local[4] process tree; broadcast size on dense-bigkb",
    "scale_eff_1to4": "north rule N to 4N: cold 1-core job / (4 x cold local[4] job)",
    "trace.overhead_s": "none: traced job_s - untraced job_s",
    "trace.unattributed_share": "none: job wall outside layer spans",
    **{f"spark.{phase}.{k}": moves
       for phase, moves in _SPARK_MOVES.items() for k in _SPARK},
}


def time_table(m: dict) -> list[str]:
    """The "where the time goes" rows from one traced run."""
    return [
        "where the time goes (traced run, local[4] unless noted):",
        f"  read + sanitize + sum      {m['ner.read_s']:.2f} s",
        f"  mapInPandas, no work        {m['ner.arrow_floor_s']:.2f} s",
        f"  extract_mentions            {m['ner.extract_s']:.2f} s "
        f"(1 core: {m['ner.udf_overhead_ratio']:.2f}x the bare kernel)",
        f"  build_triples plan / exec   {m['triples.plan_s']:.2f} / "
        f"{m['triples.exec_s']:.2f} s",
        f"  comention_edges alone       {m['triples.comention_s']:.2f} s "
        f"({m['triples.comention_pairs']} pairs -> "
        f"{m['triples.comention_edges']} edges)",
        f"  resumable_write             {m['catalog.write_s']:.2f} s",
        f"  kernel scan / scan+resolve  {m['semantics.scan_mchars_per_s']:.2f}"
        f" / {m['semantics.scan_resolve_mchars_per_s']:.2f} MB-chars/s "
        f"(Python resolve {m['semantics.python_resolve_mchars_per_s']:.2f})",
        f"  shares of kernel-path time  dates {m['semantics.dates_share']:.0%}"
        f", proper nouns {m['semantics.proper_nouns_share']:.0%}"
        f", paragraphs {m['semantics.paragraphs_share']:.0%}",
        f"  scale_eff_1to4              {m['scale_eff_1to4']:.2f}",
    ]
