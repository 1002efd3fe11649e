"""The KG-construction job as the benchmark runs it, plus its output check.

The job is ``tools/run_job.py``'s production path, called through public
functions only: pages parquet → ``extract_mentions`` → ``build_triples`` →
``resumable_write`` (bucketed triple table + ``_lineage`` sidecar).  The
traced run also runs the checkpointed extraction of ``run_job --kb-artifact
--materialize-mentions --resume-waves``, interrupted once and resumed.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter

from pyspark.sql import functions as F

from ner_spark.io.catalog import completed_buckets, read_lineage, resumable_write
from ner_spark.kb.build import load_kb_artifact, save_kb_artifact
from ner_spark.pipeline.ner import extract_mentions
from ner_spark.pipeline.run import extract_mentions_resumable
from ner_spark.pipeline.triples import build_triples

N_BUCKETS = 16
WAVES = 2
FAIL_MENTIONS_AFTER = 10  # two buckets into the second of two waves


def _expect_interrupt(fn) -> None:
    try:
        fn()
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("the injected interruption did not happen")


class JobResult:
    def __init__(self, mentions, manifest):
        self.mentions = mentions      # still cached; the caller frees it
        self.manifest = manifest


def run_straight(spark, art, read, out: str, tr) -> JobResult:
    """The in-memory path (``run_job`` without ``--materialize-mentions``).
    ``read()`` returns the pages DataFrame.  Traced, the phases are forced
    one at a time so each gets its own wall time and job group."""
    with tr.span("job"):
        pages = read()
        with tr.phase("ner.extract"):
            mentions = extract_mentions(pages, art).persist()
            if tr.on:
                mentions.count()
        with tr.phase("triples.plan"):
            triples = build_triples(mentions, art.kb_df)
        if tr.on:
            with tr.phase("triples.exec"):
                triples = triples.persist()
                triples.count()
        with tr.phase("catalog.write"):
            manifest = resumable_write(triples, out, key="subj",
                                       n_buckets=N_BUCKETS)
        if tr.on:
            triples.unpersist()
    return JobResult(mentions, manifest)


def run_resume(spark, art, read, out: str, tr) -> tuple:
    """The checkpointed extraction of ``run_job --kb-artifact
    --materialize-mentions --resume-waves``: attempt 1 saves the compiled KB
    as an artifact and is interrupted while checkpointing mention waves;
    attempt 2 loads the artifact and resumes.  Returns (the resumed
    mentions table, buckets reused)."""
    m_dir = out + ".mentions"
    with tr.phase("kb.save"):
        save_kb_artifact(art, out + ".kb")
    pages = read()
    with tr.phase("run.checkpoint"):
        _expect_interrupt(lambda: extract_mentions_resumable(
            spark, pages, art, m_dir, n_buckets=N_BUCKETS, waves=WAVES,
            fail_after_buckets=FAIL_MENTIONS_AFTER))
    reused = len(completed_buckets(spark, m_dir))
    with tr.phase("kb.load"):
        art2 = load_kb_artifact(spark, out + ".kb")
    with tr.phase("run.resume"):
        mentions = extract_mentions_resumable(
            spark, pages, art2, m_dir, n_buckets=N_BUCKETS, waves=WAVES)
    free_artifact(art2)
    return mentions, reused


def free_artifact(art) -> None:
    art.kb_df.unpersist()
    art.bundle_bc.destroy()
    art.automaton_bc.destroy()


MENTION_COLS = ["url", "start", "end", "par", "kind", "text", "sense", "iso",
                 "confidence"]


def _fingerprint(*cols):
    """Order-insensitive content hash of the rows' ``cols``: the sum of row
    hashes, so a row present twice counts twice (an XOR would cancel it)."""
    return F.sum(F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\0"))
                              for c in cols]).cast("decimal(38,0)"))


def mentions_fingerprint(mentions) -> tuple[int, int]:
    """(rows, order-insensitive content hash) of a mentions table."""
    row = mentions.select(F.count(F.lit(1)).alias("n"),
                          _fingerprint(*MENTION_COLS).alias("fp")).first()
    return int(row.n), int(row.fp or 0)


def free(res: JobResult) -> None:
    res.mentions.unpersist()


def remove_outputs(out: str) -> None:
    for p in (out, out + ".kb", out + ".mentions"):
        shutil.rmtree(p, ignore_errors=True)


def table_fingerprint(spark, out: str) -> dict:
    """Read the committed triple table back: row count, an order-insensitive
    content fingerprint of our own, and the lineage sidecar's row total."""
    tbl = spark.read.parquet(out)
    row = tbl.select(
        F.count(F.lit(1)).alias("n"),
        _fingerprint("subj", "pred", "obj", "weight").alias("fp"),
    ).first()
    lin = read_lineage(spark, out).select(
        F.sum("n_rows").alias("rows"), F.count(F.lit(1)).alias("buckets")).first()
    return {"n": int(row.n), "fp": int(row.fp or 0),
            "lineage_rows": int(lin.rows or 0),
            "lineage_buckets": int(lin.buckets)}


def inject(out: str, how: str) -> None:
    """Damage a committed table the way a faulty change would: rewrite one
    triple's object (``corrupt-triple``) or delete one bucket directory
    (``drop-bucket``).  Used only to show the check catches it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buckets = sorted(glob.glob(os.path.join(out, "bucket=*")))
    if how == "drop-bucket":
        shutil.rmtree(buckets[0])
        return
    path = sorted(glob.glob(os.path.join(buckets[0], "*.parquet")))[0]
    tbl = pq.read_table(path)
    objs = tbl.column("obj").to_pylist()
    objs[0] = (objs[0] or "") + "#corrupt"
    i = tbl.schema.get_field_index("obj")
    tbl = tbl.set_column(i, "obj", pa.array(objs, tbl.schema.field(i).type))
    pq.write_table(tbl, path)
    # a writer bug produces a valid file with wrong content: drop the local
    # filesystem's checksum sidecar so the damage is only in the content
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def oracle_rows(bundle, automaton, sample: list[tuple[str, str]]) -> Counter:
    """The mention rows the single-document oracle ``recognize`` gives for
    the sampled pages, on the Python resolve path: the C kernel is disabled
    here, so a kernel defect cannot agree with itself."""
    from ner_spark.semantics import ckernel
    from ner_spark.semantics.recognize import recognize

    want = Counter()
    ckernel.FORCE_DISABLE = True
    try:
        for url, text in sample:
            for m in recognize(bundle, automaton, text):
                want[(url,) + tuple(m[c] for c in MENTION_COLS[1:])] += 1
    finally:
        ckernel.FORCE_DISABLE = False
    return want


def oracle_check(want: Counter, mentions, urls: list[str]) -> dict:
    """A job's mentions of the sampled pages against :func:`oracle_rows`:
    multiset precision and recall over mention rows."""
    got = Counter(tuple(r) for r in mentions.filter(F.col("url").isin(urls))
                  .select(*MENTION_COLS).collect())
    tp = sum((got & want).values())
    return {"precision": tp / max(1, sum(got.values())),
            "recall": tp / max(1, sum(want.values())),
            "docs": len(urls), "mentions": sum(want.values())}
