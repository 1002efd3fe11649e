"""Seeded inputs for the KG-construction benchmark.

Every corpus is a pure function of (workload, seed, size) and is written
once to ``<work>/corpus/<workload>-s<seed>-n<pages>[-kb<entities>]/``; later
runs with the same key read the cached files.  Generation time is reported apart from every
metric.  The program under test only ever receives the pages parquet and the
KB rows produced here.

* ``web``: :func:`ner_spark.fixtures.gen.gen_pages_df` (Zipf entity
  mentions, dates, coreference) over the 145-row fixture KB.
* ``dense-bigkb``: a generated KB with unique names, aliases and redirect
  chains, and mention-dense multi-paragraph pages without digits (so almost
  no dates) whose entities are drawn from a flat Zipf (s = 0.8), so
  co-mention pairs barely aggregate.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

# (pages, KB entities); sized so one job is a few seconds on 4 cores and a
# run with its set-up fits the benchmark's per-run time budget.
SIZES = {
    "web": (1600, None),
    "dense-bigkb": (400, 4_000),
}

_SYL = ["ka", "lo", "mer", "vin", "tes", "dor", "ba", "ril", "gan", "sto",
        "pe", "lun", "fa", "zel", "mor", "ti", "nor", "va", "quin", "bel",
        "ha", "sar", "te", "lim", "ou", "rod", "ca", "nes", "pra", "ven",
        "do", "mil", "ga", "tor", "si", "bren", "ek", "wal", "fi", "dru"]
_ORG_SUFFIX = ["Corporation", "Institute", "Society", "University",
               "Company", "Foundation", "Works", "Guild"]
_GEO_SUFFIX = ["", "", "", " Falls", " Harbor", " Heights", " Valley"]
_NATS = [("American", "United States"), ("Czech", "Czech Republic"),
         ("German", "Germany"), ("Austrian", "Austria"), ("French", "France")]
_JOBS = ["composer", "painter", "general", "writer", "architect",
         "scientist", "singer", "politician", "engineer"]
_DENSE_TEMPLATES = [
    "{p} met {p2} in {g} .",
    "{p} and {p2} founded the {o} .",
    "The {o} moved from {g} to {g2} .",
    "{p} wrote to {p2} about {g} .",
    "Later {s} joined the {o} in {g} .",
    "{p} , a {job} , admired {p2} .",
    "Critics compared {p} with {p2} and {p3} .",
    "{g} and {g2} signed a pact with the {o} .",
    "{s} returned to {g} with {p2} .",
    "Many {nat} visitors praised {p} .",
]


def _word(rng: random.Random, lo: int = 2, hi: int = 3) -> str:
    return "".join(rng.choice(_SYL)
                   for _ in range(rng.randint(lo, hi))).capitalize()


def gen_big_kb(n_entities: int, seed: int) -> list[dict]:
    """KB rows (1-based ``id`` = line number) with unique names: 55% persons,
    25% places, 20% organisations, plus the five nationalities.  About 40%
    of persons carry an initial+surname alias and every organisation an
    acronym alias; 15% of places and organisations redirect to the
    previous entity of their type, which forms redirect chains."""
    rng = random.Random(seed * 7919 + 17)
    rows: list[dict] = []
    used: set[str] = set()

    def unique(make) -> str:
        name = make()
        while name in used:
            name = make()
        used.add(name)
        return name

    def add(**kw) -> dict:
        row = {"aliases": "", "redirects": "", **kw, "id": len(rows) + 1}
        rows.append(row)
        return row

    n_person = int(n_entities * 0.55)
    n_geo = int(n_entities * 0.25)
    n_org = n_entities - n_person - n_geo
    given = [_word(rng, 2, 2) for _ in range(3000)]
    for _ in range(n_person):
        first = rng.choice(given)
        name = unique(lambda: f"{first} {_word(rng)}")
        male = rng.random() < 0.6
        nat = rng.choice(_NATS)[0]
        job = rng.choice(_JOBS)
        byear = rng.randint(1700, 1980)
        add(type="person", name=name,
            aliases=f"{first[0]}. {name.split()[-1]}" if rng.random() < 0.4 else "",
            gender="M" if male else "F",
            date_of_birth=f"{byear:04d}-{rng.randint(1, 12):02d}-"
                          f"{rng.randint(1, 28):02d}",
            nationalities=nat, jobs=job, roles=job, fictional="0",
            description=f"{nat} {job}.",
            wikipedia_url=f"https://en.wikipedia.org/wiki/{name.replace(' ', '_')}",
            wiki_backlinks=int(rng.paretovariate(1.2) * 40),
            wiki_hits=int(rng.paretovariate(1.3) * 25),
            wiki_ps=rng.randint(0, 1))
    prev = None
    for _ in range(n_geo):
        name = unique(lambda: _word(rng, 2, 4) + rng.choice(_GEO_SUFFIX))
        country = rng.choice(_NATS)[1]
        redirects = prev if prev and rng.random() < 0.15 else ""
        add(type="geographical", name=name, country=country,
            redirects=redirects, description=f"Place in {country}.",
            wikipedia_url=f"https://en.wikipedia.org/wiki/{name.replace(' ', '_')}",
            wiki_backlinks=int(rng.paretovariate(1.2) * 30),
            wiki_hits=int(rng.paretovariate(1.3) * 20),
            wiki_ps=rng.randint(0, 1))
        prev = name
    prev = None
    for _ in range(n_org):
        name = unique(lambda: f"{_word(rng)} {rng.choice(_ORG_SUFFIX)}")
        redirects = prev if prev and rng.random() < 0.15 else ""
        acronym = "".join(w[0] for w in name.split()) + _word(rng, 1, 1).upper()
        add(type="organization", name=name, aliases=acronym,
            redirects=redirects, founded=f"{rng.randint(1800, 1995):04d}",
            description="Organisation.",
            wikipedia_url=f"https://en.wikipedia.org/wiki/{name.replace(' ', '_')}",
            wiki_backlinks=int(rng.paretovariate(1.3) * 20),
            wiki_hits=int(rng.paretovariate(1.3) * 15),
            wiki_ps=rng.randint(0, 1))
        prev = name
    for nat, country in _NATS:
        add(type="nationality", name=nat, aliases=f"{nat}s", country=country,
            description=f"People of {country}.")
    return rows


def _zipf_rank(rng: random.Random, n: int, s: float = 0.8) -> int:
    """Rank in [0, n) with P(rank) ~ rank^-s (continuous inverse CDF)."""
    a = 1.0 - s
    return min(n - 1, int(((n ** a - 1.0) * rng.random() + 1.0) ** (1.0 / a)) - 1)


def gen_dense_pages(kb_rows: list[dict], n_pages: int, seed: int) -> dict:
    """Mention-dense multi-paragraph documents over ``kb_rows`` →
    ``{"url": [...], "text": [...]}``.  Each page derives from
    (seed, page index) alone."""
    pools: dict[str, list[dict]] = {"person": [], "geographical": [],
                                    "organization": []}
    for r in kb_rows:
        if r["type"] in pools:
            pools[r["type"]].append(r)
    persons, geos, orgs = pools["person"], pools["geographical"], pools["organization"]
    urls, texts = [], []
    for i in range(n_pages):
        rng = random.Random((seed << 24) ^ (i * 2654435761))

        def pick(pool):
            return pool[_zipf_rank(rng, len(pool))]["name"]

        pars = []
        for _ in range(rng.randint(3, 6)):
            sents = []
            for _ in range(rng.randint(3, 7)):
                p = pick(persons)
                sents.append(rng.choice(_DENSE_TEMPLATES).format(
                    p=p, p2=pick(persons), p3=pick(persons), s=p.split()[-1],
                    g=pick(geos), g2=pick(geos), o=pick(orgs),
                    job=rng.choice(_JOBS), nat=rng.choice(_NATS)[0]))
            pars.append(" ".join(sents))
        urls.append(f"https://dense.example.org/d/{i:08d}")
        texts.append("\n\n".join(pars))
    return {"url": urls, "text": texts}


def corpus_dir(work: str, workload: str, seed: int) -> str:
    n_pages, n_kb = SIZES[workload]
    kb = f"-kb{n_kb}" if n_kb else ""
    return os.path.join(work, "corpus", f"{workload}-s{seed}-n{n_pages}{kb}")


def _publish(tmp: str, path: str) -> None:
    """Atomic publish, so a killed run never leaves half a cache entry."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.replace(tmp, path)


def kb_rows(work: str, workload: str, seed: int) -> list[dict]:
    """The KB rows the job compiles: the fixture KB, or for dense-bigkb the
    generated big KB (cached as JSON next to its pages)."""
    if workload != "dense-bigkb":
        from ner_spark.fixtures.gen import gen_kb_rows

        return gen_kb_rows()
    kb_dir = corpus_dir(work, workload, seed) + ".kb"
    path = os.path.join(kb_dir, "kb.json")
    if not os.path.exists(path):
        rows = gen_big_kb(SIZES[workload][1], seed)
        tmp = f"{kb_dir}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "kb.json"), "w") as fh:
            json.dump(rows, fh)
        _publish(tmp, kb_dir)
        return rows
    with open(path) as fh:
        return json.load(fh)


class Corpus:
    """A cached pages table with its size; ``gen_s`` is 0 on a cache hit."""

    def __init__(self, path: str, gen_s: float, cached: bool):
        self.path = path
        self.pages = os.path.join(path, "pages.parquet")
        with open(os.path.join(path, "meta.json")) as fh:
            meta = json.load(fh)
        self.n_docs, self.n_chars = meta["n_docs"], meta["n_chars"]
        self.gen_s, self.cached = gen_s, cached


def ensure_pages(spark, work: str, workload: str, seed: int,
                 kb: list[dict]) -> Corpus:
    path = corpus_dir(work, workload, seed)
    if os.path.exists(path):
        return Corpus(path, 0.0, True)
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n_pages, _ = SIZES[workload]
    t0 = time.perf_counter()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    pages = os.path.join(tmp, "pages.parquet")
    if workload == "dense-bigkb":
        import pyarrow as pa

        os.makedirs(pages)
        pq.write_table(pa.table(gen_dense_pages(kb, n_pages, seed)),
                       os.path.join(pages, "part-0.parquet"),
                       row_group_size=max(1, n_pages // 8))
    else:
        from ner_spark.fixtures.gen import gen_pages_df

        gen_pages_df(spark, kb, n_pages, seed=seed, partitions=8) \
            .select("url", "text").write.parquet(pages)
    text = pq.read_table(pages, columns=["text"]).column("text")
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"n_docs": len(text),
                   "n_chars": int(pc.sum(pc.utf8_length(text)).as_py() or 0)},
                  fh)
    _publish(tmp, path)
    return Corpus(path, time.perf_counter() - t0, False)
