"""Seeded input generation for the benchmark workloads.

Every input table is a pure function of (workload spec, seed).  The seed
only decides WHICH hosts or documents get a property, never how many, so
every seed gives the same amount of work and runs of different seeds can
be compared.  Generated parquet files are cached on disk under a key made
of the spec and the seed; a run with a cached key skips the write.
Generation runs in this one process and is never part of a timed window.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from abwcf_spark.config import CrawlConfig
from abwcf_spark.testing.corpus import CorpusSpec, gen_corpus

# ---------------------------------------------------------------- deep_crawl
DEEP_HOSTS = 16
DEEP_URLS_PER_HOST = 20
# Virtual rounds of 12 h: the 24 h robots lifetime of every "ok" host
# expires at round 2, so the refresh-on-access and the fetch-time strict
# re-evaluation run inside the three-round crawl; unreachable hosts (1 h
# lifetime) are refreshed on every round they are accessed.
DEEP_CFG = CrawlConfig(round_seconds=43_200.0, max_rounds=64)
# the body a "changed" host serves after its switch time: /p/1, /p/10..19
# become disallowed, flipping queued Discovered rows at fetch time
CHANGED_ROBOTS = "User-agent: *\nDisallow: /p/1\nCrawl-delay: 5\n"


def deep_crawl_spec(seed: int) -> CorpusSpec:
    """16 hosts x 20 pages, fanout 4, leaf pages link nowhere: three
    rounds of 16, 64 and up to 240 fetches.  The seed picks the delayed
    hosts, the robots changes and the unavailable and unreachable
    robots.txt hosts (all distinct)."""
    rng = random.Random(seed)
    hosts = list(range(1, DEEP_HOSTS))  # host 0 is the seed-independent anchor
    rng.shuffle(hosts)
    delayed, changed = hosts[0:4], hosts[4:6]
    unavailable, unreachable = hosts[6], hosts[7]
    delays = {h: 0.0 for h in range(DEEP_HOSTS)}
    for h, d in zip(delayed, (5.0, 10.0, 20.0, 20.0)):
        delays[h] = d
    return CorpusSpec(
        n_hosts=DEEP_HOSTS,
        urls_per_host=DEEP_URLS_PER_HOST,
        seed_hosts=DEEP_HOSTS,
        fanout=4,
        leaf_links=False,
        image_size=(24, 16),
        crawl_delays=delays,
        unavailable_hosts=(unavailable,),
        unreachable_hosts=(unreachable,),
        # the switch lands before the round-2 expiry of the 24 h lifetime
        robots_changes={h: (60_000.0, CHANGED_ROBOTS) for h in changed},
    )


# --------------------------------------------------------------------- curate
CURATE_DOCS = 1000
# the vocabulary, language mix, length range and 5% "copy + ' dup'" near
# duplicates follow the documents table of the project's sf0.1 test data
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20


def gen_documents(seed: int, n_docs: int = CURATE_DOCS) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars): 10-100 words per document,
    and about 5% of documents are an earlier document's text + ' dup'."""
    rng = np.random.default_rng(seed)
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    n_words = rng.integers(10, 101, size=n_docs)
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), size=k))
        for k in n_words
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pd.DataFrame(
        dict(
            doc_id=np.arange(n_docs, dtype="int64"),
            text=texts,
            lang=[LANGS[x] for x in lang],
            source=[f"src{i % N_SOURCES}" for i in range(n_docs)],
            n_chars=np.array([len(t) for t in texts], dtype="int64"),
        )
    )


# ------------------------------------------------------------------ writing
_CORPUS_FIELDS = [
    ("url", pa.string()), ("image_id", pa.string()),
    ("bytes", pa.binary()), ("content_length", pa.int64()),
    ("w", pa.int64()), ("h", pa.int64()), ("fmt", pa.string()),
    ("caption", pa.string()), ("phash", pa.int64()),
    ("status_code", pa.int64()), ("content_type", pa.string()),
    ("redirect_to", pa.string()), ("x_robots_tag", pa.string()),
    ("meta_robots", pa.string()), ("out_links", pa.list_(pa.string())),
]
_ROBOTS_FIELDS = [
    ("scheme_and_authority", pa.string()), ("fetch_outcome", pa.string()),
    ("robots_body", pa.string()), ("robots_body2", pa.string()),
    ("switch_ms", pa.int64()),
]
_SEEDS_FIELDS = [("url", pa.string()), ("seq", pa.int64())]


def _write(pdf: pd.DataFrame, fields: list, path: str) -> None:
    fields = [(n, t) for n, t in fields if n in pdf.columns]
    table = pa.Table.from_pandas(
        pdf[[n for n, _ in fields]], schema=pa.schema(fields),
        preserve_index=False,
    )
    # small row groups: a row group is the unit of a scan split
    pq.write_table(table, path + ".tmp", row_group_size=4096)
    os.replace(path + ".tmp", path)


def _cache_dir(cache_root: str, workload: str, key_src: str, seed: int) -> str:
    key = hashlib.sha1(key_src.encode()).hexdigest()[:12]
    return os.path.join(cache_root, f"{workload}-{key}-s{seed}")


@dataclass
class CrawlInputs:
    spec: CorpusSpec
    tables: dict          # pandas corpus / robots / seeds (the oracle's input)
    paths: dict           # parquet paths of the same tables (the program's input)


def crawl_inputs(seed: int, cache_root: str) -> CrawlInputs:
    spec = deep_crawl_spec(seed)
    tables = gen_corpus(spec)
    d = _cache_dir(cache_root, "deep_crawl", repr(spec), seed)
    paths = {n: os.path.join(d, f"{n}.parquet") for n in ("corpus", "robots", "seeds")}
    if not all(os.path.isfile(p) for p in paths.values()):
        os.makedirs(d, exist_ok=True)
        _write(tables["corpus"], _CORPUS_FIELDS, paths["corpus"])
        _write(tables["robots"], _ROBOTS_FIELDS, paths["robots"])
        _write(tables["seeds"], _SEEDS_FIELDS, paths["seeds"])
    return CrawlInputs(spec, tables, paths)


def curate_inputs(seed: int, cache_root: str) -> tuple[str, pd.DataFrame]:
    """→ (sf_dir holding documents.parquet, the documents table)."""
    docs = gen_documents(seed)
    d = _cache_dir(cache_root, "curate", f"docs={CURATE_DOCS}", seed)
    path = os.path.join(d, "documents.parquet")
    if not os.path.isfile(path):
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), path + ".tmp")
        os.replace(path + ".tmp", path)
    return d, docs
