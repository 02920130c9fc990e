"""Seeded pages tables for the benchmark workloads.

Every workload uses the text model of ``scripts/gen_sf.py`` (gen-sf1):
each document is 10-100 words, 35% drawn from the 31-word base
vocabulary of the shipped ``documents.parquet`` (it carries the gazetteer
terms, so mention density and the co-mention graph follow the shipped
documents) and 65% from a 20,000-word long-tail filler (so shingle collisions
stay rare, as in real text), with the base data's 0.2% exact-duplicate
rate.  The base vocabulary is inlined so the generator needs no input
files.

Pages carry pre-extracted ``text`` beside a one-section html body (the
``pages_from_documents`` shape).  The first ``n_base`` of them are the
same for every seed: they are a workload's committed base, built once
and reused (see ``run.py``).

Each table is written once per (generator code, size, seed) under the
work directory and reused; generation is never part of a timed
interval.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BASE_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
FILLER_VOCAB = 20_000
BASE_WORD_FRAC = 0.35
DUP_RATE = 0.002
EPOCH = dt.datetime(2025, 1, 1)
#: doc 0 has the smallest url, so it is the hub every relationship points
#: at; its text is the same for every seed, so the relationship (and
#: triple) count does not swing with one random hub document
HUB_SEED = "hub"

SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us"), False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def code_key() -> str:
    """Hash of the files that decide inputs and expected outputs: cached
    inputs and fingerprints from other benchmark code are never reused."""
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("inputs.py", "workloads.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _doc_words(seed, i: int, prev: list[str]) -> tuple[random.Random, list[str]]:
    """The gen_sf document model: (the doc's rng, its words)."""
    rng = random.Random(f"core:{seed}:{i}" if i else HUB_SEED)
    if i > 0 and rng.random() < DUP_RATE:
        return rng, prev
    return rng, [
        rng.choice(BASE_VOCAB)
        if rng.random() < BASE_WORD_FRAC
        else f"w{rng.randrange(FILLER_VOCAB)}"
        for _ in range(rng.randint(10, 100))
    ]


def core_rows(n_docs: int, seed: int, n_base: int = 0) -> list[dict]:
    """gen_sf documents wrapped as pages with pre-extracted text; the
    first ``n_base`` do not depend on the seed."""
    rows: list[dict] = []
    words: list[str] = []
    for i in range(n_docs):
        rng, words = _doc_words("base" if i < n_base else seed, i, words)
        text = " ".join(words)
        html = f"<html><nav>n</nav><body><section>{text}</section></body><footer>f</footer></html>"
        rows.append(
            {
                "url": f"https://example.org/doc/{i:05d}",
                "warc_ts": EPOCH + dt.timedelta(seconds=i),
                "html": html.encode(),
                "text": text,
                "lang": "en" if rng.random() < 0.6 else "de",
            }
        )
    return rows


def pages_parquet(work_dir: str, n_docs: int, n_base: int, seed: int) -> str:
    """Path of the pages parquet for (n_docs, n_base, seed); written on
    first use."""
    name = f"pages-{n_docs}-{n_base}-{seed}.parquet"
    path = os.path.join(work_dir, "inputs", code_key(), name)
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = core_rows(n_docs, seed, n_base)
        tmp = path + ".tmp"
        pq.write_table(pa.Table.from_pylist(rows, SCHEMA), tmp)
        os.replace(tmp, path)
    return path
