"""Seeded workload inputs, synthesized with the public ``sources.pages`` API.

A fixed pool of ``documents`` rows (text, lang) stands in for the crawl's
documents table: a 33-word vocabulary, 10 to 100 words per row and five
languages in fixed shares. The pool never depends on the workload seed.
The seed picks which pool row feeds each doc_id and the row order of the
table; the doc_ids themselves are fixed per workload, so flavor shares
(set by ``doc_id % 20``), table size and the mega-host share never change,
and the order deals flavors out evenly, so they hold per file too.

Each run writes its tables under a directory keyed by workload, seed and a
hash of the synthesis sources, so pages made by older synthesis code are
never read back. ``expected_text`` (the by-construction golden) goes to its
own table and never into the pages table the program scans.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

POOL_SIZE = 4096
POOL_SEED = 0x0C5A7
N_FILES = 8  # parquet files per table, so scan tasks outnumber the 4 slots

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window index page text crawl"
).split()
_LANG_SHARES = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))

#: doc_id % 20 residues by extraction route (see ocr_spark.sources.pages)
HTML_RESIDUES = (1, 2, 3, 4, 6, 7, 9, 11, 13, 14, 16, 17, 18, 19)
OCR_RESIDUES = (0, 5, 8)  # payload, PDF, image
ALL_RESIDUES = tuple(range(20))

#: files the synthesized bytes depend on; their hash keys the input tables
SYNTH_SOURCES = ("sources/pages.py", "sources/pdf_synth.py", "kernels/imagecodec.py")

DOCUMENTS_SCHEMA = "doc_id long, text string, lang string"


def document_pool() -> list[tuple[str, str]]:
    """The fixed (text, lang) pool every workload draws its documents from."""
    rng = random.Random(POOL_SEED)
    langs = [lang for lang, share in _LANG_SHARES for _ in range(share)]
    return [
        (
            " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100))),
            rng.choice(langs),
        )
        for _ in range(POOL_SIZE)
    ]


def doc_ids(residues: tuple[int, ...], per_residue: int) -> list[int]:
    """``per_residue`` doc_ids for each residue, in equal shares."""
    return [20 * k + r for k in range(per_residue) for r in residues]


def _stratum(doc_id: int) -> tuple[int, int]:
    """What picks a page's route and variant: the residue, and doc_id // 20
    modulo 8 (PNG/JPEG/progressive JPEG, the four PDF encodings)."""
    return doc_id % 20, doc_id // 20 % 8


def documents(ids: list[int], workload: str, seed: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows with seeded pool picks, in a seeded order
    that deals every stratum out evenly, so each slice of the table (each
    file, each scan task) holds the same flavor mix."""
    rng = random.Random(f"{workload}:{seed}")
    pool = document_pool()
    rows = [(d, *pool[rng.randrange(POOL_SIZE)]) for d in ids]
    rng.shuffle(rows)
    seen: dict[tuple[int, int], int] = {}
    keyed = []
    for row in rows:
        rank = seen[_stratum(row[0])] = seen.get(_stratum(row[0]), -1) + 1
        keyed.append((rank, rng.random(), row))
    keyed.sort()
    return [row for _, _, row in keyed]


def source_hash() -> str:
    import ocr_spark

    pkg = os.path.dirname(os.path.abspath(ocr_spark.__file__))
    h = hashlib.sha256()
    for rel in SYNTH_SOURCES:
        with open(os.path.join(pkg, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def input_key(workload: str, seed: int) -> str:
    return f"{workload}-seed{seed}-src{source_hash()}"


def _synth_batches(batches):
    from ocr_spark.sources.pages import synth_pages_pdf

    for pdf in batches:
        yield synth_pages_pdf(pdf, with_expected=True)


@dataclass
class Inputs:
    pages: str    # parquet: the program's input table (no golden column)
    golden: str   # parquet: (url, expected_text)
    n_docs: int
    input_bytes: int


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def write_inputs(spark, rows: list[tuple[int, str, str]], out_dir: str) -> Inputs:
    """Synthesize pages from ``rows`` on the cluster and write the pages and
    golden tables, ``N_FILES`` files each, in the rows' order."""
    import pandas as pd

    from ocr_spark.sources.pages import PAGES_GOLDEN_SCHEMA

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
    docs = spark.createDataFrame(pdf, DOCUMENTS_SCHEMA).coalesce(N_FILES)
    synth = docs.mapInPandas(_synth_batches, schema=PAGES_GOLDEN_SCHEMA).persist()
    try:
        pages = os.path.join(out_dir, "pages")
        golden = os.path.join(out_dir, "golden")
        synth.drop("expected_text").write.mode("overwrite").parquet(pages)
        synth.select("url", "expected_text").write.mode("overwrite").parquet(golden)
    finally:
        synth.unpersist()
    return Inputs(pages, golden, len(rows), parquet_bytes(pages))
