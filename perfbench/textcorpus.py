"""Seeded text corpus with planted near-duplicate twins, written without Spark.

Same shape as ``scripts/dedup_maintenance_smoke.py``'s corpus: rows of
``(doc_id, text, lang, source, n_chars)`` whose text is a pure integer-hash
function of ``(seed, content_id, position)`` rendered as 8-letter words.
Every doc with ``doc_id % 100 == 7`` copies its predecessor's words and
changes only the last one, so the planted twins ``(i - 1, i)`` are the only
documents that share long substrings. Ranges are whole hundreds, so every
twin lands in the same part file as its base document.

Part files are written with pyarrow under a ``_``-prefixed name and then
renamed, so a part appears in the corpus listing only once it is complete
(the signature tables ignore ``_`` names).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = 48
WORD_LEN = 8
TWIN_PERIOD = 100
TWIN_OFFSET = 7


def texts_for(ids: np.ndarray, seed: int) -> list:
    is_twin = (ids % TWIN_PERIOD) == TWIN_OFFSET
    content = ids - is_twin.astype(np.int64)
    pos = np.arange(DOC_WORDS, dtype=np.uint64)
    x = (
        content.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15)
        + pos[None, :] * np.uint64(0xBF58476D1CE4E5B9)
        + np.uint64(seed)
    )
    x ^= x >> np.uint64(30)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    x[is_twin, -1] ^= np.uint64(0xDEADBEEFCAFEF00D)
    buf = np.empty((len(ids), DOC_WORDS, WORD_LEN + 1), dtype=np.uint8)
    buf[:, :, WORD_LEN] = 0x20
    for j in range(WORD_LEN):
        buf[:, :, j] = (x % np.uint64(26)).astype(np.uint8) + 0x61
        x //= np.uint64(26)
    flat = buf.reshape(len(ids), -1)[:, :-1]
    return [row.tobytes().decode("ascii") for row in flat]


def planted_twins(lo: int, hi: int) -> set:
    """The (doc_a, doc_b) pairs planted in doc ids [lo, hi)."""
    return {(i - 1, i) for i in range(lo, hi) if i % TWIN_PERIOD == TWIN_OFFSET}


def docs_dir(corpus: str) -> str:
    return os.path.join(corpus, "documents.parquet")


def land_part(corpus: str, lo: int, hi: int, seed: int, name: str) -> str:
    """Write docs [lo, hi) as one part file of ``corpus`` and return its path."""
    if lo % TWIN_PERIOD or hi % TWIN_PERIOD:
        raise ValueError("part ranges must be whole hundreds so twins stay together")
    ids = np.arange(lo, hi, dtype=np.int64)
    texts = texts_for(ids, seed)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.where(ids % 17 == 0, "es", "en"),
            "source": np.where(ids % 3 == 0, "county", "scan"),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    d = docs_dir(corpus)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"{name}.parquet")
    tmp = os.path.join(d, f"_{name}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final
