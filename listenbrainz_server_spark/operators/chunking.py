"""Content-defined chunking (CDC) — Gear-hash rolling boundaries.

Fixed-size chunking breaks storage/sub-document dedup the moment one
byte is inserted: every later boundary shifts and every later chunk
re-hashes as new. Content-defined chunking (Muthitacharoen et al.,
LBFS SOSP'01; Gear/FastCDC, Xia et al. ATC'16 — public algorithms,
independent implementation) cuts where a rolling hash of the local
content hits a mask, so an edit perturbs boundaries only locally and
every downstream chunk keeps its identity — the property the
shift-invariance test pins.

Used for sub-document dedup: exact-duplicate detection (d_exact_dedup)
misses a boilerplate paragraph shared by thousands of crawl pages;
chunk-hash dedup catches it at chunk granularity without any
quadratic pair work — one groupBy(chunk_hash).

Spark shape: one mapInPandas pass (each doc chunked independently —
embarrassingly parallel, no shuffle), then ordinary aggregates over
(chunk_hash) for dup analysis. The gear table is derived from md5 of
the byte value — deterministic everywhere, no RNG.
"""

from __future__ import annotations

import hashlib
import sys
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# Worker-side closures below reference this module's globals (gear
# table, chunk_text); register for by-value pickling so executors
# never need the package on their import path (the tdigest.py note).
try:
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass

_GEAR = [
    int(hashlib.md5(bytes([i])).hexdigest()[:16], 16) for i in range(256)
]
_M64 = (1 << 64) - 1
# Chunk bounds in bytes and the boundary mask width: a boundary fires
# on average every 2**AVG_BITS bytes past MIN_LEN; MAX_LEN force-cuts.
MIN_LEN, AVG_BITS, MAX_LEN = 32, 6, 192


def chunk_text(text: str) -> list:
    """Split ``text`` into content-defined chunks. The algorithm runs
    over the UTF-8 ENCODING of the text: ``MIN_LEN`` / ``MAX_LEN`` are
    byte lengths, and the returned ``(start, length, md5hex)`` tuples
    are byte offsets/lengths into that encoding (NOT character indexes
    into the original string — they diverge for any non-ASCII text; to
    recover a chunk, slice ``text.encode('utf-8', 'surrogatepass')``).
    A boundary fires when the rolling gear hash has its low
    ``AVG_BITS`` bits zero and the chunk holds at least ``MIN_LEN``
    bytes; ``MAX_LEN`` force-cuts pathological runs. The chunks cover
    the encoded text exactly."""
    gear, m64 = _GEAR, _M64
    mask = (1 << AVG_BITS) - 1
    chunks = []
    start, h = 0, 0
    data = text.encode("utf-8", "surrogatepass")
    n = len(data)
    for i, b in enumerate(data):
        h = ((h << 1) + gear[b]) & m64
        ln = i - start + 1
        if (ln >= MIN_LEN and (h & mask) == 0) or ln >= MAX_LEN:
            seg = data[start : i + 1]
            chunks.append((start, ln, hashlib.md5(seg).hexdigest()))
            start, h = i + 1, 0
    if start < n:
        seg = data[start:]
        chunks.append((start, n - start, hashlib.md5(seg).hexdigest()))
    return chunks


def cdc_chunks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per content-defined chunk: (id, chunk_idx, start,
    chunk_len, chunk_hash). Pure map stage — no shuffle."""
    id_t = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_t}, chunk_idx int, start int, chunk_len int, "
        "chunk_hash string"
    )

    # Self-contained closure (captures only stdlib + the pure helper
    # through its cell): executors never need this package importable.
    _chunk = chunk_text

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                for idx, (st, ln, hx) in enumerate(_chunk(text or "")):
                    rows.append((did, idx, st, ln, hx))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[id_col, "chunk_idx", "start", "chunk_len",
                             "chunk_hash"],
                )

    return df.select(id_col, text_col).mapInPandas(gen, schema)
