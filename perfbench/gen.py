"""Seeded input generators and the Python models the output checks use.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs, so two commits measured on one seed see the same
corpus and the same DML cycle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so adding a stream never
    # shifts the values of another
    return np.random.default_rng([seed, *stream.encode()])


# ---- curation corpus -------------------------------------------------------
CORPUS_DOCS = 6_000
NEAR_DUP_FRACTION = 0.25
_VOCAB = 3_000


def corpus(seed: int, n_docs: int = CORPUS_DOCS,
           near_dup_fraction: float = NEAR_DUP_FRACTION) -> pa.Table:
    """``documents(doc_id, text)``: random-word documents of 20-40
    words over a 3,000-word vocabulary, of which ``near_dup_fraction``
    are re-crawls of an earlier original: the same words with some
    upper-cased and some followed by punctuation.  ``normalize_text``
    maps a re-crawl back onto its original (trigram Jaccard 1.0), and
    two unrelated documents share almost no trigram."""
    r = _rng(seed, "corpus")
    vocab = np.array([f"w{i}" for i in range(_VOCAB)])
    n_orig = n_docs - int(n_docs * near_dup_fraction)
    words = [vocab[r.integers(0, _VOCAB, int(r.integers(20, 41)))]
             for _ in range(n_orig)]
    texts = [" ".join(w) for w in words]
    for _ in range(n_docs - n_orig):
        w = [str(x) for x in words[int(r.integers(0, n_orig))]]
        for j in r.integers(0, len(w), 3):
            w[j] = w[j].upper()
        for j in r.integers(0, len(w), 3):
            w[j] += ",;!"[int(r.integers(0, 3))]
        texts.append(" ".join(w))
    # shuffle so re-crawls are not all at the end of the id range
    order = r.permutation(n_docs)
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array([texts[i] for i in order])})


def write_corpus(docs: pa.Table, out_dir: str) -> None:
    """``documents.parquet`` in ``out_dir``, as ``Engine.load_dir``
    reads it."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))


# ---- ingest_dml ------------------------------------------------------------
#: one DML cycle.  Latencies when the benchmark was written: read_agg
#: ~0.17 s; read_filtered ~0.24 s; update, delete and insert_rows
#: ~0.26 s (insert_rows took ~1.2 s right after a delete, whose max(id)
#: job it then pays, so it follows update here); a stream wave ~0.8 s;
#: insert_from ~0.9 s.  The six read_filtered cells span the 7th-50th
#: percentiles and the three waves the 71st-93rd, so the median falls
#: inside a tight 0.24-0.27 s group and the 90th percentile inside the
#: wave group.
INGEST_CYCLE = ["insert_from", "read_filtered", "wave", "update",
                "read_filtered", "insert_rows", "read_filtered", "wave",
                "read_filtered", "delete", "read_filtered", "wave",
                "read_filtered", "read_agg"]
INSERT_BATCH = 100
INSERT_FROM_ROWS = 50
WAVE_DOCS = 200
TAGS = ["a", "b", "c", "d"]


class TableModel:
    """Python model of the ``items(id, k, v, tag)`` mutable table: ids
    are ``max(id) + 1`` onwards, as the table assigns them."""

    def __init__(self):
        self.rows: dict[int, tuple[int, int, str]] = {}

    def _next_id(self) -> int:
        return max(self.rows, default=0) + 1

    def insert(self, rows: list[dict]) -> None:
        base = self._next_id()
        for i, row in enumerate(rows):
            self.rows[base + i] = (row["k"], row["v"], row["tag"])

    def update_add(self, mod: int, rem: int, delta: int) -> int:
        hit = [i for i, (k, _, _) in self.rows.items() if k % mod == rem]
        for i in hit:
            k, v, tag = self.rows[i]
            self.rows[i] = (k, v + delta, tag)
        return len(hit)

    def delete(self, mod: int, rem: int) -> int:
        hit = [i for i, (k, _, _) in self.rows.items() if k % mod == rem]
        for i in hit:
            del self.rows[i]
        return len(hit)

    def summary(self) -> tuple[int, int, int]:
        """``(count, sum(v), max(id))``."""
        return (len(self.rows), sum(v for _, v, _ in self.rows.values()),
                max(self.rows, default=0))

    def filtered(self, min_k: int) -> dict[str, int]:
        """Count and sum(v) of the rows with ``k > min_k``."""
        vs = [v for k, v, _ in self.rows.values() if k > min_k]
        return {"n": len(vs), "s": sum(vs)}


def insert_batch(seed: int, step: int) -> list[dict]:
    r = _rng(seed, f"ins{step}")
    return [{"k": int(k), "v": int(v), "tag": TAGS[int(t)]}
            for k, v, t in zip(r.integers(0, 10_000, INSERT_BATCH),
                               r.integers(0, 1_000, INSERT_BATCH),
                               r.integers(0, len(TAGS), INSERT_BATCH))]


def insert_from_rows(seed: int, step: int) -> list[dict]:
    """The rows ``insert_from`` copies in; the benchmark hands them to
    the table as a Spark frame."""
    r = _rng(seed, f"from{step}")
    return [{"k": int(k), "v": int(v), "tag": "f"}
            for k, v in zip(r.integers(0, 10_000, INSERT_FROM_ROWS),
                            r.integers(0, 1_000, INSERT_FROM_ROWS))]


def dml_predicate(seed: int, step: int) -> tuple[int, int]:
    """``k % mod == rem`` for an update or delete step."""
    r = _rng(seed, f"pred{step}")
    mod = int(r.integers(7, 13))
    return mod, int(r.integers(0, mod))


_GOOD = 5     # words in a line the C4 gate keeps


def wave_docs(seed: int, wave: int) -> pa.Table:
    """Crawl docs for one stream wave: ``doc_id, source, text`` where
    each text has 1-5 good lines (>= 5 words, ending in ``.``) mixed
    with lines the C4 gate drops (too short, or no end mark)."""
    r = _rng(seed, f"wave{wave}")
    ids, srcs, texts = [], [], []
    for j in range(WAVE_DOCS):
        lines = []
        for _ in range(int(r.integers(1, 6))):
            n = int(r.integers(_GOOD, _GOOD + 6))
            lines.append(" ".join(f"t{x}" for x in r.integers(0, 500, n))
                         + ".")
        for _ in range(int(r.integers(0, 3))):
            short = " ".join(f"t{x}" for x in r.integers(0, 500, 3)) + "."
            noend = " ".join(f"t{x}" for x in r.integers(0, 500, 8))
            lines.insert(int(r.integers(0, len(lines) + 1)),
                         short if r.random() < 0.5 else noend)
        ids.append(wave * WAVE_DOCS + j)
        srcs.append(f"src{j % 3}")
        texts.append("\n".join(lines))
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "source": srcs, "text": texts})


def c4_model(text: str) -> str | None:
    """The C4 gate on the generated texts: the kept text, or None when
    the page has fewer than three kept lines.  Exact for the lines
    :func:`wave_docs` writes (no ellipses, braces or policy phrases)."""
    kept = [ln for ln in text.split("\n")
            if ln.endswith(".") and len(ln.split()) >= _GOOD]
    return "\n".join(kept) if len(kept) >= 3 else None


class StoreModel:
    """Expected curated-store report: source -> (docs, chars)."""

    def __init__(self):
        self.report: dict[str, tuple[int, int]] = {}

    def add_wave(self, docs: pa.Table) -> None:
        for src, text in zip(docs["source"].to_pylist(),
                             docs["text"].to_pylist()):
            kept = c4_model(text)
            if kept is not None:
                n, c = self.report.get(src, (0, 0))
                self.report[src] = (n + 1, c + len(kept))
