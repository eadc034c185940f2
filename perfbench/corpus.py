"""Seeded corpus generator for the benchmark workloads.

Every corpus is written in the ``documents`` table schema
(``doc_id, text, lang, source, n_chars``) as part files under
``<root>/documents.parquet/``, the directory the package reads. The same
seed always gives the same bytes.

The corpus has the shape of the repository's test corpus: each document
has 10-100 tokens drawn uniformly from its 30-word vocabulary, plus the
rare ``dup`` term, so a document carries about 11 canonical mentions and
55 co-occurrence pairs. ``build`` lands seeded deltas of new documents;
each delta replaces the previous one, so the corpus keeps its size from
one operation to the next.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test corpus vocabulary (30 uniform words; 12 are gazetteer terms).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE_TERM = "dup"
RARE_P = 0.001
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
BASE_FILES = 4  # part files of the initial corpus


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    min_tokens: int = 10
    max_tokens: int = 100


def _docs_table(spec: CorpusSpec, rng: np.random.Generator,
                first_id: int, n_docs: int) -> pa.Table:
    lengths = rng.integers(spec.min_tokens, spec.max_tokens + 1, n_docs)
    total = int(lengths.sum())
    toks = np.array(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), total)
    ]
    toks[rng.random(total) < RARE_P] = RARE_TERM
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    texts = [" ".join(toks[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            pa.string(),
        ),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class Corpus:
    """A generated corpus rooted at ``root`` (the ``sf_dir`` handed to the
    package): ``BASE_FILES`` part files plus at most one delta file."""

    def __init__(self, root: str, spec: CorpusSpec, seed: int):
        self.root = root
        self.spec = spec
        self.rng = np.random.default_rng(seed)
        self.dir = os.path.join(root, "documents.parquet")
        self.kept = os.path.join(root, "deltas")
        os.makedirs(self.dir, exist_ok=True)
        os.makedirs(self.kept, exist_ok=True)
        self.base: list[str] = []
        self.delta: tuple[str, str] | None = None  # (visible, kept copy)
        self.n_generated = 0
        per_file = -(-spec.n_docs // BASE_FILES)
        for i in range(BASE_FILES):
            n = min(per_file, spec.n_docs - self.n_generated)
            tbl = self.make_docs(n)
            self.base.append(self.land(f"part-{i:05d}.parquet", tbl))
        self.n_delta_docs = 0

    @property
    def n_docs(self) -> int:
        """Documents the package sees now."""
        return self.spec.n_docs + self.n_delta_docs

    def make_docs(self, n: int) -> pa.Table:
        """The next ``n`` new documents of this corpus, not yet visible."""
        tbl = _docs_table(self.spec, self.rng, self.n_generated, n)
        self.n_generated += n
        return tbl

    def land(self, name: str, tbl: pa.Table) -> str:
        """Make ``tbl`` visible as one new part file. It is written under a
        hidden name (readers skip dot-files) and renamed into place, so a
        reader sees all of it or none."""
        path = os.path.join(self.dir, name)
        tmp = os.path.join(self.dir, "." + name)
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
        return path

    def replace_delta(self, tbl: pa.Table) -> None:
        """Land ``tbl`` as the corpus's delta and remove the previous one.
        A copy of every delta is kept outside the table for the oracle."""
        name = f"delta-{self.n_generated:09d}.parquet"
        kept = os.path.join(self.kept, name)
        pq.write_table(tbl, kept)
        visible = self.land(name, tbl)
        if self.delta is not None:
            os.remove(self.delta[0])
        self.delta = (visible, kept)
        self.n_delta_docs = tbl.num_rows

    def snapshot(self) -> list[str]:
        """Files that hold exactly the documents the package sees now."""
        return self.base + ([self.delta[1]] if self.delta else [])
