"""Document landing files for ``curate_stream``, with known shares of rows
the curation must drop, and the survivor set it must keep.

Every document is drawn as one of:

- clean: 20-80 words of a 400-word vocabulary; passes the quality rules;
- low quality: fails ``DEFAULT_RULES`` (too short, digit-heavy or
  symbol-heavy);
- exact duplicate: the text of an earlier clean document, from the same
  file or an earlier one, with different case or edge spaces (the dedup
  key is ``md5(lower(trim(text)))``);
- near duplicate: an earlier clean document with one word replaced. Exact
  dedup keeps it, which the survivor set expects.

Files are processed one per micro-batch in arrival order, so the expected
survivors are the first arrivals of each clean text, smallest id first
within a file.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILE_ROWS = 500
SHARES = {"low_quality": 0.10, "exact_dup": 0.10, "near_dup": 0.05}
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "da"]


def _vocab(rng: np.random.Generator) -> list[str]:
    words = set()
    while len(words) < 400:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYLLABLES[int(i)] for i in rng.integers(0, 10, k)))
    return sorted(words)


def fingerprint(text: str) -> str:
    """The streaming dedup key: ``md5(lower(trim(text)))``, Spark's
    ``trim`` removing spaces only."""
    return hashlib.md5(text.strip(" ").lower().encode()).hexdigest()


class Corpus:
    """A seeded sequence of landing files and the truth about each row."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng)
        self.clean: list[str] = []
        self.next_id = 0
        self.kinds: dict[int, str] = {}
        self.survivors: set[int] = set()
        self.seen_fps: set[str] = set()
        self.input_bytes = 0
        self.files = 0

    def _words(self, lo: int, hi: int) -> list[str]:
        return [self.vocab[int(i)] for i in self.rng.integers(0, len(self.vocab), int(self.rng.integers(lo, hi)))]

    def _row(self) -> tuple[str, str]:
        u = self.rng.random()
        if u < SHARES["low_quality"]:
            style = int(self.rng.integers(0, 3))
            if style == 0:
                return "low_quality", " ".join(self._words(1, 4))
            if style == 1:
                return "low_quality", " ".join(str(int(x)) for x in self.rng.integers(0, 10**6, 30))
            return "low_quality", " ".join(w + "#$%" for w in self._words(20, 40))
        u -= SHARES["low_quality"]
        if self.clean and u < SHARES["exact_dup"]:
            text = self.clean[int(self.rng.integers(0, len(self.clean)))]
            return "exact_dup", "  " + text.upper() if self.rng.random() < 0.5 else text + " "
        u -= SHARES["exact_dup"]
        if self.clean and u < SHARES["near_dup"]:
            words = self.clean[int(self.rng.integers(0, len(self.clean)))].split(" ")
            words[int(self.rng.integers(0, len(words)))] = "zz" + self.vocab[int(self.rng.integers(0, 400))]
            return "near_dup", " ".join(words)
        return "clean", " ".join(self._words(20, 81))

    def write_file(self, landing: str, staging: str) -> int:
        """Write the next file into ``landing`` (written under ``staging``,
        then renamed in). Returns its row count."""
        ids, texts = [], []
        for _ in range(FILE_ROWS):
            kind, text = self._row()
            if kind in ("clean", "near_dup"):
                self.clean.append(text)
            ids.append(self.next_id)
            texts.append(text)
            self.kinds[self.next_id] = kind
            self.next_id += 1
        for i, text in sorted(zip(ids, texts)):
            fp = fingerprint(text)
            if self.kinds[i] != "low_quality" and fp not in self.seen_fps:
                self.seen_fps.add(fp)
                self.survivors.add(i)
        name = f"docs-{self.files:05d}.parquet"
        self.files += 1
        tmp = os.path.join(staging, name)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), tmp)
        self.input_bytes += os.path.getsize(tmp)
        os.replace(tmp, os.path.join(landing, name))
        return len(ids)

    def shares(self) -> dict:
        n = len(self.kinds)
        return {k: round(sum(1 for v in self.kinds.values() if v == k) / n, 4) for k in SHARES}
