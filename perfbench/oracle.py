"""Pure-Python model of the reference semantics, used to check outputs.

The reference (Hadoop ``InvertedIndexer``) lowercases each line, turns
each of 32 punctuation characters into a space, splits on the
``StringTokenizer`` delimiters, drops tokens shorter than 3 characters,
tokens matching ``^[-+]?[0-9]*$`` and stop words, then counts tokens per
(word, file). Postings are ordered by reverse byte order of the string
``count#file`` and rendered ``file#count``; lines are ordered by word in
byte order. The BM25 model mirrors ``operators.retrieval.bm25_scores``.
"""

from __future__ import annotations

import itertools
import math
import os
import re
import zlib
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from gen import PUNCT

_PUNCT_TABLE = str.maketrans({c: " " for c in PUNCT})
_DELIMS = re.compile(r"[ \t\n\r\f]+")
_NUMERIC = re.compile(r"[-+]?[0-9]*")
_NUMERIC_START = frozenset("+-0123456789")


def tokens(text: str, stopwords: frozenset[str]) -> tuple[int, list[str]]:
    """(raw token count, accepted tokens) of a line or of whole lines:
    ``\\n`` is a delimiter, so no token spans two lines."""
    raw = _DELIMS.split(text.lower().translate(_PUNCT_TABLE))
    n_raw = len(raw) - raw.count("")
    kept = [t for t in raw
            if len(t) >= 3 and t not in stopwords
            and not (t[0] in _NUMERIC_START and _NUMERIC.fullmatch(t))]
    return n_raw, kept


def count_text(text: str, doc, stopwords: frozenset[str],
               counts: Counter, stats: Counter | None = None) -> None:
    """Add the (word, doc) counts of ``text`` to ``counts``; ``stats``
    collects lines, raw and accepted tokens. Lines split as Hadoop's
    ``LineRecordReader`` does on this input (``\\n``; no ``\\r`` is
    generated)."""
    n_raw, kept = tokens(text, stopwords)
    counts.update(zip(kept, itertools.repeat(doc)))
    if stats is not None:
        stats["lines"] += text.count("\n") + (0 if text.endswith("\n") or not text else 1)
        stats["tokens_raw"] += n_raw
        stats["tokens_accepted"] += len(kept)


def corpus_counts(input_dir: str, stopwords: list[str]) -> tuple[Counter, Counter]:
    """(word, file basename) -> count over a directory of text files."""
    sw, counts, stats = frozenset(stopwords), Counter(), Counter()
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), encoding="ascii") as f:
            count_text(f.read(), name, sw, counts, stats)
    return counts, stats


def index_bytes(counts: Counter) -> bytes:
    """The reference job's output file, byte for byte."""
    by_word: dict[str, list[str]] = defaultdict(list)
    for (word, doc), n in counts.items():
        by_word[word].append(f"{n}#{doc}")
    out = []
    # the input is ASCII, so code point order is byte order
    for word in sorted(by_word):
        post = sorted(by_word[word], reverse=True)
        rendered = ", ".join(f"{p.split('#', 1)[1]}#{p.split('#', 1)[0]}" for p in post)
        out.append(f"{word}: {rendered}\n")
    return "".join(out).encode()


def counts_checksum(counts: Counter) -> tuple[int, int, int]:
    """(rows, sum of counts, sum of crc32("word\\x01doc\\x01count")): an
    order-independent fingerprint of a (word, doc, count) multiset, the
    same one :func:`spark_checksum` computes inside Spark."""
    crc = sum(zlib.crc32(f"{w}\x01{d}\x01{n}".encode()) for (w, d), n in counts.items())
    return len(counts), sum(counts.values()), crc


def spark_checksum(df, doc_col: str) -> tuple[int, int, int]:
    """:func:`counts_checksum` of a Spark (word, doc, count) frame."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x01", "word", F.col(doc_col).cast("string"),
                      F.col("count").cast("string"))
    row = df.select(F.count(F.lit(1)).alias("rows"),
                    F.sum("count").alias("total"),
                    F.sum(F.crc32(key.cast("binary"))).alias("crc")).first()
    return row["rows"], row["total"] or 0, row["crc"] or 0


class BM25:
    """Okapi BM25 top-k over a (word, doc) -> count map, same formula,
    rounding and tie order as ``operators.retrieval.bm25_search``."""

    K1, B = 1.2, 0.75

    def __init__(self, counts: Counter | None = None):
        self.postings: dict[str, dict] = defaultdict(dict)
        self.dl: Counter = Counter()
        self.total = 0
        if counts:
            self.add(counts)

    def add(self, counts: Counter) -> None:
        """Add (word, doc) counts, e.g. one ingested batch."""
        for (w, d), n in counts.items():
            self.postings[w][d] = self.postings[w].get(d, 0) + n
            self.dl[d] += n
            self.total += n

    def search(self, terms: list[str], k: int = 10) -> tuple[list[tuple], dict]:
        """([(doc, score)] best first with ties by doc ascending, and the
        score of every matching doc)."""
        k1, b = self.K1, self.B
        n_docs = len(self.dl)
        avgdl = self.total / n_docs
        scores: dict = defaultdict(Decimal)
        for t in {t.lower() for t in terms}:
            post = self.postings.get(t) or {}
            df = len(post)
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for d, n in post.items():
                norm = n + k1 * ((1.0 - b) + b * self.dl[d] / avgdl)
                s = idf * (n * (k1 + 1.0)) / norm
                scores[d] += Decimal(repr(s)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(d, float(s)) for d, s in ranked], {d: float(s) for d, s in scores.items()}


def same_ranking(got: list[tuple], want: tuple[list[tuple], dict], tol: float = 2e-6) -> bool:
    """A top-k result agrees with ``BM25.search``'s ``want``: the same
    number of rows, scores equal rank by rank within ``tol``, and each
    returned doc really has the score it is listed with. Docs whose scores
    are equal within ``tol`` may trade places, as the last digit of a
    logarithm can differ between the JVM and CPython."""
    top, scores = want
    if len(got) != len(top):
        return False
    for (gd, gs), (_, ws) in zip(got, top):
        if abs(gs - ws) > tol or gd not in scores or abs(scores[gd] - gs) > tol:
            return False
    return True
