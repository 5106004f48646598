"""Seeded, single-process input generator for the benchmark.

Everything the program reads is made here from one seed: a directory of
text files (the reference job's input shape), a stop-word file, search
queries, and parquet document batches for the ingest stream. The same
seed gives the same bytes.

Words follow a Zipf distribution over a large synthetic vocabulary.
Every edge of the reference token filter occurs in the text: upper and
capitalised case, all 32 punctuation characters, signed and unsigned
numbers, tokens shorter than 3 characters, stop words, and ``\\t`` /
``\\f`` delimiters. Draws use ``random.choices`` with precomputed
``cum_weights``, one call per line; drawing per token would be slower.
"""

from __future__ import annotations

import itertools
import os
import random
import string

# The reference's 32 distinct punctuation characters (skip/punctuation.txt).
PUNCT = "`~!@#$%^&*()_+=[]{}\\|;':\",./<>?-"

ZIPF_S = 1.07

# Common English stop words; every one is at least 3 characters long, so
# the stop-word filter (not the length filter) is what drops them.
STOPWORDS = [
    "the", "and", "for", "with", "that", "this", "from", "are", "was",
    "not", "but", "his", "her", "you", "they", "have", "had", "him",
    "she", "which", "will", "what", "all", "would", "there", "their",
    "when", "your", "can", "said", "who", "been", "one", "were", "more",
    "our", "out", "then", "them", "these", "some", "into", "than", "its",
    "thee", "thou", "thy", "shall", "upon", "now", "how", "may", "did",
]
# Tokens the length and numeric filters drop; they sit among the most
# frequent ranks, as in real text.
SHORT = ["a", "i", "an", "of", "to", "in", "is", "it", "be", "as", "at",
         "by", "he", "we", "or", "on", "do", "no", "so", "me", "my", "up"]
NUMBERS = ["1", "7", "12", "42", "100", "365", "1999", "2024", "007",
           "-17", "+3", "-2048", "+65536", "3.14", "1,000", "-0", "+"]

# Per-token decorations: (prefix, suffix, weight). Together they use every
# punctuation character at least once.
_DECOR = [("", "", 80.0), ("", ",", 6.0), ("", ".", 4.0), ("", ";", 1.0),
          ("", ":", 1.0), ("", "?", 1.0), ("", "!", 1.0), ("'", "'", 0.5),
          ('"', '"', 0.5), ("(", ")", 0.5), ("[", "]", 0.3), ("{", "}", 0.2),
          ("<", ">", 0.2), ("", "'s", 1.0), ("", "-", 0.3), ("--", "", 0.3),
          ("#", "", 0.2), ("@", "", 0.2), ("$", "", 0.2), ("", "%", 0.2),
          ("", "^", 0.1), ("&", "", 0.1), ("*", "*", 0.1), ("_", "_", 0.1),
          ("", "+", 0.1), ("=", "", 0.1), ("", "/", 0.1), ("\\", "", 0.1),
          ("|", "", 0.1), ("~", "", 0.1), ("`", "`", 0.1)]
_DECOR_CUM = list(itertools.accumulate(w for _, _, w in _DECOR))
_CASE_CUM = list(itertools.accumulate([88.0, 10.0, 2.0]))  # lower, Title, UPPER
_DELIMS = [" ", " ", " ", " ", " ", " ", " ", " ", " ", " ", " ", " ",
           "  ", "\t", "\f", " \t "]


def make_vocabulary(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct lowercase words of 3-12 letters, Zipf rank order,
    with stop words, short tokens and numbers placed among the head ranks."""
    words: set[str] = set(STOPWORDS) | set(SHORT)
    body: list[str] = []
    letters = string.ascii_lowercase
    while len(body) < size:
        n = rng.choice((3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 11, 12))
        w = "".join(rng.choices(letters, k=n))
        if w not in words:
            words.add(w)
            body.append(w)
    head = STOPWORDS + SHORT + NUMBERS
    vocab = body[:]
    # interleave the filtered head tokens into the top ranks
    for i, tok in enumerate(head):
        vocab.insert(2 * i, tok)
    return vocab


def zipf_cum_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))


class TextGen:
    """Draws noisy text from a Zipf vocabulary."""

    def __init__(self, rng: random.Random, vocab: list[str]):
        self.rng = rng
        self.vocab = vocab
        self.cum = zipf_cum_weights(len(vocab))
        self.forms = [(w, w.capitalize(), w.upper()) for w in vocab]

    def text(self, target_bytes: int) -> str:
        """Lines of 3-16 tokens until about ``target_bytes``; draws are made
        in chunks of tokens, then cut into lines."""
        rng, out, size = self.rng, [], 0
        while size < target_bytes:
            k = max(64, min(65536, (target_bytes - size) // 6))
            ids = rng.choices(range(len(self.vocab)), cum_weights=self.cum, k=k)
            cases = rng.choices((0, 1, 2), cum_weights=_CASE_CUM, k=k)
            decs = rng.choices(_DECOR, cum_weights=_DECOR_CUM, k=k)
            delims = rng.choices(_DELIMS, k=k)
            toks = [pre + self.forms[i][c] + suf + d
                    for i, c, (pre, suf, _), d in zip(ids, cases, decs, delims)]
            pos = 0
            while pos < k and size < target_bytes:
                n = rng.randint(3, 16)
                line = "".join(toks[pos:pos + n]).rstrip(" ")
                out.append(line)
                size += len(line) + 1
                pos += n
        return "\n".join(out) + "\n"


def write_stopwords(path: str) -> list[str]:
    """Write the stop-word side input; returns it as the program reads it.
    The last entry is a quirk kept from the reference list: it contains
    punctuation, so no stripped token can ever equal it."""
    words = STOPWORDS + ['herse"']
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(words) + "\n")
    return words


def write_corpus(
    rng: random.Random, gen: TextGen, out_dir: str, total_bytes: int, n_files: int
) -> dict:
    """Directory of ``n_files`` text files summing to ``total_bytes`` (to
    within one line per file); file sizes vary 0.25x-1.75x of the mean."""
    os.makedirs(out_dir, exist_ok=True)
    shares = [rng.uniform(0.25, 1.75) for _ in range(n_files)]
    scale = total_bytes / sum(shares)
    written = 0
    for i, share in enumerate(shares):
        body = gen.text(int(share * scale))
        data = body.encode("ascii")
        with open(os.path.join(out_dir, f"doc{i:05d}.txt"), "wb") as f:
            f.write(data)
        written += len(data)
    return {"input_mb": written / 1e6, "files": n_files,
            "vocabulary": len(gen.vocab), "zipf_s": ZIPF_S}


def make_queries(rng: random.Random, vocab: list[str], n: int,
                 present: set[str] | None = None) -> list[list[str]]:
    """``n`` queries, some terms written capitalised. Query ``i`` has
    ``1 + i % 4`` terms, so every run sees the same mix of lengths; its
    terms alternate between Zipf-drawn (head) and uniformly drawn (tail)
    words the index keeps. With ``present``, terms come only from those
    words, so every term has postings."""
    indexable = [w for w in vocab
                 if w.isalpha() and len(w) >= 3 and w not in STOPWORDS
                 and (present is None or w in present)]
    cum = zipf_cum_weights(len(indexable))
    out = []
    for i in range(n):
        terms: list[str] = []
        while len(terms) < 1 + i % 4:
            if (i + len(terms)) % 2 == 0:
                t = rng.choices(indexable, cum_weights=cum)[0]
            else:
                t = rng.choice(indexable)
            if t not in terms:
                terms.append(t)
        out.append([t.capitalize() if rng.random() < 0.2 else t for t in terms])
    return out


def make_doc_batches(
    rng: random.Random, gen: TextGen, n_batches: int, docs_per_batch: int,
    doc_bytes: int, first_id: int = 0,
) -> list[list[tuple[int, str]]]:
    """``n_batches`` lists of (doc_id, text) with consecutive ids."""
    batches, doc_id = [], first_id
    for _ in range(n_batches):
        docs = []
        for _ in range(docs_per_batch):
            docs.append((doc_id, gen.text(int(doc_bytes * rng.uniform(0.5, 1.5)))))
            doc_id += 1
        batches.append(docs)
    return batches


def write_parquet_batch(path: str, docs: list[tuple[int, str]]) -> None:
    """One (doc_id bigint, text string) parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "doc_id": pa.array([d for d, _ in docs], pa.int64()),
        "text": pa.array([t for _, t in docs], pa.string()),
    }), path)
