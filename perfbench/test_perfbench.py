"""Fast checks of the benchmark's own parts; none of them starts Spark.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import Counter

import gen
import oracle
import workloads
from spans import Tracer, partial_agg_rows, prefix_self_times, scan_stats, self_times, tail_percentile


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def _inputs(tmp_path, name: str, seed: int):
    rng = random.Random(seed)
    text = gen.TextGen(rng, gen.make_vocabulary(rng, 2000))
    out = str(tmp_path / name)
    info = gen.write_corpus(rng, text, os.path.join(out, "corpus"), 60_000, 6)
    queries = gen.make_queries(rng, text.vocab, 20)
    docs = gen.make_doc_batches(rng, text, 2, 3, 500)
    for i, batch in enumerate(docs):
        gen.write_parquet_batch(os.path.join(out, f"b{i}.parquet"), batch)
    return _digest(out), info, queries, docs


def test_generator_is_deterministic(tmp_path):
    a = _inputs(tmp_path, "a", 7)
    b = _inputs(tmp_path, "b", 7)
    c = _inputs(tmp_path, "c", 8)
    assert a == b
    assert a[0] != c[0]
    assert a[1]["files"] == 6 and a[1]["vocabulary"] > 2000 and a[1]["zipf_s"] == gen.ZIPF_S


def test_generator_covers_every_filter_edge():
    rng = random.Random(1)
    body = gen.TextGen(rng, gen.make_vocabulary(rng, 5000)).text(400_000)
    assert len(set(gen.PUNCT)) == 32 and set(gen.PUNCT) <= set(body)
    assert "\t" in body and "\f" in body
    words = re.split(r"[ \t\n\f]+", body)
    assert any(w.isupper() and len(w) > 1 for w in words)
    assert any(w[:1].isupper() and w[1:].islower() for w in words)
    for tok in ("-17", "+3", "42", "of", "the"):
        assert tok in words
    sw = frozenset(gen.STOPWORDS)
    n_raw, kept = oracle.tokens(body.replace("\n", " "), sw)
    assert 0 < len(kept) < n_raw


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 39) is None
    assert tail_percentile(list(range(40)))[0] == 75
    assert tail_percentile(list(range(99)))[0] == 75
    assert tail_percentile(list(range(100))) == (90, 89)
    assert tail_percentile(list(range(199)))[0] == 90
    assert tail_percentile(list(range(200)))[0] == 95
    assert tail_percentile(list(range(1000)))[0] == 99


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},   # overlaps span 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {0: 10.0 - 4.0 - 2.0, 1: 2.0, 2: 2.0, 3: 4.0, 4: 1.0}
    assert prefix_self_times([1.0, 3.5, 3.75, 6.0]) == [1.0, 2.5, 0.25, 2.25]


def test_tracer_records_parents_and_a_shared_run_id():
    tr = Tracer(enabled=True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
    assert {s["run"] for s in tr.spans} == {tr.run_id}
    off = Tracer(enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []
    tr.active = False  # an untraced iteration of a traced run
    with tr.span("c"):
        pass
    assert len(tr.spans) == 2


def test_loop_length_depends_only_on_the_arguments():
    run = workloads.Run(None, "", 1, 20.0, Tracer(enabled=False))
    assert run.iterations(7.0) == 3
    assert run.iterations(60.0) == 2
    assert run.iterations(10.0, per=3) == 6
    assert run.iterations(60.0, per=3) == 3
    seen = []
    run.fixed_loop(seen.append, 4)
    assert seen == [0, 1, 2, 3]


def test_plan_graph_readers():
    execs = [[
        {"name": "HashAggregate", "desc": "HashAggregate(keys=[w], functions=[partial_count(1)])", "rows": 7},
        {"name": "HashAggregate", "desc": "HashAggregate(keys=[w], functions=[count(1)])", "rows": 5},
        {"name": "Scan parquet default.idx", "desc": "... SelectedBucketsCount: 3 out of 32", "rows": 40},
        {"name": "Scan parquet default.idx", "desc": "...", "rows": 60},
    ]]
    assert partial_agg_rows(execs) == 7
    assert scan_stats(execs) == (100, 3)


def test_oracle_on_a_hand_written_fixture(tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    # 'alpha' appears 10 times in a.txt and 9 times in b.txt: the reference
    # orders postings by the string "count#file" descending, so "9#b.txt"
    # sorts before "10#a.txt".
    (d / "a.txt").write_text("Alpha, " * 10 + "\nthe 12 -7 +3 ab\tbeta\fGAMMA's x\n")
    (d / "b.txt").write_text("alpha " * 9 + "\n(beta) beta 3.14 a1b2\n")
    counts, stats = oracle.corpus_counts(str(d), ["the", "herse\""])
    assert oracle.index_bytes(counts).decode() == (
        "a1b2: b.txt#1\n"
        "alpha: b.txt#9, a.txt#10\n"
        "beta: b.txt#2, a.txt#1\n"
        "gamma: a.txt#1\n"
    )
    assert stats == Counter(lines=4, tokens_raw=33, tokens_accepted=24)


def test_bm25_oracle_and_tie_tolerance():
    counts = Counter({("x", "d1"): 2, ("x", "d2"): 1, ("y", "d2"): 3, ("z", "d3"): 1})
    want = oracle.BM25(counts).search(["X"], k=10)
    assert [d for d, _ in want[0]] == ["d1", "d2"]
    assert oracle.same_ranking(list(want[0]), want)
    assert not oracle.same_ranking(list(reversed(want[0])), want)
    assert not oracle.same_ranking(want[0][:1], want)
    inc = oracle.BM25()
    inc.add(Counter({k: v for k, v in counts.items() if k[1] != "d3"}))
    inc.add(Counter({("z", "d3"): 1}))
    assert inc.search(["x", "y"]) == oracle.BM25(counts).search(["x", "y"])
