"""The three workloads: build the index, search it, keep it fresh.

Each workload generates its inputs from the seed, sets up, measures its
foreground operation (``op``) and its second operation (``side``) for a
number of iterations set by the requested seconds (``Run.iterations``),
then checks every output against ``oracle``. Checks run outside the
timed regions.

Metric meaning per workload (the end-to-end names are shared, so every
workload prints every metric):

============ =========================== ============================ ==========================
metric       build                       search                       ingest
============ =========================== ============================ ==========================
op_p50_s     one full reference job      one single-query bm25_search batch landed -> first tier
             (index lines -> one file)   (closed loop, 1 client)      read that includes it
side_p50_s   one serving term-index      one 64-query                 one tier read (bm25_search
             build (build_term_index)    bm25_search_batch            over the unmerged tier)
ops_per_s    builds done per second      queries per second in the    batches made visible per
                                         batch phase                  second, compaction included
============ =========================== ============================ ==========================
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import statistics
import sys
import time
from collections import Counter

import gen
import oracle
from spans import (
    SparkCounters,
    partial_agg_rows,
    prefix_self_times,
    scan_stats,
    tail_percentile,
    top_rows,
)

SETUP_ROUNDS = 3
COMPACT_EVERY = 3
BATCH_QUERIES = 64
VOCABULARY = 60_000
# The build corpus: 16 MB, 3.3x the reference's 4.8 MiB. A build's fixed
# per-job cost is about 1.1 s on 4 vCPUs; at 16 MB the data-dependent
# part (textprep, index, sink) is about 60% of a build (README.md).
BUILD_BYTES = 16_000_000
BUILD_FILES = 40
# The first set-up round takes the cold JVM's cost on a small corpus of
# the same kind (a cold build of the full corpus alone takes 20-30 s);
# the later rounds build the full corpus, so the timed builds start warm.
WARM_BYTES = 500_000
# Nominal wall time of one loop iteration on 4 vCPUs. A run does a fixed
# number of iterations, ``--seconds`` over this, so every run samples the
# same operations whatever the host's speed.
BUILD_ITER_S = 7.0
SEARCH_ROUND_S = 5.5
INGEST_PERIOD_S = 9.0


class Run:
    """State of one benchmark run: session, directories, samples."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.layers: dict[str, list[float]] = {}
        self.info: dict = {}
        self.trace_now = False
        self.setup_s = self.loop_s = self.ops_per_s = 0.0

    @property
    def traced(self) -> bool:
        """Record counts for the current operation: only in traced runs,
        and there only on the iterations chosen for tracing."""
        return self.tracer.enabled and self.trace_now

    def set_traced(self, on: bool) -> None:
        """Trace the next operations or not: spans, counter reads and
        layer probes all follow this switch."""
        self.trace_now = on
        self.tracer.active = on

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op_sample(self, value: float) -> None:
        """A foreground-operation latency. In a traced run, the traced
        iterations' samples include all their tracing work and are kept
        apart; against the untraced ones they give the tracing overhead."""
        self.sample("op_traced" if self.traced else "op", value)

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)

    def delta(self) -> dict:
        return self.counters.delta() if self.traced else {}

    def iterations(self, nominal_s: float, per: int = 1) -> int:
        """Loop length for ``--seconds``: whole groups of ``per``
        iterations, one group per ``nominal_s`` seconds, at least two
        iterations. It depends on the arguments only, not on how fast the
        host or the program runs."""
        return max(2, per * max(1, round(self.seconds / nominal_s)))

    def fixed_loop(self, step, n: int) -> float:
        """Call ``step(i)`` for ``i`` in ``range(n)``; returns the loop's
        wall time."""
        t0 = time.perf_counter()
        for i in range(n):
            step(i)
        return time.perf_counter() - t0

    def setup_rounds(self, round_fn) -> float:
        """Median wall time of ``SETUP_ROUNDS`` set-up rounds. The rounds are
        also the warm-up: none of them is a timed sample."""
        times = []
        for r in range(SETUP_ROUNDS):
            t = time.perf_counter()
            with self.tracer.span("setup.round"):
                round_fn(r)
            times.append(time.perf_counter() - t)
        self.info["setup_rounds_s"] = times
        return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


# ---------------------------------------------------------------- layers


def probe_build_layers(run: Run, corpus: str, stopwords: list[str]) -> None:
    """One traced pass of the reference job as growing lazy prefixes, each
    materialised through a ``noop`` sink; a stage's self time is its
    prefix's wall time minus the previous prefix's. Counts come from the
    plan graph and stage records of each prefix's execution."""
    from hadoop_invertedindexer_spark.functions.textprep import (
        lowercase,
        prepare_tokens,
        strip_punct,
        tokenize,
    )
    from hadoop_invertedindexer_spark.operators.index import postings, term_doc_counts
    from hadoop_invertedindexer_spark.plans.flagship import inverted_index_lines
    from hadoop_invertedindexer_spark.sources.sinks import sink_text
    from hadoop_invertedindexer_spark.sources.text import scan_text

    spark, tr = run.spark, run.tracer
    run.delta()
    lines = scan_text(spark, corpus)
    raw = tokenize(lines.withColumn("line", strip_punct(lowercase("line"))))
    _noop(raw)
    tokens_raw = top_rows(run.delta()["executions"])
    toks = prepare_tokens(lines, text_col="line", stopwords=stopwords)
    counts = term_doc_counts(toks)
    post = postings(counts)
    cumulative, deltas = [], []
    with tr.span("build.probe"):
        for name, df in (("sources.text.scan", lines),
                         ("functions.textprep.prepare_tokens", toks),
                         ("operators.index.term_doc_counts", counts),
                         ("operators.index.postings", post)):
            t = time.perf_counter()
            with tr.span(name + ".prefix"):
                _noop(df)
            cumulative.append(time.perf_counter() - t)
            deltas.append(run.delta())
        out = run.path("probe_out")
        t = time.perf_counter()
        with tr.span("sources.sinks.sink_text.prefix"):
            sink_text(inverted_index_lines(spark, corpus, stopwords), out, single_file=True)
        cumulative.append(time.perf_counter() - t)
    selfs = prefix_self_times(cumulative)
    for name, s in zip(("sources.text.scan_s", "functions.textprep.prepare_tokens_s",
                        "operators.index.term_doc_counts_s", "operators.index.postings_s",
                        "sources.sinks.sink_text_s"), selfs):
        run.layer(name, s)
    n_lines = top_rows(deltas[0]["executions"])
    accepted = top_rows(deltas[1]["executions"])
    run.layer("sources.text.lines", n_lines)
    run.layer("functions.textprep.tokens_raw", tokens_raw)
    run.layer("functions.textprep.tokens_accepted", accepted)
    run.layer("functions.textprep.accept_ratio", accepted / tokens_raw if tokens_raw else 0.0)
    run.layer("operators.index.term_doc_pairs", top_rows(deltas[2]["executions"]))
    run.layer("operators.index.terms", top_rows(deltas[3]["executions"]))
    run.layer("operators.index.shuffle_bytes", deltas[3]["shuffle_bytes"])
    partial = partial_agg_rows(deltas[2]["executions"])
    run.layer("operators.index.partial_agg_ratio", accepted / partial if partial else 0.0)
    files, size = _dir_bytes(out)
    run.layer("sources.sinks.files_written", files)
    run.layer("sources.sinks.bytes_written", size)


def traced_query(run: Run, make_df) -> list:
    """Run one query built by ``make_df``; when tracing, split planning
    (building the frame and its physical plan) from execution and record
    the query's jobs, tasks, scanned rows and selected buckets."""
    if not run.traced:
        return make_df().collect()
    run.delta()
    t0 = time.perf_counter()
    with run.tracer.span("operators.retrieval.plan"):
        df = make_df()
        df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    with run.tracer.span("operators.retrieval.exec"):
        rows = df.collect()
    t2 = time.perf_counter()
    d = run.delta()
    scanned, buckets = scan_stats(d["executions"])
    run.layer("operators.retrieval.plan_s", t1 - t0)
    run.layer("operators.retrieval.exec_s", t2 - t1)
    run.layer("operators.retrieval.jobs_per_query", d["jobs"])
    run.layer("operators.retrieval.tasks_per_query", d["tasks"])
    run.layer("operators.retrieval.rows_scanned_per_result", scanned / max(1, len(rows)))
    run.layer("operators.retrieval.buckets_read", buckets)
    return rows


class Tier:
    """A maintained term-index tier fed by a file stream of doc batches."""

    def __init__(self, run: Run, name: str, stopwords: list[str]):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        self.run = run
        self.src = run.path(name, "src")
        self.tier = run.path(name, "tier")
        self.ckpt = run.path(name, "ckpt")
        self.stopwords = stopwords
        self.schema = StructType([StructField("doc_id", LongType()),
                                  StructField("text", StringType())])
        self.n = 0
        os.makedirs(self.src)

    def land(self, docs) -> None:
        gen.write_parquet_batch(os.path.join(self.src, f"b{self.n:05d}.parquet"), docs)
        self.n += 1

    def maintain(self) -> None:
        from hadoop_invertedindexer_spark.streaming.index_maintenance import maintain_term_index

        run = self.run
        run.delta()
        t = time.perf_counter()
        with run.tracer.span("streaming.index_maintenance.maintain"):
            maintain_term_index(run.spark, self.src, self.schema, self.tier, self.ckpt,
                                stopwords=self.stopwords)
        if run.traced:
            run.layer("streaming.index_maintenance.maintain_s", time.perf_counter() - t)
            run.layer("streaming.index_maintenance.jobs_per_batch", run.delta()["jobs"])

    def read(self, terms: list[str]) -> list:
        from hadoop_invertedindexer_spark.operators.retrieval import bm25_search
        from hadoop_invertedindexer_spark.streaming.index_maintenance import read_term_index_tier

        run = self.run
        t = time.perf_counter()
        with run.tracer.span("streaming.index_maintenance.read"):
            rows = traced_query(run, lambda: bm25_search(
                read_term_index_tier(run.spark, self.tier), terms,
                doc_col="doc_id", materialize=False))
        if run.traced:
            run.layer("streaming.index_maintenance.read_s", time.perf_counter() - t)
            run.layer("streaming.index_maintenance.tier_files", _dir_bytes(self.tier, ".parquet")[0])
        return [(r.doc_id, r.score) for r in rows]

    def compact(self) -> None:
        from hadoop_invertedindexer_spark.streaming.index_maintenance import compact_term_index_tier

        run = self.run
        before = _dir_bytes(self.tier, ".parquet")[1]
        t = time.perf_counter()
        with run.tracer.span("streaming.index_maintenance.compact"):
            compact_term_index_tier(run.spark, self.tier)
        if run.traced:
            run.layer("streaming.index_maintenance.compact_s", time.perf_counter() - t)
            after = _dir_bytes(self.tier, ".parquet")[1]
            run.layer("streaming.index_maintenance.tier_bytes_per_live_byte", before / after)


def probe_maintenance_layers(run: Run, text: gen.TextGen, stopwords: list[str],
                             queries: list[list[str]]) -> None:
    """Two small traced ingest cycles and one compaction."""
    tier = Tier(run, "probe_tier", stopwords)
    probe_text = gen.TextGen(_rng(run.seed, "probe"), text.vocab)
    batches = gen.make_doc_batches(probe_text.rng, probe_text, 2, 10, 2000)
    for docs, q in zip(batches, queries):
        tier.land(docs)
        tier.maintain()
        tier.read(q)
    tier.compact()


def probe_missing_layers(run: Run, corpus: str, stopwords: list[str], text: gen.TextGen,
                         queries: list[list[str]]) -> None:
    """Traced runs report every layer: layers the workload's own loop did
    not cross are measured here once, on this run's inputs."""
    from hadoop_invertedindexer_spark.operators.retrieval import bm25_search, bm25_search_batch

    run.set_traced(True)
    have = run.layers
    if "sources.text.scan_s" not in have:
        probe_build_layers(run, corpus, stopwords)
    if not {"operators.retrieval.build_term_index_s", "operators.retrieval.plan_s",
            "operators.retrieval.batch_exec_s"} <= have.keys():
        t = time.perf_counter()
        with run.tracer.span("operators.retrieval.build_term_index"):
            index_build(run.spark, corpus, stopwords, "probe_idx")
        run.layers.setdefault("operators.retrieval.build_term_index_s",
                              [time.perf_counter() - t])
        if "operators.retrieval.plan_s" not in have:
            for q in queries[:2]:
                traced_query(run, lambda q=q: bm25_search(
                    run.spark.table("probe_idx"), q, materialize=False))
        if "operators.retrieval.batch_exec_s" not in have:
            t = time.perf_counter()
            with run.tracer.span("operators.retrieval.batch_exec"):
                bm25_search_batch(run.spark.table("probe_idx"),
                                  batch_frame(run.spark, queries[:8]),
                                  materialize=False).collect()
            run.layer("operators.retrieval.batch_exec_s", time.perf_counter() - t)
    if not {"streaming.index_maintenance.maintain_s",
            "streaming.index_maintenance.compact_s"} <= have.keys():
        probe_maintenance_layers(run, text, stopwords, queries)


def index_build(spark, corpus: str, stopwords: list[str], table: str) -> None:
    """The serving term index over a text corpus: scan, textprep,
    per-(term, doc) counts, then ``build_term_index`` into ``table``."""
    from hadoop_invertedindexer_spark.functions.textprep import prepare_tokens
    from hadoop_invertedindexer_spark.operators.index import term_doc_counts
    from hadoop_invertedindexer_spark.operators.retrieval import build_term_index
    from hadoop_invertedindexer_spark.sources.text import scan_text

    toks = prepare_tokens(scan_text(spark, corpus, doc_col="doc"), stopwords=stopwords)
    build_term_index(term_doc_counts(toks, doc_col="doc"), table)


def batch_frame(spark, queries: list[list[str]]):
    return spark.createDataFrame(
        [(qid, w) for qid, q in enumerate(queries) for w in q], "qid int, word string")


# ------------------------------------------------------------- workloads


def build(run: Run) -> None:
    """The reference job end to end, plus the serving-index build, over a
    generated text corpus of ``BUILD_BYTES``."""
    from hadoop_invertedindexer_spark.plans.flagship import inverted_index_lines
    from hadoop_invertedindexer_spark.sources.sinks import sink_text
    from hadoop_invertedindexer_spark.sources.text import load_stopwords

    rng = _rng(run.seed, "build")
    text = gen.TextGen(rng, gen.make_vocabulary(rng, VOCABULARY))
    corpus = run.path("corpus")
    run.info["input"] = gen.write_corpus(rng, text, corpus, BUILD_BYTES, BUILD_FILES)
    gen.write_stopwords(run.path("stopwords.txt"))
    counts, _ = oracle.corpus_counts(corpus, load_stopwords(run.path("stopwords.txt")))
    queries = gen.make_queries(rng, text.vocab, 8, {w for w, _ in counts})
    want_sha = hashlib.sha256(oracle.index_bytes(counts)).hexdigest()
    want_sum = oracle.counts_checksum(counts)
    warm = run.path("warm_corpus")
    gen.write_corpus(rng, text, warm, WARM_BYTES, BUILD_FILES // 4)

    spark, tr = run.spark, run.tracer
    stopwords = load_stopwords(run.path("stopwords.txt"))
    outputs, tables = [], []

    def full_build(src: str, out: str) -> None:
        sink_text(inverted_index_lines(spark, src, stopwords), out, single_file=True)

    def setup_round(r: int) -> None:
        src = warm if r == 0 else corpus
        full_build(src, run.path(f"warm{r}"))
        index_build(spark, src, stopwords, f"warm{r}")

    run.setup_s = run.setup_rounds(setup_round)

    def step(i: int) -> None:
        out, table = run.path(f"out{i}"), f"idx{i}"
        run.set_traced(i % 2 == 1)
        t = time.perf_counter()
        with tr.span("build.op"):
            full_build(corpus, out)
            if run.traced:
                probe_build_layers(run, corpus, stopwords)
        run.op_sample(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("operators.retrieval.build_term_index"):
            index_build(spark, corpus, stopwords, table)
        run.sample("side", time.perf_counter() - t)
        if tr.enabled:
            run.layer("operators.retrieval.build_term_index_s", run.samples["side"][-1])
        outputs.append(out)
        tables.append(table)

    run.loop_s = run.fixed_loop(step, run.iterations(BUILD_ITER_S))
    run.ops_per_s = (len(outputs) + len(tables)) / run.loop_s

    for out in outputs:
        parts = sorted(glob.glob(os.path.join(out, "part-*")))
        run.check(len(parts) == 1 and _file_sha(parts[0]) == want_sha, f"index file {out}")
    for table in tables:
        run.check(oracle.spark_checksum(spark.table(table), "doc") == want_sum,
                  f"term index {table}")
    if tr.enabled:
        probe_missing_layers(run, corpus, stopwords, text, queries)


def search(run: Run) -> None:
    """Closed-loop single queries and 64-query batches over a bucketed
    term index built in set-up."""
    from hadoop_invertedindexer_spark.operators.retrieval import bm25_search, bm25_search_batch
    from hadoop_invertedindexer_spark.sources.text import load_stopwords

    rng = _rng(run.seed, "search")
    text = gen.TextGen(rng, gen.make_vocabulary(rng, VOCABULARY))
    corpus = run.path("corpus")
    run.info["input"] = gen.write_corpus(rng, text, corpus, 1_000_000, 200)
    gen.write_stopwords(run.path("stopwords.txt"))
    stopwords = load_stopwords(run.path("stopwords.txt"))
    counts, _ = oracle.corpus_counts(corpus, stopwords)
    present = {w for w, _ in counts}
    singles = gen.make_queries(rng, text.vocab, 400, present)
    batch_q = gen.make_queries(rng, text.vocab, BATCH_QUERIES, present)
    bm25 = oracle.BM25(counts)
    want_sum = oracle.counts_checksum(counts)

    spark, tr = run.spark, run.tracer
    qdf = batch_frame(spark, batch_q)
    table = "idx"

    def setup_round(r: int) -> None:
        nonlocal table
        table = f"idx{r}"
        t = time.perf_counter()
        with tr.span("operators.retrieval.build_term_index"):
            index_build(spark, corpus, stopwords, table)
        if tr.enabled:
            run.layer("operators.retrieval.build_term_index_s", time.perf_counter() - t)
        bm25_search(spark.table(table), singles[-1 - r], materialize=False).collect()
        if r == 0:
            bm25_search_batch(spark.table(table), qdf, materialize=False).collect()

    run.setup_s = run.setup_rounds(setup_round)
    results, batches = [], []
    state = {"q": 0, "batch_s": 0.0}

    def step(i: int) -> None:
        for _ in range(3):
            q = singles[state["q"] % len(singles)]
            state["q"] += 1
            run.set_traced(state["q"] % 2 == 0)
            t = time.perf_counter()
            with tr.span("search.query"):
                rows = traced_query(run, lambda: bm25_search(
                    spark.table(table), q, materialize=False))
            run.op_sample(time.perf_counter() - t)
            results.append((q, [(r.doc, r.score) for r in rows]))
        t = time.perf_counter()
        with tr.span("operators.retrieval.batch_exec"):
            rows = bm25_search_batch(spark.table(table), qdf, materialize=False).collect()
        dt = time.perf_counter() - t
        run.sample("side", dt)
        state["batch_s"] += dt
        if tr.enabled:
            run.layer("operators.retrieval.batch_exec_s", dt)
        batches.append(rows)

    run.loop_s = run.fixed_loop(step, run.iterations(SEARCH_ROUND_S))
    run.ops_per_s = BATCH_QUERIES * len(batches) / state["batch_s"]
    lat = run.samples["op"]
    run.info["op_samples"] = len(lat)
    run.info["op_tail"] = tail_percentile(lat)

    run.check(oracle.spark_checksum(spark.table(table), "doc") == want_sum, "term index")
    for q, got in results:
        run.check(oracle.same_ranking(got, bm25.search(q)), f"query {q}")
    for rows in batches:
        per_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r.qid, r.rank)):
            per_q.setdefault(r.qid, []).append((r.doc, r.score))
        for qid, q in enumerate(batch_q):
            run.check(oracle.same_ranking(per_q.get(qid, []), bm25.search(q)),
                      f"batch query {q}")
    if tr.enabled:
        probe_missing_layers(run, corpus, stopwords, text, singles)


def ingest(run: Run) -> None:
    """Small document batches drained by the tier maintainer, a tier read
    after each, and compaction every ``COMPACT_EVERY`` batches."""
    from hadoop_invertedindexer_spark.sources.text import load_stopwords

    rng = _rng(run.seed, "ingest")
    text = gen.TextGen(rng, gen.make_vocabulary(rng, VOCABULARY))
    gen.write_stopwords(run.path("stopwords.txt"))
    stopwords = load_stopwords(run.path("stopwords.txt"))
    sw = frozenset(stopwords)
    base = gen.make_doc_batches(rng, text, 1, 100, 4000)[0]
    base_counts: Counter = Counter()
    for doc_id, body in base:
        oracle.count_text(body, doc_id, sw, base_counts)
    queries = gen.make_queries(rng, text.vocab, 400, {w for w, _ in base_counts})
    corpus = run.path("corpus")  # text copy of the base docs, for the layer probe
    os.makedirs(corpus)
    for doc_id, body in base[:20]:
        with open(os.path.join(corpus, f"doc{doc_id:05d}.txt"), "w", encoding="ascii") as f:
            f.write(body)
    run.info["input"] = {"base_docs": len(base), "docs_per_batch": 40,
                         "vocabulary": VOCABULARY, "zipf_s": gen.ZIPF_S}

    tr = run.tracer
    live: Tier | None = None

    def setup_round(r: int) -> None:
        nonlocal live
        live = Tier(run, f"r{r}", stopwords)
        live.land(base)
        live.maintain()
        live.read(queries[-1 - r])

    run.setup_s = run.setup_rounds(setup_round)
    model = oracle.BM25(base_counts)
    all_counts = Counter(base_counts)
    next_id = len(base)
    batch_mb, cycles = [], []

    def step(i: int) -> None:
        nonlocal next_id
        docs = gen.make_doc_batches(rng, text, 1, 40, 4000, first_id=next_id)[0]
        next_id += len(docs)
        run.set_traced(i % 2 == 1)
        q = queries[i % len(queries)]
        t0 = time.perf_counter()
        with tr.span("ingest.cycle"):
            live.land(docs)
            live.maintain()
            t1 = time.perf_counter()
            got = live.read(q)
            t2 = time.perf_counter()
            if i % COMPACT_EVERY == COMPACT_EVERY - 1:
                live.compact()
        cycles.append(time.perf_counter() - t0)
        run.op_sample(t2 - t0)
        run.sample("side", t2 - t1)
        # outside the timed parts: bring the model up to date and check
        batch_counts: Counter = Counter()
        for doc_id, body in docs:
            oracle.count_text(body, doc_id, sw, batch_counts)
        model.add(batch_counts)
        all_counts.update(batch_counts)
        batch_mb.append(sum(len(b) for _, b in docs) / 1e6)
        run.check(oracle.same_ranking(got, model.search(q)), f"tier read {q}")

    # whole compaction periods only, so every run reads the same tier states
    run.loop_s = run.fixed_loop(step, run.iterations(INGEST_PERIOD_S, per=COMPACT_EVERY))
    run.ops_per_s = len(cycles) / sum(cycles)
    run.info["batch_mb"] = statistics.median(batch_mb)
    run.info["ingest_mb_per_s"] = sum(batch_mb) / sum(cycles)

    from hadoop_invertedindexer_spark.streaming.index_maintenance import read_term_index_tier

    run.check(oracle.spark_checksum(read_term_index_tier(run.spark, live.tier), "doc_id")
              == oracle.counts_checksum(all_counts), "tier re-sum")
    if tr.enabled:
        probe_missing_layers(run, corpus, stopwords, text, queries)


WORKLOADS = {"build": build, "search": search, "ingest": ingest}
