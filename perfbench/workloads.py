"""The benchmark's workloads, driven through the package's public entry
points.

Both workloads report the same end-to-end metrics; an *operation* is the
unit of work a user waits on:

* ``build``: a delta of new documents replaces the previous delta of a
  dense corpus (so the corpus keeps its size), the session caches are
  invalidated as a table commit does, and the full chain runs:
  ``get_mention_arrays`` -> ``get_kg`` -> ``kg_openie_triples`` ->
  ``get_merged`` -> ``write_kgx``. Throughput is corpus documents built
  per second of the measured window.
* ``serve``: one mix query with its full result fetched, by one of
  ``nproc`` (at most four) closed-loop clients sharing one session over a
  graph built during set-up. Throughput is queries answered per second
  of the window.

``setup_s`` is the time from asking for a session until the workload can
be measured: ``get_spark``, then a warm-up chain on a small snapshot and
one whole operation on the corpus (``build``), or the graph build and
merge of the corpus and one untimed pass of the mix (``serve``). It is
measured once per run: most of it is the one-time JVM and Python-worker
warm-up of a fresh process, which a second set-up in the same process
would skip.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from kg_covid_19_spark.operators.triples import kg_openie_triples
from kg_covid_19_spark.plans.merged import MERGED_QUERIES, get_merged
from kg_covid_19_spark.plans.pipeline import get_kg, get_mention_arrays
from kg_covid_19_spark.plans.queries import KG_QUERIES
from kg_covid_19_spark.sources.corpus import invalidate_session_caches
from kg_covid_19_spark.sources.kgx import write_kgx

from .corpus import Corpus, CorpusSpec
from .oracle import OracleGate, fingerprint
from .session import start_session
from .sparkstats import MB, SparkCounters, cached_mb
from .trace import Tracer, layer_summary

# The seven reference SPARQL-template analogs, weighted up in the mix.
MIX_REFERENCE = (
    "kg_category_counts", "kg_protein_nodes", "kg_one_hop", "kg_two_hop",
    "kg_druggable_two_hop", "kg_provided_by_counts", "kg_drug_mentions",
)
MIX_OTHER = (
    "kg_mention_counts", "kg_pagerank", "kg_components_fixpoint",
    "kg_triangle_counts", "kg_graph_stats",
)
MIX = MIX_REFERENCE + MIX_OTHER
REFERENCE_WEIGHT = 3
QUERIES = {**KG_QUERIES, "kg_graph_stats": MERGED_QUERIES["kg_graph_stats"]}

MAX_CLIENTS = 4


@dataclass(frozen=True)
class Sizes:
    build: CorpusSpec
    warmup: CorpusSpec
    serve: CorpusSpec
    delta_share: float  # build: new documents per operation
    min_ops: int  # build operations per run


SIZES = {
    "full": Sizes(
        build=CorpusSpec(8000),
        warmup=CorpusSpec(4000),
        serve=CorpusSpec(6000),
        delta_share=0.02,
        min_ops=4,
    ),
    "tiny": Sizes(
        build=CorpusSpec(300),
        warmup=CorpusSpec(100),
        serve=CorpusSpec(300),
        delta_share=0.05,
        min_ops=1,
    ),
    # the sf1 replica scale, for comparing the per-layer split with the
    # benchmark's own sizes; too slow for the repeated runs
    "sf1": Sizes(
        build=CorpusSpec(50000),
        warmup=CorpusSpec(4000),
        serve=CorpusSpec(50000),
        delta_share=0.02,
        min_ops=2,
    ),
}

COUNTER_KEYS = ("tasks", "cpu_s", "shuffle_mb", "spill_mb")


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)

    def check(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.report.append(f"WRONG {what}: got {got} want {want}")


@dataclass
class Phase:
    """Timings of one measured phase. In a traced run every other
    operation is traced; those land in ``traced_op_s``."""
    op_s: list[float] = field(default_factory=list)
    traced_op_s: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    throughput: float = 0.0  # work units per second of the window

    def add(self, traced: bool, op_s: float) -> None:
        (self.traced_op_s if traced else self.op_s).append(op_s)


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.sizes = SIZES[args.size]
        self.result = Result()
        t0 = time.perf_counter()
        self.spark = start_session(work)
        self.session_start_s = time.perf_counter() - t0
        self.tracer = Tracer(SparkCounters(self.spark))
        self.gate = OracleGate(work)
        self.layer: dict[str, float] = {}  # workload-specific layer metrics

    def corpus(self, name: str, spec: CorpusSpec, salt: int) -> Corpus:
        return Corpus(os.path.join(self.work, name), spec,
                      seed=self.args.seed * 101 + salt)

    def setup(self, prepare):
        """Run ``prepare()``; returns its result and the set-up time, the
        session start included."""
        t0 = time.perf_counter()
        out = prepare()
        prep_s = time.perf_counter() - t0
        self.result.report.append(
            f"session_start_s {self.session_start_s:.3f}; "
            f"workload_setup_s {prep_s:.3f}"
        )
        return out, self.session_start_s + prep_s

    def span(self, name: str, layer: str, cycle=None, leaf: bool = True):
        return self.tracer.span(name, layer, cycle, leaf)

    def traced(self, i: int) -> bool:
        """Whether the ``i``-th build, or ``i``-th deck of queries, is
        traced."""
        return bool(self.args.trace) and i % 2 == 1

    def sequential(self, op) -> Phase:
        """Run ``op(i) -> op_s`` back to back for ``--seconds`` and at
        least ``min_ops`` times (two in a traced run). ``wall_s`` ends
        with the last operation."""
        min_ops = max(self.sizes.min_ops, 2 if self.args.trace else 1)
        ph = Phase()
        t_start = time.perf_counter()
        i = 0
        while i < min_ops or time.perf_counter() - t_start < self.args.seconds:
            traced = self.traced(i)
            self.tracer.set_active(traced)
            try:
                ph.add(traced, op(i))
            finally:
                self.tracer.set_active(False)
            i += 1
        ph.wall_s = time.perf_counter() - t_start
        return ph

    def answer(self, name: str, sf_dir: str, cycle=None):
        """Run one mix query and fetch its full result, as a caller would.
        Returns (latency, columns, rows)."""
        with self.span(name, "queries", cycle):
            t0 = time.perf_counter()
            df = QUERIES[name](self.spark, sf_dir)
            rows = df.collect()
            dt = time.perf_counter() - t0
        return dt, df.columns, rows

    # -- reporting -------------------------------------------------------
    def finish(self, ph: Phase, setup_s: float, label: str) -> None:
        r = self.result
        cached = cached_mb(self.spark)
        r.report.append(
            f"ops {len(ph.op_s)} {label} untraced, {len(ph.traced_op_s)} "
            f"traced, in {ph.wall_s:.2f} s; op_s "
            + " ".join(f"{t:.3f}" for t in ph.op_s[:12])
        )
        tail = tail_percentile(ph.op_s)
        if tail:
            r.report.append(
                f"op_p{tail[0]}_ms {1e3 * tail[1]:.1f} "
                f"(n={len(ph.op_s)}, {tail[2]} beyond)"
            )
        r.report.append(f"cached_mb {cached:.2f} MB")
        r.report.append(
            f"failed_ratio {r.failed / max(r.attempted, 1):.4f} "
            f"({r.failed} of {r.attempted} checked answers)"
        )
        if self.args.trace:
            r.metrics = self.layer_metrics(ph)
            return
        r.metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (1e3 * statistics.median(ph.op_s), "ms"),
            "throughput_per_s": (ph.throughput, "1/s"),
            "cached_mb": (cached, "MB"),
        }

    def layer_metrics(self, ph: Phase) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        m: dict[str, float] = {"session.start_s": self.session_start_s}
        m.update(layer_summary(tr.leaves("mentions"), "mentions", COUNTER_KEYS))
        m.update(layer_summary(tr.leaves("pipeline"), "pipeline", COUNTER_KEYS))
        m.update(layer_summary(tr.leaves("triples"), "triples", COUNTER_KEYS[:3]))
        m.update(layer_summary(tr.leaves("merge"), "merge", COUNTER_KEYS[:3]))
        m["kgx.s"] = _median([s.duration for s in tr.leaves("kgx")])
        m["kgx.written_mb"] = self.layer.get("kgx.written_mb", 0.0)
        m["kgx.bytes_per_edge"] = self.layer.get("kgx.bytes_per_edge", 0.0)
        calls = [s for s in tr.leaves("queries") if s.cycle != SERIAL]
        for q in MIX:
            qs = [s for s in calls if s.name == q]
            m[f"queries.{q}.p50_ms"] = 1e3 * _median([s.duration for s in qs])
            m[f"queries.{q}.tasks"] = _median([s.counters["tasks"] for s in qs])
        m["queries.jobs_per_call"] = _mean([s.counters["jobs"] for s in calls])
        # persisted RDDs are only attributable to a call while no other
        # call runs, so the hit ratio comes from the serialized pass
        m["queries.hit_ratio"] = _mean([
            float(s.new_cached_rdds == 0)
            for s in tr.leaves("queries") if s.cycle == SERIAL
        ])
        for k in CACHE_LAYER:
            m[k] = self.layer.get(k, 0.0)
        n_ops = max(len(ph.traced_op_s), 1)
        self_s = tr.self_times(skip_cycle=SERIAL)
        for layer in LAYERS:
            m[f"self.{layer}.s_per_op"] = self_s.get(layer, 0.0) / n_ops
        m["trace.overhead_ms"] = 1e3 * (
            _median(ph.traced_op_s) - _median(ph.op_s)
        )
        m["trace.bookkeeping_ms"] = 1e3 * tr.bookkeeping_s / n_ops
        spans = os.path.join(os.path.dirname(self.work), "spans")
        os.makedirs(spans, exist_ok=True)
        path = os.path.join(
            spans, f"{self.args.workload}-{self.args.seed}.jsonl"
        )
        tr.write(path)
        self.result.report.append(f"spans {len(tr.spans)} written to {path}")
        for k, v in m.items():
            if k.startswith(("self.", "trace.")):
                self.result.report.append(f"{k} {v:.4f} {layer_unit(k)}")
        return {k: (float(v), layer_unit(k)) for k, v in m.items()}

    def close(self) -> None:
        self.gate.close()
        self.spark.stop()


# Span layers, named after the package modules they call into. ``build``
# is the operation container; its self time is the benchmark's own glue
# between calls (landing the delta).
LAYERS = ("build", "cache", "mentions", "pipeline", "triples", "merge",
          "kgx", "queries")
# The session caches on the refresh path of ``build``: invalidation, the
# rebuild up to a queryable graph, and documents the kernel re-read per
# new document (the wasted work of a full rebuild).
CACHE_LAYER = ("refresh.invalidate_s", "refresh.rebuild_s",
               "refresh.rescan_ratio")
# The cycle id of the traced single-client pass of the mix that ``serve``
# runs after its window.
SERIAL = "serial"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload."""
    names = ["session.start_s"]
    for layer, keys in (("mentions", COUNTER_KEYS), ("pipeline", COUNTER_KEYS),
                        ("triples", COUNTER_KEYS[:3]),
                        ("merge", COUNTER_KEYS[:3])):
        names += [f"{layer}.s"] + [f"{layer}.{k}" for k in keys]
    names += ["kgx.s", "kgx.written_mb", "kgx.bytes_per_edge"]
    for q in MIX:
        names += [f"queries.{q}.p50_ms", f"queries.{q}.tasks"]
    names += ["queries.jobs_per_call", "queries.hit_ratio"]
    names += list(CACHE_LAYER)
    names += [f"self.{layer}.s_per_op" for layer in LAYERS]
    names += ["trace.overhead_ms", "trace.bookkeeping_ms"]
    return names


def layer_unit(name: str) -> str:
    for suffix, unit in ((".ms", "ms"), ("_ms", "ms"), ("_mb", "MB"),
                         ("tasks", "count"), ("per_call", "count"),
                         ("ratio", "ratio"), ("per_edge", "B")):
        if name.endswith(suffix):
            return unit
    return "s"


def tail_percentile(xs: list[float]) -> tuple[int, float, int] | None:
    """The highest whole percentile with at least ten samples beyond it:
    (percentile, value, samples beyond), or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    pct = max(p for p in range(1, 100) if n - int(p / 100 * n) - 1 >= 10)
    idx = int(pct / 100 * n)
    return pct, s[idx], n - idx - 1


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _kgx_lines(out_dir: str) -> tuple[int, int, int]:
    """(node rows, edge rows, bytes) of a written KGX tree."""
    rows, size = [], 0
    for sub in ("nodes", "edges"):
        n = 0
        root = os.path.join(out_dir, sub)
        for f in sorted(os.listdir(root)):
            if f.startswith(("_", ".")):
                continue
            with open(os.path.join(root, f), "rb") as fh:
                data = fh.read()
            size += len(data)
            # one header line per part file
            n += max(data.count(b"\n") - 1, 0)
        rows.append(n)
    return rows[0], rows[1], size


def run_build(b: Bench) -> None:
    spark, res = b.spark, b.result
    corpus = b.corpus("build", b.sizes.build, 1)
    warm = b.corpus("warmup", b.sizes.warmup, 2)
    n_delta = max(1, round(b.sizes.delta_share * b.sizes.build.n_docs))
    out_dir = os.path.join(b.work, "kgx")
    invalidate_s: list[float] = []
    rebuild_s: list[float] = []

    def chain(sf_dir: str, cycle=None):
        """Invalidate the session caches, then one full build. Returns
        (seconds to the graph, triples fingerprint); the caller's clock
        reads the end."""
        t0 = time.perf_counter()
        with b.span("invalidate_session_caches", "cache", cycle):
            invalidate_session_caches(spark)
        t_inv = time.perf_counter()
        with b.span("get_mention_arrays", "mentions", cycle):
            get_mention_arrays(spark, sf_dir)
        with b.span("get_kg", "pipeline", cycle):
            get_kg(spark, sf_dir)
        t_graph = time.perf_counter()
        invalidate_s.append(t_inv - t0)
        rebuild_s.append(t_graph - t_inv)
        with b.span("kg_openie_triples", "triples", cycle):
            tdf = kg_openie_triples(spark, sf_dir)
            trows = tdf.collect()
        with b.span("get_merged", "merge", cycle):
            mn, me = get_merged(spark, sf_dir)
        with b.span("write_kgx", "kgx", cycle):
            write_kgx(mn, me, out_dir)
        return t_graph, fingerprint(tdf.columns, trows)

    answers = []
    fresh_s: list[float] = []  # delta landing to a queryable graph

    def op(i) -> float:
        delta = corpus.make_docs(n_delta)  # generated off the clock
        with b.span("build", "build", i, leaf=False):
            corpus.replace_delta(delta)
            t_land = time.perf_counter()
            t_graph, triples = chain(corpus.root, i)
        op_s = time.perf_counter() - t_land
        fresh_s.append(t_graph - t_land)
        nodes, edges = get_kg(spark, corpus.root)
        mn, me = get_merged(spark, corpus.root)
        answers.append((
            corpus.snapshot(), (nodes.count(), edges.count()),
            (mn.count(), me.count()), triples, _kgx_lines(out_dir),
        ))
        return op_s

    def prepare():
        # a small snapshot first, then one whole operation on the corpus,
        # so the first measured build does not pay the rest of the JIT
        # and first-delta warm-up
        chain(warm.root)
        op(None)

    _, setup_s = b.setup(prepare)
    for acc in (invalidate_s, rebuild_s, answers, fresh_s):
        acc.clear()
    ph = b.sequential(op)
    # every build reads the same number of documents
    ph.throughput = corpus.n_docs * len(answers) / ph.wall_s
    for i, (files, kg, merged, triples, kgx) in enumerate(answers):
        b.gate.use(files)
        want_merged = b.gate.counts(merged=True)
        res.check(f"build {i} graph counts", kg, b.gate.counts())
        res.check(f"build {i} merged counts", merged, want_merged)
        res.check(f"build {i} triples", triples,
                  b.gate.expect("kg_openie_triples"))
        res.check(f"build {i} kgx rows", kgx[:2], want_merged)
    size, n_edges = answers[-1][4][2], answers[-1][4][1]
    b.layer["kgx.written_mb"] = size / MB
    b.layer["kgx.bytes_per_edge"] = size / max(n_edges, 1)
    b.layer["refresh.invalidate_s"] = _median(invalidate_s)
    b.layer["refresh.rebuild_s"] = _median(rebuild_s)
    b.layer["refresh.rescan_ratio"] = _median([
        s.counters["input_records"] / n_delta
        for s in b.tracer.leaves("mentions")
    ])
    res.report.append(
        f"build_docs_per_s {ph.throughput:.1f} 1/s ({corpus.n_docs} docs "
        f"per build, {len(answers)} builds, a new delta of {n_delta} each; "
        f"freshness_p50_s {statistics.median(fresh_s):.3f})"
    )
    b.finish(ph, setup_s, "builds")


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

class Decks:
    """The serve mix as a queue of shuffled decks, shared by the clients.
    Each deck holds every reference query ``REFERENCE_WEIGHT`` times and
    every other query once. No deck is opened after the deadline, so the
    measured work is whole decks and its composition does not depend on
    the seed; at least ``min_decks`` are dealt."""

    def __init__(self, seed: int, deadline: float, min_decks: int):
        self.rng = random.Random(seed)
        self.deadline = deadline
        self.min_decks = min_decks
        self.n = 0  # decks opened
        self.deck: list[str] = []
        self.lock = threading.Lock()

    def next(self) -> tuple[str, int] | None:
        """The next query and the number of its deck, or None."""
        with self.lock:
            if not self.deck:
                if (time.perf_counter() >= self.deadline
                        and self.n >= self.min_decks):
                    return None
                self.deck = [
                    q for q in MIX_REFERENCE for _ in range(REFERENCE_WEIGHT)
                ] + list(MIX_OTHER)
                self.rng.shuffle(self.deck)
                self.n += 1
            return self.deck.pop(), self.n - 1


def run_serve(b: Bench) -> None:
    spark, res = b.spark, b.result
    corpus = b.corpus("serve", b.sizes.serve, 3)
    d = corpus.root

    def prepare():
        get_kg(spark, d)
        get_merged(spark, d)
        # one pass of the mix fills the per-query caches
        return [(q, *b.answer(q, d)[1:]) for q in MIX]

    answers, setup_s = b.setup(prepare)
    n_clients = min(MAX_CLIENTS, len(os.sched_getaffinity(0)))
    lat: dict[str, list[float]] = {q: [] for q in MIX}
    lock = threading.Lock()
    errors: list[str] = []
    ph = Phase()
    ends: list[float] = []
    t_start = time.perf_counter()
    deadline = t_start + b.args.seconds
    # a traced run traces every other deck, so traced and untraced
    # queries have the same mix
    decks = Decks(b.args.seed, deadline, 2 if b.args.trace else 1)

    def client() -> None:
        while (dealt := decks.next()) is not None:
            q, deck_no = dealt
            traced = b.traced(deck_no)
            b.tracer.set_active(traced)
            try:
                dt, cols, rows = b.answer(q, d)
            except Exception:
                with lock:
                    errors.append(traceback.format_exc())
                continue
            finally:
                b.tracer.set_active(False)
            with lock:
                ends.append(time.perf_counter())
                ph.add(traced, dt)
                if not traced:
                    lat[q].append(dt)
                # checked after the window: hashing here would hold the
                # interpreter lock while other clients deserialize results
                answers.append((q, cols, rows))

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ph.wall_s = time.perf_counter() - t_start
    # closed-loop throughput: answers in the window per second up to the
    # last of them (the latencies cover the whole decks, finished after)
    within = [e for e in ends if e <= deadline] or ends
    ph.throughput = len(within) / (max(within) - t_start)
    if b.args.trace:
        # one query at a time, so the persisted RDDs a call creates are
        # its own (see ``queries.hit_ratio``)
        b.tracer.set_active(True)
        answers += [(q, *b.answer(q, d, SERIAL)[1:]) for q in MIX]
        b.tracer.set_active(False)

    b.gate.use(corpus.snapshot())
    for q, cols, rows in answers:
        res.check(f"serve {q}", fingerprint(cols, rows), b.gate.expect(q))
    res.attempted += len(errors)
    res.failed += len(errors)
    for e in errors[:3]:
        print(e, file=sys.stderr)
    res.report.append(
        f"clients {n_clients}; query_p50_ms "
        f"{1e3 * statistics.median(ph.op_s):.1f}; queries_per_s "
        f"{ph.throughput:.2f}"
    )
    for q in MIX:
        if lat[q]:
            res.report.append(
                f"  {q} n={len(lat[q])} p50_ms "
                f"{1e3 * statistics.median(lat[q]):.1f}"
            )
    b.finish(ph, setup_s, "queries")


RUNNERS = {"build": run_build, "serve": run_serve}


def run(args, work: str) -> Result:
    b = Bench(args, work)
    try:
        RUNNERS[args.workload](b)
    finally:
        b.close()
    return b.result
