"""Text-analysis column functions for the training-data pipeline:
token counting, quality scoring, n-gram language ID, content
fingerprinting. All JVM-side expressions (whole-stage codegen) with exact
DuckDB oracles — these run per document over the whole corpus, so the hot
path must never touch Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.corpus import artifact, ensure_min_parallelism, read_table

# marker stopwords per language (deterministic toy lists — the n-gram
# heuristic shape; real lists would be broadcast the same way)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of"],
    "de": ["der", "die", "das"],
    "fr": ["le", "la", "les"],
    "es": ["el", "los", "una"],
}
STOPWORDS = ["the", "a"]
TOP_K_TOKENS = 20


def txt_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, regex (BPE-ish boundary) tokens,
    chars, distinct tokens, type-token ratio."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    rtoks = F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != "")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens_ws"),
        F.size(rtoks).alias("n_tokens_re"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("ttr"),
    )


def quality_score(text_col) -> F.Column:
    """The C4/Gopher-style quality heuristic as a reusable column
    expression (length gate × stopword-ratio closeness, rounded to 6
    decimals) — single definition point shared by txt_quality and the
    dedup survivor election, with ``quality_sql`` as its engine twin."""
    toks = F.split(text_col, " ")
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.round(
        F.least(n / F.lit(50.0), F.lit(1.0))
        * (F.lit(1.0) - F.abs(stop_hits / n - F.lit(0.1))),
        6,
    )


def quality_sql(text: str = "text") -> str:
    """DuckDB rendering of quality_score over column/expr ``text``."""
    return (
        f"round(least(len(string_split({text}, ' ')) / 50.0, 1.0) *\n"
        f"      (1.0 - abs(len(list_filter(string_split({text}, ' '),\n"
        f"                                 t -> t IN ('the', 'a'))) /\n"
        f"                 CAST(len(string_split({text}, ' ')) AS DOUBLE)"
        f" - 0.1)),\n"
        f"      6)"
    )


def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length gate × stopword-ratio closeness — the
    C4/Gopher-style heuristic shape, deterministic arithmetic."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = stop_hits / n
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: argmax marker-token hits per language, 'und' on a
    no-marker tie. Deterministic tie-break: higher count wins, then
    language code ascending."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    counts = [
        (lang, F.size(F.filter(toks, lambda t: t.isin(*marks))))
        for lang, marks in sorted(LANG_MARKERS.items())
    ]
    # build (count, lang) structs → array_max picks (max count, max lang);
    # to make lang ASC the tiebreak, order by (count, reversed-lang) —
    # simpler: greatest count, then first lang in sorted order achieving it.
    best = None
    best_lang = F.lit("und")
    zero = F.lit(0)
    for lang, cnt in counts:
        if best is None:
            best, best_lang = cnt, F.when(cnt > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            best_lang = F.when(cnt > best, F.lit(lang)).otherwise(best_lang)
            best = F.greatest(best, cnt)
    _ = zero
    return docs.select(
        "doc_id", F.col("lang").alias("declared_lang"), best_lang.alias("pred_lang")
    )


def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: raw md5 plus an order-insensitive fingerprint
    (md5 of the sorted distinct token set) — catches shuffled duplicates
    that exact hashing misses."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_exact"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("fp_set"),
    )


def _markers_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]) + "]"


def _lang_pred_sql() -> str:
    langs = sorted(LANG_MARKERS)
    cnt = {
        l: (
            f"len(list_filter(string_split(lower(text), ' '), "
            f"t -> list_contains({_markers_sql(l)}, t)))"
        )
        for l in langs
    }
    # same fold as txt_lang_id: first lang in sorted order wins ties
    expr = f"CASE WHEN {cnt[langs[0]]} > 0 THEN '{langs[0]}' ELSE 'und' END"
    best = cnt[langs[0]]
    for l in langs[1:]:
        expr = f"CASE WHEN {cnt[l]} > ({best}) THEN '{l}' ELSE ({expr}) END"
        best = f"greatest({best}, {cnt[l]})"
    return expr


def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals, exact-integer ppm (float
    rounding ties differ between engines):

    * ``top_tok_ppm`` — most frequent token's share of all tokens
      (two-level aggregate: partial (doc, tok) counts collapse map-side,
      then a per-doc max — both shuffles carry dictionary-bounded rows);
    * ``dup_2gram_ppm`` — duplicated-bigram share, computed purely on
      the token array (no shuffle)."""
    # Every signal is ROW-LOCAL, so the whole query is one Arrow kernel
    # with ZERO shuffles (r5 — replaces a plan that evaluated the
    # interpreted bigram higher-order function three times per row AND
    # shuffled (doc, tok) pairs for the per-doc max: 24.7 s → ~2 s at
    # sf1). Python ints are exact, `//` ≡ both engines' integer div;
    # per-position bigram TUPLES count distinct bigrams identically to
    # the joined-string form (tokens are space-split, so they contain
    # no spaces). NULL text emits nothing — the old inner join against
    # the exploded tokens dropped those docs too.
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def kernel(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None:
                    continue
                toks = t.split(" ")
                n = len(toks)
                top = max(Counter(toks).values())
                if n >= 2:
                    n2 = n - 1
                    dup = (
                        n2
                        - len({(toks[i], toks[i + 1]) for i in range(n2)})
                    ) * 1_000_000
                    dup_ppm = dup // n2
                else:
                    dup_ppm = 0
                rows.append((did, top * 1_000_000 // n, dup_ppm))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "top_tok_ppm", "dup_2gram_ppm"],
            )

    return docs.mapInPandas(
        kernel, "doc_id long, top_tok_ppm long, dup_2gram_ppm long"
    )


def txt_len_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language deciles of document length — corpus length
    statistics by the DISCRETE quantile definition (value at position
    floor(k·(n−1)/10) of the sorted list), stated explicitly so both
    engines compute the identical integer instead of trusting two
    libraries' interpolation conventions to round the same way.

    Scale shape (r5 — replaces the per-stratum collect_list): the
    quantile is computed on the VALUE DOMAIN, never the corpus. One
    partial-agg groupBy collapses the stratum to (lang, n_chars, cnt)
    rows — bounded by the number of DISTINCT lengths, not documents —
    then a window over that aggregated frame builds cumulative count
    ranges [cum_start, cum_end) per value, and each decile position
    p_k = k·(n−1) div 10 joins to the unique value whose range covers
    it. The only per-stratum sequential step is the window over
    distinct lengths (length domain is capped at any corpus size), so
    no executor ever holds a stratum-sized array."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "n_chars")
    vc = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy("n_chars")
    cum = vc.select(
        "lang", "n_chars", "cnt",
        F.sum("cnt").over(w).alias("cum_end"),
    ).withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
    n = vc.groupBy("lang").agg(F.sum("cnt").alias("n"))
    pos = n.select(
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(10))).alias("decile"),
        F.col("n"),
    ).select("lang", "decile", F.expr("decile * (n - 1) div 10").alias("p"))
    return (
        pos.join(cum, "lang")
        .filter(
            (F.col("p") >= F.col("cum_start"))
            & (F.col("p") < F.col("cum_end"))
        )
        .select("lang", "decile", F.col("n_chars").alias("value"))
    )


def txt_len_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (t-digest-style sketch) twin of
    txt_len_deciles — the swap the exact variant's scale note promises,
    as code rather than prose. Same output shape (lang, decile, value);
    the aggregation is a mergeable sketch, so the per-language state is
    O(accuracy), never the stratum array, and the plan survives strata
    that outgrow an executor.

    No DuckDB oracle on purpose: approx_quantile sketches differ across
    engines by design, so a value hash can't gate this — the driver
    records the weaker rows-only check, and the accuracy contract is
    pinned by test_len_deciles_approx_brackets_exact (each approx
    decile must land within one exact-decile bracket)."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "n_chars")
    qs = [i / 10 for i in range(11)]
    sk = docs.groupBy("lang").agg(
        F.percentile_approx("n_chars", qs, 10_000).alias("vals")
    )
    return sk.select(
        "lang", F.posexplode("vals").alias("decile", "value")
    )


def txt_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion counts of declared vs
    predicted language — the quality-eval readout of txt_lang_id
    (one dictionary-bounded groupBy over the per-doc predictions)."""
    preds = txt_lang_id(spark, sf_dir)
    return preds.groupBy("declared_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )


def _rarity_tokens(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """(doc_id, token) exploded corpus + total token count, one session
    artifact: toks feeds three consumers (the total-count job, the
    frequency build side, and the join probe side)."""
    def build():
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        toks = (
            docs.select(
                "doc_id", F.explode(F.split("text", " ")).alias("token")
            )
            .filter(F.col("token") != "")
            .persist()
        )
        return toks, toks.count()

    return artifact(spark, sf_dir, "rarity_tokens", build)


def txt_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy in exact integers: each document's mean
    corpus-frequency of its tokens, in ppm of the corpus token count
    (low mean ⇒ rare-token-heavy ⇒ likely noise; the log-prob version
    of this signal would hash-diverge on libm rounding, the integer
    mean cannot). Two bounded shuffles: the vocabulary frequency table
    (vocab-keyed, partial-agg collapsed) and the per-doc mean (doc-
    keyed; each doc's exploded tokens join the frequency table on the
    token key — at toy scale that table broadcasts, at web scale it is
    the hash-join this plan already expresses)."""
    toks, total = _rarity_tokens(spark, sf_dir)
    freq = toks.groupBy("token").agg(
        F.expr(f"count(*) * 1000000L div {total}").alias("freq_ppm")
    )
    return (
        toks.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.expr("sum(freq_ppm) div count(*)").alias("mean_freq_ppm"),
            F.count("*").alias("n_tokens"),
        )
    )


def txt_top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 documents by quality within each language — the
    top-N-per-group window pattern (rank over a bounded partition key;
    groups are languages, so no skewed-reducer hazard). Ordering is
    (quality DESC, doc_id ASC): quality is the already-parity-checked
    6-decimal score, doc_id makes the order total."""
    q = txt_quality(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        q.join(docs, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "quality")
    )


def txt_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: exact top-K tokens by total
    frequency, ties broken lexicographically (deterministic). The
    groupBy keys on the vocabulary (bounded, partial-agg collapsed
    map-side) and the final top-K is a TakeOrdered — no global sort
    materializes. At 100 TB with an unbounded vocabulary the same
    query shape runs over a count-min/space-saving sketch; exact is
    right while the vocabulary fits an executor."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(TOP_K_TOKENS)
    )


MG_CAPACITY = 4096  # per-partition Misra-Gries counter budget


def _mg_kernel(capacity: int):
    """mapInPandas kernel factory: per-partition Misra-Gries
    heavy-hitter summary with a HARD cap of ``capacity`` counters.

    Each Arrow batch is counted vectorized (pandas value_counts — no
    per-row Python) and merged into the partition accumulator; whenever
    the accumulator exceeds the cap, the classic Misra-Gries reduction
    subtracts the (capacity+1)-th largest count from every counter and
    drops the non-positive ones. Counts become LOWER bounds with total
    undercount ≤ n_partition/(capacity+1) — the mergeable-summaries
    guarantee — and partition state is O(capacity) regardless of
    vocabulary size, which is the whole point at 100 TB."""

    def kernel(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            vc = pdf["token"].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0).astype("int64")
            if len(acc) > capacity:
                thresh = acc.nlargest(capacity + 1).iloc[-1]
                acc = (acc - thresh).astype("int64")
                acc = acc[acc > 0]
        if acc is not None and len(acc):
            yield pd.DataFrame(
                {"token": acc.index.astype(str), "n_lb": acc.to_numpy("int64")}
            )

    return kernel


def _mg_kernel_stats(capacity: int):
    """Misra-Gries kernel variant that ALSO reports, per partition, the
    facts the caller needs to reason about its own guarantee at
    runtime: the processed-row total (kind='total') and the number of
    Misra-Gries reduction events (kind='dec'). Counter rows carry
    kind='tok'. Same vectorized batch merge and O(capacity) state as
    _mg_kernel; the meta rows let doc_dup_ngrams_approx compute the
    merged undercount bound N/(capacity+1) and detect the
    no-decrement (exact-counts) case without a second corpus scan."""

    def kernel(batches):
        import pandas as pd

        acc = None
        n_total = 0
        n_dec = 0
        for pdf in batches:
            n_total += len(pdf)
            vc = pdf["token"].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0).astype("int64")
            if len(acc) > capacity:
                n_dec += 1
                thresh = acc.nlargest(capacity + 1).iloc[-1]
                acc = (acc - thresh).astype("int64")
                acc = acc[acc > 0]
        if n_total:
            if acc is not None and len(acc):
                yield pd.DataFrame(
                    {
                        "token": acc.index.astype(str),
                        "n_lb": acc.to_numpy("int64"),
                        "kind": "tok",
                    }
                )
            yield pd.DataFrame(
                {
                    "token": ["", ""],
                    "n_lb": [n_total, n_dec],
                    "kind": ["total", "dec"],
                }
            )

    return kernel


def _top_tokens_approx_frame(
    toks: DataFrame, capacity: int, k: int
) -> DataFrame:
    summaries = toks.mapInPandas(
        _mg_kernel(capacity), "token string, n_lb long"
    )
    return (
        summaries.groupBy("token")
        .agg(F.sum("n_lb").alias("n_est"))
        .orderBy(F.desc("n_est"), F.asc("token"))
        .limit(k)
    )


def txt_top_tokens_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state twin of txt_top_tokens — the sketch path its scale
    note promises, as code rather than prose. Per-partition Misra-Gries
    summaries (≤MG_CAPACITY counters each, vectorized batch merge) ship
    ≤ capacity·partitions rows to one vocabulary-keyed groupBy; the
    final top-K is a TakeOrdered. Estimated counts are lower bounds
    with total undercount ≤ corpus_tokens/(MG_CAPACITY+1), so every
    token with frequency above that bound is guaranteed to surface.

    No DuckDB oracle on purpose (the txt_len_deciles_approx contract):
    summary contents depend on partition boundaries, so a cross-engine
    value hash can't gate it — the driver records the weaker rows-only
    check, and the accuracy contract is pinned by
    test_top_tokens_approx_* (exact equality when the capacity covers
    the per-partition vocabulary; the Misra-Gries undercount bracket on
    a planted skewed stream when it doesn't)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    return _top_tokens_approx_frame(toks, MG_CAPACITY, TOP_K_TOKENS)


BPE_TOP_K = 30


def txt_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting: exact top-K ADJACENT token pairs
    by corpus frequency — the inner statistic of a byte-pair-encoding
    / WordPiece training round (each round merges the most frequent
    adjacent pair; this emits the candidate table a trainer would
    consume). Bigram expansion is row-local (transform over the token
    array, the txt_repetition idiom); the groupBy keys on the bigram
    vocabulary (partial-agg collapsed map-side) and the final top-K is
    a TakeOrdered, ties broken lexicographically."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    two = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(two).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP_K)
    )


# PII redaction patterns — shared Java-regex / RE2 subset only (no
# lookarounds, memory rule). Order matters: emails before bare domains.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(col: F.Column) -> F.Column:
    """Training-corpus PII scrub: emails, IPv4s, phone-like digit runs →
    typed placeholders. Pure regexp_replace chain (codegen, zero
    Python); the same patterns run in the DuckDB oracle with the 'g'
    flag (DuckDB replaces first-match by default, Spark replaces all)."""
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def txt_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction demo over the corpus. The synthetic text is digit-free,
    so PII is injected deterministically from doc_id first (email + IP +
    phone per doc) — the oracle builds the identical string and redacts
    with the identical patterns, making the check non-vacuous for all
    three pattern families."""
    docs = read_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.lit("contact u"), did, F.lit("@mail.example.org ip 10.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".7 tel +1 555-00"),
        did, F.lit(" "), F.col("text"),
    )
    return docs.select(
        "doc_id",
        F.substring(redact_pii(injected), 1, 80).alias("redacted_head"),
    )


def _redact_sql(expr: str) -> str:
    out = expr
    for pat, repl in PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return out


def txt_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram language-model scoring — the
    CCNet/KenLM quality-filter shape, exact-integer for engine parity:
    train add-one-smoothed bigram statistics over the whole corpus
    (C2 = bigram counts, C1 = history counts, V = vocabulary size),
    then score every document by its mean smoothed transition
    probability in ppm, Σ (C2+1)·10⁶ div (C1+V) div n_bigrams. Low
    scores mark incoherent/noise documents (rare transitions), and
    n_singleton — the document's count of corpus-unique bigrams — is
    the inverse-duplication signal (a near-duplicated document shares
    every transition, so its singleton count collapses to ~0).

    No libm, no floats: per-term integer div then an integer sum, so
    partition order can't perturb the hash (the Adamic-Adar lesson).
    Scale shape: bigram expansion is row-local (the txt_bpe_pairs
    transform idiom); C2/C1 are partial-agg collapsed map-side; the
    score join keys on the bigram — hot function-word bigrams ("of
    the") skew that shuffle and AQE's skew-join split absorbs it, the
    same hazard class the planted-hub plan test pins. V is a 1-row
    aggregate crossJoined in, never collected."""
    # size-gated lift (r7): the bigram explode is JVM column algebra —
    # cheap enough per byte that the exchange only pays off once the
    # corpus is ≥ a few MB (measured: +71% at 0.6 MB, −34% at 12 MB)
    docs = ensure_min_parallelism(
        spark, sf_dir,
        read_table(spark, sf_dir, "documents").select("doc_id", "text"),
        min_bytes=4 << 20,
    )
    # pinned (r7): the bigram stream feeds THREE consumers (C2, C1 and
    # the score join's probe side) — unpinned, the corpus-wide explode
    # executed three times (guide §1.2)
    big = artifact(
        spark, sf_dir, "bigram", lambda: _bigrams(_split(docs)).persist()
    )
    return bigram_lm_frame(docs, big)


def _split(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.split("text", " ").alias("t"))


def _bigrams(toks: DataFrame) -> DataFrame:
    return (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 1),
                    lambda i: F.struct(
                        F.get(F.col("t"), i - 1).alias("w1"),
                        F.get(F.col("t"), i).alias("w2"),
                    ),
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )


def bigram_lm_frame(docs: DataFrame,
                    big: DataFrame | None = None) -> DataFrame:
    """(doc_id, text) → (doc_id, n_bigrams, mean_p_ppm, n_singleton);
    the txt_bigram_lm core, frame-parametrized for unit tests. ``big``
    is the (doc_id, w1, w2) bigram stream of ``docs`` when the caller
    has it pinned."""
    docs = _split(docs)
    if big is None:
        big = _bigrams(docs)
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("n1"))
    v = docs.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    return (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(v)
        .select(
            "doc_id",
            F.expr("(n2 + 1) * 1000000L div (n1 + v)").alias("p_ppm"),
            "n2",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum(p_ppm) div count(*)").alias("mean_p_ppm"),
            F.expr(
                "CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS LONG)"
            ).alias("n_singleton"),
        )
    )


TEXTSTATS_ORACLES = {
    "txt_bigram_lm": """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2
),
c2 AS (SELECT w1, w2, count(*) AS n2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS n1 FROM big GROUP BY w1),
v AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum((n2 + 1) * 1000000 // (n1 + v)) // count(*) AS BIGINT)
         AS mean_p_ppm,
       CAST(sum(CASE WHEN n2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_singleton
FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY doc_id
""",
    "txt_repetition": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
top AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
arrs AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_toks,
    CASE WHEN len(string_split(text, ' ')) >= 2 THEN
      list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        i -> array_to_string(list_slice(string_split(text, ' '), i, i + 1), ' '))
    ELSE [] END AS two
  FROM documents
)
SELECT a.doc_id,
  CAST(t.top_c * 1000000 // a.n_toks AS BIGINT) AS top_tok_ppm,
  CAST(CASE WHEN len(a.two) > 0
       THEN (len(a.two) - len(list_distinct(a.two))) * 1000000 // len(a.two)
       ELSE 0 END AS BIGINT) AS dup_2gram_ppm
FROM arrs a JOIN top t ON a.doc_id = t.doc_id
""",
    "txt_stats": """
SELECT doc_id, length(text) AS n_chars,
  len(string_split(text, ' ')) AS n_tokens_ws,
  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_tokens_re,
  len(list_distinct(string_split(text, ' '))) AS n_types,
  round(len(list_distinct(string_split(text, ' '))) /
        CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS ttr
FROM documents
""",
    "txt_quality": """
SELECT doc_id,
  len(string_split(text, ' ')) AS n_tokens,
  round(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) /
        CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio,
  round(least(len(string_split(text, ' ')) / 50.0, 1.0) *
        (1.0 - abs(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) /
                   CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.1)), 6) AS quality
FROM documents
""",
    "txt_lang_id": f"""
SELECT doc_id, lang AS declared_lang, {_lang_pred_sql()} AS pred_lang
FROM documents
""",
    "txt_fingerprint": """
SELECT doc_id, md5(text) AS fp_exact,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp_set
FROM documents
""",
    "txt_bpe_pairs": f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS pair
  FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2
)
SELECT pair, count(*) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {BPE_TOP_K}
""",
    "txt_top_tokens": f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, count(*) AS n FROM toks WHERE token <> ''
GROUP BY token ORDER BY n DESC, token ASC LIMIT {TOP_K_TOKENS}
""",
    "txt_lang_confusion": f"""
SELECT lang AS declared_lang, {_lang_pred_sql()} AS pred_lang,
       count(*) AS n
FROM documents GROUP BY 1, 2
""",
    "txt_top_docs_per_lang": """
WITH q AS (
  SELECT doc_id, lang,
    round(least(len(string_split(text, ' ')) / 50.0, 1.0) *
          (1.0 - abs(len(list_filter(string_split(text, ' '),
                                     t -> t IN ('the', 'a'))) /
                     CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.1)),
          6) AS quality
  FROM documents
),
ranked AS (
  SELECT lang, doc_id, quality,
         row_number() OVER (PARTITION BY lang
                            ORDER BY quality DESC, doc_id ASC) AS rank
  FROM q
)
SELECT lang, rank, doc_id, quality FROM ranked WHERE rank <= 3
""",
    "txt_rarity": """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
freq AS (
  SELECT token,
    count(*) * 1000000 // (SELECT count(*) FROM clean) AS freq_ppm
  FROM clean GROUP BY token
)
SELECT c.doc_id,
  CAST(sum(f.freq_ppm) // count(*) AS BIGINT) AS mean_freq_ppm,
  count(*) AS n_tokens
FROM clean c JOIN freq f ON c.token = f.token
GROUP BY c.doc_id
""",
    "txt_redact_pii": f"""
SELECT doc_id,
  substr({_redact_sql(
      "('contact u' || doc_id || '@mail.example.org ip 10.0.' "
      "|| (doc_id % 256) || '.7 tel +1 555-00' || doc_id || ' ' || text)"
  )}, 1, 80) AS redacted_head
FROM documents
""",
    "txt_len_deciles": """
WITH arrs AS (
  SELECT lang, list(n_chars ORDER BY n_chars) AS arr, count(*) AS n
  FROM documents GROUP BY lang
)
SELECT lang, k AS decile,
       arr[CAST(k * (n - 1) // 10 AS BIGINT) + 1] AS value
FROM arrs, (SELECT unnest(range(0, 11)) AS k)
""",
}

TEXTSTATS_QUERIES = {
    "txt_stats": txt_stats,
    "txt_quality": txt_quality,
    "txt_lang_id": txt_lang_id,
    "txt_fingerprint": txt_fingerprint,
    "txt_repetition": txt_repetition,
    "txt_redact_pii": txt_redact_pii,
    "txt_len_deciles": txt_len_deciles,
    "txt_len_deciles_approx": txt_len_deciles_approx,
    "txt_top_tokens": txt_top_tokens,
    "txt_top_tokens_approx": txt_top_tokens_approx,
    "txt_bpe_pairs": txt_bpe_pairs,
    "txt_bigram_lm": txt_bigram_lm,
    "txt_lang_confusion": txt_lang_confusion,
    "txt_rarity": txt_rarity,
    "txt_top_docs_per_lang": txt_top_docs_per_lang,
}

