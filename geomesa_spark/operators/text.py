"""Text analysis for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

These extend the engine beyond the reference's own operator set (the
reference's converter DSL provides the scalar-function vocabulary —
``length``, ``lowercase``, ``regexReplace``, ``md5`` etc.,
geomesa-convert-common/src/main/scala/org/locationtech/geomesa/convert/Transformers.scala —
but no corpus analytics). Everything here is **pure Spark column
expressions** (split/filter/transform higher-order functions + md5),
so the hot path stays inside whole-stage codegen with zero Python —
at 100 TB these run at parquet-scan speed with full column pruning
(only the text column is read).

Design note for the 10^12-doc scale: every function is a *narrow*
per-row transformation — no shuffle, no UDF, no driver collect. The
only shuffles in this module's callers are the final groupBys of the
dedup pipeline (dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# deterministic marker-token sets for the language heuristic —
# checked in priority order; ties broken by the fixed order below
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "is"]),
    ("fr", ["le", "la", "et", "les", "des"]),
    ("de", ["der", "die", "und", "das", "ist"]),
    ("es", ["el", "los", "las", "y", "es"]),
    ("zh", ["de5", "shi4", "le5", "zai4", "he2"]),
]

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization (single-space corpus convention).
    Empty tokens are dropped, so empty/whitespace-padded documents
    count zero tokens instead of one per gap — without the filter an
    empty document scored quality ~0.5 (ttr=1, stop=0) and slipped
    past any threshold below that."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def fingerprint(text: Column) -> Column:
    """Canonical content fingerprint: md5 of the lower-cased,
    trimmed text (the converter DSL's `md5(stringToBytes(...))`,
    Transformers.scala id functions)."""
    return F.md5(F.lower(F.trim(text)))


def _stats_struct(text: Column) -> Column:
    """All token-derived counts in ONE expression with the token
    array let-bound via a single-element `transform` (the lambda
    variable is evaluated once). Composing one column function per
    count would inline `split(text)` into every output
    after project collapse — measured 11x slower at 200k docs
    (lambda-bearing expressions are excluded from codegen
    subexpression elimination, the same trap documented on
    geom_table_native)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS])

    def build(toks):
        fields = [
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
            F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
            .cast("long")
            .alias("n_stop"),
        ]
        for lang, mk in LANG_MARKERS:
            arr = F.array(*[F.lit(w) for w in mk])
            fields.append(
                F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))
                .cast("long")
                .alias(f"m_{lang}")
            )
        return F.struct(*fields)

    return F.transform(F.array(tokens(text)), build)[0]


def profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-pass per-document text profile (narrow, shuffle-free).

    The counts come from `_stats_struct` behind an `explode(array())`
    Generate barrier — CollapseProject cannot merge through a
    generator, so the tokenization runs exactly once per row and the
    derived ratios are cheap arithmetic over the small struct."""
    t = F.col(text_col)
    mid = df.select(
        F.col(id_col),
        t.alias("_text"),
        F.explode(F.array(_stats_struct(t))).alias("_s"),
    )
    s = F.col("_s")
    n = s["n_tokens"]
    stop = s["n_stop"] / n
    ttr = s["n_types"] / n
    quality = (
        F.lit(0.5) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * ttr
        + F.lit(0.2) * (F.lit(1.0) - stop)
    )
    best = F.greatest(*[s[f"m_{lang}"] for lang, _ in LANG_MARKERS])
    lang_expr = F.lit("unk")
    for lang, _ in reversed(LANG_MARKERS):
        lang_expr = F.when(
            (best > 0) & (s[f"m_{lang}"] == best), F.lit(lang)
        ).otherwise(lang_expr)
    return mid.select(
        F.col(id_col),
        n.alias("n_tokens"),
        s["n_types"].alias("n_types"),
        F.length(F.col("_text")).cast("long").alias("n_chars"),
        stop.alias("stop_ratio"),
        ttr.alias("ttr"),
        quality.alias("quality"),
        lang_expr.alias("pred_lang"),
        fingerprint(F.col("_text")).alias("fp"),
    )


def _max_run(arr: Column) -> Column:
    """Longest run of consecutive equal elements in a string array
    (0 for empty). One JVM `aggregate` pass with a (prev, run, best)
    struct accumulator — narrow, no Python."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality
    filters): duplicate-token ratio, the share of word bigrams taken
    by the single most frequent bigram, and the longest immediate
    same-token run. High values mark boilerplate/degenerate documents
    a training pipeline drops before packing.

    All-JVM narrow plan: one tokenization behind the same
    explode(array()) Generate barrier as `profile`, bigram mode via
    array_sort + max-run (sorted equals are adjacent, so the longest
    run IS the max multiplicity — O(n log n) per row, no
    per-distinct-gram rescans), run lengths via `_max_run`.
    NULL text folds to zero counts (same fate as the empty document,
    matching decontaminate/word_shingles — without the fold the NULL
    struct fields would silently drop those docs through any
    repetition threshold filter).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))

    def build(toks):
        nt = F.size(toks)
        bigrams = F.when(
            nt >= 2,
            F.transform(
                F.sequence(F.lit(1), nt - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.struct(
            nt.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
            _max_run(F.array_sort(bigrams)).cast("long").alias("top_bigram_count"),
            _max_run(toks).cast("long").alias("max_token_run"),
        )

    mid = df.select(
        F.col(id_col), F.explode(F.array(F.transform(F.array(tokens(t)), build)[0])).alias("_s")
    )
    s = F.col("_s")
    n = s["n_tokens"]
    return mid.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.when(n > 0, (n - s["n_types"]) / n).otherwise(F.lit(0.0)).alias(
            "dup_token_ratio"
        ),
        s["top_bigram_count"].alias("top_bigram_count"),
        F.when(n >= 2, s["top_bigram_count"] / (n - 1))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        s["max_token_run"].alias("max_token_run"),
    )


def term_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-(document, token) term frequencies: one explode plus one
    partial-aggregated groupBy on the composite (doc, token) key —
    the key space is as wide as the corpus itself, so the shuffle is
    uniformly spread (no per-token hot key at this stage). NULL text
    folds to zero rows (the empty document)."""
    return (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Corpus vocabulary with document frequency and total term
    frequency — the corpus statistics a tokenizer-training /
    vocab-building pass needs. Built from `term_stats`, so df is a
    plain count (term_stats is already one row per (doc, token)) and
    both aggregations are map-side partial: two shuffles total, each
    combiner-reduced before the wire."""
    ts = term_stats(df, text_col, id_col)
    v = ts.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"),
    )
    if min_df > 1:
        v = v.where(F.col("df") >= min_df)
    return v


def keyword_topk(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic keywords per document by a TF-IDF-style
    relevance weight. The score is FIXED-POINT — ``score_fp =
    (tf * 1e6) // df`` — pure integer arithmetic, so ranking and
    values reproduce bit-exactly on any engine (a float idf =
    ln(N/df) would rank identically but hash differently across libm
    implementations; callers who want the classical value can compute
    ln from the returned tf/df).

    Plan: term_stats (one uniform composite-key shuffle) → vocab
    (token-keyed partial agg) → a token-keyed equi-join back (AQE
    handles stopword-token skew; the join fan-out is bounded by the
    term_stats row count) → per-doc top-k window (shuffle on the doc
    key, never global). Ties break lexicographically on the token so
    the selected set is deterministic."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    ts = term_stats(df, text_col, id_col)
    v = ts.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # true integer division (Spark DIV / DuckDB //): floor of a double
    # quotient can round a near-integer ratio the wrong way
    scored = ts.join(v, "token").withColumn(
        "score_fp", F.expr("CAST((tf * 1000000L) DIV df AS BIGINT)")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_fp").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select(id_col, "token", F.col("tf").cast("long").alias("tf"), "df", "score_fp")
    )


# PII scrubbing patterns, chosen to behave identically under Java's
# regex (Spark) and RE2 (DuckDB oracle): no backreferences, no
# lookaround, ASCII \d / \b only. Application ORDER matters and is
# fixed: emails first (a numeric local part would otherwise leave a
# digit run for the phone pass), then IPs (dotted quads are a strict
# subset of the phone pattern's alphabet), then phones.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d().\- ]{6,}\d\b", "<PHONE>"),
]


def redact_pii(text: Column, kinds: tuple[str, ...] | None = None) -> Column:
    """Replace emails / dotted-quad IPs / phone-number-shaped digit
    runs with typed placeholder tokens — the standard pre-training
    privacy scrub. Pure chained ``regexp_replace`` (whole-stage
    codegen, a narrow per-row map: no shuffle, no Python, full
    pushdown of any surrounding filter). ``kinds`` subsets/reorders
    the pass list; default is the safe fixed order in
    ``PII_PATTERNS`` (see ordering note there). Heuristic by design —
    a recall-first scrub catches formatted numbers, not prose-embedded
    PII; pair with a model-based pass where that matters."""
    order = list(PII_PATTERNS)
    if kinds is not None:
        by_kind = {k: (k, p, t) for k, p, t in PII_PATTERNS}
        unknown = set(kinds) - set(by_kind)
        if unknown:
            raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
        order = [by_kind[k] for k in kinds]
    out = text
    for _, pat, tok in order:
        out = F.regexp_replace(out, pat, tok)
    return out


# ---------------------------------------------------------------------------
# n-gram language-model quality scoring (the CCNet/KenLM perplexity
# filter analog) and BM25 keyword search
# ---------------------------------------------------------------------------


def bigram_pairs(text: Column) -> Column:
    """Adjacent token pairs as ``array<struct<w1,w2>>``. The token
    array is let-bound behind an outer single-element ``transform``
    (lambda-bearing expressions are excluded from codegen
    subexpression elimination — referencing ``tokens(text)`` inside
    the pair lambda would re-split the document once per position).
    Documents with fewer than two tokens yield an empty array."""

    def build(toks):
        count = F.size(toks) - 1
        return F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: F.struct(
                    F.element_at(toks, i).alias("w1"),
                    F.element_at(toks, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    return F.transform(F.array(tokens(text)), build)[0]


def bigram_lm(
    train: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Train an add-alpha-smoothed bigram language model: returns
    ``(bigrams, contexts, vocab_size)`` where ``bigrams`` is one row
    per distinct (w1, w2) with its corpus count ``c12``, ``contexts``
    is one row per distinct left context w1 with ``c1 = sum(c12)``
    (so P(·|w1) sums to 1 before smoothing by construction), and
    ``vocab_size`` is the number of distinct continuation tokens —
    the smoothing denominator's outcome count.

    Scale: one explode plus two partial-aggregated groupBys (the
    (w1, w2) key space is corpus-wide, so the first shuffle has no
    hot key; the contexts rollup runs over the already-collapsed
    bigram table, not the corpus). ``vocab_size`` is a single bounded
    driver scalar — the same class of decision as the kNN round
    scalar. The counts frames are the model; at warehouse scale they
    persist as tables and amortize across scoring runs like the
    bucketed spatial layouts."""
    bg = train.select(F.explode(bigram_pairs(F.col(text_col))).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    bigrams = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    # lazy localCheckpoint: contexts and the scoring join both consume
    # the collapsed bigram table; without the pin the explode+groupBy
    # would re-execute per consumer (the minhash band-join lesson)
    bigrams = bigrams.localCheckpoint(eager=False)
    contexts = bigrams.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab_size = bigrams.select("w2").distinct().count()
    return bigrams, contexts, int(vocab_size)


def lm_score(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: int = 1,
    scale: int = 1_000_000,
    log_space: bool = False,
) -> DataFrame:
    """Score documents under a trained bigram LM — the perplexity
    quality filter of the CCNet pipeline (docs whose text the model
    finds improbable are low-quality/out-of-domain candidates).

    Default output is FIXED-POINT and bit-reproducible on any engine
    (the repo's oracle convention, like ``keyword_topk``): per
    position ``p_fp = ((c12 + alpha) * scale) DIV (c1 + alpha * V)``
    — pure int64 arithmetic — and per document

    - ``n_bigrams``: scored positions (0 for <2-token docs),
    - ``oov_bigrams``: positions whose bigram the model never saw,
    - ``score_fp``: ``sum(p_fp) DIV n_bigrams`` (NULL when n=0) —
      the mean smoothed conditional likelihood, monotone in fluency.

    ``log_space=True`` instead returns ``avg_logprob = avg(ln p)``
    (the classical per-token log-likelihood; ``perplexity =
    exp(-avg_logprob)``) — float, for production ranking, pytest-
    checked against numpy rather than hash-gated (ln is not
    ULP-portable across engines).

    Plan shape: explode_outer keeps empty documents (the
    ``decontaminate`` idiom); two token-keyed equi-joins against the
    collapsed model tables (stopword contexts are hot — AQE skew
    handles them, and the fan-out is bounded by the document's own
    length); one partial-aggregated groupBy back to the doc key. No
    Python anywhere in the plan."""
    bigrams, contexts, vocab_size = model
    pos = df.select(
        F.col(id_col),
        F.explode_outer(bigram_pairs(F.col(text_col))).alias("bg"),
    ).select(
        id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    joined = pos.join(bigrams, ["w1", "w2"], "left").join(
        contexts, ["w1"], "left"
    )
    denom = F.coalesce(F.col("c1"), F.lit(0)) + F.lit(alpha * vocab_size)
    num = F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha)
    if log_space:
        p = F.when(
            F.col("w1").isNotNull(),
            F.ln(num.cast("double") / denom.cast("double")),
        )
        agg = joined.groupBy(id_col).agg(
            F.count("w1").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("w1").isNotNull() & F.col("c12").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_bigrams"),
            F.avg(p).alias("avg_logprob"),
        )
        return agg
    p_fp = F.when(F.col("w1").isNotNull(), (num * F.lit(scale)).cast("long"))
    agg = (
        joined.withColumn("_pnum", p_fp)
        .withColumn("_pden", denom.cast("long"))
        .groupBy(id_col)
        .agg(
            F.count("w1").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("w1").isNotNull() & F.col("c12").isNull(), 1).otherwise(0)
            ).cast("long").alias("oov_bigrams"),
            F.sum(F.expr("_pnum DIV _pden")).cast("long").alias("_sum_fp"),
        )
        .withColumn(
            "score_fp",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr("_sum_fp DIV n_bigrams"),
            ).cast("long"),
        )
        .drop("_sum_fp")
    )
    return agg


def bm25_topk(
    df: DataFrame,
    queries,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: tuple[int, int] = (6, 5),
    b: tuple[int, int] = (3, 4),
    idf_scale: int = 1_000_000,
    scoring: str = "fixed",
) -> DataFrame:
    """Keyword search: top-k documents per query under BM25 — the
    retrieval pass a decontamination / curation pipeline runs against
    the training corpus (and the text analog of the reference's
    attribute-index query path: term postings play the role of the
    attribute index, geomesa-accumulo AttributeIndexStrategy).

    ``queries`` is a DataFrame of ``(query_id, term)`` rows or a
    ``{query_id: [terms]}`` dict (set-of-terms semantics; duplicate
    terms collapse). ``k1``/``b`` are exact rationals ``(num, den)``
    — the defaults are the classic 1.2 / 0.75.

    ``scoring="fixed"`` (the oracle path, bit-reproducible): with
    k1=a/b1, b=c/d and corpus totals N docs / T tokens, each matched
    term contributes

        idf_fp  = ((N - df) * idf_scale) DIV df          -- linear idf
        term_fp = (idf_fp * tf*(b1+a)*d*T)
                  DIV (tf*b1*d*T + a*(d-c)*T + a*c*dl*N)

    — the exact BM25 tf-saturation curve (numerator/denominator
    cleared of fractions), with a linear idf surrogate in place of
    ln((N-df+.5)/(df+.5)) (ln is not ULP-portable across engines;
    both weights are strictly decreasing in df). int64 range: safe
    while idf_scale * N * tf * 44 * T stays under 2^63 — lower
    ``idf_scale`` for trillion-token corpora. ``scoring="float"`` is
    classic BM25 (double, ln idf) for production ranking, tested
    against numpy rather than hash-gated.

    Plan shape: the postings list is ONE corpus scan (term_stats)
    semi-restricted by a broadcast of the distinct query terms before
    any aggregation — document frequencies and matches are computed
    over that restricted frame, never the full vocabulary. Doc
    lengths ride the same term_stats frame (no second corpus scan);
    N and T are two bounded driver scalars. Final top-k is a per-
    query-key window, never a global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if scoring not in ("fixed", "float"):
        raise ValueError(f"scoring must be fixed|float, got {scoring!r}")
    spark = df.sparkSession
    if isinstance(queries, dict):
        rows = [(qid, t) for qid, terms in queries.items() for t in terms]
        queries = spark.createDataFrame(rows, "query_id string, term string")
    qterms = queries.select("query_id", "term").distinct()

    ts = term_stats(df, text_col, id_col)
    # one corpus scan feeds postings, doc-frequency AND doc length:
    # pin it (lazy) so the three consumers don't re-run the explode
    ts = ts.localCheckpoint(eager=False)
    n_docs, total_tokens = df.select(
        F.count(F.lit(1)), F.coalesce(F.sum(token_count(F.col(text_col))), F.lit(0))
    ).first()
    n_docs, total_tokens = int(n_docs), int(total_tokens)

    terms_only = qterms.select("term").distinct()
    postings = ts.join(
        F.broadcast(terms_only), ts["token"] == F.col("term"), "inner"
    ).drop("term")
    postings = postings.localCheckpoint(eager=False)
    dfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    dl = ts.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))

    a, b1 = int(k1[0]), int(k1[1])
    c, d = int(b[0]), int(b[1])
    matched = (
        postings.join(F.broadcast(qterms), postings["token"] == qterms["term"])
        .drop("term")
        .join(dfreq, "token")
        .join(dl, id_col)
    )
    if scoring == "float":
        idf = F.ln(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        k1f, bf = a / b1, c / d
        avgdl = total_tokens / max(n_docs, 1)
        term = (
            idf
            * (F.col("tf") * F.lit(k1f + 1.0))
            / (
                F.col("tf")
                + F.lit(k1f) * (F.lit(1.0 - bf) + F.lit(bf) * F.col("dl") / F.lit(avgdl))
            )
        )
        scored = matched.groupBy("query_id", id_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(term).alias("score"),
        )
        order = [F.col("score").desc(), F.col(id_col).asc()]
    else:
        T, N = total_tokens, n_docs
        idf_fp = F.expr(f"(({N}L - df) * {idf_scale}L) DIV df")
        num = F.col("tf") * F.lit((b1 + a) * d * T)
        den = (
            F.col("tf") * F.lit(b1 * d * T)
            + F.lit(a * (d - c) * T)
            + F.col("dl") * F.lit(a * c * N)
        )
        scored = (
            matched.withColumn("_n", (idf_fp * num).cast("long"))
            .withColumn("_d", den.cast("long"))
            .groupBy("query_id", id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_terms"),
                F.sum(F.expr("_n DIV _d")).cast("long").alias("score_fp"),
            )
        )
        order = [F.col("score_fp").desc(), F.col(id_col).asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )
