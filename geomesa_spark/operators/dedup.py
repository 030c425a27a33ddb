"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Beyond the reference's operator set (its only dedup is by-feature-id
after multi-range scans, DeDuplicatingIterator.scala:45 →
`dropDuplicates`); these are the corpus-level near-dup operators a
100 TB pipeline needs. All are pure DataFrame ops — higher-order
array functions for shingling/hashing (JVM codegen, no Python), and
the pair-generation joins are equi-joins on content keys
(fingerprint / band bucket / shingle), which Spark executes as
shuffle hash joins partitioned by that key.

Scale notes (10^12 docs):
- exact dedup: one shuffle on fingerprint — the canonical map-side
  combinable groupBy.
- MinHash LSH: cost is O(docs × shingles) narrow work + one shuffle
  per band on the band bucket. Bucket keys are md5-derived so they
  are uniformly distributed — no skew salting needed by design
  (contrast with the spatial hot-cell problem).
- all-pairs n-gram Jaccard is quadratic per shingle bucket; it is
  the *oracle* / small-corpus path. LSH is the scale path; the two
  agree above the LSH similarity threshold with high probability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.operators import text as X
from geomesa_spark.session import local_checkpoint as _lckpt

# MinHash parameters: h(shingle) = 32-bit integer from md5 prefix;
# minhash_j = min((A_j * h + B_j) mod P). P prime > 2^32; A_j small
# odd constants so A*h < 2^52 — no 64-bit overflow anywhere, and the
# same arithmetic is expressible in any SQL engine (parity oracle).
MINHASH_P = 4294967311
NUM_HASHES = 16
BAND_SIZE = 4  # -> 4 bands
_A = [2 * j + 3 for j in range(NUM_HASHES)]  # 3,5,7,...
_B = [(j * j + 1) * 7919 for j in range(NUM_HASHES)]


def _shingle_array(text_col, n: int, window_expr, elem_type: str):
    """Shared scaffold for distinct word-n-gram shingle arrays:
    `window_expr(toks, i)` maps the window starting at 1-based token
    position i to one shingle value of `elem_type`.

    The token array is let-bound via an outer single-element
    `transform` (the lambda variable evaluates once): referencing
    `split(text)` directly inside the shingle lambda would re-split
    the whole document for EVERY shingle position — lambda-bearing
    expressions are excluded from codegen subexpression elimination
    (measured 3x on the signature stage at 400k docs)."""

    def build(toks):
        count = F.size(toks) - (n - 1)
        # docs shorter than n words produce NO shingles; without the
        # guard sequence(1, 0) descends to [1, 0] and the window
        # expression sees out-of-range positions
        sh = F.when(
            count >= 1,
            F.transform(
                F.sequence(F.lit(1), count), lambda i: window_expr(toks, i)
            ),
        ).otherwise(F.array().cast(f"array<{elem_type}>"))
        return F.array_distinct(sh)

    return F.transform(F.array(F.split(text_col, " ")), build)[0]


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (JVM-side:
    split + sequence + transform + array_distinct) — the string form,
    bit-portable to the SQL oracles."""
    return _shingle_array(
        text_col, n,
        lambda toks, i: F.concat_ws(" ", F.slice(toks, i, n)),
        "string",
    )


def shingle_hash(shingle_col, fn: str = "md5"):
    """Shingle -> uint32. fn="md5": md5-prefix — bit-portable to any
    SQL engine (the oracle-parity path). fn="xxhash": xxhash64
    truncated — ~6x faster, Spark-specific (the production path; the
    minhash math is identical either way)."""
    if fn == "xxhash":
        return F.xxhash64(shingle_col).bitwiseAND(F.lit(0xFFFFFFFF))
    return F.conv(F.substring(F.md5(shingle_col), 1, 8), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical (normalized) texts: returns one row per
    distinct content with the canonical (min) id and the duplicate
    count. Reference analog: dropDuplicates by content key."""
    return (
        df.select(
            X.fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def word_shingle_hashes(text_col, n: int = 3):
    """Distinct 64-bit word-shingle hashes (the xxhash production
    path): each n-token window is hashed directly with the multi-arg
    `xxhash64(tok_i, ..., tok_{i+n-1})` — no per-shingle string
    concatenation/allocation at all (measured ~2x on the signature
    stage vs building shingle strings). Same set semantics as
    `word_shingles` up to 64-bit collisions (~1e-9 at 10^9 distinct
    shingles); the md5/oracle path keeps real strings."""
    return _shingle_array(
        text_col, n,
        lambda toks, i: F.xxhash64(
            *[F.element_at(toks, i + j) for j in range(n)]
        ),
        "bigint",
    )


MIN_SHINGLES = 1


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int,
    min_shingles: int = MIN_SHINGLES,
    hashed: bool = False,
) -> DataFrame:
    """Docs below `min_shingles` distinct shingles are excluded: a
    near-empty shingle set makes MinHash signatures collide almost
    surely and the band join degenerates quadratically (observed on
    few-word synthetic docs). Raise the floor for production corpora
    (e.g. 8-16) or dedup tiny docs exactly instead. `hashed=True`
    swaps string shingles for 64-bit window hashes (production
    path)."""
    mk = word_shingle_hashes if hashed else word_shingles
    return df.select(
        F.col(id_col).alias("doc"),
        mk(F.col(text_col), n).alias("shingles"),
    ).filter(F.size("shingles") >= min_shingles)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard similarity >= threshold.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle (intersection counts arrive via one groupBy), then
    |A∪B| = |A|+|B|−|A∩B|. Exact — the oracle for the LSH path.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    docs = _doc_shingles(df, text_col, id_col, n)
    sizes = docs.select("doc", F.size("shingles").alias("n_sh"))
    inv = docs.select("doc", F.explode("shingles").alias("sh"))
    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature: columns mh0..mh{NUM_HASHES-1}.

    Entirely JVM-side: the min over shingles per hash function is
    `array_min(transform(shingles, ...))` — narrow, no shuffle, no
    Python. h(shingle) uses md5 so any engine reproduces it.
    """
    hashed = hash_fn == "xxhash"
    docs = _doc_shingles(df, text_col, id_col, n, hashed=hashed)
    # explode to one row per (doc, shingle hash), then 16 codegen'd
    # MIN aggregates: identical math to a per-row HOF fold, but
    # higher-order lambdas run INTERPRETED (outside whole-stage
    # codegen, two 16-wide array allocations per shingle) while a
    # hash aggregate of plain arithmetic is fully code-generated with
    # map-side partial aggregation — measured 5x on the signature
    # stage at 400k docs. The groupBy exchange replaces the
    # materialization barrier the old form needed anyway (without a
    # barrier Catalyst inlines the md5 pipeline into every mh{j}/band
    # expression, 16-64x recompute); shuffle volume is one partial
    # row per doc, the same doc-keyed exchange the band join needs.
    to32 = (
        (lambda s: s.bitwiseAND(F.lit(0xFFFFFFFF)))
        if hashed
        else (lambda s: shingle_hash(s, hash_fn))
    )
    ex = docs.select(
        F.col("doc"),
        F.explode(F.transform(F.col("shingles"), to32)).alias("_h"),
    )
    return ex.groupBy("doc").agg(
        *[
            F.min(
                (F.col("_h") * F.lit(_A[j]) + F.lit(_B[j])) % F.lit(MINHASH_P)
            ).alias(f"mh{j}")
            for j in range(NUM_HASHES)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    verify: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs via MinHash banding + (optional) exact verify.

    Bands of BAND_SIZE signature slots; docs sharing any full band
    become candidates (equi-join on the band key — uniformly
    distributed, skew-free). With verify=True candidates are checked
    against exact n-gram Jaccard so output == brute force ∩ LSH
    recall. Returns (doc_a, doc_b[, jaccard]).
    """
    sig = minhash_signature(df, text_col, id_col, n, hash_fn)
    # the band self-join aliases this frame on BOTH sides — without a
    # lineage pin the whole signature pipeline (scan + shingle build +
    # 16-min aggregate) executes twice; the pinned frame is one narrow
    # row per doc (id + 16 longs), far smaller than the corpus, so
    # materializing it is the scale-correct trade (at 10^12 docs you
    # would persist signatures to a table once and reuse them, like
    # the bucketed spatial layout). Measured -22% end-to-end at 1M
    # docs. eager=False: nothing materializes until first use.
    sig = sig.localCheckpoint(eager=False)
    n_bands = NUM_HASHES // BAND_SIZE
    # one pass: explode the 4 band keys per doc (vs a 4-way union
    # that re-executes the signature subplan per branch)
    keys = [
        F.concat_ws(
            "_",
            F.lit(b),
            *[F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)],
        )
        for b in range(n_bands)
    ]
    bands = sig.select(F.col("doc"), F.explode(F.array(*keys)).alias("band"))
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    if not verify:
        return cand
    # verify candidates only: join each pair to its two shingle sets
    # and compute exact Jaccard via array set ops — O(candidates),
    # not the all-pairs inverted-index join (that full join is the
    # brute-force baseline `ngram_jaccard_pairs`, kept for oracles).
    # The xxhash path intersects 64-bit window-hash sets instead of
    # strings (same Jaccard up to 64-bit collisions).
    docs = _doc_shingles(df, text_col, id_col, n, hashed=(hash_fn == "xxhash"))
    sa = docs.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("_sha"))
    sb = docs.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("_shb"))
    ni = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    nu = F.size(F.col("_sha")) + F.size(F.col("_shb")) - ni
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", ni / nu)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over distinct tokens: bit b set iff the sum over
    tokens of ±1 (sign of bit b of h(token)) is positive.

    16 bits keeps the column expression compact while exercising the
    full algorithm; widen SIMHASH_BITS for production use. All
    JVM-side (aggregate over the token array — no explode shuffle).
    Returns (doc_id, simhash:long).
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    hv = F.transform(toks, lambda t: shingle_hash(t))
    init = F.array(*[F.lit(0).cast("long") for _ in range(SIMHASH_BITS)])

    def merge(acc, h):
        votes = F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(SIMHASH_BITS)
            ]
        )
        return F.zip_with(acc, votes, lambda a, v: a + v)

    def finish(acc):
        sh = F.lit(0).cast("long")
        for b in range(SIMHASH_BITS):
            sh = sh + F.when(acc[b] > 0, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0)
            )
        return sh

    # single aggregate (+finish lambda) so the md5 per token runs
    # once — per-bit aggregates would inline the hash pipeline 16x
    return df.select(
        F.col(id_col), F.aggregate(hv, init, merge, finish).alias("simhash")
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Production-width 64-bit SimHash: two md5 words per token give
    64 independent bits; votes fold in one aggregate (+finish) like
    the 16-bit variant. Returns (doc_id, simhash:long, signed)."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    # two 32-bit words from ONE md5 per token: lambda-bearing
    # expressions are excluded from codegen common-subexpression
    # elimination, so naming md5(t) twice would really hash twice —
    # let-bind it via a nested single-element transform (the lambda
    # var evaluates once) and slice both words from the bound value
    hv = F.transform(
        toks,
        lambda t: F.transform(
            F.array(F.md5(t)),
            lambda m: F.struct(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
            ),
        )[0],
    )
    init = F.array(*[F.lit(0).cast("long") for _ in range(64)])

    def merge(acc, h):
        votes = F.array(
            *[
                F.when(
                    F.shiftright(h["h1"] if b < 32 else h["h2"], b % 32)
                    .bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1)).cast("long")
                for b in range(64)
            ]
        )
        return F.zip_with(acc, votes, lambda a, v: a + v)

    def finish(acc):
        sh = F.lit(0).cast("long")
        for b in range(64):
            # bit 63 lands in the sign bit — harmless, it is a hash
            sh = sh + F.when(
                acc[b] > 0, F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
            ).otherwise(F.lit(0))
        return sh

    return df.select(
        F.col(id_col), F.aggregate(hv, init, merge, finish).alias("simhash")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_zero_pairs: bool = True,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash hamming distance.

    Pigeonhole banding: split the 64 bits into max_hamming+1 chunks;
    any pair within `max_hamming` bits shares at least one exact
    chunk, so candidates come from equi-joins on (chunk_idx, chunk)
    — one shuffle, no quadratic scan — then `bit_count(xor)` filters
    exactly. Returns (doc_a, doc_b, hamming).

    Degenerate-band guard: bands are built over DISTINCT signatures
    only. Identical signatures (every empty/near-empty doc hashes
    alike) would otherwise replicate one band key m times and send an
    m^2 * n_chunks candidate blow-up through the band self-join; here
    they short-circuit as exact-duplicate groups (hamming 0) via one
    signature equi-join whose work is bounded by the OUTPUT pair
    count, and only the distinct signatures — one row per band each —
    enter the banded join. With `exact_zero_pairs=False` the
    hamming-0 groups emit canonical-representative STAR edges
    (min-id rep, member, 0) instead of full cliques: linear in group
    size and the same connectivity for dedup_filter's connected
    components — use it when giant exact-dup groups are expected.
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # width == 64 (max_hamming=0): the full-word mask (1<<64)-1
    # exceeds int64 — use -1 (all bits set) instead
    mask = F.lit(-1) if width == 64 else F.lit((1 << width) - 1)
    # the signature table feeds the zero-join, the distinct-signature
    # band join, and both member expansions: checkpoint lazily so the
    # md5 token pipeline runs once, not once per consumer
    sig = (
        simhash64(df, text_col, id_col)
        .select(F.col(id_col).alias("doc"), "simhash")
        .localCheckpoint(eager=False)
    )
    # --- hamming 0: identical signatures, no banding needed ---
    if exact_zero_pairs:
        a, b = sig.alias("a"), sig.alias("b")
        zero = a.join(
            b,
            (F.col("a.simhash") == F.col("b.simhash"))
            & (F.col("a.doc") < F.col("b.doc")),
        ).select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.lit(0).cast("integer").alias("hamming"),
        )
    else:
        reps = sig.groupBy("simhash").agg(F.min("doc").alias("rep"))
        zero = (
            sig.join(reps, "simhash")
            .filter(F.col("doc") != F.col("rep"))
            .select(
                F.col("rep").alias("doc_a"),
                F.col("doc").alias("doc_b"),
                F.lit(0).cast("integer").alias("hamming"),
            )
        )
    if max_hamming == 0:
        return zero
    # --- hamming 1..max: band the distinct signatures ---
    dsig = sig.select("simhash").distinct()
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(mask)
        for i in range(n_chunks)
    ]
    keys = [
        F.concat_ws("_", F.lit(i), c.cast("string")) for i, c in enumerate(chunks)
    ]
    bands = dsig.select(
        F.col("simhash"), F.explode(F.array(*keys)).alias("band")
    )
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.simhash") < F.col("y.simhash")),
        )
        .select(
            F.col("x.simhash").alias("s_a"),
            F.col("y.simhash").alias("s_b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    m1 = sig.select(F.col("simhash").alias("s_a"), F.col("doc").alias("_d1"))
    m2 = sig.select(F.col("simhash").alias("s_b"), F.col("doc").alias("_d2"))
    near = (
        cand.join(m1, "s_a")
        .join(m2, "s_b")
        .select(
            F.least(F.col("_d1"), F.col("_d2")).alias("doc_a"),
            F.greatest(F.col("_d1"), F.col("_d2")).alias("doc_b"),
            F.col("hamming"),
        )
    )
    return zero.unionByName(near)


def simhash_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Docs sharing an identical 64-bit simhash (hamming-0 near-dup
    set). Uses the production-width signature: the 16-bit oracle
    variant has only 65,536 values, so birthday collisions on a
    ~100k-doc corpus would group unrelated docs as duplicates."""
    return (
        simhash64(df, text_col, id_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# embedding near-dup (cosine) — fixed-point exact arithmetic
# ---------------------------------------------------------------------------

FIXED_SCALE = 1_000_000


def _fixed(v):
    """float array -> exact scaled int64 array: floor(x * 1e6).

    Integer dot products are order-independent (exact), so results
    are bit-identical across engines and partitionings — unlike
    float sums, whose value depends on reduction order."""
    return F.transform(v, lambda x: F.floor(x.cast("double") * F.lit(FIXED_SCALE)).cast("long"))


def _dot(a, b):
    """Fixed-point dot product as aggregate(zip_with): it compiles to
    a tight loop. (A flat a[0]*b[0]+...+a[d-1]*b[d-1] expression
    measured 3.5x slower — the 2*dim-node tree trips the codegen
    method-size fallback into interpreted eval.)
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine >= threshold over an embedding column.

    Brute-force O(n²) — correct baseline / oracle path. At scale,
    pre-bucket with ann.lsh_buckets and run this per bucket. Cosine
    is computed from exact int64 fixed-point dots, then one double
    division — deterministic to the last bit.
    Returns (id_a, id_b, cos) with id_a < id_b.
    """
    v = emb.select(
        F.col(id_col).alias("id"), _fixed(F.col(vec_col)).alias("fv")
    ).withColumn("nrm", _dot(F.col("fv"), F.col("fv")))
    # materialization barrier: without it the fixed-point transform
    # inlines into every one of the dim products of the pair join
    v = v.repartition("id")
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                _dot(F.col("a.fv"), F.col("b.fv"))
                / F.sqrt(F.col("a.nrm").cast("double") * F.col("b.nrm").cast("double"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )


def dup_components(
    pairs: DataFrame,
    max_iter: int = 20,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    unique_pairs: bool = False,
) -> DataFrame:
    """Connected components over near-dup pairs -> canonical doc.

    Min-label propagation WITH pointer jumping: each round every node
    adopts the minimum label in its neighborhood (one shuffle), then
    replaces its label with its label's label (a second self-join —
    path compression, the large-star/small-star trick). Plain
    propagation moves a label one hop per round (O(diameter) rounds);
    the jump doubles the compressed path each round, so convergence
    is O(log diameter) — a 2^20-hop chain of templated near-dups
    finishes inside the default max_iter. Raises if the label set is
    still changing at loop exit (silent partial merges would leave
    multiple "canonical" copies per cluster).

    Input: pair rows (doc_a, doc_b); output: (doc, canon) where canon
    is the minimum doc id of the component — the keep candidate for
    dedup filtering.  `unique_pairs=True` skips the edge-dedup shuffle
    when the caller guarantees each undirected pair appears exactly
    once (eps_pairs / single-meeting-cell miners); duplicate edges
    would not corrupt the labels (min is idempotent), only inflate
    every round's join, so the flag is purely a cost switch.
    """
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # repartition on the loop's join key ONCE: the persisted frame
    # keeps HashPartitioning(src), so every round's edges-side shuffle
    # vanishes and only the (much smaller) label frame moves.
    edges = fwd.unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    if not unique_pairs:
        edges = edges.distinct()
    edges = edges.repartition(F.col("src")).persist()
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("canon", F.col("doc"))
        .persist()
    )
    changed = 1
    first = labels
    for rnd in range(1, max_iter + 1):
        neigh = (
            edges.join(labels, edges["src"] == labels["doc"])
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("canon").alias("n_canon"))
        )
        # localCheckpoint (not persist): the jump self-joins the
        # propagated labels, which would double the logical plan tree
        # every round — unbounded lineage OOMs the driver's optimizer
        # after ~8 rounds. Checkpointing truncates lineage so each
        # round's plan stays O(1).  The stats-reset wrapper keeps the
        # carried size-in-bytes stat O(1) too — the self-join doubles
        # its bit-length per round otherwise (see reset_plan_stats).
        # Checkpoints are LAZY (the sssp sync_every contract): two
        # rounds build deferred, then ONE full-count probe both
        # materializes the pending chain and reads the chg flag —
        # the driver round trips halve vs the eager-per-round form,
        # and the result is identical (rounds are deterministic
        # functions of the previous labels regardless of when the
        # driver looks).
        prop = _lckpt(
            labels.join(neigh, "doc", "left")
            .select(
                "doc",
                F.col("canon").alias("old_canon"),
                F.least(
                    F.col("canon"), F.coalesce(F.col("n_canon"), F.col("canon"))
                ).alias("canon"),
            ),
            eager=False,
        )
        # pointer jump: canon <- canon's canon (every canon value is
        # itself a doc in the label table, so the lookup always hits)
        parents = prop.select(
            F.col("doc").alias("p_doc"), F.col("canon").alias("p_canon")
        )
        final_canon = F.coalesce(F.col("p_canon"), F.col("canon"))
        # probe rounds checkpoint EAGERLY (the sssp probe contract):
        # one job materializes the pending two-round chain with full
        # parallelism and caches it for the chg count and the next
        # batch's reads
        is_probe = rnd % 2 == 0 or rnd == max_iter
        labels = _lckpt(
            prop.join(parents, prop["canon"] == parents["p_doc"], "left")
            .select(
                "doc",
                final_canon.alias("canon"),
                (final_canon != F.col("old_canon")).alias("chg"),
            ),
            eager=is_probe,
        )
        if is_probe:
            changed = labels.filter("chg").count()
            if changed == 0:
                break
    first.unpersist()
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"dup_components did not converge in {max_iter} rounds "
            "(component diameter > 2^max_iter?) — raise max_iter"
        )
    return labels.select("doc", "canon")


def dedup_filter(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Drop every non-canonical member of each near-dup component —
    the end-to-end dedup a training pipeline applies before packing
    shards. Keeps all docs that appear in no pair. `a_col`/`b_col`
    name the pair columns (embedding_neardup_pairs emits
    id_a/id_b)."""
    comp = dup_components(pairs, a_col=a_col, b_col=b_col)
    losers = comp.filter(F.col("doc") != F.col("canon")).select(
        F.col("doc").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    emb: DataFrame,
    centroids,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    exact_fold: bool = False,
    cluster_col: str = "cluster",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning via embedding clusters — assign every
    vector to its nearest centroid, mine cosine >= `threshold` pairs
    WITHIN each cluster only, and keep the minimum-id member of each
    near-dup component.  Returns the surviving rows of `emb` plus
    the cluster id (`cluster_col`).

    Scale shape: the quadratic term is confined to single clusters —
    the pair join carries the cluster id as an equi-key, so both
    sides shuffle on cluster and the cross cost is sum(|c|^2) over
    clusters, never corpus^2 (the entire point of clustering first;
    size the centroid count so max |c| stays join-able, and train
    them with ann.ivf_centroids).  Assignment is the distributed
    Arrow matmul (ann.ivf_probes, O(1) plan size, no driver
    materialization); components run the O(log diameter)
    pointer-jumping loop (dup_components).  Cosine comes from exact
    int64 fixed-point dots (one double division at the end), so
    results are bit-reproducible across engines and partitionings.

    `normalize=False` + `exact_fold=True` is the oracle-parity mode
    (pre-normalized centroid constants, sequential-fold dots — the
    ivf_topk convention)."""
    from geomesa_spark.operators.ann import ivf_probes

    asg = ivf_probes(
        emb, centroids, 1, vec_col=vec_col, out_col="_p",
        normalize=normalize, exact_fold=exact_fold,
    )
    asg = asg.withColumn(cluster_col, F.element_at("_p", 1)).drop("_p")
    # materialization barrier (the embedding_neardup_pairs note:
    # without it the fixed-point transform inlines into every product
    # of the pair join) + co-locates each cluster for the self-join
    v = (
        asg.select(
            F.col(id_col).alias("id"),
            F.col(cluster_col).alias("cl"),
            _fixed(F.col(vec_col)).alias("fv"),
        )
        .withColumn("nrm", _dot(F.col("fv"), F.col("fv")))
        .repartition("cl")
    )
    a, b = v.alias("a"), v.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cl") == F.col("b.cl")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                _dot(F.col("a.fv"), F.col("b.fv"))
                / F.sqrt(
                    F.col("a.nrm").cast("double") * F.col("b.nrm").cast("double")
                )
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(threshold))
    )
    return dedup_filter(asg, pairs, id_col=id_col, a_col="id_a", b_col="id_b")


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per-document overlap with a held-out
    evaluation set, measured as distinct word n-gram collisions (the
    standard 13-gram training/test-contamination check).

    Output: one row per input doc — ``n_shingles`` (distinct n-grams),
    ``n_overlap`` (of those, how many occur anywhere in the
    benchmark), ``overlap_frac`` and a 0/1 ``contaminated`` flag
    (any overlap). Docs shorter than n words have 0 shingles and are
    clean by definition. Callers drop or flag rows downstream.

    Scale: the benchmark side (eval suites are MB-scale, not TB) is
    reduced to DISTINCT shingles and broadcast — the corpus side is
    ONE scan: the shingle array is let-bound behind an
    explode(array()) Generate barrier (CollapseProject would
    otherwise inline the lambda-bearing shingle expression into both
    its `size` and its explode, and lambda expressions are excluded
    from codegen subexpression elimination), then explode_outer
    (empty docs survive as a null shingle) + broadcast left join +
    one map-side-combined groupBy on ``id_col`` — shuffle volume is
    one partial-aggregate row per document. A base-table re-join
    would instead sort-merge-shuffle the whole corpus at 10^12 docs.
    Pass ``broadcast_bench=False`` for an unusually large benchmark
    (falls back to a shuffle join on the shingle string).
    """
    bench_text = bench_text_col or text_col
    bench_sh = benchmark.select(
        F.explode(word_shingles(F.col(bench_text), n)).alias("s")
    ).distinct()
    if broadcast_bench:
        bench_sh = F.broadcast(bench_sh)
    arr = df.select(
        F.col(id_col),
        F.explode(F.array(word_shingles(F.col(text_col), n))).alias("_sh"),
    )
    ex = arr.select(
        F.col(id_col),
        F.size("_sh").cast("long").alias("n_shingles"),
        F.explode_outer("_sh").alias("s"),
    )
    out = (
        ex.join(bench_sh.withColumn("_hit", F.lit(1)), "s", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),  # non-null markers only
        )
    )
    return out.select(
        id_col,
        "n_shingles",
        "n_overlap",
        F.when(F.col("n_shingles") > 0, F.col("n_overlap") / F.col("n_shingles"))
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
        (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_count: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide line-level deduplication (the C4 / RefinedWeb
    "boilerplate removal" pass): every line whose EXACT text occurs
    ``min_count`` or more times anywhere in the corpus is removed
    from every document that contains it — navigation bars, cookie
    banners, license footers.

    Returns the input frame with ``text_col`` rewritten (kept lines
    re-joined by ``sep`` in original order) plus ``n_lines`` (lines
    before removal) and ``n_removed``. Lines shorter than
    ``min_chars`` after splitting are treated as formatting and
    dropped unconditionally (they are neither counted nor kept —
    blank lines would otherwise always trip ``min_count`` corpus-wide
    and dominate the duplicate-line shuffle key space).

    Scale: one posexplode (position preserved for reassembly), one
    map-side-combined groupBy on the line text (partial counts cross
    the wire, not occurrences), a left_anti join of occurrences
    against the duplicate-line set — boilerplate is rare DISTINCT
    text, so AQE turns this into a broadcast anti-join in practice —
    and one groupBy(id) reassembly whose sort_array runs per row.
    Docs whose every line was removed (or whose text was NULL/empty)
    survive with empty text — the caller decides whether an emptied
    document is still a document.
    """
    import re as _re

    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(txt, _re.escape(sep))).alias("_pos", "_line"),
    ).where(F.length("_line") >= min_chars)
    dup = (
        lines.groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_line")
    )
    kept = lines.join(dup, "_line", "left_anti")
    per_doc = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    out_cols = [
        F.coalesce(clean["_clean"], F.lit("")).alias(text_col)
        if c == text_col
        else df[c]
        for c in df.columns
    ]
    return (
        df.join(per_doc, id_col, "left")
        .join(clean, id_col, "left")
        .select(
            *out_cols,
            F.coalesce(per_doc["n_lines"], F.lit(0)).cast("long").alias("n_lines"),
            (
                F.coalesce(per_doc["n_lines"], F.lit(0))
                - F.coalesce(clean["_n_kept"], F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring deduplication (the ExactSubstr pass of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    every token covered by ANY ``length``-token rolling window whose
    exact text occurs ``min_count`` or more times corpus-wide
    (including repeats inside one document) is excised from every
    document; the surviving tokens are re-joined in order. Unlike
    `line_dedup` this is position-free — a copied span is caught at
    any offset, not only on line boundaries.

    All occurrences are removed (the deterministic, order-free policy
    of the public deduplicate-text-datasets tool); keep-one-copy
    would need a global document order. Docs shorter than ``length``
    tokens have no windows and pass through intact.

    Returns the input frame with ``text_col`` rewritten plus
    ``n_tokens`` (before) and ``n_removed``.

    Scale: windows are a posexplode bounded by corpus tokens; the
    duplicate-window set comes from one map-side-combined count (the
    window string is the shuffle key — hash it to 8 bytes upstream if
    window text is long); covered positions are a semi-join of window
    starts against that set (AQE broadcasts it — duplicated spans are
    rare distinct text) exploded by ``length`` and deduped on
    (doc, pos), so the fan-out is length x duplicate occurrences, not
    corpus size. Reassembly is one groupBy(id) with a per-row
    array_sort. Three passes read the token Generate output; at
    warehouse scale materialize the tokenized frame once (the same
    amortization as the stored MinHash signature table).
    """
    if length < 2:
        raise ValueError(f"length must be >= 2, got {length}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(txt, " "), lambda x: x != "")
    # let-bind the token array behind a Generate barrier (explode of a
    # 1-element array): CollapseProject would otherwise inline the
    # lambda-bearing split into every downstream use, and lambda
    # expressions are excluded from codegen subexpression elimination
    arr = df.select(F.col(id_col), F.explode(F.array(toks)).alias("_tk"))
    n = F.size("_tk")
    n_win = n - (length - 1)
    windows = F.when(
        n_win >= 1,
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.array_join(F.slice(F.col("_tk"), i + 1, length), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    win = arr.select(F.col(id_col), F.posexplode(windows).alias("_wpos", "_w"))
    dup = (
        win.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_w")
    )
    covered = (
        win.join(dup, "_w", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("_wpos"), F.col("_wpos") + (length - 1))
            ).alias("_pos"),
        )
        .dropDuplicates([id_col, "_pos"])
    )
    tok_rows = arr.select(F.col(id_col), F.posexplode("_tk").alias("_pos", "_tok"))
    kept = tok_rows.join(covered, [id_col, "_pos"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    per_doc = arr.select(F.col(id_col), n.cast("long").alias("_n_tokens"))
    out_cols = [
        F.coalesce(clean["_clean"], F.lit("")).alias(text_col)
        if c == text_col
        else df[c]
        for c in df.columns
    ]
    return (
        df.join(per_doc, id_col, "left")
        .join(clean, id_col, "left")
        .select(
            *out_cols,
            F.coalesce(per_doc["_n_tokens"], F.lit(0)).alias("n_tokens"),
            (
                F.coalesce(per_doc["_n_tokens"], F.lit(0))
                - F.coalesce(clean["_n_kept"], F.lit(0))
            )
            .cast("long")
            .alias("n_removed"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: corpus documents
    whose max cosine similarity against ANY benchmark vector reaches
    `threshold` — the semantic complement of `decontaminate`'s exact
    n-gram check (paraphrased test questions share no 13-gram but sit
    next to the benchmark in embedding space).

    Scale shape: the benchmark is the SMALL side (broadcast — eval
    sets are thousands of rows); the corpus streams once, narrow.
    The threshold filter runs BEFORE the per-doc argmax, so the
    shuffle carries only candidate hits.  Cosines use the ann
    fixed-point convention (int64 dots, one division) and the winner
    is row_number over (cos DESC, bench id ASC) — deterministic under
    ties, engine-exact.

    Returns (<id_col>, bench_id, max_sim) — one row per flagged doc."""
    from geomesa_spark.operators.ann import _dot, _with_fixed

    c = _with_fixed(corpus, id_col, vec_col, "c_")
    b = _with_fixed(bench, bench_id_col, bench_vec_col, "q_")
    cos = (
        _dot(F.col("c_fv"), F.col("q_fv"))
        / F.sqrt(F.col("c_nrm").cast("double") * F.col("q_nrm").cast("double"))
    )
    hits = (
        c.crossJoin(F.broadcast(b))
        .select(
            F.col("c_id").alias(id_col),
            F.col("q_id").alias("bench_id"),
            cos.alias("max_sim"),
        )
        .filter(F.col("max_sim") >= F.lit(float(threshold)))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("max_sim").desc(), F.col("bench_id").asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
