"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB, 1000 executors):
- exact dedup: one shuffle on the 128-bit digest — no text comparison, no
  skew (digests are uniform);
- n-gram / MinHash / SimHash: candidate generation is *banded* (LSH), so the
  only wide joins are bucket-equi-joins on band signatures; the quadratic
  verify step runs per-bucket on candidates only, never all-pairs;
- everything is built-in Column expressions; hashing is the portable
  polynomial fold (oracle-checkable) with ``F.xxhash64`` as the drop-in
  production alternative (see functions/hashing.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from .textops import tokens_col


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via md5 digest grouping: every doc mapped to the minimal
    doc_id of its content group.  (SURVEY extension: hash-groupBy dedup.)"""
    from pyspark.sql.window import Window

    digest = F.md5(F.col(text_col))
    w = Window.partitionBy("digest")
    return (
        docs.withColumn("digest", digest)
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "digest", "canonical_id", "is_duplicate")
    )


def _doc_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("tok")
    )


def _doc_ngrams(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """Distinct token n-grams (shingles) per document, as joined strings.

    Docs shorter than n tokens yield no shingles (guarded: Spark's
    sequence(0, negative) would otherwise produce a DESCENDING index
    sequence, not an empty one)."""
    toks = tokens_col(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(grams).alias("gram"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by n-gram-shingle Jaccard similarity.

    Candidates = pairs sharing ≥1 shingle (the bucket join); Jaccard is then
    computed exactly from shared/total shingle counts.

    ``max_doc_freq`` is the scale guard and is ON by default: shingles
    present in more than that many documents are removed from the shingle
    universe before sizes and the candidate join.  Without it, one
    boilerplate shingle shared by k documents makes the self-join emit
    k·(k-1)/2 candidate rows — quadratic on a single skewed key, the plan
    that falls over at 100 TB.  With it, the hot-shingle list is tiny by
    construction (few shingles can exceed the cap), so the filter is a
    broadcast anti-join (a map-side drop, no extra wide shuffle), and both
    similarity *and* candidate recall are then defined over the capped
    universe — boilerplate carries no near-dup signal, which is why the df
    cut is the standard production trade.  Pass ``max_doc_freq=None`` for
    the exact textbook semantics over all shingles.  Both forms are
    replicated by the DuckDB oracle (plans/oracle_dataops.py).

    Shuffle shape: per-doc shingle counts ride the gram rows (one window
    count, +8 B per row) into the self-join, so the pair aggregation
    emits ``n_shared`` AND both sizes in one pass — the previous form
    joined the pair stream against a sizes table twice, re-shuffling the
    (quadratic-ish) pair stream two extra times; inlining measured
    ~1.5-2× faster at sf0.1 with identical output."""
    return (
        _shingle_pair_counts(docs, text_col, n, max_doc_freq)
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "n_shared", "jaccard")
    )


def _shingle_pair_counts(
    docs: DataFrame,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """(doc1, doc2, n_shared, n1, n2) for every document pair sharing ≥1
    n-gram shingle — the candidate-join core ``ngram_jaccard_pairs`` and
    ``containment_pairs`` both score from.  ``max_doc_freq`` drops
    shingles hotter than the cap from the universe BEFORE sizes and the
    join (the quadratic-hot-key guard; the hot list is tiny by
    construction, so the drop is a broadcast anti-join)."""
    from pyspark.sql.window import Window

    grams = _doc_ngrams(docs, text_col, n).cache()
    if max_doc_freq is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    grams = grams.withColumn(
        "n_grams", F.count("*").over(Window.partitionBy("doc_id"))
    )

    a = grams.alias("a")
    b = grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(
            F.count("*").alias("n_shared"),
            F.first("a.n_grams").alias("n1"),
            F.first("b.n_grams").alias("n2"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram-shingle containment.

    Jaccard misses subset relationships: a paragraph quoted inside a much
    longer article shares all its shingles, yet |A∩B| / |A∪B| is tiny
    because the union is dominated by the article.  Containment scores
    each side against its OWN size — c(A→B) = |A∩B| / |A| — so the
    quoted paragraph scores ~1.0 regardless of the article's length.
    This is the dedup pass that catches excerpts, syndicated fragments,
    and template-wrapped reposts, which a training-data pipeline wants
    removed just as much as symmetric near-dups (re-expresses the
    reference's dedup surface; reference has no containment operator —
    LLM-pipeline extension).

    Emits one row per unordered pair (doc1 < doc2) with BOTH directed
    scores and their max; a pair survives when either direction clears
    ``threshold``.  ``max_doc_freq`` is the same hot-shingle scale guard
    as ``ngram_jaccard_pairs`` (containment is then defined over the
    capped universe).  Same shuffle shape as the Jaccard form: sizes
    ride the gram rows into one self-join + one pair aggregation; the
    scores are two exactly-rounded int64 divisions, bit-portable."""
    counts = _shingle_pair_counts(docs, text_col, n, max_doc_freq)
    c1 = F.col("n_shared").cast("double") / F.col("n1").cast("double")
    c2 = F.col("n_shared").cast("double") / F.col("n2").cast("double")
    return (
        counts.withColumn("containment1", c1)
        .withColumn("containment2", c2)
        .withColumn("containment", F.greatest("containment1", "containment2"))
        .filter(F.col("containment") >= threshold)
        .select(
            "doc1",
            "doc2",
            "n_shared",
            "containment1",
            "containment2",
            "containment",
        )
    )


def _minhash_per_doc(
    docs: DataFrame,
    text_col: str,
    with_token_sets: bool = False,
    with_token_counts: bool = False,
) -> DataFrame:
    """Per-doc full MinHash component columns `_mh0.._mh15`: all 16 mins as
    parallel aggregates in ONE groupBy(doc_id) pass over the exploded tokens
    — no tokens×perms crossJoin (16× less shuffle volume).

    ``with_token_sets`` additionally collects the distinct token-hash set
    per doc (`tok_set`, array<int> — token hashes are < HASH_MOD < 2^30,
    so int32 halves the bytes the exact-verify shuffle carries per row vs
    array<long>) in the SAME aggregation — the exact verify step consumes
    it without a second tokenization pass over the corpus."""
    if with_token_counts:
        # Carry the TOTAL token count (duplicates included — the
        # pre-explode F.size, NOT the distinct-row count the explode
        # yields) on the exploded rows and fold it back with min():
        # downstream per-doc stats consumers (cluster_representatives'
        # longest-member rule) get F.size(tokens_col(text)) semantics
        # out of THIS tokenization pass instead of a second corpus scan
        # (whole-stage codegen subexpression-eliminates the repeated
        # tokens_col inside the one projection).
        toks = docs.select(
            "doc_id",
            F.size(tokens_col(F.col(text_col))).alias("_n_total"),
            F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias(
                "tok"
            ),
        )
    else:
        toks = _doc_tokens(docs, text_col)
    toks = toks.withColumn("tok_hash", hashing.tok_hash_col(F.col("tok")))
    return toks.groupBy("doc_id").agg(
        *_minhash_aggs(with_token_sets, with_token_counts)
    )


@functools.lru_cache(maxsize=4)
def _minhash_aggs(
    with_token_sets: bool, with_token_counts: bool
) -> tuple[Column, ...]:
    """Memoized aggregate trees of ``_minhash_per_doc`` — pure functions
    of column names; rebuilding the 16 permutation expressions cost
    ~0.2 s of py4j round-trips on EVERY minhash-family plan build (the
    webops ``_pct_normalize_cached`` rationale)."""
    aggs = [
        F.min(
            (F.lit(a) * F.col("tok_hash") + F.lit(b)) % hashing.HASH_MOD
        ).alias(f"_mh{i}")
        for i, (a, b) in enumerate(hashing.MINHASH_PERMS)
    ]
    if with_token_sets:
        aggs.append(
            F.collect_set(F.col("tok_hash").cast("int")).alias("tok_set")
        )
    if with_token_counts:
        aggs.append(F.min("_n_total").cast("int").alias("n_tokens"))
    return tuple(aggs)


def minhash_components_inline(text: Column) -> list[Column]:
    """ROW-LOCAL twin of ``_minhash_per_doc``'s aggregation: the 16
    MinHash component columns computed entirely inside one row — distinct
    tokens, the portable polynomial token hash, and array_min over each
    permutation — with no explode/groupBy.  Bit-identical to the
    aggregated form (same distinct-token set, same integer math; pinned
    by pytest), which is what makes it usable where a shuffle
    aggregation isn't: per-row signature computation on an unbounded
    STREAM (streaming/dedup_stream.streaming_near_dedup), or any caller
    that wants signatures as a projection.  Docs with no tokens yield
    NULL components (the aggregated form simply omits them) — filter
    NULLs to match."""
    th = F.transform(
        F.array_distinct(tokens_col(text)), lambda t: hashing.tok_hash_col(t)
    )
    return [
        F.array_min(
            F.transform(
                th, lambda h: (F.lit(a) * h + F.lit(b)) % hashing.HASH_MOD
            )
        ).alias(f"_mh{i}")
        for i, (a, b) in enumerate(hashing.MINHASH_PERMS)
    ]


_BAND_SIG_MASK = (1 << 40) - 1  # 40-bit fold space; & is portable modulo


def _banded(
    per_doc: DataFrame,
    with_all_sigs: bool = False,
    sig: str = "str",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band, band_sig) rows assembled column-wise from the per-doc
    component columns — no second banding aggregation.

    ``sig='long'`` emits the band signature as a 40-bit modular fold of the
    band's components instead of the '-'-joined string — ~4× narrower rows
    through the candidate self-join and its DISTINCT, with integer key
    compares instead of string compares.  Collision probability per band is
    ~|docs|²/2⁴¹ (≈2e-4 at 20k docs/band) and the DuckDB oracle replicates
    the identical fold, so the gate stays bit-exact; the public
    ``minhash_signatures`` surface keeps the readable string form.

    ``with_all_sigs`` adds an `all_sigs` array of every band signature so
    the candidate join can dedupe in-join (see ``_lsh_candidates``);
    ``extra`` names per-doc columns carried through the explode (one copy
    per band row — used by the bucket-local verify to ship token sets
    alongside the band keys)."""
    explode_cols, cols = _banded_cols(with_all_sigs, sig, extra)
    return per_doc.select("doc_id", *explode_cols).select(*cols)


@functools.lru_cache(maxsize=16)
def _banded_cols(
    with_all_sigs: bool, sig: str, extra: tuple[str, ...]
) -> tuple[tuple, tuple]:
    """Memoized banding Column trees (explode projection + output list)
    for ``_banded`` — the band-sig folds cost ~0.1-0.2 s of py4j
    round-trips per plan build, repeated in every banded dedup query."""
    rpb = len(hashing.MINHASH_PERMS) // hashing.MINHASH_BANDS

    def band_sig(b: int) -> Column:
        if sig == "long":
            s: Column = F.lit(0).cast("long")
            for j in range(rpb):
                s = (s * F.lit(31) + F.col(f"_mh{b * rpb + j}")).bitwiseAND(
                    F.lit(_BAND_SIG_MASK)
                )
            return s
        return F.concat_ws(
            "-",
            *[F.col(f"_mh{b * rpb + j}").cast("string") for j in range(rpb)],
        )

    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                band_sig(b).alias("band_sig"),
            )
            for b in range(hashing.MINHASH_BANDS)
        ]
    )
    explode_cols = (
        F.explode(bands).alias("bb"),
        *(
            [
                F.array(
                    *[band_sig(b) for b in range(hashing.MINHASH_BANDS)]
                ).alias("all_sigs")
            ]
            if with_all_sigs
            else []
        ),
        *extra,
    )
    cols = (
        "doc_id",
        "bb.band",
        "bb.band_sig",
        *(["all_sigs"] if with_all_sigs else []),
        *extra,
    )
    return explode_cols, cols


def first_shared_band_terms(band_sig_at, n_bands: int) -> list[Column]:
    """Join-condition terms restricting a banded self-join pair to its
    LOWEST shared band: for every band j earlier than the row's band, the
    two sides' band-j signatures must differ — so a pair sharing several
    bands is emitted exactly once, in-join, with no post-join DISTINCT
    (the DISTINCT form re-shuffles the full candidate stream once more).

    ``band_sig_at(side, j)`` returns the band-j signature column for the
    aliased side ("a"/"b"); the accessor abstracts over signature layout
    (array element for minhash, bit-masked chunk of a packed long for
    simhash / hyperplane LSH).  Shared by every banded dedup path —
    minhash est/exact, simhash, and embedding LSH."""
    return [
        (F.col("a.band") <= j) | (band_sig_at("a", j) != band_sig_at("b", j))
        for j in range(n_bands - 1)
    ]


def _all_sigs_at(side: str, j: int) -> Column:
    """Band-j signature from the ``all_sigs`` array a banded minhash side
    carries (the accessor ``first_shared_band_terms`` folds over)."""
    return F.element_at(F.col(f"{side}.all_sigs"), j + 1)


@functools.lru_cache(maxsize=4)
def _banded_join_cond(n_bands: int) -> Column:
    """Memoized bucket-local self-join condition (band equality +
    doc order + first-shared-band in-join dedup) — shared by the est
    tail, the bucket-local exact verify, and the fused eval.  The band
    count is the cache key, so a geometry change builds a new tree."""
    from functools import reduce

    return reduce(
        lambda x, y: x & y,
        [
            F.col("a.band") == F.col("b.band"),
            F.col("a.band_sig") == F.col("b.band_sig"),
            F.col("a.doc_id") < F.col("b.doc_id"),
            *first_shared_band_terms(_all_sigs_at, n_bands),
        ],
    )


@functools.lru_cache(maxsize=4)
def _est_jaccard_col(n_perms: int) -> Column:
    """Memoized signature-estimated Jaccard (matches/n_perms) over the
    a./b. ``_mh*`` component columns, keyed on the permutation count."""
    n_match = sum(
        F.when(F.col(f"a._mh{i}") == F.col(f"b._mh{i}"), 1).otherwise(0)
        for i in range(n_perms)
    )
    return n_match.cast("double") / F.lit(float(n_perms))


@functools.lru_cache(maxsize=1)
def _exact_jaccard_col() -> Column:
    """Memoized exact token-set Jaccard over the a./b. tok_set columns —
    a function of column names only, independent of the MinHash
    geometry, so it takes no cache key."""
    n_shared = F.size(
        F.array_intersect(F.col("a.tok_set"), F.col("b.tok_set"))
    )
    return n_shared.cast("double") / (
        F.size(F.col("a.tok_set")) + F.size(F.col("b.tok_set")) - n_shared
    ).cast("double")


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Banded MinHash signatures: (doc_id, band, band_sig).

    16 fixed permutations over portable token hashes, folded into 4 bands of
    4 (band_sig = '-'-joined mins, permutation order)."""
    return _banded(_minhash_per_doc(docs, text_col))


def _lsh_candidates(banded: DataFrame) -> DataFrame:
    """Distinct (doc1 < doc2) pairs sharing any band signature.

    Join + DISTINCT rather than in-join first-shared-band dedup: this
    form only pays off when the candidate stream is consumed NARROW —
    today that is `_verify_candidates`, whose verify payload (token
    arrays) is too wide to ride the banded explode cheaply below the
    auto-plan budget.  When the verify payload IS cheap to carry (16
    fixed ints for the est path, one long for the embedding path), the
    bucket-local/in-join layout wins outright — `minhash_est_pairs`
    measured 2× faster after switching — because DISTINCT plus the two
    per-side joins re-shuffle the full candidate stream three times.
    Callers pass the ``sig='long'`` banded form so the join keys and the
    DISTINCT stream are integers, not strings."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .distinct()
    )


def minhash_est_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """Scale-path MinHash near-dup pairs: LSH band candidates scored by the
    SIGNATURE-ESTIMATED Jaccard — the fraction of the 16 minhash components
    on which the two docs agree — with no exact token verification.

    This is the standard trade at 100 TB: the verify touches 16 ints per
    candidate instead of the two full token arrays, so its cost is
    independent of document length.  The layout is BUCKET-LOCAL (like
    ``minhash_dup_pairs``' bucket_local plan): the 16 component columns
    ride the banded explode (a fixed 128 B per band row — cheap, unlike
    the exact path's token arrays), the self-join scores candidates
    in-stage, and first-shared-band in-join dedup replaces the old
    candidates→DISTINCT→two-side-joins pipeline — measured ~2× faster at
    sf0.1 (1.0 s vs 1.9 s, identical 6.4M-row output) and strictly fewer
    shuffles at any scale (the old plan re-shuffled the full candidate
    stream three times: DISTINCT + one join per side).

    Component columns stay UNROLLED (16 int columns per side, matched by
    16 plain equality terms) rather than zipped into arrays: higher-order
    functions (zip_with/aggregate) fall out of whole-stage codegen, and
    the unrolled form measured ~25% faster over millions of candidates.

    The estimate is an unbiased estimator of true Jaccard (E[matches/16]
    = J, std ≈ 0.125 at J=0.5); use `minhash_dup_pairs` when exactness
    is required downstream.  Deterministic given the fixed permutations,
    so the DuckDB oracle replicates it bit-for-bit (estimates are
    multiples of 1/16 — exact in binary floating point on both
    engines)."""
    per_doc = _minhash_per_doc(docs, text_col).cache()
    return _est_pairs_from_per_doc(per_doc, threshold)


def minhash_est_pairs_stats(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> tuple[DataFrame, DataFrame]:
    """``minhash_est_pairs`` plus the per-doc stats its own tokenization
    pass already computed: returns ``(pairs, doc_stats)`` where
    ``doc_stats`` is (doc_id, n_tokens) — total token count, duplicates
    included, identical to ``F.size(tokens_col(text))`` for every doc
    that HAS tokens (zero-token docs have no exploded rows, hence no
    stats row; consumers coalesce to 0).

    The count rides the SAME cached groupBy(doc_id) aggregation the
    signatures come from, so a downstream resolution step
    (``cluster_representatives``) that needs token lengths pays zero
    extra corpus scans — under bench cache isolation the second
    tokenization scan was the reps row's one avoidable constant."""
    per_doc = _minhash_per_doc(docs, text_col, with_token_counts=True).cache()
    return (
        _est_pairs_from_per_doc(per_doc, threshold),
        per_doc.select("doc_id", "n_tokens"),
    )


def _est_pairs_from_per_doc(per_doc: DataFrame, threshold: float) -> DataFrame:
    """Shared est-pair tail: banded explode + bucket-local in-join scoring
    over an already-built (and cached) per-doc signature frame.

    MUST remain a pure function of ``doc_id`` and the ``_mh*`` component
    columns: ``est_pair_quality`` feeds it a frame that ALSO carries
    ``tok_set`` for the exact-verify tail, and the documented bit-identity
    of ``est_jaccard`` with/without that extra column holds only while
    this function never reads it (pinned by the plan-string test in
    tests/test_dataops.py, but don't rely on the test alone when
    editing)."""
    n_perms = len(hashing.MINHASH_PERMS)
    banded = _banded(
        per_doc,
        with_all_sigs=True,
        sig="long",
        extra=tuple(f"_mh{i}" for i in range(n_perms)),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, _banded_join_cond(hashing.MINHASH_BANDS))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            _est_jaccard_col(n_perms).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc1", "doc2", "est_jaccard")
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    source_col: str = "source",
) -> DataFrame:
    """Cross-SOURCE duplication matrix: how much near-dup pressure each
    pair of subcorpora exerts on each other — the view that tells a
    curation pipeline which sources syndicate/mirror which (and how much
    a source self-duplicates) before any per-document action is taken.

    Built on the scale-path signature-estimated pairs
    (``minhash_est_pairs``), aggregated to canonically-ordered
    (source1 ≤ source2) cells: ``n_pairs`` plus the SUM of estimated
    Jaccards — every estimate is a multiple of 1/16 (an exact dyadic),
    so the sum is exact in binary floating point at any aggregation
    order and the whole matrix sits under the bit-exact hash gate.

    Scale shape: the pair stream is LSH-banded (never all-pairs), the
    two source lookups are doc-id equi-joins, and the final groupBy is
    bounded by |sources|² cells."""
    pairs = minhash_est_pairs(docs, text_col, threshold)
    src = docs.select("doc_id", F.col(source_col).alias("_src"))
    joined = pairs.join(
        src.select(F.col("doc_id").alias("doc1"), F.col("_src").alias("_s1")),
        "doc1",
    ).join(
        src.select(F.col("doc_id").alias("doc2"), F.col("_src").alias("_s2")),
        "doc2",
    )
    return (
        joined.groupBy(
            F.least("_s1", "_s2").alias("source1"),
            F.greatest("_s1", "_s2").alias("source2"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("est_jaccard").alias("sum_est_jaccard"),
        )
        .orderBy("source1", "source2")
    )


def asymmetric_banded_est_pairs(
    new_per_doc: DataFrame,
    corpus_per_doc: DataFrame,
    threshold: float,
    broadcast_new: bool = True,
) -> DataFrame:
    """Shared core of the batch and streaming incremental screens: band
    two per-doc component frames (16 ``_mh*`` columns + doc_id each),
    equi-join new-side band rows against corpus-side on (band, band_sig)
    with first-shared-band in-join dedup, and score by the 16-component
    signature estimate.  Works unchanged when ``new_per_doc`` is a
    streaming frame (the join becomes a stateless stream-static join).

    ``broadcast_new`` pins the build side to the NEW (batch) side — the
    side that is small in every real ingest (without the hint Spark's
    size estimates can pick the CORPUS side as the broadcast build,
    shipping 12/13 of the data to every task).  Broadcasting the batch
    also means the corpus bands never shuffle at all.  Set False when
    the incoming batch exceeds the broadcast budget (the join falls
    back to a shuffled join on (band, band_sig)) — and from streaming
    callers, where the unbounded side cannot be a broadcast build.

    Per-candidate cost depends on the session's codegen huge-method
    limit: the estimate + first-shared-band residual generates >8000
    bytecode bytes, past what HotSpot will JIT — ``get_spark`` caps
    ``spark.sql.codegen.hugeMethodLimit`` at 8000 so Spark falls back
    to its interpreted evaluator instead of running interpreted
    GENERATED code (measured 5.4×: 55 s → 10.2 s at a 10× corpus)."""
    from functools import reduce

    n_perms = len(hashing.MINHASH_PERMS)
    extra = tuple(f"_mh{i}" for i in range(n_perms))
    a = _banded(
        new_per_doc, with_all_sigs=True, sig="long", extra=extra
    ).alias("a")
    if broadcast_new:
        a = F.broadcast(a).alias("a")
    b = _banded(
        corpus_per_doc, with_all_sigs=True, sig="long", extra=extra
    ).alias("b")
    cond = reduce(
        lambda x, y: x & y,
        [
            F.col("a.band") == F.col("b.band"),
            F.col("a.band_sig") == F.col("b.band_sig"),
            *first_shared_band_terms(_all_sigs_at, hashing.MINHASH_BANDS),
        ],
    )
    n_match = sum(
        F.when(F.col(f"a._mh{i}") == F.col(f"b._mh{i}"), 1).otherwise(0)
        for i in range(n_perms)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("corpus_id"),
            (n_match.cast("double") / F.lit(float(n_perms))).alias(
                "est_jaccard"
            ),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_component_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The persist-between-batches artifact for the incremental screen:
    one row per doc with the 16 MinHash component columns
    (doc_id, _mh0.._mh15).  Write it once (plain parquet is fine — the
    screen broadcasts the BATCH side, so the component table is scanned
    in place, never shuffled), append each accepted batch's own
    components after screening, and feed it back through
    ``incremental_minhash_pairs_from_components`` so the standing corpus
    text is never re-tokenized per ingest.  ~136 B/doc: three orders of
    magnitude smaller than the corpus it summarizes."""
    return _minhash_per_doc(docs, text_col)


def incremental_minhash_pairs_from_components(
    new_docs: DataFrame,
    corpus_components: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """``incremental_minhash_pairs`` against a PRE-COMPUTED corpus
    component table (``minhash_component_table``, typically reloaded
    from parquet): per-ingest cost is tokenizing the batch plus one
    scan of the component table — the corpus text is out of the loop."""
    return asymmetric_banded_est_pairs(
        _minhash_per_doc(new_docs, text_col),
        corpus_components,
        threshold,
        broadcast_new=broadcast_new,
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    broadcast_new: bool = True,
) -> DataFrame:
    """INCREMENTAL near-dup screen: match an incoming batch against the
    existing corpus without self-joining either side — the operation an
    ingest pipeline runs per batch ("is this new doc a near-copy of
    anything we already hold?").

    Asymmetric banded join: both sides get the 16-permutation MinHash
    signature, the NEW side's band rows equi-join the CORPUS side's on
    (band, band_sig) with first-shared-band in-join dedup, and each
    candidate is scored by the 16-component signature estimate (cost
    independent of document length, like ``minhash_est_pairs``).
    Returns (new_id, corpus_id, est_jaccard ≥ threshold).  Within-batch
    duplicates are NOT reported — run ``minhash_est_pairs`` on the batch
    alone for those.  The sides are expected to be disjoint id sets; a
    doc present in both appears as its own (id, id, 1.0) match.

    Scale shape: the corpus side's banded signature table is exactly the
    artifact an incremental pipeline persists between batches (write it
    once, bucketed by (band, band_sig)); each batch then costs one scan
    of the batch plus the collided buckets — the corpus text is never
    re-tokenized per batch.  Here both sides derive in-plan from their
    frames; pass a pre-materialized signature frame through
    ``_banded``'s contract to skip the corpus recompute."""
    return asymmetric_banded_est_pairs(
        _minhash_per_doc(new_docs, text_col),
        _minhash_per_doc(corpus_docs, text_col),
        threshold,
        broadcast_new=broadcast_new,
    )


def _verify_bucket_local(per_doc: DataFrame, threshold: float) -> DataFrame:
    """Bucket-local exact verify: the per-doc token-hash sets ride the
    banded explode (one copy per band row), the band-bucket self-join
    emits each candidate pair already carrying both sets, exact Jaccard
    is computed row-local in the SAME stage, and only narrow
    (doc1, doc2, jaccard) rows survive.  Candidate dedup happens in-join
    (lowest shared band, checked against the `all_sigs` both sides
    carry) so there is no post-verify DISTINCT.  Wide shuffle bytes are
    BANDS × |docs| × avg-set-width — linear in corpus size, independent
    of candidate count."""
    banded = _banded(
        per_doc, with_all_sigs=True, sig="long", extra=("tok_set",)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, _banded_join_cond(hashing.MINHASH_BANDS))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            _exact_jaccard_col().alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def _verify_candidates(per_doc: DataFrame, threshold: float) -> DataFrame:
    """Candidate-stream exact verify: narrow (doc1, doc2) candidates from
    the banded self-join + DISTINCT, then two joins against the token-set
    table and a row-local intersect.  Wide shuffle bytes are proportional
    to the CANDIDATE count (each surviving row re-shuffles with both
    arrays attached) — the cheaper layout while candidates are modest,
    the measured disk-bound cliff when they are not (35.6× wall at a 10×
    scale-up; BASELINE.md's 10× curve)."""
    candidates = _lsh_candidates(_banded(per_doc, sig="long"))
    tok_arrays = per_doc.select("doc_id", F.col("tok_set").alias("toks"))
    return (
        candidates.join(
            tok_arrays.select(
                F.col("doc_id").alias("doc1"), F.col("toks").alias("_t1")
            ),
            "doc1",
        )
        .join(
            tok_arrays.select(
                F.col("doc_id").alias("doc2"), F.col("toks").alias("_t2")
            ),
            "doc2",
        )
        .withColumn("_n_shared", F.size(F.array_intersect("_t1", "_t2")))
        .withColumn(
            "jaccard",
            F.col("_n_shared").cast("double")
            / (F.size("_t1") + F.size("_t2") - F.col("_n_shared")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


# plan='auto' probe memo: (per_doc semanticHash, budget) -> chosen layout.
# The probe is a data-dependent Spark job; within a session the same
# logical per-doc plan yields the same stats, so repeated builds of the
# same query (benchmark loops, retried stages of a driver program) pay it
# once.  Sessions are per-batch in practice; a table mutating under an
# unchanged plan mid-session would reuse the first decision — both
# layouts are result-identical, so that can only affect speed, never
# correctness.
_VERIFY_PLAN_MEMO: dict[tuple[int, int], str] = {}


def _verify_plan_file_key(per_doc: DataFrame, budget: int) -> str | None:
    """Cross-session memo key: a digest of the input's FILE SNAPSHOT
    (sorted paths + size + mtime of every scanned file) plus the
    CANONICALIZED logical plan and the budget.  The plan component keeps
    two different derivations over the same parquet (another text_col, a
    filtered subset) from sharing one entry — canonicalized plans
    normalize expression ids, so the string is stable across sessions
    for the same query shape; if it ever isn't, the only cost is a memo
    miss and a re-probe.  Any file change invalidates the key, so a
    stale decision can only be reused for byte-identical inputs — and
    even a stale hit merely picks between two result-identical layouts.
    Returns None when the input has no file lineage (in-memory frames)
    or a file can't be stat'ed (non-local filesystem): those fall back
    to the per-session memo."""
    import hashlib
    import os

    try:
        files = per_doc.inputFiles()
        plan = (
            per_doc._jdf.queryExecution().logical().canonicalized().toString()
        )
    except Exception:
        return None
    if not files:
        return None
    h = hashlib.sha256()
    h.update(plan.encode())
    for f in sorted(files):
        path = f[7:] if f.startswith("file://") else (
            f[5:] if f.startswith("file:") else f
        )
        try:
            st = os.stat(path)
        except OSError:
            return None
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns};".encode())
    h.update(str(int(budget)).encode())
    return h.hexdigest()


def _verify_plan_store_path() -> str:
    """Cross-session memo sidecar.  The default is PER-USER (uid in the
    filename): the memo influences plan choice and — via
    ``similarity._corpus_count`` — planner-sized LSH geometry, so a
    shared world-writable file would let any local user steer another
    user's plans by pre-planting entries.  A uid-scoped file in tempdir
    is only writable by its owner (and the sticky bit stops renames
    over it)."""
    import os
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else "u"
    return os.environ.get(
        "TCE_VERIFY_PLAN_MEMO",
        os.path.join(
            tempfile.gettempdir(), f"tce_verify_plan_memo_{uid}.json"
        ),
    )


def _verify_plan_store_get(key: str) -> str | None:
    import json
    import os

    path = _verify_plan_store_path()
    try:
        with open(path) as fh:
            # a uid-named file can still be PRE-CREATED by another
            # local user in a sticky tempdir; only trust content we
            # own (fstat the open handle — no check/use race)
            if hasattr(os, "getuid"):
                if os.fstat(fh.fileno()).st_uid != os.getuid():
                    return None
            return json.load(fh).get(key)
    except (OSError, ValueError):
        return None


def _verify_plan_store_put(key: str, choice: str) -> None:
    import json

    path = _verify_plan_store_path()
    try:
        try:
            with open(path) as fh:
                store = json.load(fh)
        except (OSError, ValueError):
            store = {}
        store[key] = choice
        import os

        # pid-unique temp name: two concurrent drivers must never write
        # the same temp file (os.replace keeps the publish itself atomic)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(store, fh)
        os.replace(tmp, path)
    except OSError:
        pass  # memo is best-effort: losing it costs one probe job


def _choose_verify_plan(
    per_doc: DataFrame, wide_shuffle_budget_bytes: int
) -> str:
    """Budget probe for ``plan='auto'``: estimate the candidate layout's
    wide-shuffle volume as (Σ_bucket n·(n-1)/2) × 2 sides × avg token-set
    width × 4 bytes, in ONE aggregation job over NARROW banded rows (the
    token-set width rides the explode as a precomputed int).  The Σ
    upper-bounds the candidate stream (multi-band pairs counted once per
    shared band).  Above the budget the wide stream goes disk-bound on a
    node, so the bucket-local layout (wide bytes linear in |docs|) wins;
    below it the candidate layout's narrower explode wins.

    The decision is memoized at two levels so auto-mode pays the probe
    job at most once per distinct input: per-session by the per-doc
    plan's semanticHash, and CROSS-session by the input's file snapshot
    (a tiny json sidecar; see ``_verify_plan_file_key``) — repeated
    driver programs over unchanged parquet skip the probe entirely."""
    try:
        key = (per_doc.semanticHash(), int(wide_shuffle_budget_bytes))
    except Exception:  # pragma: no cover - semanticHash is stable API
        key = None
    if key is not None and key in _VERIFY_PLAN_MEMO:
        return _VERIFY_PLAN_MEMO[key]
    file_key = _verify_plan_file_key(per_doc, wide_shuffle_budget_bytes)
    if file_key is not None:
        stored = _verify_plan_store_get(file_key)
        if stored in ("candidates", "bucket_local"):
            if key is not None:
                _VERIFY_PLAN_MEMO[key] = stored
            return stored
    banded_n = _banded(
        per_doc.withColumn("_w", F.size("tok_set")), sig="long", extra=("_w",)
    )
    row = (
        banded_n.groupBy("band", "band_sig")
        .agg(F.count("*").alias("n"), F.sum("_w").alias("sw"))
        .agg(
            F.sum(
                F.col("n").cast("double") * (F.col("n") - 1) / 2
            ).alias("p"),
            (F.sum("sw") / F.sum("n")).alias("w"),
        )
        .first()
    )
    est_pairs = row["p"] or 0.0
    avg_width = row["w"] or 0.0
    est_wide_bytes = est_pairs * 2 * avg_width * 4
    choice = (
        "bucket_local"
        if est_wide_bytes > wide_shuffle_budget_bytes
        else "candidates"
    )
    if key is not None:
        _VERIFY_PLAN_MEMO[key] = choice
    if file_key is not None:
        _verify_plan_store_put(file_key, choice)
    return choice


def minhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    plan: str = "auto",
    wide_shuffle_budget_bytes: int = 8 << 30,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: bucket join on band signatures, then
    exact Jaccard verification at ``threshold``.

    Two physical layouts compute the IDENTICAL result (same candidates —
    pairs sharing ≥1 band under the same 40-bit integer fold — same exact
    Jaccard over the same token-hash sets), differing only in which rows
    carry the wide token arrays across shuffles:

    - ``plan='candidates'``: narrow candidate stream + token-set joins;
      wide bytes ∝ candidate count.  Fastest while candidates are modest
      (measured ~2× faster at sf0.1).
    - ``plan='bucket_local'``: token sets ride the banded explode and
      verify happens inside the band-bucket self-join; wide bytes =
      BANDS × |docs| × avg-set-width, independent of candidate count.
      This is the 100 TB layout — the candidate layout's wide stream was
      the engine's one measured scale cliff (35.6× wall at a 10×
      scale-up, disk-bound; bucket-local re-measured 6.9-8.8×).
    - ``plan='auto'`` (default): two cheap aggregations over the cached
      per-doc table estimate the candidate layout's wide-shuffle volume
      and switch to bucket-local above ``wide_shuffle_budget_bytes``
      (default 8 GiB ≈ where the wide stream stops fitting a node's page
      cache; see ``_choose_verify_plan``).

    Because both layouts are result-identical, the choice never affects
    correctness gates — the driver row stays hash-green under either.

    Token sets are the same portable 30-bit token hashes the signatures
    use, collected in the signature aggregation itself (no second
    tokenization pass), carried as int32 arrays.  Jaccard is thus over the
    hashed-token universe: identical to string-token Jaccard except under
    hash collisions (P = 1e9+7 — negligible and fully deterministic), and
    the DuckDB oracle replicates the same hashes bit-for-bit."""
    if plan not in ("auto", "candidates", "bucket_local"):
        raise ValueError(f"plan must be auto|candidates|bucket_local: {plan}")
    per_doc = _minhash_per_doc(docs, text_col, with_token_sets=True).cache()
    return _dup_pairs_from_per_doc(
        per_doc, threshold, plan, wide_shuffle_budget_bytes
    )


def _dup_pairs_from_per_doc(
    per_doc: DataFrame,
    threshold: float,
    plan: str = "auto",
    wide_shuffle_budget_bytes: int = 8 << 30,
) -> DataFrame:
    """Exact-verify tail over an already-built (cached, token-set-bearing)
    per-doc signature frame — shared by ``minhash_dup_pairs`` and callers
    whose plan already pays a signature aggregation (``est_pair_quality``
    feeds BOTH its lineages from one frame)."""
    if plan == "auto":
        plan = _choose_verify_plan(per_doc, wide_shuffle_budget_bytes)
    if plan == "bucket_local":
        return _verify_bucket_local(per_doc, threshold)
    return _verify_candidates(per_doc, threshold)


def est_quality_sample_mod_for_corpus(
    n: int, full_form_max: int = 20_000, target_docs: int = 10_000
) -> int | None:
    """Planner rule for ``est_pair_quality``'s sampling gate: the full
    two-lineage eval is allowed only up to ``full_form_max`` documents
    (the measured single-node cliff — both pair lineages in one plan
    OOM'd an 8 GiB driver at ~50k docs); above it, the smallest LCG
    ``sample_mod`` that brings the expected sampled corpus to
    ~``target_docs`` documents (pairs then subsample at ~1/mod², which
    is exactly the unbiased-ratio-estimate regime the eval wants).
    Pure integers, shared verbatim with the DuckDB twin generator so
    the bit-exact gate travels with corpus count — the
    ``lsh_geometry_for_corpus`` discipline."""
    if n <= full_form_max:
        return None
    return -(-int(n) // target_docs)


def est_pair_quality(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    sample_mod: int | None | str = "auto",
) -> DataFrame:
    """EVAL harness for the scale-path trade: precision/recall of the
    signature-estimated pair stream (``minhash_est_pairs`` — what a
    100 TB run keeps) against the exact-verified stream
    (``minhash_dup_pairs``) at the same threshold, plus the mean
    absolute estimate error over the agreeing pairs — the one-row
    report that says whether the 16-permutation geometry is adequate
    for THIS corpus before committing a full dedup pass to it.

    Both streams share one candidate generation by construction (same
    band fold, same in-join dedup), so ONE fused self-join scores each
    candidate both ways and classifies it in-stream: both thresholds →
    true positive (carrying |est − exact|), est-only → false positive,
    exact-only → false negative.  All three counts are
    integers; precision/recall are single exactly-rounded divisions and
    the error mean is a TWO-LEVEL pinned fold — per doc1%256 shard in
    (doc1, doc2) order, then shard partials in shard order (a flat
    collect_list over millions of pairs would be the single-task-OOM
    shape the kmeans M-step avoids) — bit-portable, DuckDB twin folds
    the same two levels.  Output: (n_est, n_exact, n_both, precision,
    recall, mean_abs_err).

    SCALE PATH — ``sample_mod``: the eval runs BOTH pair lineages in
    one plan (the exact side carries token sets), so at corpus scale
    it runs on a deterministic LCG document sample (docs whose sample
    hash ≡ 0 mod ``sample_mod``), not the full corpus: precision/
    recall/MAE are ratio estimates and a uniform doc sample estimates
    them unbiasedly (pairs subsample at rate ~1/mod²).

    The DEFAULT is planner-gated (``sample_mod="auto"``): a memoized
    corpus-count probe (``similarity._corpus_count`` — the same probe
    the LSH geometry planner uses) feeds
    ``est_quality_sample_mod_for_corpus``, which keeps the full form
    below 20k documents and auto-sizes the mod to a ~10k-doc sample
    above it — so the default can never hand a 100 TB corpus the
    both-lineages-at-full-width plan that OOM'd an 8 GiB driver at 10×
    sf0.1.  Pass ``sample_mod=None`` to FORCE the full form (you own
    the memory math), or a pinned int to reproduce a prior sample."""
    if sample_mod == "auto":
        from .similarity import _corpus_count

        sample_mod = est_quality_sample_mod_for_corpus(
            _corpus_count(docs)
        )
    if sample_mod is not None:
        from .corpus import sample_hash_col

        docs = docs.filter(
            sample_hash_col(F.col("doc_id")) % sample_mod == 0
        )
    # ONE shared per-doc signature aggregation (r14) AND — r15 — ONE
    # fused candidate self-join scoring BOTH ways (guide §2.4): the est
    # and exact tails generate the IDENTICAL candidate set by
    # construction (same 40-bit band fold, same first-shared-band
    # in-join dedup), differing only in which score gates a pair, so
    # running them as two banded self-joins plus a full-outer join on
    # the pair key paid a second banded explode+exchange and a
    # two-sided pair shuffle for information one join already has.
    # The fused join carries the 16 components AND the token sets on
    # the band rows (the bucket_local wide-shuffle shape — linear in
    # |docs|, and the eval is planner-gated to a ~10k-doc sample above
    # 20k docs, so the width is bounded), computes est_jaccard and
    # exact jaccard per candidate row-locally with the same integer/
    # float math as the public operators (bit-identical scores), and
    # classifies each pair in-stream: est-only → false positive,
    # exact-only → false negative, both → true positive carrying
    # |est − exact|.  Candidates clearing neither threshold contribute
    # nothing in either formulation and are dropped in-stage.
    per_doc = _minhash_per_doc(docs, text_col, with_token_sets=True).cache()
    n_perms = len(hashing.MINHASH_PERMS)
    banded = _banded(
        per_doc,
        with_all_sigs=True,
        sig="long",
        extra=tuple(f"_mh{i}" for i in range(n_perms)) + ("tok_set",),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    scored = (
        a.join(b, _banded_join_cond(hashing.MINHASH_BANDS))
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            _est_jaccard_col(n_perms).alias("est_jaccard"),
            _exact_jaccard_col().alias("jaccard"),
        )
    )
    in_est = F.col("est_jaccard") >= threshold
    in_exact = F.col("jaccard") >= threshold
    joined = scored.filter(in_est | in_exact).select(
        "doc1",
        "doc2",
        in_est.cast("int").alias("_in_est"),
        in_exact.cast("int").alias("_in_exact"),
        F.when(
            in_est & in_exact,
            F.abs(F.col("est_jaccard") - F.col("jaccard")),
        ).alias("_err"),
    )

    def fold(key_cols, val):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct(*key_cols, val))),
                lambda s: s[val],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    partials = (
        joined.withColumn("_shard", F.pmod(F.col("doc1"), F.lit(256)))
        .withColumn("_e0", F.coalesce("_err", F.lit(0.0)))
        .groupBy("_shard")
        .agg(
            F.sum("_in_est").alias("_pe"),
            F.sum("_in_exact").alias("_px"),
            F.sum(F.col("_in_est") * F.col("_in_exact")).alias("_pb"),
            fold(["doc1", "doc2"], "_e0").alias("_perr"),
        )
    )
    n_est = F.sum("_pe").cast("long")
    n_exact = F.sum("_px").cast("long")
    n_both = F.sum("_pb").cast("long")
    err_sum = fold(["_shard"], "_perr")
    return partials.agg(
        n_est.alias("n_est"),
        n_exact.alias("n_exact"),
        n_both.alias("n_both"),
        F.when(n_est > 0, n_both.cast("double") / n_est.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("precision"),
        F.when(n_exact > 0, n_both.cast("double") / n_exact.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("recall"),
        F.when(n_both > 0, err_sum / n_both.cast("double"))
        .otherwise(F.lit(None).cast("double"))
        .alias("mean_abs_err"),
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    doc_stats: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster REPRESENTATIVE selection — the resolution rule real
    dedup pipelines apply after transitive clustering: keep the member
    with the MOST TOKENS (the longest variant preserves the most
    information; min-id keep rules throw away content whenever the
    shortest copy happens to have the smallest id), ties to the
    smallest doc_id.  Integer-exact end to end.

    One narrow groupBy(cluster_id) argmax via ``max(struct(n_tokens,
    −doc_id))`` — a boilerplate mega-cluster folds partial maxima
    map-side instead of sorting its member list in one task (the same
    hub discipline as ``lpa_communities``).

    Output: (cluster_id, rep_doc_id, rep_tokens, n_members) — one row
    per cluster, singletons included (their own representative).

    ``doc_stats`` (optional, (doc_id, n_tokens)) lets callers whose pair
    lineage already tokenized the corpus — ``minhash_est_pairs_stats``
    returns it off the signature aggregation itself — skip the second
    full-corpus tokenization scan this function otherwise pays.  Docs
    absent from ``doc_stats`` count 0 tokens (zero-token docs have no
    exploded rows), which is exactly what the ``F.size`` scan yields, so
    both stats sources are VALUE-IDENTICAL (pytest-pinned)."""
    clusters = dup_clusters(docs.select("doc_id"), pairs)
    if doc_stats is not None:
        toks = doc_stats.select(
            "doc_id", F.col("n_tokens").cast("int").alias("_nt")
        )
        return _reps_from_clusters(clusters, toks, outer=True)
    toks = docs.select(
        "doc_id", F.size(tokens_col(F.col(text_col))).alias("_nt")
    )
    return _reps_from_clusters(clusters, toks, outer=False)


def _reps_from_clusters(
    clusters: DataFrame, toks: DataFrame, outer: bool
) -> DataFrame:
    """Shared representative argmax; ``outer`` left-joins the stats and
    coalesces missing docs to 0 tokens (the precomputed-stats source
    omits zero-token docs; the projection source never misses a row)."""
    joined = (
        clusters.join(toks, "doc_id", "left").withColumn(
            "_nt", F.coalesce("_nt", F.lit(0))
        )
        if outer
        else clusters.join(toks, "doc_id")
    )
    return (
        joined
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("_nt"), (-F.col("doc_id")).alias("_nd"))
            ).alias("_m"),
        )
        .select(
            "cluster_id",
            (-F.col("_m._nd")).alias("rep_doc_id"),
            F.col("_m._nt").alias("rep_tokens"),
            "n_members",
        )
    )


def dup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Transitive near-dup clusters: (doc_id, cluster_id) where cluster_id
    is the minimum doc_id reachable through the pair graph (connected
    components; docs in no pair are their own singleton cluster).

    Hook-and-shortcut CONTRACTION (the Shiloach-Vishkin discipline in
    the MapReduce framing of Rastogi et al. 2013 / Kiveris et al. 2014):
    each LEVEL

    1. HOOKS every node to its neighborhood minimum — parent(u) =
       min(u ∪ N(u)), ONE map-side-combining aggregation over the
       symmetric edge stream;
    2. SHORTCUTS the parent forest to closure by pointer doubling —
       parent ← parent∘parent until fixed — so every node labels its
       tree root (a LOCAL minimum: a node smaller than all its
       neighbors).  Each squaring halves the surviving pointer depth,
       so a depth-d forest closes in ⌈log₂ d⌉ self-joins of the ≤|V|-row
       label table — this is what makes a monotone million-node chain
       converge in ~20 tiny jobs where plain min-label propagation pays
       a full edge pass per hop;
    3. CONTRACTS: rewrites every edge through the closed labels and
       drops the self-loops this creates.  The supergraph's nodes are
       the local minima — adjacent nodes can't both be local minima, so
       components shrink strictly every level and collapse in a
       logarithmic handful (ONE level for the dense near-clique graphs
       real near-dup thresholds produce, where almost every member sees
       the cluster minimum directly).

    A node's final label composes the per-level labels.  The old
    alternating large-star/small-star loop paid 8 rounds of full
    edge-stream rewrites (two groupBy + two join + two distinct over
    the multi-million-row stream per round) for the same fixed point;
    contraction touches the big stream exactly twice total — the hook
    aggregation (which also computes the pair lineage into the disk
    persist) and the rewrite (which reads it back) — and every later
    level runs on the supergraph, smaller than |V|.

    Deterministic, so the DuckDB oracle replicates the RESULT (reachable
    minimum per node) with a recursive CTE — the fixed point is
    algorithm-independent.  Fixed-point correctness: labels are always
    same-component node ids and the component minimum always labels
    itself (it is its own neighborhood minimum and its own root at
    every level), so when the contracted edge set empties, every
    surviving supernode is a component minimum and every node's
    composed label is exactly that minimum.

    Raises RuntimeError if ``max_iter`` levels pass with edges still
    alive, rather than silently returning wrong labels (components
    shrink strictly per level, so this bounds pathology, not real
    corpora).

    Scale shape: the input edge stream is persisted DISK_ONLY (read
    twice — the near-dup generators upstream are the expensive lineage)
    and NEVER shuffled: the label table is aggregation output (≤ |V|
    rows, tiny against the edge stream), so the rewrite joins broadcast
    under AQE; the shuffles a level pays are the hook ``groupBy(a)
    .min(b)``, the ⌈log₂ depth⌉ label self-joins, and the ``distinct``
    on the already-collapsed rewritten edges.  On a 1000-executor
    corpus where |V| outgrows broadcast, AQE falls back to sort-merge
    and the recursion is unchanged — levels stay logarithmic, streams
    stay narrow long-pairs."""
    from pyspark import StorageLevel

    in_edges = (
        pairs.select(
            F.col("doc1").cast("long").alias("a"),
            F.col("doc2").cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .persist(StorageLevel.DISK_ONLY)
    )
    edges = in_edges
    mapping: DataFrame | None = None  # composed (node, lbl) across levels
    converged = False
    for level in range(max_iter):
        # HOOK: parent(u) = min(u ∪ N(u)) over the symmetric
        # neighborhood — the union is a no-shuffle plan node, so the big
        # stream is read once here; on level 0 the materializing count
        # below doubles as the pass that computes the expensive pair
        # lineage and fills the DISK_ONLY persist.
        sym = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("_mb"))
            .select(
                F.col("a").alias("node"),
                F.least(F.col("_mb"), F.col("a")).alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
        # LAZY checkpoint + one materializing count: the count's scan
        # computes (and persists) every partition, so it doubles as the
        # emptiness check — the old eager-checkpoint + isEmpty pair paid
        # a second driver job per level for the same answer (each job is
        # a cluster-wide barrier at scale, pure overhead at any scale).
        # m is empty iff the level's edge set is empty — the recursion's
        # termination signal.
        if m.count() == 0:
            converged = True
            break
        # SHORTCUT: pointer-double the parent forest to closure.  Labels
        # are always node ids present in m (lbl(u) ∈ {u} ∪ N(u)), so the
        # squaring join is inner and lossless; depth halves per
        # squaring, and 64 squarings covers any depth a long id space
        # can express (the loop exits on the first unchanged pass —
        # dense near-dup forests are depth ≤ 2 and pay one squaring).
        for _ in range(64):
            par = m.select(
                F.col("node").alias("_pn"), F.col("lbl").alias("_pl")
            )
            m2 = (
                m.join(par, m["lbl"] == F.col("_pn"))
                .select(
                    "node",
                    F.col("_pl").alias("lbl"),
                    (F.col("_pl") != F.col("lbl")).alias("_chg"),
                )
                .localCheckpoint(eager=False)
            )
            # the changed-count scan materializes the lazy checkpoint
            # (filter is narrow — every partition computes and persists),
            # fusing the old eager-checkpoint job + count job into one
            changed = m2.filter(F.col("_chg")).count()
            m = m2.select("node", "lbl")
            if changed == 0:
                break
        # CONTRACT: rewrite each edge through the closed labels;
        # intra-tree edges become self-loops and die, and the
        # orientation normalization lets distinct's map-side partial
        # aggregation collapse mirror pairs
        ma = m.select(F.col("node").alias("a"), F.col("lbl").alias("_la"))
        mb = m.select(F.col("node").alias("b"), F.col("lbl").alias("_lb"))
        edges = (
            edges.join(ma, "a")
            .join(mb, "b")
            .filter(F.col("_la") != F.col("_lb"))
            .select(
                F.least("_la", "_lb").alias("a"),
                F.greatest("_la", "_lb").alias("b"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        # materialize via the count that was the fixed-point check anyway
        # (one job instead of eager-checkpoint + isEmpty); MUST run before
        # the in_edges.unpersist below — the contract join reads the
        # persisted pair stream, and unpersisting first would force the
        # expensive pair lineage to recompute
        n_super_edges = edges.count()
        if level == 0:
            in_edges.unpersist()
            mapping = m
        else:
            # compose the level's (small: ≤ previous level's supernode
            # count) label table into the standing mapping — a broadcast
            # probe against the |V|-row frame under AQE
            mapping = (
                mapping.join(
                    m.select(
                        F.col("node").alias("_n"), F.col("lbl").alias("_l")
                    ),
                    mapping["lbl"] == F.col("_n"),
                    "left",
                )
                .select(
                    "node", F.coalesce("_l", F.col("lbl")).alias("lbl")
                )
                # lazy: the compose is LogicalRDD-over-LogicalRDD (both
                # inputs already checkpointed), so the plan stays tiny and
                # the persist fills on the next level's hook job — or at
                # the caller's action if this was the last level
                .localCheckpoint(eager=False)
            )
        # an edgeless supergraph is the fixed point (already counted by
        # the materializing scan above — no extra job)
        if n_super_edges == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not contract to an edgeless supergraph "
            f"(the fixed point) in {max_iter} hook-and-shortcut levels "
            "(components shrink strictly per level — this is a "
            "pathological input); raise max_iter"
        )
    out_docs = docs.select(F.col("doc_id").cast("long").alias("node"))
    if mapping is None:  # no edges at all: everyone is a singleton
        return out_docs.select(
            F.col("node").alias("doc_id"), F.col("node").alias("cluster_id")
        )
    return (
        out_docs.join(
            mapping.withColumnRenamed("lbl", "label"), "node", "left"
        )
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("label", F.col("node")).alias("cluster_id"),
        )
    )


def near_dedup_filter(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The deduplicated corpus: drop every doc that near-dup-pairs with a
    smaller-id doc (left anti join against the pairs' doc2 side).

    Single-pass min-id representative selection — the standard at-scale
    approximation of connected-component clustering (a chain a~b~c keeps
    `a` and may keep `c` if (a,c) itself didn't pair; full transitive
    clustering needs iterative label propagation, deliberately out of the
    one-pass path).  Works with any pair source (minhash/simhash/ngram/
    embedding pairs renamed to doc1/doc2)."""
    losers = pairs.select(F.col("doc2").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def near_dedup_witness(
    pairs: DataFrame, score_col: str = "est_jaccard"
) -> DataFrame:
    """Drop PROVENANCE for ``near_dedup_filter``: one row per dropped
    doc with the WITNESS that killed it — the smallest-id doc1 it
    paired with (min-id, matching the filter's keep rule) and that
    pair's similarity, plus how many winning pairs hit it.  This is
    the audit trail a production dedup keeps (the question is never
    just "was X dropped" but "dropped as a near-dup of WHAT, at what
    similarity") and the appeal path when a drop looks wrong.

    One map-side-combinable groupBy(doc2) argmin via
    ``min(struct(doc1, score))`` — integers + one carried double, no
    sort, no window.  Output: (doc_id, witness_id, witness_score,
    n_hits), doc_id = the dropped doc."""
    return (
        pairs.groupBy(F.col("doc2").alias("doc_id"))
        .agg(
            F.min(
                F.struct(F.col("doc1"), F.col(score_col).alias("_s"))
            ).alias("_w"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            F.col("_w.doc1").alias("witness_id"),
            F.col("_w._s").alias("witness_score"),
            "n_hits",
        )
    )


def _bit_sum(toks_hashed: Column, b: int) -> Column:
    # factory: `b` must be a Python int (shiftright's numBits), closed over
    # so the aggregate lambda stays binary
    return F.aggregate(
        toks_hashed,
        F.lit(0),
        lambda acc, h: acc
        + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )


def _simhash_col(toks_hashed: Column) -> Column:
    """SimHash over an array of token hashes: per bit, sum ±1; bit set iff
    the sum is positive.  Unrolled over the 30 bits at plan-build time —
    still one whole-stage-codegen expression, no Python on executors."""
    sig = F.lit(0).cast("long")
    for b in range(hashing.SIMHASH_BITS):
        sig = sig + F.when(
            _bit_sum(toks_hashed, b) > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document 30-bit SimHash from distinct-token hashes."""
    toks_hashed = F.transform(
        F.array_distinct(tokens_col(F.col(text_col))),
        lambda t: hashing.tok_hash_col(t),
    )
    return docs.select("doc_id", _simhash_col(toks_hashed).alias("simhash"))


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = hashing.SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """SimHash near-dup pairs: LSH banding on 8-bit chunks for candidates,
    verified by Hamming distance ≤ max_hamming.  Banding is part of the
    operator's semantics (recall is per-band-exact-match), so the oracle
    replicates it identically.

    Candidate dedup is in-join, first-shared-band: both sides already
    carry the full simhash, so "no earlier band also matches" is three
    extra bit-mask terms in the join condition, and the Hamming verify
    runs in the same stage.  The previous join → DISTINCT form
    re-shuffled the entire multi-million-row candidate stream once more
    before verifying; dropping it measured 11.1 s → 2.4 s at sf0.1 with
    bit-identical output (10.2M pairs)."""
    from functools import reduce

    sigs = simhash_signatures(docs, text_col).cache()
    n_bands = (hashing.SIMHASH_BITS + hashing.SIMHASH_BAND_BITS - 1) // (
        hashing.SIMHASH_BAND_BITS
    )
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftright(
                            F.col("simhash"), b * hashing.SIMHASH_BAND_BITS
                        )
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.band_val")
    a = banded.alias("a")
    b = banded.alias("b")

    def _band_bits(side: str, j: int) -> Column:
        return F.shiftright(
            F.col(f"{side}.simhash"), j * hashing.SIMHASH_BAND_BITS
        ).bitwiseAND(F.lit(255))

    cond = reduce(
        lambda x, y: x & y,
        [
            F.col("a.band") == F.col("b.band"),
            F.col("a.band_val") == F.col("b.band_val"),
            F.col("a.doc_id") < F.col("b.doc_id"),
            *first_shared_band_terms(_band_bits, n_bands),
        ],
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def dup_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    max_coverage_pct: int = 50,
) -> DataFrame:
    """Substring-level duplication signal: per-doc fraction of token
    positions covered by an ``n``-gram that also appears in at least
    ``min_docs`` distinct documents (the span-dedup statistic from
    "Deduplicating Training Data Makes Language Models Better" — doc- and
    chunk-level dedup miss long spans shared between otherwise-different
    documents; this measures exactly that).

    Output: (doc_id, n_tokens, covered_tokens, dup_coverage, keep) —
    ``dup_coverage`` is the exactly-rounded double covered/n_tokens;
    ``keep`` is the integer-exact filter decision
    ``covered*100 <= n_tokens*max_coverage_pct`` (no float compare).

    Scale shape (100 TB): positioned n-grams are a row-linear projection
    (×(len-n+1) rows, same order as the corpus token count); the
    duplicated-gram set comes from one groupBy(gram) with a partial
    count_distinct; marking covered occurrences is a key-partitioned
    equi-join on gram (never all-pairs — only occurrences of grams that
    actually repeat flow into the position explode, which is bounded at
    ×n); the final distinct + count shuffles narrow (doc_id, pos) pairs
    by doc.  Nothing in the plan grows faster than corpus size × n.

    Reference parity note: the reference engine has no span-level
    operator; this extends the dedup family (SURVEY §2 extensions) the
    way a training-data pipeline needs.
    """
    toks = tokens_col(F.col(text_col))
    sized = docs.select(
        "doc_id", toks.alias("_toks"), F.size(toks).alias("n_tokens")
    )
    gram_arr = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = sized.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("_cp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered_tokens"))
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias(
                "covered_tokens"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            )
            .alias("dup_coverage"),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0)) * 100
                <= F.col("n_tokens") * max_coverage_pct
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def corpus_dup_grams(
    corpus_docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The standing corpus's duplicated-gram set: every positioned token
    ``n``-gram appearing in at least ``min_docs`` distinct corpus
    documents — the static side of ``span_screen``.  Build once, cache /
    persist, screen forever (at 100 TB this is the parquet artifact an
    ingest pipeline refreshes with the corpus, bucketed by gram)."""
    toks = tokens_col(F.col(text_col))
    sized = corpus_docs.select(
        "doc_id", toks.alias("_toks"), F.size(toks).alias("n_tokens")
    )
    gram_arr = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        sized.select("doc_id", F.explode(gram_arr).alias("gram"))
        .groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )


def span_screen(
    batch_docs: DataFrame,
    corpus_docs: DataFrame | None = None,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
    max_coverage_pct: int = 50,
    dup_grams: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric span-duplication screen: score ARRIVING documents'
    n-gram coverage against a STANDING corpus's duplicated-gram set
    (``corpus_dup_grams``) — the ingest-time form of ``dup_span_stats``
    exactly as ``incremental_minhash_pairs`` is the ingest-time form of
    ``minhash_dup_pairs``.  A document's verdict depends only on its own
    tokens and the FIXED gram set, never on other arriving documents —
    the property that makes the streaming twin
    (``streaming.dedup_stream.streaming_span_screen_writer``)
    micro-batch-local yet globally correct.

    Output: (doc_id, n_tokens, covered_tokens, dup_coverage, keep) —
    identical shape and float/integer discipline to ``dup_span_stats``
    (one exactly-rounded division; integer-exact keep compare).

    Scale shape (100 TB): batch grams are a row-linear projection; the
    membership test is one equi-join on gram against the prepared set
    (key-partitioned or broadcast when it fits — never all-pairs); the
    covered-position distinct shuffles narrow (doc_id, pos) pairs.  The
    corpus is touched only to build ``dup_grams`` — pass a prepared /
    persisted set to amortize it across batches."""
    if dup_grams is None:
        if corpus_docs is None:
            raise ValueError("need corpus_docs or a prepared dup_grams")
        dup_grams = corpus_dup_grams(corpus_docs, text_col, n, min_docs)
    toks = tokens_col(F.col(text_col))
    sized = batch_docs.select(
        "doc_id", toks.alias("_toks"), F.size(toks).alias("n_tokens")
    )
    gram_arr = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = sized.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    covered = (
        grams.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("_cp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered_tokens"))
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias(
                "covered_tokens"
            ),
            F.when(F.col("n_tokens") == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            )
            .alias("dup_coverage"),
            (
                F.coalesce(F.col("covered_tokens"), F.lit(0)) * 100
                <= F.col("n_tokens") * max_coverage_pct
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def strip_dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-span REMOVAL: rewrite each document with every token
    position covered by an ``n``-gram shared with ≥ ``min_docs``
    distinct documents dropped, survivors re-joined in their original
    order.  This is the other half of the span-dedup recipe from
    "Deduplicating Training Data Makes Language Models Better"
    (``dup_span_stats`` is the scoring half / keep-drop filter; real
    pipelines also SALVAGE mostly-unique documents by cutting just the
    boilerplate spans — this operator is that rewrite).

    Output: (doc_id, n_tokens, n_kept, stripped_text) — ``n_kept`` =
    surviving token count, ``stripped_text`` the space-joined survivors
    ('' when everything was duplicated).  Deterministic: coverage is a
    pure set function of the corpus and survivors keep corpus order.

    Scale shape (100 TB): identical to ``dup_span_stats`` up to the
    covered-position set (row-linear positioned grams, one
    groupBy(gram) with partial count_distinct, equi-join on gram —
    never all-pairs); the rewrite itself is one anti-join of (doc_id,
    pos) tokens against covered positions — co-partitioned on the same
    compound key — and a per-doc ordered fold whose state is bounded by
    the document's own length (the same per-group bound every text
    operator here lives with).

    Reference parity note: no span operator exists in the reference
    engine (its text surface is tax-record fields); this extends the
    dedup family the way a training-data pipeline needs.
    """
    toks = tokens_col(F.col(text_col))
    sized = docs.select(
        "doc_id", toks.alias("_toks"), F.size(toks).alias("n_tokens")
    )
    gram_arr = F.when(
        F.col("n_tokens") >= n,
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = sized.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gram")
    )
    covered = (
        grams.join(dup_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    positioned = sized.select(
        "doc_id", F.posexplode("_toks").alias("pos", "tok")
    )
    kept = (
        positioned.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("stripped_text"),
        )
    )
    return (
        sized.select("doc_id", "n_tokens")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("stripped_text"), F.lit("")).alias(
                "stripped_text"
            ),
        )
        .orderBy("doc_id")
    )


def snm_candidates(
    docs: DataFrame,
    text_col: str = "text",
    key_len: int = 24,
    bucket_len: int = 4,
    window: int = 8,
) -> DataFrame:
    """Sorted-neighborhood CANDIDATE pairs — the shared blocking stage
    of ``snm_pairs`` (Jaccard verify) and ``editdist_pairs``
    (Levenshtein verify): two-level sharded global rank over the
    normalized-prefix sort key, then a rank-block-banded self-join
    emitting (doc1, doc2, rank_gap) for every pair within ``window``
    positions (see ``snm_pairs`` for the 100 TB analysis; the rank is
    ``topk.sharded_global_rank`` — the audited two-level pattern).

    ``bucket_len`` sets the shard-prefix length of the two-level rank;
    the GLOBAL rank — and therefore every output row — is identical at
    any value (sharding is pure parallelization), so it is safe to
    lengthen against skewed key prefixes.  Default 4: at 2, a corpus
    whose keys share short family prefixes (the 10×-scale fixture's 10
    copy tags; any crawl sharing boilerplate openings) collapses into
    a handful of shards and the per-shard sort re-serializes —
    measured 10.77× wall at 10× data for ``editdist_pairs``; 4 chars
    re-spreads those families by their following text."""
    from .topk import sharded_global_rank

    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    keyed = docs.select(
        "doc_id",
        F.substring(norm, 1, key_len).alias("_key"),
    )
    ranked = sharded_global_rank(
        keyed, key="_key", tiebreak=F.asc("doc_id"), shard_len=bucket_len
    ).select("doc_id", "_r")
    blk = ((F.col("_r") - 1) / window).cast("long")
    left = ranked.select(
        F.col("doc_id").alias("doc1"),
        F.col("_r").alias("_r1"),
        blk.alias("_blk"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc2"),
        F.col("_r").alias("_r2"),
        F.explode(F.array(blk, blk - 1)).alias("_blk"),
    )
    return (
        left.join(right, "_blk")
        .filter(
            (F.col("_r2") - F.col("_r1") >= 1)
            & (F.col("_r2") - F.col("_r1") <= window)
        )
        .select("doc1", "doc2", (F.col("_r2") - F.col("_r1")).alias("rank_gap"))
    )


def snm_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_len: int = 24,
    bucket_len: int = 4,
    window: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández-Stolfo SNM): sort
    the corpus by a blocking key — the first ``key_len`` chars of the
    lowercased alphanumeric-collapsed text — and compare each document
    only against its ``window`` successors in that global order,
    scoring survivors by exact distinct-token Jaccard.  The classic
    record-linkage alternative to LSH blocking: detection quality
    degrades gracefully with key quality instead of hash band luck.

    Output: (doc1, doc2, rank_gap, jaccard) for candidate pairs with
    jaccard ≥ ``threshold``, doc1 the earlier document in sort order.

    Scale shape (100 TB): a global sort is the textbook SNM step and
    the thing that does NOT scale as one task, so the global rank is
    built in TWO LEVELS — the deterministic ``bucket_len``-char key
    prefix shards the sort (each shard sorts independently under one
    row_number window; prefix ranges are contiguous in key order, so
    shard-local ranks + shard offsets ARE the global rank), and shard
    offsets come from a broadcast non-equi self-join of the tiny
    per-shard count table (≤ 36^bucket_len rows — never a single-
    partition exchange).  Lengthen ``bucket_len`` to hold per-shard
    sorts bounded as the corpus grows.  The neighbor join is banded by
    rank-block (block = rank div window; a pair within ``window`` spans
    at most adjacent blocks), so the self-join is equi-keyed and emits
    ≤ window·n candidate rows; Jaccard tokens join onto that narrow
    stream by doc_id, never into the sort."""
    cand = snm_candidates(docs, text_col, key_len, bucket_len, window)
    toks = docs.select(
        "doc_id", F.array_distinct(tokens_col(F.col(text_col))).alias("_t")
    )
    t1 = toks.select(F.col("doc_id").alias("doc1"), F.col("_t").alias("_t1"))
    t2 = toks.select(F.col("doc_id").alias("doc2"), F.col("_t").alias("_t2"))
    inter = F.size(
        F.filter(F.col("_t1"), lambda x: F.array_contains(F.col("_t2"), x))
    )
    return (
        cand.join(t1, "doc1")
        .join(t2, "doc2")
        .withColumn("_inter", inter)
        .withColumn(
            "jaccard",
            F.when(
                F.size("_t1") + F.size("_t2") - F.col("_inter") > 0,
                F.col("_inter").cast("double")
                / (
                    F.size("_t1") + F.size("_t2") - F.col("_inter")
                ).cast("double"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "rank_gap", "jaccard")
        .orderBy("doc1", "doc2")
    )


def _editdist_verify_arrow(cand_txt: DataFrame, bound: int) -> DataFrame:
    """Arrow-batched Levenshtein verify kernel — the vectorized
    replacement for the interpreted ``levenshtein(_n1, _n2, bound)``
    expression on the SNM candidate stream (the multimodal-codec
    mapInPandas precedent; the plan audit tolerates MapInPandas, only
    row-at-a-time ``BatchEvalPython`` is banned).

    Input: (doc1, doc2, rank_gap, _n1, _n2) candidate rows, ``_n1/_n2``
    the lowercased alphanumeric-collapsed prefixes — pure ASCII by
    construction, so byte == codepoint distance.  Output: (doc1, doc2,
    rank_gap, edit_dist, _maxlen) for rows with edit_dist ≤ ``bound``
    (every emitted distance is EXACT; rows that cannot pass the
    downstream similarity filter are dropped in-kernel, exactly the
    rows the old banded expression returned −1 for).

    Per batch, entirely vectorized (no per-pair Python):
    1. pairs with |len₁−len₂| > bound drop outright (dist ≥ |Δlen|),
       and empty-side pairs resolve to dist = other length with no DP;
    2. both sides pack into (n, m) uint8 matrices (one ``bytes.join``
       + ``np.frombuffer`` per side — measured ~0.02 s per 40 k rows);
    3. a BANDED Wagner-Fischer DP (band half-width = ``bound``) runs
       with the pair axis vectorized: each text row i is ~6 numpy ops
       on the (n_active, 2·bound+1) band — the insertion left-to-right
       dependency resolves in one ``minimum.accumulate`` via the
       standard ``min(m[c'] + (c−c'))  =  accumulate(m − c) + c``
       identity — with EARLY ABORT: a pair whose band minimum exceeds
       ``bound`` can never come back, so it leaves the active set
       (arrays compact when enough pairs die).  On random-ish
       neighbors the band minimum grows ~1 per row, so most pairs die
       within ~``bound`` rows — the per-batch cost is ~bound·width
       cells for the bulk plus full-length runs for true near-dups
       only.

    Banded DP values ≤ ``bound`` are EXACT (an optimal path for a
    distance ≤ k never leaves the |i−j| ≤ k band); larger values may
    be overestimates, which is irrelevant — both engines drop them.
    Cross-checked cell-for-cell against DuckDB's full-matrix
    ``levenshtein`` on the sf0.1 candidate stream (hypothesis fuzz in
    tests/test_dedup_editdist_kernel.py).

    Measured ~44 µs/pair end-to-end vs ~1.7 ms/pair for the
    interpreted banded expression (~38×) — the kernel-level fix the r8
    plan-change experiments (bag-distance prefilter, zip_with /
    substring lcp trims, equality short-circuit — all measured slower)
    said this needed."""
    out_schema = (
        "doc1 long, doc2 long, rank_gap long, edit_dist int, _maxlen int"
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ok = (~pdf["_n1"].isna() & ~pdf["_n2"].isna()).to_numpy()
            if not ok.all():
                pdf = pdf[ok].reset_index(drop=True)
                n = len(pdf)
                if n == 0:
                    continue
            a_list = pdf["_n1"].tolist()
            b_list = pdf["_n2"].tolist()
            dist = banded_editdist_batch(a_list, b_list, bound)
            fin = dist <= bound
            out = pdf.loc[fin, ["doc1", "doc2", "rank_gap"]].copy()
            out["edit_dist"] = dist[fin].astype(np.int32)
            la = np.fromiter((len(s) for s in a_list), np.int64, n)
            lb = np.fromiter((len(s) for s in b_list), np.int64, n)
            out["_maxlen"] = np.maximum(la, lb)[fin].astype(np.int32)
            yield out

    return cand_txt.mapInPandas(kernel, schema=out_schema)


def banded_editdist_batch(a_list, b_list, bound: int):
    """Batch-vectorized banded Levenshtein (the ``_editdist_verify_arrow``
    kernel, module-level so it is unit-testable without Spark): returns
    an int64 distance per pair.  Values ≤ ``bound`` are EXACT; values
    > ``bound`` only assert "exceeds bound" (band overestimate / Δlen
    shortcut / early abort — callers must treat them as dropped).

    Inputs must be ASCII (the SNM normalizer strips to [a-z0-9]); byte
    distance == codepoint distance there.  See
    ``_editdist_verify_arrow`` for the vectorization scheme."""
    import numpy as np

    INF = np.int16(20000)
    n = len(a_list)
    dist = np.full(n, 30000, dtype=np.int64)
    if n == 0:
        return dist
    la0 = np.fromiter((len(s) for s in a_list), np.int64, n)
    lb0 = np.fromiter((len(s) for s in b_list), np.int64, n)
    pre = np.abs(la0 - lb0) <= bound  # dist ≥ |Δlen|: hopeless pairs skip
    if not pre.any():
        return dist
    sel = np.nonzero(pre)[0]
    a_sel = [a_list[i] for i in sel]
    b_sel = [b_list[i] for i in sel]
    la = la0[sel]
    lb = lb0[sel]
    n = len(sel)
    m = int(max(la.max(), lb.max(), 1))
    pad = b"\x00"
    A = np.frombuffer(
        b"".join(s.encode().ljust(m, pad) for s in a_sel), dtype=np.uint8
    ).reshape(n, m)
    B = np.frombuffer(
        b"".join(s.encode().ljust(m, pad) for s in b_sel), dtype=np.uint8
    ).reshape(n, m)

    k = int(bound)
    w = 2 * k + 1
    ar = np.arange(w, dtype=np.int16)
    act = np.arange(n)
    out = np.full(n, 30000, dtype=np.int64)
    zero_a = la == 0
    out[zero_a] = lb[zero_a]  # |Δlen| ≤ bound already holds
    # Bpad[:, i + c] == b[(i - k + c) - 1]
    Bpad = np.zeros((n, m + w + 2), dtype=np.uint8)
    Bpad[:, k + 1 : k + 1 + m] = B
    curr = np.where(ar >= k, (ar - k).astype(np.int16), INF)
    curr = np.broadcast_to(curr, (n, w)).copy()
    curr[(ar.astype(np.int64) - k)[None, :] > lb[:, None]] = INF
    laA, lbA, AA, BpadA = la, lb, A, Bpad
    maxla = int(la.max())
    i = 1
    while len(act) and i <= maxla:
        achar = AA[:, i - 1][:, None]
        bwin = BpadA[:, i : i + w]
        sub = curr + (achar != bwin).astype(np.int16)
        dele = np.empty_like(curr)
        dele[:, :-1] = curr[:, 1:]
        dele[:, -1] = INF
        dele += 1
        mm = np.minimum(sub, dele)
        t = mm - ar
        np.minimum.accumulate(t, axis=1, out=t)
        curr = t + ar
        np.minimum(curr, INF, out=curr)
        if i <= k:
            curr[:, : k - i + 1] = INF  # j < 0 cells
            # dp[i][0] = i boundary; its rightward insertion chain is
            # dominated by sub/del paths from the same column, so
            # setting it after the accumulate is exact
            curr[:, k - i] = np.minimum(curr[:, k - i], np.int16(i))
        hi = lbA[:, None] - i + k
        curr[ar[None, :] > hi] = INF  # j > lb cells
        done = laA == i
        if done.any():
            d_idx = np.nonzero(done)[0]
            c_end = (lbA[d_idx] - i + k).astype(np.int64)
            out[act[d_idx]] = curr[d_idx, c_end]
        # row minima are non-decreasing in i (every cell derives from a
        # row-(i-1) value plus ≥0), so a band min > bound never recovers
        alive = (~done) & (curr.min(axis=1) <= k)
        n_alive = int(alive.sum())
        if n_alive == 0 or n_alive <= (len(act) * 3) // 4:
            idx = np.nonzero(alive)[0]
            act, curr = act[idx], curr[idx]
            AA, BpadA = AA[idx], BpadA[idx]
            laA, lbA = laA[idx], lbA[idx]
        elif done.any():
            # park finished rows at INF without a full compaction
            curr[np.nonzero(done)[0]] = INF
        i += 1
    dist[sel] = out
    return dist


def editdist_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_len: int = 24,
    bucket_len: int = 4,
    window: int = 8,
    prefix_len: int = 256,
    threshold: float = 0.8,
    verify_kernel: str = "arrow",
) -> DataFrame:
    """Edit-distance-verified near-dup pairs: the record-linkage verify
    stage — Levenshtein distance over the sorted-neighborhood candidate
    stream (``snm_candidates``), scored as 1 - dist/max(len) on the
    normalized text.  Catches single-character typo/ OCR-noise variants
    that token-level Jaccard scores as identical-or-nothing.

    Both sides compare the lowercased alphanumeric-collapsed text —
    pure ASCII by construction, where Spark's codepoint Levenshtein and
    DuckDB's byte Levenshtein agree — truncated to ``prefix_len`` chars
    so per-pair cost is bounded.  The kernel is Spark's BANDED
    3-arg ``levenshtein(l, r, bound)``: any pair the similarity filter
    could keep has dist ≤ (1−threshold)·prefix_len, so passing that
    bound early-abandons hopeless pairs after O(bound·prefix_len) work
    instead of O(prefix_len²) (measured ~4× at sf0.1) while every KEPT
    row's distance stays the exact value (≤ bound by definition;
    exceeded pairs return −1 and are dropped by the same filter).
    Output: (doc1, doc2, rank_gap, edit_dist, edit_sim) for pairs with
    edit_sim ≥ ``threshold``; edit_sim is one exactly-rounded int/int
    division.

    Scale shape (100 TB): identical to ``snm_pairs`` — the global sort
    is two-level sharded, candidates are ≤ window·n, and the verify
    kernel runs on the capped prefix only.

    The verify stage is selected by ``verify_kernel``:

    - ``"arrow"`` (default): the vectorized mapInPandas kernel
      (``_editdist_verify_arrow`` — batch-vectorized banded DP with
      early abort, ~44 µs/pair).  This replaced the banded
      ``levenshtein(a, b, bound)`` expression after the r8 diagnosis
      (BASELINE.md "SNM/editdist growth diagnosis") proved the old
      ~11× wall growth at 10× data was the verify's interpreted
      per-pair constant (~1.7 ms/pair on sort-adjacent prefix-sharing
      candidates, where shared prefixes defeat the band's early abort)
      and that NO plan change could win: bag-distance lower-bound
      prefilter, zip_with/substring lcp trims, and an equality
      short-circuit were all measured slower on the expression path.
    - ``"expr"``: the original declarative banded expression — kept as
      the pure-JVM fallback (no Python workers / no duckdb) and as the
      equivalence pin for the pytest that asserts the two kernels
      return identical rows.

    Both produce bit-identical output: every kept row's distance is
    the exact Levenshtein distance (the band / the in-kernel drops
    only remove rows the ``edit_sim`` filter provably rejects), and
    ``edit_sim`` is computed by the same plan-side double division."""
    cand = snm_candidates(docs, text_col, key_len, bucket_len, window)
    norm = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1,
        prefix_len,
    )
    bound = int((1.0 - threshold) * prefix_len) + 1
    txt = docs.select("doc_id", norm.alias("_n"))
    t1 = txt.select(F.col("doc_id").alias("doc1"), F.col("_n").alias("_n1"))
    t2 = txt.select(F.col("doc_id").alias("doc2"), F.col("_n").alias("_n2"))
    joined = cand.join(t1, "doc1").join(t2, "doc2")
    if verify_kernel == "arrow":
        # The verify is CPU-bound per ROW while the candidate stream is
        # small in BYTES, so AQE's byte-based coalescing funnels it into
        # one or two partitions and serializes the kernel (measured: 1
        # partition at sf0.1).  Spread it explicitly to the cluster's
        # core count — at real scale this is a narrow ~100 B/row
        # shuffle, trivial next to the DP it parallelizes.
        par = docs.sparkSession.sparkContext.defaultParallelism
        verified = _editdist_verify_arrow(
            joined.select("doc1", "doc2", "rank_gap", "_n1", "_n2")
            .repartition(par, "doc1", "doc2"),
            bound,
        )
        maxlen = F.col("_maxlen")
    elif verify_kernel == "expr":
        verified = joined.withColumn(
            "edit_dist", F.expr(f"levenshtein(_n1, _n2, {bound})")
        ).filter(F.col("edit_dist") >= 0)
        maxlen = F.greatest(F.length("_n1"), F.length("_n2"))
    else:
        raise ValueError(f"unknown verify_kernel {verify_kernel!r}")
    return (
        verified.withColumn(
            "edit_sim",
            F.when(
                maxlen > 0,
                F.lit(1.0)
                - F.col("edit_dist").cast("double") / maxlen.cast("double"),
            ),
        )
        .filter(F.col("edit_sim") >= threshold)
        .select("doc1", "doc2", "rank_gap", "edit_dist", "edit_sim")
        .orderBy("doc1", "doc2")
    )


# ── Winnowing fingerprints (r10) ──────────────────────────────────────
#
# Robust local document fingerprinting (Schleimer, Wilkerson, Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
# 2003 — the MOSS algorithm): hash every k-token gram, slide a window
# of w consecutive gram hashes, and record the minimum hash of each
# window (ties to the RIGHTMOST position).  The guarantee that makes it
# the standard copy-detection fingerprint: any shared substring of at
# least k + w − 1 tokens is caught by at least one shared fingerprint,
# while storage is ~2/(w+1) of the gram count — a principled
# sample-and-still-detect middle ground between full n-gram Jaccard
# (every gram) and MinHash (whole-document similarity only, no
# locality).

_WINNOW_POS_SPACE = 1 << 20  # gram positions per doc, bounded by 2^20


def winnow_fingerprints(
    docs: DataFrame, k: int = 5, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowed fingerprints per document: (doc_id, pos, fp_hash) — the
    selected k-gram's index and portable polynomial hash.

    Scale shape: RELATIONAL sliding windows, one shuffle keyed by
    doc_id — posexploded tokens hash once each (JVM char fold), the
    gram hash folds each position's k-row ``collect_list`` window, and
    the per-window minimum is a plain ``min() OVER (ROWS w-1
    FOLLOWING)``.  The all-array row-local formulation (nested
    higher-order lambdas over the token array) is the tempting
    zero-shuffle shape, but Spark re-evaluates lambda-invariant
    subexpressions per element — the token-hash array gets recomputed
    for every gram position, measured 12× slower at sf0.1 (64 s vs
    5.3 s) and quadratic in doc length; the window form keeps every
    expression single-evaluation and whole-stage-codegen'd, and a
    doc_id-keyed exchange is the natural parallel unit at 100 TB.

    Determinism: the rightmost-min tie rule is encoded arithmetically —
    gram p carries key = hash·2²⁰ + (2²⁰−1−p), so a plain ``min`` picks
    the smallest hash and, on ties, the largest position; both engines
    decode (hash, pos) back with exact integer division.  Docs with
    fewer than k tokens yield no fingerprints; docs with 1 ≤ G < w
    grams yield the single whole-doc minimum (their one window clamps
    at the end of the doc).

    The gram hash is TWO-LEVEL: each token is polynomial-hashed over
    its characters ONCE (the shared portable ``tok_hash_col``), and a
    gram's hash folds its k token hashes with the same (h·31 + x) mod P
    recurrence — a pure engine-portable integer recurrence the DuckDB
    twin replicates bit-for-bit.

    MAX-DOC-LENGTH LIMIT: the arithmetic encoding reserves 2²⁰ position
    slots per doc, so only the first ``_WINNOW_POS_SPACE`` (1,048,576)
    gram positions — i.e. the first 2²⁰+k−1 tokens — are fingerprinted;
    grams beyond that are deterministically TRUNCATED (the doc behaves
    as if it ended there).  Without the explicit bound, position 2²⁰
    would make the tie-break term negative and silently corrupt both
    the window-min selection and the decoded (pos, fp_hash) — and since
    the oracle twin repeats the same arithmetic, the bit-exact sweep
    could never catch it.  The DuckDB CTE applies the identical cap."""
    from pyspark.sql.window import Window

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be ≥ 1: k={k}, w={w}")
    pos_space = _WINNOW_POS_SPACE
    toks = docs.select(
        "doc_id",
        F.posexplode(tokens_col(F.col(text_col))).alias("p", "_tok"),
    ).select("doc_id", "p", hashing.tok_hash_col(F.col("_tok")).alias("_th"))
    gram_w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, k - 1)
    grams = (
        toks.select(
            "doc_id", "p", F.collect_list("_th").over(gram_w).alias("_win")
        )
        .filter(F.size("_win") == k)  # tail positions: no full gram
        # position-space guard (see docstring): gram positions ≥ 2²⁰
        # would drive the rightmost-min tie term negative — truncate
        .filter(F.col("p") < pos_space)
        .select(
            "doc_id",
            "p",
            (
                F.aggregate(
                    "_win",
                    F.lit(0).cast("long"),
                    lambda h, x: (h * 31 + x) % hashing.HASH_MOD,
                )
                * pos_space
                + (F.lit(pos_space - 1) - F.col("p"))
            ).alias("_key"),
        )
    )
    sel_w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, w - 1)
    picked = (
        grams.select(
            "doc_id",
            "p",
            F.min("_key").over(sel_w).alias("_fpkey"),
            F.count("_key")
            .over(Window.partitionBy("doc_id"))
            .alias("_ng"),
        )
        # window starts: 0 .. max(G-w, 0) — short docs get one window
        .filter(F.col("p") <= F.greatest(F.col("_ng") - w, F.lit(0)))
        .select("doc_id", "_fpkey")
        .distinct()
    )
    return picked.select(
        "doc_id",
        (F.lit(pos_space - 1) - F.pmod("_fpkey", F.lit(pos_space)))
        .cast("int")
        .alias("pos"),
        F.expr(f"_fpkey DIV {pos_space}").alias("fp_hash"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowed fingerprints —
    the copy-detection join: any k+w−1-token verbatim overlap
    guarantees a shared fingerprint, so thresholding shared-fingerprint
    counts finds local plagiarism/boilerplate that whole-document
    MinHash dilutes away.

    Scale shape: the same key-partitioned gram-join discipline as
    ``ngram_jaccard_pairs`` — distinct (doc, fp) rows self-join on the
    fingerprint VALUE (never all-pairs), and fingerprints appearing in
    more than ``df_cap`` documents are dropped first (the standard
    winnowing practice for boilerplate: a fingerprint shared by
    hundreds of docs identifies the template, not a copy pair, and is
    exactly the hot key that would quadratically blow up the join).
    Dropped-fingerprint counts are deterministic, so the cap is part of
    the operator's oracle-checked contract, not a silent truncation.

    The distinct (doc, fp) table is CACHED (narrow long pairs): it is
    referenced four times below (the df-cap aggregation and both sides
    of the value self-join), and each uncached reference re-ran the
    two-window fingerprint lineage (guide §2.4/§5, the
    ``_minhash_per_doc`` cache discipline)."""
    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col).select(
        "doc_id", "fp_hash"
    ).distinct().cache()
    rare = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap))
        .select("fp_hash")
    )
    shared = fps.join(rare, "fp_hash")
    left = shared.select(F.col("doc_id").alias("doc1"), "fp_hash")
    right = shared.select(F.col("doc_id").alias("doc2"), "fp_hash")
    return (
        left.join(right, "fp_hash")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc1", "doc2")
    )


def winnow_screen(
    batch: DataFrame,
    corpus_fps: DataFrame,
    min_shared: int = 2,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time copy screen over winnowed fingerprints: score every
    BATCH document by how many of its distinct fingerprints appear in a
    standing corpus's fingerprint set, and keep it only below
    ``min_shared`` — the asymmetric (batch-vs-corpus, never
    batch-vs-batch) form every arriving-data pipeline actually runs,
    completing the winnowing family the way ``span_screen`` completes
    span dedup.

    ``corpus_fps`` is the PREPARED corpus side — pass
    ``winnow_corpus_fps(corpus_docs, ...)`` (typically cached or
    parquet-persisted; at 100 TB it is the refreshed index artifact),
    so each batch pays only its own fingerprinting + one equi-join
    membership probe against the fingerprint VALUE set.

    Output: (doc_id, n_fps, n_matched, keep) — one row per batch doc,
    docs with no fingerprints (< k tokens) trivially keep."""
    fps = winnow_fingerprints(batch, k=k, w=w, text_col=text_col).select(
        "doc_id", "fp_hash"
    ).distinct()
    probe = fps.join(
        corpus_fps.withColumn("_hit", F.lit(1)), "fp_hash", "left"
    )
    scored = probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_matched"),
    )
    return (
        batch.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            (F.coalesce("n_matched", F.lit(0)) < min_shared).alias("keep"),
        )
    )


def winnow_corpus_fps(
    corpus_docs: DataFrame,
    k: int = 5,
    w: int = 4,
    df_cap: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """The standing-corpus side of ``winnow_screen``: the corpus's
    distinct fingerprint VALUES, with fingerprints appearing in more
    than ``df_cap`` corpus documents dropped — template boilerplate
    matches the corpus, not a copy, and is exactly the hot key that
    would blow up the membership probe.  One column (fp_hash), ready to
    cache or persist as the refreshable screen artifact.

    Derives from ``winnow_fp_counts`` — persist THAT (fp_hash, df)
    table when the index must be maintained incrementally (the cap
    filter is not mergeable; the counts are)."""
    return (
        winnow_fp_counts(corpus_docs, k=k, w=w, text_col=text_col)
        .filter(F.col("df") <= df_cap)
        .select("fp_hash")
    )


def winnow_fp_counts(
    corpus_docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """The MERGEABLE form of the winnow corpus index: (fp_hash, df) —
    per-fingerprint distinct-document counts, NO cap filter.  This is
    what an incrementally-maintained index persists: counts add across
    disjoint document batches (``winnow_merge_fp_counts``), while the
    served set (``winnow_corpus_fps``'s df ≤ cap filter) is a cheap
    projection of the counts — a fingerprint that crosses the cap after
    a merge correctly LEAVES the served set, which a values-only
    artifact could never express."""
    fps = winnow_fingerprints(
        corpus_docs, k=k, w=w, text_col=text_col
    ).select("doc_id", "fp_hash").distinct()
    return fps.groupBy("fp_hash").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )


def winnow_merge_fp_counts(
    existing: DataFrame,
    batch_docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Merge a NEW document batch into a persisted winnow-count index:
    full-outer on fp_hash, dfs add (absent side counts 0).  Exactly the
    full rebuild's result when the batch is disjoint from the documents
    already counted — ``winnow_fp_counts(old ∪ batch) ≡
    merge(winnow_fp_counts(old), batch)`` (pytest-pinned bit-exact) —
    because distinct-doc counts over disjoint doc sets are additive.

    The DISJOINTNESS contract is the caller's (same contract as
    ``incremental_minhash_pairs``): re-merging a batch already in the
    counts double-counts it.  The streaming maintainer
    (``streaming/dedup_stream.streaming_winnow_index_writer``) enforces
    it with the batch-id marker guard, which is what makes re-delivery
    idempotent.  Cost: O(|batch| fingerprints) + one |index|-row merge
    join — the standing corpus is never re-fingerprinted."""
    delta = winnow_fp_counts(batch_docs, k=k, w=w, text_col=text_col)
    e = existing.select("fp_hash", F.col("df").alias("_df_old"))
    d = delta.select("fp_hash", F.col("df").alias("_df_new"))
    return e.join(d, "fp_hash", "full_outer").select(
        "fp_hash",
        (
            F.coalesce("_df_old", F.lit(0)) + F.coalesce("_df_new", F.lit(0))
        )
        .cast("long")
        .alias("df"),
    )
