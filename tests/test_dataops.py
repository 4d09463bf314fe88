"""Unit tests for the training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) on tiny hand-built DataFrames.

These are extensions beyond the reference's surface (SURVEY §7 phase 5);
correctness at scale is additionally oracle-checked by
scripts/check_oracle.py against DuckDB.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from tax_compliance_engine_spark.functions import hashing
from tax_compliance_engine_spark.operators import (
    corpus,
    dedup,
    multimodal,
    similarity,
    textops,
)


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def emb_df(spark, vecs, labels=None):
    labels = labels or [0] * len(vecs)
    return spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, (v, lab) in enumerate(zip(vecs, labels))],
        "vec_id long, embedding array<double>, label int",
    )


# ── text analysis ────────────────────────────────────────────────────


def test_text_stats_golden(spark):
    df = textops.text_stats(docs_df(spark, ["the cat sat on the mat"]))
    r = df.collect()[0]
    assert r.n_chars == 22
    assert r.n_tokens == 6
    assert r.n_distinct_tokens == 5  # 'the' twice
    assert r.type_token_ratio == pytest.approx(5 / 6)
    assert r.avg_token_len == pytest.approx(17 / 6)  # 22 chars - 5 spaces
    assert r.punct_ratio == 0.0
    assert r.stopword_ratio == pytest.approx(2 / 6)  # the, the ('on' not listed)


def test_text_stats_empty(spark):
    r = textops.text_stats(docs_df(spark, [""])).collect()[0]
    assert r.n_tokens == 0
    assert r.type_token_ratio == 0.0
    assert r.avg_token_len == 0.0


def test_quality_score_formula(spark):
    df = textops.quality_score(
        textops.text_stats(docs_df(spark, ["alpha beta gamma delta"]))
    )
    r = df.collect()[0]
    # ttr=1.0, avg_token_len=19/4 in [3,10], no punct/digits
    assert r.quality_score == pytest.approx(0.5 * 1.0 + 0.3 + 0.2)


def test_rule_quality_screen_per_rule_goldens(spark):
    """Each Gopher rule isolated on a doc that fails EXACTLY that rule
    (the others pass), plus an all-pass doc — so a threshold or
    measurement regression is pinned to its rule by name."""
    # 60 words, stop words present, clean text: passes everything
    good = ("the cat and dog sat with that one have been " * 6).strip()
    cases = {
        "good": (good, None),
        # 10 words only
        "short": (
            "the cat and dog sat with all that have been",
            "rule_word_count",
        ),
        # words of length 1 -> mean word length 1 < 3
        "tiny_words": (
            ("a b c d e f g h i j " * 6).strip().replace("a b", "the of"),
            "rule_mean_word_len",
        ),
        # a '#' on most words -> symbol ratio ≈ 0.93 (stop words kept
        # clean so the membership rule still passes)
        "symbols": (
            ("cats# dogs# rats# bats# owls# " * 11).strip()
            + " the of and that",
            "rule_symbol_ratio",
        ),
        # every line is a bullet (> 90%)
        "bullets": (
            "\n".join("- " + good for _ in range(3)),
            "rule_bullet_lines",
        ),
        # every line ends with an ellipsis (> 30%); 3 '...' across 180+
        # words stays under the 0.1 symbol ratio, so exactly one rule fails
        "ellipsis": (
            "\n".join(good + " then..." for _ in range(3)),
            "rule_ellipsis_lines",
        ),
        # 60 numeric words + 8 stopword tokens -> alpha frac < 0.8
        "numeric": (
            ("111 222 333 444 555 " * 12).strip()
            + " the of and that with have one all",
            "rule_alpha_words",
        ),
        # 60 clean words, only one distinct stop word ('the')
        "no_stops": (
            ("the cat dog rat bat " * 12).strip(),
            "rule_stopwords",
        ),
    }
    texts = [t for t, _ in cases.values()]
    rows = {
        r.doc_id: r
        for r in textops.rule_quality_screen(docs_df(spark, texts)).collect()
    }
    by_name = dict(zip(cases, rows.values()))
    g = by_name["good"]
    assert g.pass_gopher and g.rules_passed == 7
    assert g.n_words == 60 and g.n_stop_hits >= 2
    for name, (_, failing_rule) in cases.items():
        r = by_name[name]
        if failing_rule is None:
            continue
        assert not r[failing_rule], name
        others = [
            c for c in r.asDict() if c.startswith("rule_") and c != failing_rule
        ]
        assert all(r[c] for c in others), (name, [c for c in others if not r[c]])
        assert r.rules_passed == 6 and not r.pass_gopher
    assert by_name["ellipsis"].ellipsis_line_frac == 1.0
    # empty doc: zero-denominator guards hold, word-count rule fails
    z = textops.rule_quality_screen(docs_df(spark, [""])).collect()[0]
    assert z.n_words == 0 and z.mean_word_len == 0.0
    assert not z.rule_word_count and not z.pass_gopher


def test_lang_id(spark):
    df = textops.lang_id(
        docs_df(
            spark,
            [
                "the cat and the dog went to a park of wonders",
                "el perro y la casa de la playa que vimos",
                "xyzzy plugh",  # no markers
            ],
        )
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[0].predicted_lang == "en"
    assert rows[1].predicted_lang == "es"
    assert rows[2].predicted_lang == "und"
    assert rows[2].lang_confidence == 0.0


def test_fingerprints(spark):
    df = textops.fingerprints(
        docs_df(
            spark,
            [
                "Hello   World",
                "hello world",  # same normalized
                "world hello",  # same bag-of-words as doc1
            ],
        )
    )
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[0].fp_exact == hashlib.md5(b"Hello   World").hexdigest()
    assert rows[0].fp_exact != rows[1].fp_exact
    assert rows[0].fp_normalized == rows[1].fp_normalized
    assert rows[1].fp_bow == rows[2].fp_bow


def test_tok_hash_portable(spark):
    # polynomial fold matches a pure-Python reference implementation
    from pyspark.sql import functions as F

    tok = "spark"
    expected = 0
    for ch in tok:
        expected = (expected * 31 + ord(ch)) % hashing.HASH_MOD
    got = (
        spark.range(1)
        .select(hashing.tok_hash_col(F.lit(tok)).alias("h"))
        .collect()[0]
        .h
    )
    assert got == expected


# ── dedup ────────────────────────────────────────────────────────────


def test_exact_dedup(spark):
    df = dedup.exact_dedup(docs_df(spark, ["aaa", "bbb", "aaa", "aaa"]))
    rows = {r.doc_id: r for r in df.collect()}
    assert not rows[0].is_duplicate
    assert not rows[1].is_duplicate
    assert rows[2].is_duplicate and rows[2].canonical_id == 0
    assert rows[3].is_duplicate and rows[3].canonical_id == 0


def test_ngram_jaccard_pairs(spark):
    # doc0/doc1 share 2 of their trigram shingles; doc2 disjoint
    d0 = "a b c d"  # shingles: {a b c, b c d}
    d1 = "a b c d e"  # shingles: {a b c, b c d, c d e}
    d2 = "x y z w"
    df = dedup.ngram_jaccard_pairs(
        docs_df(spark, [d0, d1, d2]), n=3, threshold=0.1
    )
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc1, r.doc2) == (0, 1)
    assert r.n_shared == 2
    assert r.jaccard == pytest.approx(2 / 3)


def test_containment_pairs_catches_excerpt_jaccard_misses(spark):
    # doc0 is a 4-token excerpt fully contained in the 40-token doc1:
    # every doc0 shingle appears in doc1 (containment1 = 1.0) but the
    # union is dominated by doc1, so Jaccard is small (2/38).
    excerpt = "alpha beta gamma delta"
    long_doc = excerpt + " " + " ".join(f"tok{i}" for i in range(36))
    docs = docs_df(spark, [excerpt, long_doc, "x y z w"])
    got = dedup.containment_pairs(docs, n=3, threshold=0.9).collect()
    assert [(r.doc1, r.doc2) for r in got] == [(0, 1)]
    r = got[0]
    assert r.n_shared == 2  # {alpha beta gamma, beta gamma delta}
    assert r.containment1 == 1.0  # all of the excerpt's shingles
    assert r.containment2 == pytest.approx(2 / 38)
    assert r.containment == 1.0
    # the symmetric score misses the same pair at any usable threshold
    jac = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
    assert jac == []


def test_containment_pairs_symmetric_case_matches_jaccard_counts(spark):
    # near-identical docs: both directed scores high, max = the larger
    d0 = "a b c d"  # shingles {a b c, b c d}
    d1 = "a b c d e"  # shingles {a b c, b c d, c d e}
    got = dedup.containment_pairs(
        docs_df(spark, [d0, d1]), n=3, threshold=0.5
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc1, r.doc2, r.n_shared) == (0, 1, 2)
    assert r.containment1 == 1.0
    assert r.containment2 == pytest.approx(2 / 3)


def test_minhash_identical_docs_pair(spark):
    text = "the quick brown fox jumps over the lazy dog"
    df = dedup.minhash_dup_pairs(
        docs_df(spark, [text, text, "completely different words here entirely"]),
        threshold=0.9,
    )
    rows = df.collect()
    assert [(r.doc1, r.doc2, r.jaccard) for r in rows] == [(0, 1, 1.0)]


def test_minhash_est_pairs(spark):
    text = "the quick brown fox jumps over the lazy dog"
    df = dedup.minhash_est_pairs(
        docs_df(spark, [text, text, "completely different words here entirely"]),
        threshold=0.5,
    )
    rows = df.collect()
    # identical docs agree on all 16 components → est_jaccard exactly 1.0;
    # the dissimilar doc shares no band signature, so it never pairs
    assert [(r.doc1, r.doc2, r.est_jaccard) for r in rows] == [(0, 1, 1.0)]


def test_minhash_est_is_component_fraction(spark):
    # overlapping docs: est_jaccard must be a multiple of 1/16 and equal the
    # fraction of matching signature components
    d0 = "alpha beta gamma delta epsilon zeta eta theta"
    d1 = "alpha beta gamma delta epsilon zeta iota kappa"
    rows = dedup.minhash_est_pairs(docs_df(spark, [d0, d1]), threshold=0.0).collect()
    if rows:  # pair only exists if some band collides
        est = rows[0].est_jaccard
        assert est * 16 == int(est * 16)
        assert 0.0 <= est <= 1.0


def test_incremental_pairs_batch_vs_corpus_only(spark):
    """The incremental screen reports batch→corpus matches only: a batch
    doc that copies a corpus doc pairs with it (est 1.0), two identical
    docs WITHIN the batch never pair with each other, and corpus-corpus
    duplicates are invisible."""
    copy = "the quick brown fox jumps over the lazy dog"
    batch = docs_df(spark, [copy, copy])  # ids 0,1: within-batch dup
    corpus_rows = [
        (10, copy, "s0"),  # the standing doc the batch copies
        (11, copy, "s0"),  # corpus-corpus dup: must not be reported
        (12, "completely different words here entirely", "s1"),
    ]
    corpus_df = spark.createDataFrame(
        corpus_rows, "doc_id long, text string, source string"
    )
    rows = sorted(
        (r.new_id, r.corpus_id, r.est_jaccard)
        for r in dedup.incremental_minhash_pairs(
            batch, corpus_df, threshold=0.5
        ).collect()
    )
    assert rows == [(0, 10, 1.0), (0, 11, 1.0), (1, 10, 1.0), (1, 11, 1.0)]


def test_incremental_pairs_from_persisted_components(spark, tmp_path):
    """The persist-between-batches loop: write the corpus's component
    table to parquet, reload it, and screen a batch against it — result
    identical to the full-recompute path (the corpus text never touched)."""
    copy = "the quick brown fox jumps over the lazy dog"
    batch = docs_df(spark, [copy])
    corpus_rows = [
        (10, copy, "s0"),
        (11, "completely different words here entirely", "s1"),
    ]
    corpus_df = spark.createDataFrame(
        corpus_rows, "doc_id long, text string, source string"
    )
    path = str(tmp_path / "components")
    dedup.minhash_component_table(corpus_df).write.parquet(path)
    reloaded = spark.read.parquet(path)
    got = sorted(
        tuple(r)
        for r in dedup.incremental_minhash_pairs_from_components(
            batch, reloaded, threshold=0.5
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.incremental_minhash_pairs(
            batch, corpus_df, threshold=0.5
        ).collect()
    )
    assert got == want == [(0, 10, 1.0)]


def test_incremental_pairs_match_est_pairs_cross_slice(spark):
    """On a combined corpus, the asymmetric screen equals the symmetric
    est-pairs result restricted to cross-side pairs (same signatures,
    same estimate, same threshold)."""
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta iota kappa",
        "one two three four five six seven eight",
        "alpha beta gamma delta epsilon zeta eta theta extra",
    ]
    combined = docs_df(spark, texts)
    batch = combined.filter("doc_id % 2 = 0")
    standing = combined.filter("doc_id % 2 != 0")
    got = sorted(
        (r.new_id, r.corpus_id, r.est_jaccard)
        for r in dedup.incremental_minhash_pairs(
            batch, standing, threshold=0.0
        ).collect()
    )
    want = sorted(
        (a, b, e) if a % 2 == 0 else (b, a, e)
        for r in dedup.minhash_est_pairs(combined, threshold=0.0).collect()
        for a, b, e in [(r.doc1, r.doc2, r.est_jaccard)]
        if (a % 2) != (b % 2)
    )
    assert got == want


def test_minhash_signature_shape(spark):
    sigs = dedup.minhash_signatures(docs_df(spark, ["a b c", "a b c"])).collect()
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r.doc_id, {})[r.band] = r.band_sig
    assert set(by_doc[0]) == {0, 1, 2, 3}
    assert by_doc[0] == by_doc[1]  # identical docs → identical signatures


def test_simhash_identical_docs(spark):
    text = "one two three four five six seven"
    sigs = dedup.simhash_signatures(docs_df(spark, [text, text])).collect()
    assert sigs[0].simhash == sigs[1].simhash
    assert 0 <= sigs[0].simhash < (1 << hashing.SIMHASH_BITS)
    pairs = dedup.simhash_dup_pairs(docs_df(spark, [text, text])).collect()
    assert [(p.doc1, p.doc2, p.hamming) for p in pairs] == [(0, 1, 0)]


# ── similarity ───────────────────────────────────────────────────────


def test_knn_bruteforce_ordering(spark):
    from pyspark.sql import functions as F

    vecs = [
        [1.0, 0.0, 0.0] + [0.0] * 61,  # query
        [1.0, 0.1, 0.0] + [0.0] * 61,  # nearest
        [0.5, 1.0, 0.0] + [0.0] * 61,  # second
        [-1.0, 0.0, 0.0] + [0.0] * 61,  # opposite
    ]
    df = similarity.knn_bruteforce(
        emb_df(spark, vecs), query_pred=F.col("vec_id") == 0, k=3
    )
    rows = sorted(df.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [1, 2, 3]
    assert rows[0].cosine > rows[1].cosine > rows[2].cosine
    assert rows[2].cosine == pytest.approx(-1.0)


def test_knn_bruteforce_guards_broad_query_pred(spark):
    """A caller-supplied predicate matching more than max_queries rows must
    refuse to broadcast (the guard, not a silent quadratic scan)."""
    from pyspark.sql import functions as F

    vecs = [[float(i % 3), 1.0, 0.5] + [0.0] * 61 for i in range(8)]
    with pytest.raises(ValueError, match="ivf_knn"):
        similarity.knn_bruteforce(
            emb_df(spark, vecs), query_pred=F.lit(True), k=2, max_queries=3
        )


def test_lsh_identical_vectors_same_sig(spark):
    v = [0.3, -1.2, 0.7, 2.0] * 16
    df = similarity.lsh_bucket_assignments(emb_df(spark, [v, v]))
    sigs = {r.vec_id: r.lsh_sig for r in df.collect()}
    assert sigs[0] == sigs[1]
    assert df.count() == 8  # 2 vecs x 4 bands


def test_embedding_dup_pairs_identical(spark):
    v1 = [0.5, -0.25, 1.5, -2.0] * 16
    v2 = [x * 2 for x in v1]  # same direction → cosine 1
    v3 = [-x for x in v1]  # opposite
    df = similarity.embedding_dup_pairs(emb_df(spark, [v1, v2, v3]), threshold=0.99)
    rows = df.collect()
    assert [(r.id1, r.id2) for r in rows] == [(0, 1)]
    assert rows[0].cosine == pytest.approx(1.0)


def test_multitable_lsh_amplification(spark):
    """Table 0 IS the single-table geometry (one hyperplane stream,
    slice-extended), so n_tables=1 reproduces embedding_dup_pairs
    exactly; more tables can only ADD pairs, and scores agree wherever
    both paths emit a pair."""
    import random

    rng = random.Random(7)
    vecs = []
    for _ in range(40):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        vecs.append(v)
        vecs.append([x + rng.uniform(-0.05, 0.05) for x in v])  # near-dup
    emb = emb_df(spark, vecs)
    single = {
        (r.id1, r.id2): r.cosine
        for r in similarity.embedding_dup_pairs(
            # pin the multitable path's own 4x4 default geometry: the
            # single-table default is planner-sized and corpus-dependent
            emb, threshold=0.8, n_bands=4, bits_per_band=4
        ).collect()
    }
    one_table = {
        (r.id1, r.id2): r.cosine
        for r in similarity.embedding_dup_pairs_multitable(
            emb, n_tables=1, threshold=0.8
        ).collect()
    }
    assert one_table == single
    two_tables = {
        (r.id1, r.id2): r.cosine
        for r in similarity.embedding_dup_pairs_multitable(
            emb, n_tables=2, threshold=0.8
        ).collect()
    }
    assert set(single) <= set(two_tables)
    for pair, cos in single.items():
        assert two_tables[pair] == cos  # identical exact-cosine verify
    import pytest as _pytest

    with _pytest.raises(ValueError):
        similarity.embedding_dup_pairs_multitable(emb, n_tables=0)


def test_quantize_embeddings(spark):
    df = emb_df(spark, [[1.0, -0.5, 0.25, 0.0], [0.0, 0.0, 0.0, 0.0]])
    rows = similarity.quantize_embeddings(df).collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, {})[r.pos] = (r.qval, r.scale)
    # max|v| = 1.0 → scale = 1/127; qval = floor(v*127 + 0.5)
    assert by_vec[0][0] == (127, pytest.approx(1 / 127))
    assert by_vec[0][1][0] == math.floor(-0.5 * 127 + 0.5)  # -63
    assert by_vec[0][2][0] == math.floor(0.25 * 127 + 0.5)  # 32
    assert by_vec[0][3][0] == 0
    # zero vector → all-zero qvals, scale 0
    assert all(q == 0 for q, _ in by_vec[1].values())
    assert by_vec[1][0][1] == 0.0


def test_ivf_portable_centroids_match_default_cells(spark):
    # with per-label cells and explicit ordered-fold centroids, the probe
    # set and neighbor ranking agree with the default (avg-centroid) plan
    # on well-separated clusters
    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]]
    labels = [0, 0, 1, 1]
    df = emb_df(spark, vecs, labels)
    from pyspark.sql import functions as F

    comps = (
        df.select(
            "label", "vec_id", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("mean_val"))
    )
    cents = comps.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
            lambda s: s["mean_val"],
        ).alias("centroid")
    )
    out = similarity.ivf_knn(
        df, query_pred=F.col("vec_id") == 0, k=2, nprobe=1, centroids=cents
    ).collect()
    # nprobe=1 → only cell 0 scanned: neighbor is vec 1 alone
    assert [(r.query_id, r.neighbor_id) for r in out] == [(0, 1)]


def test_lsh_geometry_planner():
    """The sizing rule: budget held at any N it accepts, recall
    monotone-sensible, billion-doc corpora forced into few-band wide
    geometries, impossible budgets raise."""
    import math

    import pytest as _pytest

    from tax_compliance_engine_spark.operators.similarity import (
        lsh_geometry_for_corpus,
    )

    small = lsh_geometry_for_corpus(32_000)
    big = lsh_geometry_for_corpus(1_000_000_000)
    for n, g in ((32_000, small), (1_000_000_000, big)):
        assert g["n_bands"] * g["bits_per_band"] <= 63
        assert g["expected_candidates_per_doc"] <= 4.0
        assert (
            g["expected_candidates_per_doc"]
            == g["n_bands"] * float(n) / float(2 ** g["bits_per_band"])
        )
        # recall formula recomputed independently
        theta = math.acos(0.9)
        p = (1.0 - theta / math.pi) ** g["bits_per_band"]
        assert g["recall_at_design"] == 1.0 - (1.0 - p) ** g["n_bands"]
    # a billion docs needs >= 28 bits per band — single-digit bands only
    assert big["bits_per_band"] >= 28 and big["n_bands"] <= 2
    # more budget at fixed N can only help recall
    loose = lsh_geometry_for_corpus(32_000, candidates_per_doc=64.0)
    assert loose["recall_at_design"] >= small["recall_at_design"]
    # amplification: L tables reach >=90% at the design angle
    import math as _math

    for g in (small, big):
        L = g["tables_for_90pct_recall"]
        assert 1.0 - (1.0 - g["recall_at_design"]) ** L >= 0.9
        if L > 1:
            assert 1.0 - (1.0 - g["recall_at_design"]) ** (L - 1) < 0.9
    # infeasible: N so large even 1x63 floods the budget
    with _pytest.raises(ValueError):
        lsh_geometry_for_corpus(2**63, candidates_per_doc=0.5)


def test_kmeans_recovers_two_clusters(spark):
    """Lloyd training on two tight directional clusters: id-seeded cells
    (seeds 0 and 1 land one per cluster), members converge to their
    cluster, and the means equal a plain-Python vec_id-ordered fold."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],  # seed → cell 0
        [0.0, 1.0, 0.0, 0.0],  # seed → cell 1
        [0.9, 0.1, 0.0, 0.0],
        [0.1, 0.9, 0.0, 0.0],
        [1.1, 0.05, 0.0, 0.0],
    ]
    comps = similarity.kmeans_centroid_components(
        emb_df(spark, vecs), k=2, n_iter=2
    ).collect()
    by_cell = {}
    for r in comps:
        by_cell.setdefault(r.cell, {})[r.pos] = (r.mean_val, r.n_vectors)
    assert set(by_cell) == {0, 1}
    members = {0: [0, 2, 4], 1: [1, 3]}
    for cell, ids in members.items():
        for pos in range(4):
            acc = 0.0
            for i in ids:  # vec_id-ordered sequential fold
                acc = acc + vecs[i][pos]
            mean, n = by_cell[cell][pos]
            assert n == len(ids)
            assert mean == acc / len(ids)


def test_semdedup_groups_and_keep_rule(spark):
    """SemDeDup semantics on a hand-built geometry: two k-means cells,
    one near-identical pair inside each, cross-cell/loose pairs never
    grouped; every group keeps exactly one member and it is the argmin
    of cent_cos (the paper's keep-the-atypical rule), ties impossible
    here; singletons keep themselves."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],     # 0: seed A
        [0.0, 1.0, 0.0, 0.0],     # 1: seed B
        [0.999, 0.04, 0.0, 0.0],  # 2: near-dup of 0 (cos≈0.9992)
        [0.98, 0.2, 0.0, 0.0],    # 3: cell A, loose (cos to 0 ≈ 0.98)
        [0.0, 0.9, 0.43, 0.0],    # 4: cell B, loose
        [0.05, 0.999, 0.0, 0.0],  # 5: near-dup of 1 (cos≈0.9987)
    ]
    out = {
        r.vec_id: r
        for r in similarity.semdedup(
            emb_df(spark, vecs), k=2, n_iter=2, threshold=0.99
        ).collect()
    }
    assert len(out) == 6
    # cells: {0,2,3} together, {1,4,5} together
    assert out[0].cell == out[2].cell == out[3].cell
    assert out[1].cell == out[4].cell == out[5].cell
    assert out[0].cell != out[1].cell
    # ε-groups: {0,2}, {1,5}, singletons 3 and 4
    assert out[0].group_id == out[2].group_id == 0
    assert out[1].group_id == out[5].group_id == 1
    assert out[3].group_id == 3 and out[4].group_id == 4
    assert out[3].keep and out[4].keep  # singletons keep themselves
    # exactly one keep per group, and it's the lowest-cent_cos member
    for a, b in [(0, 2), (1, 5)]:
        assert out[a].keep != out[b].keep
        kept = a if out[a].keep else b
        dropped = b if out[a].keep else a
        assert out[kept].cent_cos <= out[dropped].cent_cos


def test_kmeans_mega_cell_two_level_fold(spark):
    """A cell swallowing (nearly) the whole corpus exercises the sharded
    M-step: with 600 members and ~3-wide id shards the two-level fold
    must equal the Python recomputation of the SAME shape (per-shard
    id-ordered folds, then shard partials in shard order) — which is a
    different double than a flat fold, by design."""
    vecs = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]] + [
        [1.0 + (i % 7) * 0.01, (i % 3) * 0.001, 0.0, 0.0]
        for i in range(2, 600)
    ]
    comps = similarity.kmeans_centroid_components(
        emb_df(spark, vecs), k=2, n_iter=1, shard_count=256
    ).collect()
    by_cell = {}
    for r in comps:
        by_cell.setdefault(r.cell, {})[r.pos] = (r.mean_val, r.n_vectors)
    members = {0: [0] + list(range(2, 600)), 1: [1]}
    w = (599 - 0) // 256 + 1
    for cell, ids in members.items():
        for pos in range(4):
            shards: dict[int, float] = {}
            counts: dict[int, int] = {}
            for i in ids:  # ids ascend, so per-shard folds are id-ordered
                s = i // w
                shards[s] = shards.get(s, 0.0) + vecs[i][pos]
                counts[s] = counts.get(s, 0) + 1
            total = 0.0
            for s in sorted(shards):
                total = total + shards[s]
            mean, n = by_cell[cell][pos]
            assert n == len(ids)
            assert mean == total / float(len(ids))


def test_kmeans_empty_cell_drops_out(spark):
    """A seed duplicated by a smaller-id vector attracts no members (ties
    break to the smaller cell id), so its cell disappears — the Lloyd
    degeneracy the docstring pins."""
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [1.0, 0.0, 0.0, 0.0],  # duplicate of vec 0, seeds cell 2
    ]
    comps = similarity.kmeans_centroid_components(
        emb_df(spark, vecs), k=3, n_iter=1
    ).collect()
    assert {r.cell for r in comps} == {0, 1}
    n_by_cell = {r.cell: r.n_vectors for r in comps}
    assert n_by_cell == {0: 2, 1: 1}


def test_label_centroids(spark):
    df = similarity.label_centroids(
        emb_df(
            spark,
            [[1.0] * 64, [3.0] * 64, [10.0] * 64],
            labels=[7, 7, 9],
        )
    )
    rows = {r.label: r for r in df.collect()}
    assert rows[7].n_vectors == 2
    assert rows[7].centroid == [2.0] * 64
    assert rows[9].centroid == [10.0] * 64


# ── multimodal plumbing ──────────────────────────────────────────────


def test_media_table_and_features(spark):
    media = multimodal.to_media_table(docs_df(spark, ["hello!", "abc"]))
    rows = {r.doc_id: r for r in media.collect()}
    assert bytes(rows[0].payload) == b"hello!"
    assert rows[0].payload_size == 6
    assert rows[0].media_type == "text" and rows[0].format == "txt"

    feats = {r.doc_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[0].feature == [ord(c) for c in "hello!"][:8]
    assert feats[1].feature == [97, 98, 99]
    assert feats[0].decoder == "stub-first8bytes"


def test_decode_image_unsupported_format_raises(spark):
    media = multimodal.to_media_table(docs_df(spark, ["some text"]))
    with pytest.raises(Exception, match="no decoder for format"):
        multimodal.decode_image(media).collect()  # format 'txt' ≠ 'ppm'


def test_synth_ppm_decode_roundtrip(spark):
    """The REAL decode path: synthesize binary-P6 PPMs, decode with numpy,
    and check every stat against the analytic per-row-color formula."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_image(multimodal.synth_ppm(ids)).collect()
    }
    for d in range(12):
        w, h = 4 + d % 5, 3 + d % 4
        r = got[d]
        assert (r.img_w, r.img_h, r.n_pixels) == (w, h, w * h)
        assert r.sum_r == w * sum((d + y) % 256 for y in range(h))
        assert r.sum_g == w * sum((2 * d + 3 * y) % 256 for y in range(h))
        assert r.sum_b == w * sum((5 * d + 7 * y) % 256 for y in range(h))


def test_decode_ppm_parser_edges():
    from tax_compliance_engine_spark.operators.multimodal import _decode_ppm

    ok = _decode_ppm(b"P6\n# a comment\n2 1\n255\n" + bytes(6))
    assert ok is not None and ok.shape == (1, 2, 3)
    assert _decode_ppm(b"JFIF....") is None  # wrong magic
    assert _decode_ppm(b"P6\n2 2\n255\n" + bytes(3)) is None  # truncated
    assert _decode_ppm(b"P6\n2 2\n65535\n" + bytes(12)) is None  # 16-bit
    assert _decode_ppm(None) is None


def test_decode_image_null_stats_for_malformed_ppm(spark):
    media = spark.createDataFrame(
        [(0, "image", bytearray(b"P6\nnot a header"), 15, "ppm")],
        multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.decode_image(media).collect()[0]
    assert r.doc_id == 0 and r.img_w is None and r.sum_r is None


def test_extract_features_real_ppm_decode(spark):
    ids = spark.createDataFrame([(7,)], "doc_id long")
    r = multimodal.extract_features(multimodal.synth_ppm(ids)).collect()[0]
    assert r.decoder == "ppm-numpy"
    w, h = 4 + 7 % 5, 3 + 7 % 4
    mean_r = (w * sum((7 + y) % 256 for y in range(h))) // (w * h)
    assert r.feature[:3] == [w, h, mean_r]


def test_synth_wav_decode_roundtrip(spark):
    """The REAL audio decode path: synthesize RIFF/WAVE PCM-16, decode
    with numpy, and check every stat against the analytic sample
    formula s_t = ((7d + 31t) mod 2048) - 1024 over n = 20 + d%13."""
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_audio(multimodal.synth_wav(ids)).collect()
    }
    for d in range(10):
        n = 20 + d % 13
        s = [((7 * d + 31 * t) % 2048) - 1024 for t in range(n)]
        r = got[d]
        assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, n)
        assert r.peak == max(abs(v) for v in s)
        assert r.sum_abs == sum(abs(v) for v in s)
        assert r.sum_sq == sum(v * v for v in s)


def test_g711_ulaw_decode_matches_reference_expansion(spark):
    """The REAL µ-law path: synth_wav_g711 companded bytes expand
    through the table-driven RIFF decode to exactly the ITU reference
    formula's linear samples (checked against known anchor points in
    the module's own unit helpers, and here against a per-byte Python
    recomputation)."""
    from tax_compliance_engine_spark.operators.multimodal import (
        _ulaw_to_linear,
    )

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_audio(
            multimodal.synth_wav_g711(ids, law="ulaw")
        ).collect()
    }
    for d in range(8):
        n = 16 + d % 11
        s = [_ulaw_to_linear((3 * d + 7 * t) % 256) for t in range(n)]
        r = got[d]
        assert (r.sample_rate, r.n_channels, r.n_samples) == (8000, 1, n)
        assert r.peak == max(abs(v) for v in s)
        assert r.sum_abs == sum(abs(v) for v in s)
        assert r.sum_sq == sum(v * v for v in s)


def test_g711_alaw_decode_and_anchor_points():
    """A-law WAVs (format tag 6) decode through the same chunk walk;
    the expansion hits the ITU anchor magnitudes (±32256 max, ±8 min)."""
    import struct

    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        _alaw_to_linear,
        _decode_wav,
    )

    assert _alaw_to_linear(0xAA) == 32256 and _alaw_to_linear(0x2A) == -32256
    assert _alaw_to_linear(0xD5) == 8 and _alaw_to_linear(0x55) == -8
    data = bytes([0xAA, 0x2A, 0xD5, 0x55])
    fmt = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    decoded = _decode_wav(wav)
    assert decoded is not None
    rate, ch, samples = decoded
    assert (rate, ch) == (8000, 1)
    assert samples.dtype == np.int16
    assert list(samples[:, 0]) == [32256, -32256, 8, -8]
    # unsupported codec tags still decode to None, not garbage
    bad_fmt = struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 8)  # ADPCM
    bad = wav.replace(fmt, bad_fmt)
    assert _decode_wav(bad) is None


def test_mp3_frame_walk(spark):
    """The REAL MPEG framing parser: synth_mp3 streams probe to the
    analytic geometry (frame counts, exact sample counts, CBR/VBR, tag
    presence), lost-sync and truncation degrade to the intact prefix,
    and garbage probes to NULLs."""
    from tax_compliance_engine_spark.operators.multimodal import (
        _MP3_BITRATES,
        _probe_mp3,
        probe_mp3,
        synth_mp3,
    )

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {r.doc_id: r for r in probe_mp3(synth_mp3(ids)).collect()}
    for i in range(12):
        n = 3 + i % 4
        r = got[i]
        assert (r.n_frames, r.samplerate, r.n_samples) == (n, 44100, n * 1152)
        assert r.is_vbr == (i % 3 != 0)
        assert r.has_id3 == (i % 2 == 1)
        exp_total = sum(
            (
                144
                * _MP3_BITRATES[1 + (i % 14 if i % 3 == 0 else (i + f) % 14)]
                * 1000
            )
            // 44100
            + (i + f) % 2
            for f in range(n)
        )
        assert r.total_frame_bytes == exp_total
    # malformed payloads and non-MPEG1/LayerIII headers
    assert _probe_mp3(b"not audio at all") is None
    assert _probe_mp3(bytes([0xFF, 0xF3, 0x10, 0])) is None  # MPEG2
    # a free-bitrate header (index 0) stops the walk
    assert _probe_mp3(bytes([0xFF, 0xFB, 0x00, 0]) + b"x" * 500) is None
    # Spark-side NULL columns for malformed rows
    bad = spark.createDataFrame(
        [(7, "audio", bytearray(b"junk"), 4, "mp3")],
        multimodal.MEDIA_SCHEMA,
    )
    row = probe_mp3(bad).collect()[0]
    assert row.n_frames is None and row.is_vbr is None


def test_decode_wav_parser_edges(spark):
    import struct

    from tax_compliance_engine_spark.operators.multimodal import _decode_wav

    assert _decode_wav(None) is None
    assert _decode_wav(b"OggS....junk") is None  # wrong magic
    assert _decode_wav(b"RIFF\x04\x00\x00\x00WAVE") is None  # no chunks
    # valid two-sample mono wav parses; odd-size chunk before it is padded
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    odd = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # 3-byte chunk + pad
    data = struct.pack("<hh", -5, 7)
    body = (
        b"WAVE"
        + odd
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, samples = _decode_wav(wav)
    assert (rate, ch) == (8000, 1)
    assert samples.flatten().tolist() == [-5, 7]
    # compressed formats (audio_format != 1) refuse to decode
    badfmt = struct.pack("<HHIIHH", 85, 1, 8000, 16000, 2, 16)  # MP3 tag
    bad = (
        b"RIFF"
        + struct.pack("<I", 28)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(badfmt))
        + badfmt
        + b"data"
        + struct.pack("<I", 0)
    )
    assert _decode_wav(bad) is None
    # malformed payloads yield NULL stats through decode_audio
    media = spark.createDataFrame(
        [(0, "audio", bytearray(b"RIFFxxxxWAVEgarbage"), 19, "wav")],
        multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.decode_audio(media).collect()[0]
    assert r.doc_id == 0 and r.n_samples is None and r.peak is None
    # non-wav formats raise (no codec libraries available)
    txt = multimodal.to_media_table(docs_df(spark, ["hello"]))
    with pytest.raises(Exception, match="no decoder for format"):
        multimodal.decode_audio(txt).collect()


def test_resample_audio_analytic_roundtrip(spark):
    """REAL resample path: downsample synth WAVs 8 kHz → 2 kHz with the
    nearest-sample pick; every output sample checked against the
    closed-form source function, and the output re-decodes as a valid
    WAV at the new rate."""
    from tax_compliance_engine_spark.operators.multimodal import _decode_wav

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    rows = {
        r.doc_id: r
        for r in multimodal.resample_audio(
            multimodal.synth_wav(ids), 2000
        ).collect()
    }
    for d in range(6):
        n_src = 20 + d % 13
        n_dst = (n_src * 2000) // 8000
        r = rows[d]
        assert r.decoder == "wav-numpy-nearest"
        assert r.n_samples_out == n_dst
        rate, ch, samples = _decode_wav(bytes(r.resampled))
        assert (rate, ch, samples.shape[0]) == (2000, 1, n_dst)
        for t in range(n_dst):
            src_t = int((t + 0.5) * n_src / n_dst)
            want = ((7 * d + 31 * src_t) % 2048) - 1024
            assert int(samples[t, 0]) == want


def test_extract_features_real_wav_decode(spark):
    ids = spark.createDataFrame([(3,)], "doc_id long")
    r = multimodal.extract_features(multimodal.synth_wav(ids)).collect()[0]
    assert r.decoder == "wav-numpy"
    n = 20 + 3 % 13
    peak = max(abs(((7 * 3 + 31 * t) % 2048) - 1024) for t in range(n))
    assert r.feature == [8000, 1, n, peak]


def test_near_dedup_filter(spark):
    text = "the quick brown fox jumps over the lazy dog"
    docs = docs_df(spark, [text, text, "totally different content here now"])
    pairs = dedup.minhash_dup_pairs(docs, threshold=0.9)
    kept = sorted(
        r.doc_id for r in dedup.near_dedup_filter(docs, pairs).collect()
    )
    assert kept == [0, 2]  # doc1 dropped (pairs with smaller-id doc0)


def test_token_counts(spark):
    df = textops.token_counts(
        docs_df(spark, ["Hello, world's 42 cats!", ""])
    )
    rows = {r.doc_id: r for r in df.collect()}
    # ws: ["Hello,", "world's", "42", "cats!"]
    assert rows[0].n_ws_tokens == 4
    # bpe-ish: [Hello][,][ world]['s][ 42][ cats][!]
    assert rows[0].n_bpe_tokens == 7
    assert rows[1].n_ws_tokens == 0 and rows[1].n_bpe_tokens == 0


def test_minhash_dup_pairs_plans_identical(spark):
    """The two exact-verify layouts (candidate-stream and bucket-local)
    must produce the identical pair set with identical jaccards, and the
    auto budget probe must pick bucket_local under a tiny budget and
    candidates under a huge one."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "a completely different document about spark plans",
        "the quick brown fox jumps over the lazy dog",
        "yet another unrelated piece of text entirely here",
    ]
    docs = docs_df(spark, texts)
    got = {}
    for plan in ("candidates", "bucket_local"):
        rows = dedup.minhash_dup_pairs(docs, threshold=0.3, plan=plan).collect()
        got[plan] = sorted((r.doc1, r.doc2, r.jaccard) for r in rows)
    assert got["candidates"] == got["bucket_local"]
    assert got["candidates"]  # non-empty fixture

    per_doc = dedup._minhash_per_doc(docs, "text", with_token_sets=True)
    assert dedup._choose_verify_plan(per_doc, 1) == "bucket_local"
    assert dedup._choose_verify_plan(per_doc, 1 << 60) == "candidates"
    with pytest.raises(ValueError, match="plan must be"):
        dedup.minhash_dup_pairs(docs, plan="nope")


def test_verify_plan_cross_session_memo(spark, tmp_path, monkeypatch):
    """The auto-plan probe must be skipped on a file-snapshot memo hit
    (cross-session reuse) and re-run when the input files change."""
    monkeypatch.setenv("TCE_VERIFY_PLAN_MEMO", str(tmp_path / "memo.json"))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    docs = spark.read.parquet(src)
    per_doc = dedup._minhash_per_doc(docs, "text", with_token_sets=True)
    budget = 123_456_789

    dedup._VERIFY_PLAN_MEMO.clear()
    first = dedup._choose_verify_plan(per_doc, budget)
    assert first in ("candidates", "bucket_local")

    # poison the persistent store with the opposite choice: a fresh
    # "session" (cleared in-memory memo) must return it WITHOUT probing —
    # proof the file-snapshot memo short-circuits the Spark job
    other = "bucket_local" if first == "candidates" else "candidates"
    key = dedup._verify_plan_file_key(per_doc, budget)
    assert key is not None
    dedup._verify_plan_store_put(key, other)
    dedup._VERIFY_PLAN_MEMO.clear()
    assert dedup._choose_verify_plan(per_doc, budget) == other

    # rewriting the input invalidates the snapshot key → probe re-runs
    spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(src)
    docs2 = spark.read.parquet(src)
    per_doc2 = dedup._minhash_per_doc(docs2, "text", with_token_sets=True)
    dedup._VERIFY_PLAN_MEMO.clear()
    assert dedup._choose_verify_plan(per_doc2, budget) == first

    # in-memory inputs have no file lineage → no snapshot key
    mem = dedup._minhash_per_doc(
        docs_df(spark, ["alpha beta"]), "text", with_token_sets=True
    )
    assert dedup._verify_plan_file_key(mem, budget) is None

    # a DIFFERENT derivation over the SAME files (filtered subset) must
    # get its own key — plan shape is part of the snapshot digest
    filtered = dedup._minhash_per_doc(
        docs2.filter("doc_id % 2 = 0"), "text", with_token_sets=True
    )
    k_full = dedup._verify_plan_file_key(per_doc2, budget)
    k_filt = dedup._verify_plan_file_key(filtered, budget)
    assert k_filt is not None and k_filt != k_full


def test_dup_clusters_transitive(spark):
    # chain 0-1, 1-2 → one cluster labeled 0; pair 3-4 → cluster 3; 5 singleton
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "doc1 long, doc2 long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.dup_clusters(docs, pairs).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_cluster_representatives_longest_wins(spark):
    """Resolution rule: per cluster keep the member with the most
    tokens, ties to the smallest doc_id; singletons represent
    themselves."""
    docs = spark.createDataFrame(
        [
            (0, "a b"),          # cluster 0 (chain 0-1-2)
            (1, "a b c d e"),    # longest in cluster 0 → representative
            (2, "a b c"),
            (3, "x y"),          # cluster 3 (pair 3-4), tie on 2 tokens
            (4, "p q"),          # → min doc_id 3 wins
            (5, "solo doc"),     # singleton
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "doc1 long, doc2 long"
    )
    got = {
        r.cluster_id: (r.rep_doc_id, r.rep_tokens, r.n_members)
        for r in dedup.cluster_representatives(docs, pairs).collect()
    }
    assert got == {0: (1, 5, 3), 3: (3, 2, 2), 5: (5, 2, 1)}


def test_est_pair_quality_perfect_agreement(spark):
    """On a corpus of exact duplicate pairs, the est and exact streams
    agree completely: precision = recall = 1.0, mean_abs_err = 0.0
    (identical docs share every minhash component AND every token), and
    the counts match the pair count."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "one two three four five six"),
            (4, "totally unrelated text payload here"),
        ],
        "doc_id long, text string",
    )
    row = dedup.est_pair_quality(docs, threshold=0.5).collect()[0]
    assert (row.n_est, row.n_exact, row.n_both) == (2, 2, 2)
    assert row.precision == 1.0 and row.recall == 1.0
    assert row.mean_abs_err == 0.0


def test_est_pair_quality_shares_one_signature_frame(spark):
    """r14 plan pin: est_pair_quality feeds BOTH its lineages (est pairs
    + exact verify) from ONE cached per-doc signature frame instead of
    composing the public operators, which each cache their OWN frame —
    two tokenize+minhash aggregation passes (and two source scans) over
    the same corpus.  The shared frame is the token-set-bearing one, so
    every InMemoryRelation leaf in the optimized plan must carry
    tok_set: the est side's private (token-set-free) cache reappearing
    would betray a second aggregation pass.  Sharing is value-neutral —
    the est tail reads only the _mh component columns, which are
    identical with or without the extra collect_set aggregate (the
    perfect-agreement test above pins the values)."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
        ],
        "doc_id long, text string",
    )
    out = dedup.est_pair_quality(docs, threshold=0.5, sample_mod=None)
    # The assertion string-matches attribute lists, which toString()
    # truncates past spark.sql.debug.maxToStringFields (default 25) —
    # widen it for the duration so a schema growing past 25 columns
    # can't silently hide tok_set from the rendered plan (r14 advisor).
    prev = spark.conf.get("spark.sql.debug.maxToStringFields", "25")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    try:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.debug.maxToStringFields", prev)
    rels = [ln for ln in plan.splitlines() if "InMemoryRelation" in ln]
    assert rels, "expected the shared per-doc frame to be cached"
    assert all("tok_set" in ln for ln in rels), (
        "an InMemoryRelation without tok_set means a second, "
        "est-side-only signature aggregation came back:\n" + "\n".join(rels)
    )


def test_banded_memos_are_keyed_on_geometry(spark):
    """The memoized banded join condition and estimated-Jaccard trees
    take the MinHash geometry as their cache key: the same geometry hits
    the memo, a changed band or permutation count builds a new tree."""
    n_bands, n_perms = hashing.MINHASH_BANDS, len(hashing.MINHASH_PERMS)
    cond = dedup._banded_join_cond(n_bands)
    assert dedup._banded_join_cond(n_bands) is cond
    wider = dedup._banded_join_cond(n_bands + 1)
    assert wider is not cond and str(wider) != str(cond)
    est = dedup._est_jaccard_col(n_perms)
    assert dedup._est_jaccard_col(n_perms) is est
    half = dedup._est_jaccard_col(n_perms // 2)
    assert half is not est
    assert f"_mh{n_perms - 1}" in str(est)
    assert f"_mh{n_perms - 1}" not in str(half)


def test_est_quality_planner_gate_and_sampled_twin(spark):
    """est_pair_quality's DEFAULT is scale-safe: the pure planner rule
    keeps the full two-lineage form only up to 20k docs and sizes an
    LCG sample_mod to ~10k docs above (so the default can never hand a
    large corpus the plan that OOM'd the 8 GiB driver at 10×); 'auto'
    on a small corpus equals the forced full form; and the SAMPLED form
    is bit-exact against its DuckDB twin (the parametric-registry path
    a beyond-gate sweep takes)."""
    rule = dedup.est_quality_sample_mod_for_corpus
    assert rule(500) is None and rule(20_000) is None
    assert rule(20_001) == 3  # ceil(20001/10000)
    assert rule(50_000) == 5
    assert rule(10_000_000) == 1000
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "one two three four five six"),
            (4, "totally unrelated text payload here"),
        ],
        "doc_id long, text string",
    )
    auto = dedup.est_pair_quality(docs).collect()[0]
    full = dedup.est_pair_quality(docs, sample_mod=None).collect()[0]
    assert auto == full
    # sampled form vs the DuckDB twin over real parquet (sample_mod=2
    # keeps ~half of sf0.001's 500 docs; both engines must agree on
    # every field bit-for-bit, including the two-level error fold)
    import duckdb

    from tax_compliance_engine_spark.plans import oracle_dataops as od

    sf = "/root/testdata/sf0.001"
    real = spark.read.parquet(f"{sf}/documents.parquet")
    srow = dedup.est_pair_quality(
        real, threshold=0.5, sample_mod=2
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{sf}/documents.parquet'"
    )
    dcols = con.execute(
        od.dedup_est_quality_sql(0.5, sample_mod=2)
    ).fetchone()
    ddesc = [
        d[0]
        for d in con.execute(
            od.dedup_est_quality_sql(0.5, sample_mod=2)
        ).description
    ]
    drow = dict(zip(ddesc, dcols))
    for field in srow.asDict():
        assert srow[field] == drow[field], (field, srow[field], drow[field])
    assert srow.n_est > 0  # the sample kept real pairs to grade


def test_dup_threshold_curve_monotone(spark):
    """The calibration curve reports every grid point, counts are
    non-increasing in the threshold, and the loosest point equals the
    dup-pairs count at that threshold (one pair pass, graded in-stage)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    curve = similarity.dup_threshold_curve(emb).collect()
    grid = [r.threshold for r in curve]
    assert grid == sorted(grid) and len(grid) == 6
    counts = [r.n_pairs for r in curve]
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    base_pairs = similarity.embedding_dup_pairs(emb, threshold=grid[0])
    assert counts[0] == base_pairs.count()


def test_cluster_representatives_doc_stats_identity(spark):
    """Both stats sources — the fresh F.size scan and the pair
    lineage's own token counts (minhash_est_pairs_stats) — yield the
    IDENTICAL representative table: same argmax, same tie-breaks, and
    a zero-token doc (absent from the aggregated stats) coalesces to
    the 0 the scan reports."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (0, "a b c"),
            (1, "a b c d"),
            (2, "a b c e f"),
            (3, ""),  # zero tokens: no stats row, still a singleton rep
            (4, "x y z x y z"),
        ],
        "doc_id long, text string",
    )
    pairs, doc_stats = dedup.minhash_est_pairs_stats(docs, threshold=0.2)
    via_scan = sorted(
        map(tuple, dedup.cluster_representatives(docs, pairs).collect())
    )
    via_stats = sorted(
        map(
            tuple,
            dedup.cluster_representatives(
                docs, pairs, doc_stats=doc_stats
            ).collect(),
        )
    )
    assert via_scan == via_stats
    # and the stats counts are exactly F.size(tokens_col(text))
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(textops.tokens_col(F.col("text"))).alias("n"),
        ).collect()
        if r.n > 0
    }
    assert {r.doc_id: r.n_tokens for r in doc_stats.collect()} == want
    # est pairs themselves are unchanged by the stats-returning form
    plain = dedup.minhash_est_pairs(docs, threshold=0.2)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pairs.collect())
    )


def test_dup_clusters_long_chain_logarithmic(spark):
    """A 100-node path graph (diameter 99) must converge well inside a
    logarithmic round budget — the case plain min-label propagation
    (one hop per round) cannot touch — and still label every node with
    the chain minimum.  max_iter=8 ≪ 99 pins the O(log d) behavior."""
    n = 100
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc1 long, doc2 long"
    )
    got = dedup.dup_clusters(docs, pairs, max_iter=8).collect()
    assert {r.cluster_id for r in got} == {0} and len(got) == n


def test_dup_clusters_guard_raises_without_fixed_point(spark):
    """A graph with two local minima in one component (node 1 is
    smaller than its only neighbor 3, so level 0 contracts 2-0-3-1 to
    the supergraph edge 0-1) needs a second contraction level —
    max_iter=1 must raise rather than return unconverged labels."""
    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 0), (0, 3), (3, 1)], "doc1 long, doc2 long"
    )
    with pytest.raises(RuntimeError, match="fixed point"):
        dedup.dup_clusters(docs, pairs, max_iter=1)
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.dup_clusters(docs, pairs, max_iter=2).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}  # 2 levels suffice


def test_repetition_stats_edges(spark):
    from tax_compliance_engine_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),            # one token repeated: run=4, fracs=1
            (2, "x y x y x y"),        # alternating: top bigram 'y x' or 'x y'
            (3, "ten fully unique words with no repeated grams at all"),
            (4, ""),                   # empty doc
            (5, "solo"),               # single token: no bigrams/trigrams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.repetition_stats(docs).collect()}

    assert out[1]["n_tokens"] == 4
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0  # all 3 bigrams are 'a a'
    assert out[1]["max_token_run"] == 4
    assert out[1]["is_repetitive"]

    # x y x y x y: bigrams = [x y, y x, x y, y x, x y] -> top 3/5
    assert out[2]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[2]["max_token_run"] == 1
    assert out[2]["is_repetitive"]  # bigram frac 0.6 > 0.18

    assert out[3]["top_token_frac"] == pytest.approx(1 / 10)
    assert out[3]["top_bigram_frac"] == pytest.approx(1 / 9)
    assert not out[3]["is_repetitive"]

    assert out[4]["n_tokens"] == 0
    assert out[4]["top_token_frac"] == 0.0
    assert out[4]["max_token_run"] == 0
    assert not out[4]["is_repetitive"]

    assert out[5]["n_tokens"] == 1
    assert out[5]["top_token_frac"] == 1.0  # single token is 100% of mass
    assert out[5]["top_bigram_frac"] == 0.0  # but no n-grams exist
    assert out[5]["is_repetitive"]  # top_token_frac > 0.3 by construction


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count must
    join with zero Exchange — the co-located-join contract at 100 TB."""
    from tax_compliance_engine_spark.sources import bucketing

    # (warehouse dir is static config — managed test tables land in the
    # session default ./spark-warehouse and are dropped in the finally)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    try:
        bucketing.write_bucketed(
            orders.withColumnRenamed("o_orderkey", "okey"), "b_orders", "okey", 8
        )
        bucketing.write_bucketed(
            lineitem.withColumnRenamed("l_orderkey", "okey"), "b_lineitem", "okey", 8
        )
        assert bucketing.bucketed_join_plan_is_shuffle_free(
            spark, "b_orders", "b_lineitem", "okey"
        )
        # sanity: the join result is the same as the shuffled plain join
        n_bucketed = (
            spark.table("b_orders").join(spark.table("b_lineitem"), "okey").count()
        )
        n_plain = orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        ).count()
        assert n_bucketed == n_plain
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_scrub_pii_crafted(spark):
    rows = {
        r["doc_id"]: r
        for r in textops.scrub_pii(
            docs_df(
                spark,
                [
                    "contact me at bob@example.com or 555-867-5309 today",
                    "server 10.0.0.1 logs at https://logs.example.com/x?y=1 now",
                    "perfectly clean text with no identifiers",
                ],
            )
        ).collect()
    }
    assert rows[0].text_scrubbed == "contact me at <EMAIL> or <PHONE> today"
    assert rows[0].n_email == 1 and rows[0].n_phone == 1 and rows[0].had_pii
    assert rows[1].text_scrubbed == "server <IP> logs at <URL> now"
    assert rows[1].n_ipv4 == 1 and rows[1].n_url == 1
    assert rows[2].text_scrubbed == rows[2].text_scrubbed.strip()
    assert not rows[2].had_pii and rows[2].n_email == 0


def test_scrub_pii_matches_duckdb_on_pii_text(spark):
    """Engine parity on text that actually CONTAINS PII (the synthetic
    corpus is clean, so the swept oracle row alone can't prove the
    patterns agree)."""
    import duckdb

    from tax_compliance_engine_spark.plans import oracle_dataops

    texts = [
        "a@b.io and c.d-e@f.org.uk wrote from 192.168.1.255",
        "visit http://x.y/z or https://a.b/c?d=e#f then dial 123.456.7890",
        "1.2.3.4.5 is not an ip boundary case 999.999.999.999 is matched",
        "",
    ]
    sdf = textops.scrub_pii(docs_df(spark, texts))
    got = {tuple(r) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") t(doc_id, text)",
        texts,
    )
    want = {tuple(r) for r in con.execute(oracle_dataops.doc_scrub_pii_sql()).fetchall()}
    assert got == want


def test_resize_media_plumbing(spark):
    media = multimodal.to_media_table(
        docs_df(spark, ["x" * 500, "short"])
    )
    rows = {r.doc_id: r for r in multimodal.resize_media(media, 64, 64).collect()}
    # budget = max(64, 64*64//64) = 64
    assert rows[0].thumb_size == 64 and len(rows[0].thumb) == 64
    assert rows[1].thumb_size == 5  # shorter payloads pass through whole
    assert rows[0].target_w == 64 and rows[0].decoder == "stub-truncate"


def test_sample_frames_explodes_rows(spark):
    media = multimodal.to_media_table(
        docs_df(spark, ["a" * 200, "tiny"])
    )
    frames = multimodal.sample_frames(media, frame_bytes=32, every_n=2).collect()
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    # 200 bytes → 6 full frames → indices 0,2,4 kept
    assert sorted(f.frame_idx for f in by_doc[0]) == [0, 2, 4]
    assert all(f.frame_size == 32 for f in by_doc[0])
    # frame content is the corresponding payload slice
    f0 = min(by_doc[0], key=lambda f: f.frame_idx)
    assert bytes(f0.frame_payload) == b"a" * 32
    # 4-byte payload has no full frame
    assert 1 not in by_doc


def test_resize_media_ppm_analytic_roundtrip(spark):
    """REAL resize path: nearest-neighbor thumbnails of synth_ppm payloads,
    every output pixel checked against the closed-form source pixel
    function (source row y is color ((i+y), (2i+3y), (5i+7y)) mod 256 and
    NN maps target row ty to source row floor((ty+0.5)·h/th))."""
    from tax_compliance_engine_spark.operators.multimodal import _decode_ppm

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    media = multimodal.synth_ppm(ids)
    tw, th = 3, 2
    rows = {
        r.doc_id: r for r in multimodal.resize_media(media, tw, th).collect()
    }
    for i in range(6):
        w, h = 4 + i % 5, 3 + i % 4
        r = rows[i]
        assert r.decoder == "ppm-numpy-nn"
        arr = _decode_ppm(bytes(r.thumb))
        assert arr is not None and arr.shape == (th, tw, 3)
        for ty in range(th):
            sy = int((ty + 0.5) * h / th)
            want = ((i + sy) % 256, (2 * i + 3 * sy) % 256, (5 * i + 7 * sy) % 256)
            for tx in range(tw):
                assert tuple(int(v) for v in arr[ty, tx]) == want


def test_resize_media_malformed_ppm_null_thumb(spark):
    media = spark.createDataFrame(
        [(0, "image", bytearray(b"P6\nnot a header"), 15, "ppm")],
        multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.resize_media(media, 4, 4).collect()[0]
    assert r.thumb is None and r.thumb_size is None
    assert r.decoder == "ppm-numpy-nn"


def test_sample_frames_ppm_real_boundaries(spark):
    """REAL demux path: a 'video' of back-to-back P6 frames with different
    dimensions splits on parsed header boundaries (not byte chunks), and
    every sampled frame decodes individually."""
    from tax_compliance_engine_spark.operators.multimodal import _decode_ppm

    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    parts = {
        r.doc_id: bytes(r.payload)
        for r in multimodal.synth_ppm(ids).collect()
    }
    video = b"".join(parts[i] for i in range(5))
    media = spark.createDataFrame(
        [(99, "video", bytearray(video), len(video), "ppm")],
        multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.sample_frames(media, every_n=2).collect()
    assert sorted(f.frame_idx for f in frames) == [0, 2, 4]
    for f in frames:
        i = f.frame_idx
        assert bytes(f.frame_payload) == parts[i]
        arr = _decode_ppm(bytes(f.frame_payload))
        assert arr is not None
        assert arr.shape == (3 + i % 4, 4 + i % 5, 3)
    # a truncated tail frame is dropped, earlier frames still demux
    cut = spark.createDataFrame(
        [(7, "video", bytearray(video[: len(video) - 4]), len(video) - 4, "ppm")],
        multimodal.MEDIA_SCHEMA,
    )
    idxs = sorted(
        f.frame_idx
        for f in multimodal.sample_frames(cut, every_n=1).collect()
    )
    assert idxs == [0, 1, 2, 3]


def test_corpus_io_roundtrip_all_formats(spark, tmp_path):
    """documents survive a write/read round trip bit-identically in every
    supported container format (CSV nulls excepted — header-CSV cannot
    distinguish null from empty string, so text-bearing rows only)."""
    from tax_compliance_engine_spark.sources import corpus_io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(docs.collect())
    for fmt in ("parquet", "orc", "jsonl", "csv"):
        path = str(tmp_path / f"rt_{fmt}")
        corpus_io.write_documents(docs, path, fmt=fmt)
        scan = corpus_io.read_documents(spark, path, fmt=fmt)
        assert scan.rejects.count() == 0, fmt
        assert sorted(scan.docs.collect()) == want, fmt


def test_corpus_io_quarantines_malformed_jsonl(spark, tmp_path):
    from tax_compliance_engine_spark.sources import corpus_io

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.jsonl").write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "also ok", "lang": "en", "source": "s", "n_chars": 7}\n'
    )
    scan = corpus_io.read_documents(spark, str(p), fmt="jsonl")
    assert scan.docs.count() == 2
    rejects = scan.rejects.collect()
    assert len(rejects) == 1 and "not json" in rejects[0].raw_record


def test_corpus_io_rejects_unknown_format(spark, tmp_path):
    from tax_compliance_engine_spark.sources import corpus_io

    with pytest.raises(ValueError):
        corpus_io.read_documents(spark, str(tmp_path), fmt="avro")


# ---------------------------------------------------------------------------
# PNG: real stdlib-zlib decode (chunk walk + CRC, inflate, filter recon)


def test_png_codec_roundtrip_every_filter():
    """Pure-codec check: random pixels encode → decode bit-exact under
    each single filter type and under a cycling per-row mix — the five
    reconstruction branches (None/Sub/Up/Average/Paeth) all round-trip
    through a genuine zlib deflate/inflate."""
    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    rng = np.random.default_rng(7)
    for f in range(5):
        arr = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
        back = _decode_png(_encode_png(arr, row_filter=lambda y, f=f: f))
        assert back is not None and np.array_equal(back, arr), f"filter {f}"
    arr = rng.integers(0, 256, (11, 5, 3), dtype=np.uint8)
    back = _decode_png(_encode_png(arr, row_filter=lambda y: y % 5))
    assert np.array_equal(back, arr)


def test_decode_png_parser_edges():
    import struct
    import zlib

    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        PNG_SIG,
        _decode_png,
        _encode_png,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    png = _encode_png(arr, row_filter=lambda y: y % 5)
    assert _decode_png(None) is None
    assert _decode_png(b"\x89JNG" + png[4:]) is None  # wrong signature
    bad = bytearray(png)
    bad[40] ^= 0xFF  # flip a byte inside a chunk → CRC-32 mismatch
    assert _decode_png(bytes(bad)) is None
    assert _decode_png(png[: len(png) // 2]) is None  # truncated chunk

    def raw_png(ihdr: bytes, pixels: np.ndarray, bpp: int) -> bytes:
        lines = b"".join(
            b"\x00" + pixels[y].tobytes() for y in range(pixels.shape[0])
        )

        def chunk(t: bytes, d: bytes) -> bytes:
            return (
                struct.pack(">I", len(d))
                + t
                + d
                + struct.pack(">I", zlib.crc32(t + d))
            )

        return (
            PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(lines))
            + chunk(b"IEND", b"")
        )

    rgba = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    ok = _decode_png(raw_png(struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0), rgba, 4))
    assert ok is not None and np.array_equal(ok, rgba[:, :, :3])  # alpha dropped
    # 16-bit depth, palette color type, and interlaced all refuse cleanly
    gray16 = struct.pack(">IIBBBBB", 4, 3, 16, 2, 0, 0, 0)
    assert _decode_png(raw_png(gray16, rgba, 4)) is None
    pal = struct.pack(">IIBBBBB", 4, 3, 8, 3, 0, 0, 0)
    assert _decode_png(raw_png(pal, rgba, 4)) is None
    adam7 = struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 1)
    assert _decode_png(raw_png(adam7, rgba, 4)) is None


def test_synth_png_decode_roundtrip(spark):
    """The REAL PNG decode path end-to-end: synthesize PNGs whose row
    filters cycle (id+y) % 5, decode through CRC walk + inflate +
    unfilter inside mapInPandas, and check every stat against the same
    analytic formula the DuckDB oracle twin uses."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_image(multimodal.synth_png(ids)).collect()
    }
    for d in range(12):
        w, h = 4 + d % 5, 3 + d % 4
        r = got[d]
        assert (r.img_w, r.img_h, r.n_pixels) == (w, h, w * h)
        assert r.sum_r == w * sum((d + y) % 256 for y in range(h))
        assert r.sum_g == w * sum((2 * d + 3 * y) % 256 for y in range(h))
        assert r.sum_b == w * sum((5 * d + 7 * y) % 256 for y in range(h))


def test_extract_features_real_png_decode(spark):
    ids = spark.createDataFrame([(9,)], "doc_id long")
    r = multimodal.extract_features(multimodal.synth_png(ids)).collect()[0]
    assert r.decoder == "png-numpy"
    w, h = 4 + 9 % 5, 3 + 9 % 4
    mean_r = (w * sum((9 + y) % 256 for y in range(h))) // (w * h)
    assert r.feature[:3] == [w, h, mean_r]


def test_resize_media_png_analytic_roundtrip(spark):
    """REAL PNG resize: thumbnails re-encode as PNG and every output
    pixel matches the closed-form nearest-neighbor source pixel."""
    from tax_compliance_engine_spark.operators.multimodal import _decode_png

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    media = multimodal.synth_png(ids)
    tw, th = 3, 2
    rows = {
        r.doc_id: r for r in multimodal.resize_media(media, tw, th).collect()
    }
    for i in range(6):
        h = 3 + i % 4
        r = rows[i]
        assert r.decoder == "png-numpy-nn"
        arr = _decode_png(bytes(r.thumb))
        assert arr is not None and arr.shape == (th, tw, 3)
        for ty in range(th):
            sy = int((ty + 0.5) * h / th)
            want = ((i + sy) % 256, (2 * i + 3 * sy) % 256, (5 * i + 7 * sy) % 256)
            for tx in range(tw):
                assert tuple(int(v) for v in arr[ty, tx]) == want


def test_resize_media_malformed_png_null_thumb(spark):
    media = spark.createDataFrame(
        [(0, "image", bytearray(b"\x89PNG\r\n\x1a\njunk"), 12, "png")],
        multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.resize_media(media, 4, 4).collect()[0]
    assert r.thumb is None and r.thumb_size is None
    assert r.decoder == "png-numpy-nn"


# ---------------------------------------------------------------------------
# GIF: real from-scratch LZW decode + palette lookup + animation demux


def test_gif_lzw_roundtrip_and_table_reset():
    """The LZW pair must round-trip arbitrary index streams, including a
    stream long and repetitive enough to force the 4096-entry dictionary
    reset, and the decoder must handle the KwKwK self-reference case."""
    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = np.random.default_rng(17)
    for mcs in (2, 4, 8):
        idx = rng.integers(0, 1 << mcs, 4000)
        assert _lzw_decompress(_lzw_compress(idx, mcs), mcs) == list(idx)
    rep = np.tile(np.arange(4), 20000)  # forces dictionary reset
    assert _lzw_decompress(_lzw_compress(rep, 2), 2) == list(rep)
    kwkwk = np.array([1, 1, 1, 1, 1, 1])  # classic KwKwK stream
    assert _lzw_decompress(_lzw_compress(kwkwk, 2), 2) == list(kwkwk)


def test_decode_gif_parser_edges():
    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
    )

    rng = np.random.default_rng(19)
    arr = (rng.integers(0, 6, (4, 7, 3)) * 40).astype(np.uint8)
    gif = _encode_gif(arr)
    assert np.array_equal(_decode_gif(gif), arr)
    assert _decode_gif(None) is None
    assert _decode_gif(b"NOTGIF" + gif[6:]) is None
    assert _decode_gif(gif[:15]) is None  # truncated before image data
    # corrupt a byte in the LZW stream: decode refuses (bad code) or the
    # pixel count mismatches — either way None, never garbage pixels
    bad = bytearray(gif)
    bad[-6] ^= 0x5A
    out = _decode_gif(bytes(bad))
    assert out is None or out.shape == (4, 7, 3)


def test_synth_gif_decode_roundtrip(spark):
    """The REAL GIF decode path end-to-end through mapInPandas: LZW
    decompression + palette lookup must reproduce the analytic stats the
    oracle twin derives."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_image(multimodal.synth_gif(ids)).collect()
    }
    for d in range(12):
        w, h = 4 + d % 5, 3 + d % 4
        r = got[d]
        assert (r.img_w, r.img_h, r.n_pixels) == (w, h, w * h)
        assert r.sum_r == w * sum((d + y) % 256 for y in range(h))
        assert r.sum_g == w * sum((2 * d + 3 * y) % 256 for y in range(h))
        assert r.sum_b == w * sum((5 * d + 7 * y) % 256 for y in range(h))


def test_resize_media_gif_roundtrip(spark):
    """GIF thumbnails re-encode as GIF and every output pixel matches the
    closed-form nearest-neighbor source pixel."""
    from tax_compliance_engine_spark.operators.multimodal import _decode_gif

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    tw, th = 3, 2
    rows = {
        r.doc_id: r
        for r in multimodal.resize_media(
            multimodal.synth_gif(ids), tw, th
        ).collect()
    }
    for i in range(6):
        h = 3 + i % 4
        r = rows[i]
        assert r.decoder == "gif-numpy-nn"
        arr = _decode_gif(bytes(r.thumb))
        assert arr is not None and arr.shape == (th, tw, 3)
        for ty in range(th):
            sy = int((ty + 0.5) * h / th)
            want = ((i + sy) % 256, (2 * i + 3 * sy) % 256, (5 * i + 7 * sy) % 256)
            for tx in range(tw):
                assert tuple(int(v) for v in arr[ty, tx]) == want


def test_sample_frames_gif_animation_demux(spark):
    """An animated GIF (multiple image blocks) demuxes into standalone
    single-frame GIFs, each individually decodable."""
    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
    )

    rng = np.random.default_rng(23)
    frames = [(rng.integers(0, 4, (3, 5, 3)) * 30).astype(np.uint8) for _ in range(6)]
    gif = _encode_gif(frames)
    media = spark.createDataFrame(
        [(42, "video", bytearray(gif), len(gif), "gif")],
        multimodal.MEDIA_SCHEMA,
    )
    got = multimodal.sample_frames(media, every_n=2).collect()
    assert sorted(f.frame_idx for f in got) == [0, 2, 4]
    for f in got:
        arr = _decode_gif(bytes(f.frame_payload))
        assert arr is not None and np.array_equal(arr, frames[f.frame_idx])


def test_lm_coverage_scores_out_of_distribution_low(spark):
    """The trigram model covers in-distribution text fully and gibberish
    not at all; short (<3 char) docs score 0 with 0 trigrams, and the
    held-out slice is scored against the held-in model only."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.textops import lm_coverage

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox and the quick brown dog"),
            (1, "the quick brown cat likes the quick brown fox"),
            (8, "the quick brown fox"),  # held-out (pred: doc_id < 8)
            (9, "zqxjvzqxjvzqxjv"),  # held-out gibberish
            (10, "zz"),  # too short for any trigram
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in lm_coverage(
            docs, train_pred=F.col("doc_id") < 8, min_count=2
        ).collect()
    }
    assert got[8].coverage == 1.0  # in-distribution held-out text
    assert got[9].coverage == 0.0 and got[9].n_trigrams > 0
    assert got[10].n_trigrams == 0 and got[10].coverage == 0.0
    # exact ratio arithmetic: covered/total, no smoothing
    for r in got.values():
        if r.n_trigrams:
            assert r.coverage == r.n_covered / r.n_trigrams


def test_normalize_text_canonicalization(spark):
    """Control chars → space, space runs collapse, trim, lowercase;
    NULL text stays NULL with changed = false; clean text unchanged."""
    from tax_compliance_engine_spark.operators.textops import normalize_text

    docs = spark.createDataFrame(
        [
            (0, "  Hello\tWorld\x00!  "),
            (1, "already clean"),
            (2, None),
            (3, "A  B\x1f\x7fC"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in normalize_text(docs).collect()}
    assert got[0].text_norm == "hello world !"
    assert got[0].changed is True
    assert got[1].text_norm == "already clean" and got[1].changed is False
    assert got[2].text_norm is None and got[2].changed is False
    assert got[2].n_chars_raw is None
    assert got[3].text_norm == "a b c"
    assert (got[3].n_chars_raw, got[3].n_chars_norm) == (7, 5)


def test_snapshot_diff_statuses(spark):
    """added / removed / changed emitted, unchanged suppressed."""
    schema = "doc_id long, text string"
    old = spark.createDataFrame(
        [(0, "same"), (1, "will change"), (2, "will vanish")], schema
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "has changed"), (3, "brand new")], schema
    )
    got = {
        r.doc_id: (r.status, r.old_digest is None, r.new_digest is None)
        for r in corpus.snapshot_diff(old, new).collect()
    }
    assert got == {
        1: ("changed", False, False),
        2: ("removed", False, True),
        3: ("added", True, False),
    }


def test_quality_model_matches_python_reference(spark):
    """The hashed-feature linear scorer must reproduce a plain-Python
    computation of the same hash → bucket → LCG weight → tf·w sum →
    normalized logit, exactly; empty docs keep=false with logit 0."""
    from tax_compliance_engine_spark.operators.textops import (
        QM_BUCKETS,
        QM_WEIGHT_SCALE,
        quality_model_scores,
    )

    texts = ["the quick brown fox", "fox fox fox", ""]
    got = {
        r.doc_id: r
        for r in quality_model_scores(docs_df(spark, texts)).collect()
    }

    def tok_hash(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % 1_000_000_007
        return h

    def weight(bucket):
        return (bucket * 2654435761 + 40503) % 1001 - QM_WEIGHT_SCALE

    for i, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t]
        exp_sum = sum(weight(tok_hash(t) % QM_BUCKETS) for t in toks)
        r = got[i]
        assert r.n_tokens == len(toks)
        if toks:
            assert r.logit == exp_sum / (QM_WEIGHT_SCALE * len(toks))
            assert r.keep == (r.logit > 0.0)
        else:
            assert r.logit == 0.0 and r.keep is False


def test_quality_model_accepts_custom_weights(spark):
    """Passing a trained weight table changes scores: all-positive
    weights make every non-empty doc keep=true."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.textops import (
        QM_BUCKETS,
        quality_model_scores,
    )

    w = spark.range(QM_BUCKETS).select(
        F.col("id").alias("bucket"), F.lit(7).alias("weight")
    )
    got = quality_model_scores(
        docs_df(spark, ["alpha beta", "gamma"]), weights=w
    ).collect()
    assert all(r.keep for r in got)
    assert {r.logit for r in got} == {7 / 500}


def test_pagerank_reference_values_and_edge_cases(spark):
    """PageRank must reproduce a plain-Python reference computation of
    the same formula bit-for-bit, put the hub above its leaves, give
    isolated nodes exactly the base rank, and conserve total mass on a
    dangling-free graph (Σ ranks = 1 up to float accumulation)."""
    from tax_compliance_engine_spark.operators.graph import pagerank

    pairs = [(0, 1), (1, 0), (1, 2), (2, 1)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node_id long")
    got = {
        r.node_id: r.rank
        for r in pagerank(edges, nodes, iterations=5).collect()
    }

    n, d = 4, 0.85
    base = (1.0 - d) / n
    r = {i: 1.0 / n for i in range(4)}
    deg = {0: 1, 1: 2, 2: 1}
    for _ in range(5):
        contribs: dict = {}
        for s, t in pairs:
            contribs.setdefault(t, []).append((s, r[s] / float(deg[s])))
        nr = {}
        for v in range(4):
            acc = 0.0
            for _, c in sorted(contribs.get(v, [])):
                acc += c
            nr[v] = base + d * acc
        r = nr
    assert got == r  # bit-exact, not approx
    assert got[3] == base  # isolated node
    assert got[1] > got[0] == got[2]  # hub outranks symmetric leaves
    # node 3's leaked share aside, mass ≈ 1 − (what 3 never emits)
    assert abs(sum(got.values()) - (1.0 - (0.25 - base))) < 1e-9


def test_random_projection_preserves_distances_approximately(spark):
    """JL property check: projected pairwise squared distances stay
    within a loose multiplicative band of the originals (the lemma's
    guarantee is probabilistic; with k=16 over 64-d random-ish vectors a
    2.5x band holds comfortably), plus an exactness check of one
    component against the sign matrix."""
    import math
    import random

    from tax_compliance_engine_spark.operators import similarity

    rng = random.Random(31)
    vecs = [
        [rng.uniform(-1, 1) for _ in range(64)] for _ in range(12)
    ]
    emb = emb_df(spark, vecs)
    proj = {
        r.vec_id: list(r.proj)
        for r in similarity.random_projection(emb).collect()
    }
    assert all(len(p) == similarity.JL_K for p in proj.values())
    # exactness: component 0 of vec 0 equals the explicit signed fold
    signs = similarity.jl_signs()
    acc = 0.0
    for i, s in enumerate(signs[0]):
        acc = acc + (vecs[0][i] if s == 1 else -vecs[0][i])
    assert proj[0][0] == acc * (1.0 / math.sqrt(16.0))

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    ratios = []
    for i in range(12):
        for j in range(i + 1, 12):
            orig = d2(vecs[i], vecs[j])
            got = d2(proj[i], proj[j])
            ratios.append(got / orig)
    assert all(1 / 2.5 < r < 2.5 for r in ratios), (min(ratios), max(ratios))


def test_pagerank_hub_in_degree_is_sharded(spark):
    """Hub hazard regression: a 100k-in-degree node must aggregate through
    the two-level src-range-sharded fold (bounded per-group buffers), and
    the sharded result must equal the same two-level computation done in
    plain Python bit-for-bit."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.graph import pagerank

    n_leaves = 100_000
    edges = spark.range(1, n_leaves + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    nodes = spark.range(0, n_leaves + 1).select(F.col("id").alias("node_id"))
    df = pagerank(edges, nodes, iterations=2)

    # the plan itself must shard: the (dst, shard) partial aggregation
    # appears before the per-dst fold of shard partials
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "_shard" in buf.getvalue()

    hub = df.filter(F.col("node_id") == 0).collect()[0].rank

    # plain-Python two-level reference (same shard geometry: 256
    # equal-width src intervals, left folds at both levels)
    n, d = n_leaves + 1, 0.85
    base = (1.0 - d) / n
    w = (n_leaves - 1) // 256 + 1

    def hub_sum(leaf_rank):
        shards: dict = {}
        for s in range(1, n_leaves + 1):
            shards.setdefault((s - 1) // w, []).append(leaf_rank / 1.0)
        acc = 0.0
        for sh in sorted(shards):
            p = 0.0
            for c in shards[sh]:
                p = p + c
            acc = acc + p
        return acc

    r1_hub = base + d * hub_sum(1.0 / n)  # iter 1 (unused below, sanity)
    r1_leaf = base  # leaves receive nothing
    r2_hub = base + d * hub_sum(r1_leaf)  # hub has no out-edges → no echo
    assert r1_hub > r2_hub > base
    assert hub == r2_hub  # bit-exact through both iterations


def test_pagerank_string_node_ids_supported(spark):
    """Non-integral ids degrade to the single-shard fold (no range split
    exists for strings) — correctness identical to the flat fold."""
    from tax_compliance_engine_spark.operators.graph import pagerank

    pairs = [("x", "y"), ("y", "x"), ("y", "z"), ("z", "y")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    nodes = spark.createDataFrame(
        [("x",), ("y",), ("z",), ("w",)], "node_id string"
    )
    got = {
        r.node_id: r.rank for r in pagerank(edges, nodes, iterations=5).collect()
    }
    n, d = 4, 0.85
    base = (1.0 - d) / n
    r = {k: 1.0 / n for k in "xyzw"}
    deg = {"x": 1, "y": 2, "z": 1}
    contrib_srcs = {"y": ["x", "z"], "x": ["y"], "z": ["y"]}
    for _ in range(5):
        nr = {}
        for v in "xyzw":
            acc = 0.0
            for s in sorted(contrib_srcs.get(v, [])):
                acc += r[s] / float(deg[s])
            nr[v] = base + d * acc
        r = nr
    assert got == r


def test_pagerank_empty_node_set_returns_empty(spark):
    from tax_compliance_engine_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src long, dst long")
    nodes = spark.createDataFrame([], "node_id long")
    out = pagerank(edges, nodes, iterations=3)
    assert out.columns == ["node_id", "rank"] and out.count() == 0


# ── JPEG codec ───────────────────────────────────────────────────────


def _jpeg_fixture_array(i):
    import numpy as np

    nbx, nby = 1 + i % 3, 1 + i % 2
    arr = np.empty((8 * nby, 8 * nbx, 3), dtype=np.uint8)
    for by in range(nby):
        for bx in range(nbx):
            arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                (i + 5 * bx + 11 * by) % 256,
                (2 * i + 7 * bx + 3 * by) % 256,
                (5 * i + bx + 13 * by) % 256,
            )
    return arr


def _fold8(p):
    acc = 0.0
    for _ in range(8):
        acc = acc + p
    return acc


def _jpeg_dc_chain(c, q, ac):
    """The analytic DC-only round trip for one constant-channel value —
    the same float-op chain the DuckDB twin interpolates."""
    p = float(c - 128) * ac
    s00 = _fold8(ac * _fold8(p))
    sq = math.floor(s00 / float(q) + 0.5)
    out = (ac * float(sq * q)) * ac
    return min(max(math.floor(out + 128.5), 0), 255)


def _jpeg_expected_block_rgb(r0, g0, b0):
    ac = multimodal.jpeg_dc_basis()

    def cl(x):
        return min(max(math.floor(x), 0), 255)

    y = cl(((0.299 * r0 + 0.587 * g0) + 0.114 * b0) + 0.5)
    cb = cl((((128.0 - 0.168736 * r0) - 0.331264 * g0) + 0.5 * b0) + 0.5)
    cr = cl((((128.0 + 0.5 * r0) - 0.418688 * g0) - 0.081312 * b0) + 0.5)
    dy = _jpeg_dc_chain(y, multimodal._JPEG_QLUM[0][0], ac)
    dcb = _jpeg_dc_chain(cb, multimodal._JPEG_QCHROM[0][0], ac)
    dcr = _jpeg_dc_chain(cr, multimodal._JPEG_QCHROM[0][0], ac)
    r = cl((dy + 1.402 * (dcr - 128.0)) + 0.5)
    g = cl(((dy - 0.344136 * (dcb - 128.0)) - 0.714136 * (dcr - 128.0)) + 0.5)
    b = cl((dy + 1.772 * (dcb - 128.0)) + 0.5)
    return r, g, b


def test_jpeg_codec_constant_blocks_bit_exact():
    """Every constant 8×8 block must decode to EXACTLY the analytic
    DC-only chain (the property the DuckDB hash gate relies on),
    including multi-block images whose DC values ride the DPCM chain."""
    import numpy as np

    for i in (0, 3, 5, 11, 254, 255, 1000):
        arr = _jpeg_fixture_array(i)
        dec = multimodal._decode_jpeg(multimodal._encode_jpeg(arr))
        assert dec is not None and dec.shape == arr.shape
        nby, nbx = arr.shape[0] // 8, arr.shape[1] // 8
        for by in range(nby):
            for bx in range(nbx):
                want = _jpeg_expected_block_rgb(
                    (i + 5 * bx + 11 * by) % 256,
                    (2 * i + 7 * bx + 3 * by) % 256,
                    (5 * i + bx + 13 * by) % 256,
                )
                blk = dec[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                assert (blk == np.array(want, dtype=np.uint8)).all(), (i, bx, by)


def test_jpeg_codec_general_roundtrip_with_ac():
    """Non-constant images exercise the full AC run-length machinery:
    with a fine flat quant table the lossy error stays within a few
    counts, on smooth gradients AND on LCG noise (noise maximizes AC
    density; odd dimensions exercise the edge-replicated partial MCUs)."""
    import numpy as np

    gy, gx = np.mgrid[0:16, 0:24]
    grad = np.stack(
        [(gy * 3 + gx * 2) % 256, (gy * 5) % 256, (gx * 7) % 256], axis=2
    ).astype(np.uint8)
    x, vals = 42, []
    for _ in range(13 * 19 * 3):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append(x >> 56)
    noise = np.array(vals, dtype=np.uint8).reshape(13, 19, 3)
    flat4 = [[4] * 8] * 8
    for img in (grad, noise):
        enc = multimodal._encode_jpeg(img, qlum=flat4, qchrom=flat4)
        dec = multimodal._decode_jpeg(enc)
        assert dec is not None and dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_codec_zrl_long_zero_runs():
    """A sparse spectrum with >15 zeros before an AC coefficient forces
    the ZRL (16-zero-run) symbol through encoder and decoder."""
    import numpy as np

    B = multimodal._dct_basis()
    coef = np.zeros((8, 8), dtype=np.float64)
    coef[0, 0] = 160.0
    # natural position of zigzag index 35 — a >16-zero gap after the DC
    u, v = multimodal._ZIGZAG[35]
    coef[u, v] = 120.0
    block = np.clip(
        np.floor(multimodal._idct2_pinned(coef, B) + 128.5), 0, 255
    ).astype(np.uint8)
    img = np.stack([block, block, block], axis=2)
    flat1 = [[1] * 8] * 8
    dec = multimodal._decode_jpeg(
        multimodal._encode_jpeg(img, qlum=flat1, qchrom=flat1)
    )
    assert dec is not None
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_byte_stuffing_unstuffed_correctly():
    """A dense-AC noise image is guaranteed (deterministically) to emit
    stuffed 0xFF 0x00 bytes; a decoder that mishandles stuffing shifts
    every subsequent bit and produces garbage far outside the fine-quant
    error bound, so a tight roundtrip through a verified-stuffed stream
    pins the unstuffing logic."""
    import numpy as np

    x, vals = 7, []
    for _ in range(16 * 16 * 3):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append(x >> 56)
    noise = np.array(vals, dtype=np.uint8).reshape(16, 16, 3)
    flat1 = [[1] * 8] * 8
    payload = multimodal._encode_jpeg(noise, qlum=flat1, qchrom=flat1)
    sos = payload.find(b"\xff\xda")
    assert b"\xff\x00" in payload[sos:], "expected a stuffed byte"
    dec = multimodal._decode_jpeg(payload)
    assert dec is not None
    assert np.abs(dec.astype(int) - noise.astype(int)).max() <= 4


def test_decode_jpeg_parser_edges():
    import numpy as np

    good = multimodal._encode_jpeg(_jpeg_fixture_array(4))
    assert multimodal._decode_jpeg(None) is None
    assert multimodal._decode_jpeg(b"\x89PNG") is None  # wrong magic
    assert multimodal._decode_jpeg(good[:40]) is None  # truncated mid-segment
    # progressive frame marker (SOF2) must be rejected, not mis-decoded
    sof = good.find(b"\xff\xc0")
    prog = good[:sof] + b"\xff\xc2" + good[sof + 2 :]
    assert multimodal._decode_jpeg(prog) is None
    # subsampled components (2x1 luma) are unsupported → None
    sub = bytearray(good)
    sub[sof + 11] = 0x21  # Y sampling factor byte
    assert multimodal._decode_jpeg(bytes(sub)) is None
    # a corrupt Huffman stream dies as None, not garbage: truncate scan
    sos = good.find(b"\xff\xda")
    assert multimodal._decode_jpeg(good[: sos + 20]) is None
    # corrupted SEGMENT LENGTHS shrink bodies below their fixed headers:
    # must reject as None, never index past the body (regression: these
    # two raised IndexError)
    short_sof = bytearray(good)
    short_sof[sof + 2 : sof + 4] = (4).to_bytes(2, "big")
    assert multimodal._decode_jpeg(bytes(short_sof)) is None
    short_sos = bytearray(good)
    short_sos[sos + 2 : sos + 4] = (2).to_bytes(2, "big")
    assert multimodal._decode_jpeg(bytes(short_sos)) is None


def test_synth_jpeg_decode_roundtrip(spark):
    """The REAL Spark decode path over synthetic JPEGs: every stat equals
    the analytic lossy-round-trip chain (the DuckDB twin's math)."""
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    got = {
        r.doc_id: r
        for r in multimodal.decode_image(multimodal.synth_jpeg(ids)).collect()
    }
    for d in range(12):
        nbx, nby = 1 + d % 3, 1 + d % 2
        w, h = 8 * nbx, 8 * nby
        r = got[d]
        assert (r.img_w, r.img_h, r.n_pixels) == (w, h, w * h)
        sums = [0, 0, 0]
        for by in range(nby):
            for bx in range(nbx):
                rgb = _jpeg_expected_block_rgb(
                    (d + 5 * bx + 11 * by) % 256,
                    (2 * d + 7 * bx + 3 * by) % 256,
                    (5 * d + bx + 13 * by) % 256,
                )
                for c in range(3):
                    sums[c] += 64 * rgb[c]
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(sums)


def test_extract_features_real_jpeg_decode(spark):
    ids = spark.createDataFrame([(7,)], "doc_id long")
    r = multimodal.extract_features(multimodal.synth_jpeg(ids)).collect()[0]
    assert r.decoder == "jpeg-numpy"
    assert r.feature[:2] == [8 * (1 + 7 % 3), 8 * (1 + 7 % 2)]


def test_resize_media_jpeg_roundtrip(spark):
    """JPEG thumbnails re-encode through the real codec: the thumb is a
    decodable baseline JPEG at the target dimensions."""
    ids = spark.createDataFrame([(5,)], "doc_id long")
    r = multimodal.resize_media(
        multimodal.synth_jpeg(ids), width=8, height=8
    ).collect()[0]
    assert r.decoder == "jpeg-numpy-nn"
    thumb = multimodal._decode_jpeg(bytes(r.thumb))
    assert thumb is not None and thumb.shape == (8, 8, 3)


def test_sample_frames_mjpeg_real_boundaries(spark):
    """MJPEG demux: back-to-back baseline JPEGs split on REAL parsed
    boundaries (segment walk + entropy scan to EOI), every sampled frame
    individually decodable with the expected constant-block colors."""
    import numpy as np

    payload = b"".join(
        multimodal._encode_jpeg(_jpeg_fixture_array(i)) for i in (1, 2, 3, 4)
    )
    media = spark.createDataFrame(
        [(9, "video", bytearray(payload), len(payload), "jpeg")],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.sample_frames(media, every_n=2).collect()
    assert [r.frame_idx for r in rows] == [0, 2]  # frames 1 and 3 of 4
    for r, i in zip(rows, (1, 3)):
        dec = multimodal._decode_jpeg(bytes(r.frame_payload))
        assert dec is not None
        want = _jpeg_expected_block_rgb(i % 256, (2 * i) % 256, (5 * i) % 256)
        assert tuple(dec[0, 0]) == want
    # a truncated tail frame stops the demux cleanly
    frames = multimodal._split_jpeg_frames(payload[: len(payload) - 5])
    assert len(frames) == 3


def test_synth_mp4_box_walk_demux(spark):
    """REAL ISO BMFF demux: synth_mp4 payloads (valid single-track files
    with in-mdat padding) demux via the stsz/stco/stsc tables into
    byte-exact standalone JPEG frames, each decoding to its analytic
    constant color; every_n sampling and frame_idx behave like the other
    video paths."""
    import numpy as np

    media = multimodal.synth_mp4(spark.range(0, 6).toDF("doc_id"))
    rows = multimodal.sample_frames(media, every_n=1).collect()
    by_doc: dict[int, dict[int, bytes]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame_payload)
    for i in range(6):
        n_frames = 2 + i % 3
        assert sorted(by_doc[i]) == list(range(n_frames))
        for f in range(n_frames):
            arr = np.full(
                (8, 8, 3),
                ((i + 17 * f) % 256, (2 * i + 29 * f) % 256, (5 * i + 41 * f) % 256),
                dtype=np.uint8,
            )
            # byte-exact container round trip of the independently
            # re-encoded frame
            assert by_doc[i][f] == multimodal._encode_jpeg(arr)
            dec = multimodal._decode_jpeg(by_doc[i][f])
            want = _jpeg_expected_block_rgb(
                (i + 17 * f) % 256, (2 * i + 29 * f) % 256, (5 * i + 41 * f) % 256
            )
            assert tuple(dec[0, 0]) == want


def test_mp4_demux_trusts_sample_tables_not_layout(spark):
    """stco honesty: padding before the first sample inside mdat, and a
    malformed/truncated container, are handled by the tables alone."""
    import numpy as np

    frames = [
        multimodal._encode_jpeg(
            np.full((8, 8, 3), (c, c, c), dtype=np.uint8)
        )
        for c in (10, 200)
    ]
    padded = multimodal._build_mp4(frames, 8, 8, mdat_padding=13)
    assert multimodal._split_mp4_samples(padded) == frames
    assert multimodal._split_mp4_samples(b"\x00\x00\x00\x08free") == []
    # truncation mid-final-sample keeps the intact prefix
    assert multimodal._split_mp4_samples(padded[:-4]) == frames[:1]
    media = spark.createDataFrame(
        [(3, "video", bytearray(padded), len(padded), "mp4")],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.sample_frames(media, every_n=2).collect()
    assert [(r.frame_idx, bytes(r.frame_payload)) for r in rows] == [
        (0, frames[0])
    ]


def test_mkv_ebml_demux_round_trip(spark):
    """REAL EBML demux: _build_mkv files round-trip through
    _split_mkv_frames; truncation keeps the intact frame prefix
    (container extents clamp, leaf blocks need exact extents); non-EBML
    bytes and laced blocks are refused, not mis-split."""
    frames = [b"P6\n2 1\n255\n" + bytes(6), b"\x00\x01\x02\x03" * 10]
    built = multimodal._build_mkv(frames)
    assert multimodal._split_mkv_frames(built) == frames
    # truncating into the final block drops it, keeps the first
    assert multimodal._split_mkv_frames(built[:-3]) == frames[:1]
    assert multimodal._split_mkv_frames(b"not an ebml stream") == []
    assert multimodal._split_mkv_frames(b"") == []
    # a laced SimpleBlock (flags bit set) is skipped, not guessed at
    laced = multimodal._ebml_elem(
        multimodal._MKV_SEGMENT,
        multimodal._ebml_elem(
            multimodal._MKV_CLUSTER,
            multimodal._ebml_uint(multimodal._MKV_TIMESTAMP, 0)
            + multimodal._ebml_elem(
                multimodal._MKV_SIMPLEBLOCK,
                bytes([0x81, 0, 0, 0x86]) + b"payload",
            ),
        ),
    )
    hdr = built[: built.index(bytes.fromhex("18538067"))]
    assert multimodal._split_mkv_frames(hdr + laced) == []

    # e2e: synth corpus demuxes through sample_frames and each emitted
    # frame decodes as the analytic constant-color PPM
    media = multimodal.synth_mkv(spark.range(0, 6).toDF("doc_id"))
    rows = multimodal.sample_frames(media, every_n=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame_payload)
    for i in range(6):
        assert len(by_doc[i]) == 2 + i % 3
        for f, payload in by_doc[i].items():
            arr = multimodal._decode_ppm(payload)
            assert tuple(arr[0, 0]) == (
                (i + 17 * f) % 256,
                (2 * i + 29 * f) % 256,
                (5 * i + 41 * f) % 256,
            )


def test_mp3_sideinfo_guards_crc_and_mono():
    """Side-info offsets shift under CRC protection and mono mode —
    those frames parse to None instead of silently wrong fields; a
    valid stereo no-CRC frame parses the documented bit windows."""
    si = bytes(range(32))
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + si
    parsed = multimodal._mp3_sideinfo_fields(frame, 0, len(frame))
    bits = int.from_bytes(si[:7], "big")
    assert parsed == (
        (bits >> 47) & 511,
        (bits >> 36) & 255,
        (bits >> 24) & 4095,
        (bits >> 15) & 511,
        (bits >> 7) & 255,
    )
    crc_frame = bytes([0xFF, 0xFA, 0x90, 0x00]) + si  # protection bit 0
    assert multimodal._mp3_sideinfo_fields(crc_frame, 0, len(crc_frame)) is None
    mono = bytes([0xFF, 0xFB, 0x90, 0xC0]) + si  # mode 11 = single channel
    assert multimodal._mp3_sideinfo_fields(mono, 0, len(mono)) is None
    assert multimodal._mp3_sideinfo_fields(frame[:8], 0, 8) is None


def test_mp3_bigvalues_decode_roundtrip_and_guards():
    """The gr0-ch0 big_values entropy decode recovers exactly the values
    synth_mp3_coded encodes (bit count ≡ part2_3_length), and every
    scope gate degrades to None instead of a wrong value."""
    import pandas as pd

    class StubDF:
        def __init__(self, pdf):
            self.pdf = pdf

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

        def run(self):
            return list(self.fn(iter([self.pdf])))[0]

    ids = StubDF(pd.DataFrame({"doc_id": list(range(60))}))
    coded = multimodal.synth_mp3_coded(ids).run()
    for i, payload in zip(coded["doc_id"], coded["payload"]):
        i = int(i)
        buf, frames, _, _, _ = multimodal._mp3_frames(payload)
        assert len(frames) == 1 + i % 2
        for f, (pos, flen) in enumerate(frames):
            got = multimodal._decode_one_bigvalues(buf, pos, flen)
            assert got is not None, (i, f)
            table, n_vals, sv, sa, mx, esc, bits, n_c1, sum_c1 = got
            if (i + f) % 3 == 0:
                assert table == 1 and mx <= 1 and esc == 0
            else:
                assert table == 16 + (i + f) % 8
            n_pairs = 6 + (i + f) % 5
            assert n_vals == 2 * n_pairs
            # bit accounting: decode consumed exactly part2_3_length
            si = multimodal._mp3_gr0ch0_sideinfo(buf, pos)
            assert bits == si[1]
            # sum of signed values: re-derive from the generative formula
            if (i + f) % 3 == 0:
                m = 2
            else:
                lb = multimodal._MP3_LINBITS[table]
                m = 16 + min((1 << lb) - 1, 14)
            exp_sv = 0
            for k in range(n_pairs):
                x = (3 * i + 5 * f + 7 * k) % m
                y = (2 * i + 3 * f + 11 * k) % m
                s = -1 if (i + f + k) % 2 == 1 else 1
                exp_sv += (s * x if x else 0) + (s * y if y else 0)
            assert sv == exp_sv
            # count1 region: real ISO Table B quadruples, re-derived
            assert n_c1 == 2 + (i + f) % 3
            exp_c1 = 0
            for q in range(n_c1):
                qbits = (
                    (i + f + q) % 2,
                    (i + 2 * f + 3 * q) % 2,
                    (2 * i + f + 5 * q) % 2,
                    (i + 3 * f + 7 * q) % 2,
                )
                for p, bit in enumerate(qbits):
                    if bit:
                        exp_c1 += -1 if (i + f + q + p) % 2 else 1
            assert sum_c1 == exp_c1

    # guards: CRC frame, mono frame, reservoir back-pointer, mixed
    # table selects, unsupported table — all None, never wrong values
    si32 = bytes(32)
    crc = bytes([0xFF, 0xFA, 0x90, 0x00]) + si32
    assert multimodal._decode_one_bigvalues(crc, 0, len(crc)) is None
    mono = bytes([0xFF, 0xFB, 0x90, 0xC0]) + si32
    assert multimodal._decode_one_bigvalues(mono, 0, len(mono)) is None

    def si_with(mdb=0, tsel=(1, 1, 1), table_ok=True):
        w = multimodal._Mp3BitWriter()
        w.put(mdb, 9)
        w.put(0, 3)
        w.put(0, 8)
        w.put(0, 12)  # p23
        w.put(0, 9)  # big_values
        w.put(0, 8)
        w.put(0, 4)
        w.put(0, 1)  # wsf
        for t in tsel:
            w.put(t, 5)
        w.put(0, 4 + 3 + 1 + 1 + 1)
        for _ in range(3):
            w.put(0, 59)
        return bytes([0xFF, 0xFB, 0x90, 0x00]) + w.tobytes() + bytes(64)

    f_res = si_with(mdb=5)
    assert multimodal._decode_one_bigvalues(f_res, 0, len(f_res)) is None
    f_mix = si_with(tsel=(1, 16, 1))
    assert multimodal._decode_one_bigvalues(f_mix, 0, len(f_mix)) is None
    f_bad = si_with(tsel=(9, 9, 9))  # table 9: no supported codebook
    assert multimodal._decode_one_bigvalues(f_bad, 0, len(f_bad)) is None
    # zero big_values with consistent p23=0 decodes to an empty frame
    # (count1table_select=0 is fine here: the count1 region is empty)
    f_zero = si_with()
    assert multimodal._decode_one_bigvalues(f_zero, 0, len(f_zero)) == (
        1, 0, 0, 0, 0, 0, 0, 0, 0,
    )

    def si_c1(c1sel: int):
        # p23 = 4 bits: one count1 quadruple 0000 (no sign bits), zero
        # big_values — exercises the count1-only path and the Table A
        # scope gate
        w = multimodal._Mp3BitWriter()
        w.put(0, 9)
        w.put(0, 3)
        w.put(0, 8)
        w.put(4, 12)  # p23: one 4-bit quad
        w.put(0, 9)  # big_values
        w.put(0, 8)
        w.put(0, 4)
        w.put(0, 1)  # wsf
        for _ in range(3):
            w.put(1, 5)  # table 1
        w.put(0, 4)
        w.put(0, 3)
        w.put(0, 1)  # preflag
        w.put(0, 1)  # scalefac_scale
        w.put(c1sel, 1)
        for _ in range(3):
            w.put(0, 59)
        main = multimodal._Mp3BitWriter()
        main.put(0b1111, 4)  # table B code for quad 0000 (~0000)
        return (
            bytes([0xFF, 0xFB, 0x90, 0x00])
            + w.tobytes()
            + main.tobytes()
            + bytes(64)
        )

    # table B: the all-zero quad decodes (1 quad, sum 0, 4 bits read)
    f_b = si_c1(1)
    assert multimodal._decode_one_bigvalues(f_b, 0, len(f_b)) == (
        1, 0, 0, 0, 0, 0, 4, 1, 0,
    )
    # table A: declared boundary — scope-gates to None, never a guess
    f_a = si_c1(0)
    assert multimodal._decode_one_bigvalues(f_a, 0, len(f_a)) is None


def test_mkv_probe_null_on_malformed(spark):
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(b"garbage bytes here"), 18, "mkv"),
            (2, "video", None, 0, "mkv"),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r.doc_id: r for r in multimodal.probe_mkv(media).collect()}
    assert rows[1].n_frames is None and rows[2].n_frames is None


def test_mp4_demux_clamps_untrusted_count_fields():
    """The 32-bit count fields in stsz/stco/co64/stsc are attacker-
    controlled: a ~100-byte payload declaring 0xFFFFFFFF entries must
    return [] (malformed) without materializing a gigabyte list."""
    import struct

    def full(typ, body):
        return multimodal._box(typ, b"\x00\x00\x00\x00" + body)

    def container(stsz_body, stco_body, stsc_body):
        stbl = multimodal._box(
            b"stbl",
            full(b"stsz", stsz_body)
            + full(b"stco", stco_body)
            + full(b"stsc", stsc_body),
        )
        moov = multimodal._box(
            b"moov",
            multimodal._box(
                b"trak",
                multimodal._box(b"mdia", multimodal._box(b"minf", stbl)),
            ),
        )
        return moov + multimodal._box(b"mdat", b"\x00" * 16)

    ok_stsz = struct.pack(">II", 4, 2)  # fixed size 4, 2 samples
    ok_stco = struct.pack(">II", 1, 0)  # 1 chunk at offset 0 (bogus but small)
    ok_stsc = struct.pack(">IIII", 1, 1, 2, 1)  # 1 run: chunk 1, 2 spc
    # fixed-size path: declared sample bytes exceed the whole file
    huge_fixed = container(
        struct.pack(">II", 4, 0xFFFFFFFF), ok_stco, ok_stsc
    )
    assert multimodal._split_mp4_samples(huge_fixed) == []
    # variable-size path: declared count exceeds the stsz table bytes
    huge_var = container(
        struct.pack(">II", 0, 0xFFFFFFFF), ok_stco, ok_stsc
    )
    assert multimodal._split_mp4_samples(huge_var) == []
    # stco count with no entry bytes behind it
    huge_stco = container(ok_stsz, struct.pack(">I", 0xFFFFFFFF), ok_stsc)
    assert multimodal._split_mp4_samples(huge_stco) == []
    # stsc run count with no entry bytes behind it
    huge_stsc = container(ok_stsz, ok_stco, struct.pack(">I", 0xFFFFFFFF))
    assert multimodal._split_mp4_samples(huge_stsc) == []


# ── perceptual hashing ───────────────────────────────────────────────


def _ppm_bytes(arr) -> bytes:
    import numpy as np

    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + np.asarray(
        arr, dtype=np.uint8
    ).tobytes()


def _gradient(n: int):
    import numpy as np

    y, x = np.mgrid[0:n, 0:n]
    arr = np.zeros((n, n, 3), dtype=np.uint8)
    arr[:, :, 0] = (x * 255) // max(n - 1, 1)
    arr[:, :, 1] = (y * 255) // max(n - 1, 1)
    arr[:, :, 2] = ((x + y) * 255) // max(2 * (n - 1), 1)
    return arr


def _media_rows(spark, payloads):
    from tax_compliance_engine_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(
        [
            (i, "image", bytearray(p), len(p), "ppm")
            for i, p in payloads.items()
        ],
        MEDIA_SCHEMA,
    )


def test_phash_reference_resize_invariance_and_discrimination(spark):
    import numpy as np

    from tax_compliance_engine_spark.operators import multimodal as mm

    a = _gradient(32)
    b = np.repeat(np.repeat(a, 2, axis=0), 2, axis=1)  # 2x replication
    c = 255 - a  # inversion
    media = _media_rows(
        spark, {1: _ppm_bytes(a), 2: _ppm_bytes(b), 3: _ppm_bytes(c)}
    )
    got = {r.doc_id: r.phash for r in mm.phash_media(media).collect()}
    # pipeline hash == direct Python reference on the source array
    assert got[1] == mm._phash64(a)
    # pixel-replicated upscale: NN grid recovers the original samples
    assert got[1] == got[2]
    # inversion flips most low-frequency signs
    ham13 = bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1")
    assert ham13 > 20

    # malformed payload -> NULL hash, row kept
    bad = _media_rows(spark, {9: b"P6\n2 2\n255\nxx"})  # truncated
    rows = {r.doc_id: r.phash for r in mm.phash_media(bad).collect()}
    assert rows == {9: None}


def test_phash_dup_pairs_banding_and_guarantee(spark):
    from pyspark.sql import Row

    from tax_compliance_engine_spark.operators import multimodal as mm

    h0 = 0x0123456789ABCDEF
    near = h0 ^ sum(1 << (8 * i + i) for i in range(7))  # 1 bit per band 0-6
    assert bin(h0 ^ near).count("1") == 7
    far = h0 ^ ((1 << 30) - 1)  # 30 low bits: candidates via high bands
    alldiff = h0 ^ -1  # every band differs: never a candidate
    hashed = spark.createDataFrame(
        [
            Row(doc_id=1, phash=h0),
            Row(doc_id=2, phash=near),
            Row(doc_id=3, phash=far),
            Row(doc_id=4, phash=alldiff),
            Row(doc_id=5, phash=None),  # malformed upstream: ignored
        ],
        "doc_id long, phash long",
    )
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in mm.phash_dup_pairs(hashed).collect()
    }
    assert pairs == {(1, 2): 7}  # guaranteed recall at hamming 7

    import pytest as _pytest

    with _pytest.raises(ValueError, match="forfeits the exactness"):
        mm.phash_dup_pairs(hashed, max_hamming=8, n_bands=8)
    with _pytest.raises(ValueError, match="must divide 64"):
        mm.phash_dup_pairs(hashed, max_hamming=2, n_bands=7)


def test_triangle_counts_known_graph(spark):
    """A 4-clique has 4 triangles (each node in 3); an attached chain
    contributes none — the clique-vs-chain discrimination the operator
    exists for.  Input edges must be canonical (src < dst)."""
    from tax_compliance_engine_spark.operators.graph import triangle_counts

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # total triangles = sum / 3 (each triangle counted at its 3 nodes)
    assert sum(got.values()) // 3 == 4


def test_dup_span_stats_known_overlaps(spark):
    from tax_compliance_engine_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(
        [
            # doc 1 and 2 share the 8-token span "a b c d e f g h"
            (1, "a b c d e f g h x y"),
            (2, "z a b c d e f g h"),
            # unique 10-token doc: no cross-doc 8-gram
            (3, "q w e r t y u i o p"),
            # shorter than n: no grams at all
            (4, "x y"),
            # docs 5/6 share a 9-token span -> two OVERLAPPING dup
            # 8-grams whose position sets must UNION to 9, not 16
            (5, "p1 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
            (6, "c1 c2 c3 c4 c5 c6 c7 c8 c9 t1 t2"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dup_span_stats(docs).collect()}
    assert rows[1].n_tokens == 10 and rows[1].covered_tokens == 8
    assert rows[1].dup_coverage == 0.8 and not rows[1].keep
    assert rows[2].covered_tokens == 8 and rows[2].n_tokens == 9
    assert not rows[2].keep
    assert rows[3].covered_tokens == 0 and rows[3].keep
    assert rows[4].n_tokens == 2 and rows[4].covered_tokens == 0
    assert rows[4].keep
    # overlapping grams: 9 covered positions on both sides
    assert rows[5].covered_tokens == 9 and rows[6].covered_tokens == 9
    # exact keep arithmetic: 9*100 > 10*50 and > 11*50
    assert not rows[5].keep and not rows[6].keep


def test_dup_span_stats_intra_doc_repeat_not_counted(spark):
    from tax_compliance_engine_spark.operators.dedup import dup_span_stats

    # the same 8-gram twice WITHIN one doc: min_docs=2 counts DISTINCT
    # docs, so an intra-doc repeat alone is not a duplicated span
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h z a b c d e f g h")],
        "doc_id long, text string",
    )
    row = dup_span_stats(docs).collect()[0]
    assert row.covered_tokens == 0 and row.keep


def test_kmeans_silhouette_two_clear_clusters(spark):
    import math

    from tax_compliance_engine_spark.operators.similarity import (
        kmeans_silhouette,
    )

    # seeds = two smallest ids, one per cluster; k=2 converges on the
    # obvious 2-cluster structure
    pts = {
        1: [1.0, 0.0],
        2: [0.0, 1.0],
        3: [1.0, 0.05],
        4: [0.05, 1.0],
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in pts.items()],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.cell: r for r in kmeans_silhouette(emb, k=2, n_iter=2).collect()
    }
    assert set(rows) == {1, 2} and all(
        r.n_vectors == 2 for r in rows.values()
    )
    # python mirror of the simplified silhouette on the converged
    # centroids (cluster means)
    cents = {
        1: [1.0, 0.025],
        2: [0.025, 1.0],
    }
    import pytest as _pt

    for cell, members in ((1, (1, 3)), (2, (2, 4))):
        svals = []
        for i in members:
            d = {
                c: math.sqrt(
                    sum((x - y) ** 2 for x, y in zip(pts[i], cv))
                )
                for c, cv in cents.items()
            }
            a = d[cell]
            b = min(v for c, v in d.items() if c != cell)
            svals.append((b - a) / max(a, b))
        assert rows[cell].mean_silhouette == _pt.approx(
            sum(svals) / 2, rel=1e-12
        )


def test_kmeans_silhouette_single_cluster_degenerate(spark):
    from tax_compliance_engine_spark.operators.similarity import (
        kmeans_silhouette,
    )

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [1.0, 0.02])],
        "vec_id long, embedding array<double>",
    )
    # k=1: no "other" cell exists -> b undefined -> s pinned to 0.0
    rows = kmeans_silhouette(emb, k=1, n_iter=1).collect()
    assert len(rows) == 1
    assert rows[0].n_vectors == 3 and rows[0].mean_silhouette == 0.0


def test_lpa_communities_two_triangles_bridge(spark):
    from tax_compliance_engine_spark.operators.graph import lpa_communities

    # two triangles joined by one bridge edge; 3 synchronous min-label
    # iterations settle on one community per triangle (hand-traced)
    und = [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.community for r in lpa_communities(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}


def test_lpa_communities_star_adopts_hub_label(spark):
    from tax_compliance_engine_spark.operators.graph import lpa_communities

    # star: leaves see only the hub; after iter1 leaves -> hub label 5,
    # hub -> min leaf 6; iter2 swaps back; iter3 = iter1 state
    und = [(5, 6), (5, 7), (5, 8)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {r.node: r.community for r in lpa_communities(edges).collect()}
    assert got == {5: 6, 6: 5, 7: 5, 8: 5}


def test_lpa_communities_keeps_out_degree_only_nodes(spark):
    """Non-symmetrized input: nodes appearing only as src (no in-edges)
    must stay in the result with their retained label, not vanish —
    labels initialize from BOTH endpoints and a vote-less iteration
    keeps the current label."""
    from tax_compliance_engine_spark.operators.graph import lpa_communities

    edges = spark.createDataFrame(
        [(1, 2), (3, 2)], "src long, dst long"
    )
    got = {r.node: r.community for r in lpa_communities(edges).collect()}
    # node 2's in-neighbors hold labels {1, 3} every iteration → min 1;
    # nodes 1 and 3 never receive a vote → keep their own labels
    assert got == {1: 1, 2: 1, 3: 3}


def test_bmp_decode_topdown_and_malformed():
    import struct

    import numpy as np

    from tax_compliance_engine_spark.operators.multimodal import _decode_bmp

    w, h = 3, 2  # stride 12 -> 3 pad bytes per row
    pix = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) // 4 * 4

    def build(h_field, rows_rgb):
        bgr = rows_rgb[:, :, ::-1]
        pad = np.zeros((h, stride), np.uint8)
        pad[:, : w * 3] = bgr.reshape(h, w * 3)
        data = pad.tobytes()
        return (
            struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h_field, 1, 24, 0, len(data), 0, 0, 0, 0
            )
            + data
        )

    # top-down: negative height, rows stored in display order
    assert (_decode_bmp(build(-h, pix)) == pix).all()
    # bottom-up: positive height, rows stored reversed
    assert (_decode_bmp(build(h, pix[::-1])) == pix).all()
    # malformed: truncated pixel data, wrong magic, unsupported bpp
    good = build(h, pix)
    assert _decode_bmp(good[:-5]) is None
    assert _decode_bmp(b"XX" + good[2:]) is None
    bad_bpp = bytearray(good)
    bad_bpp[28] = 8
    assert _decode_bmp(bytes(bad_bpp)) is None
    assert _decode_bmp(None) is None


def test_synth_bmp_roundtrip_spark(spark):
    from tax_compliance_engine_spark.operators import multimodal

    ids = spark.createDataFrame([(3,), (4,), (7,)], "doc_id long")
    rows = {
        r.doc_id: r
        for r in multimodal.decode_image(multimodal.synth_bmp(ids)).collect()
    }
    for i in (3, 4, 7):
        w, h = 4 + i % 5, 3 + i % 4
        assert rows[i].img_w == w and rows[i].img_h == h
        exp_r = sum((i + y) % 256 for y in range(h)) * w
        assert rows[i].sum_r == exp_r


def test_strip_dup_spans_rewrites(spark):
    from tax_compliance_engine_spark.operators.dedup import strip_dup_spans

    shared = "a b c d e f g h"  # one 8-gram shared by three docs
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 {shared} y1"),
            (2, f"z1 {shared} z2 z3"),
            (3, shared),
            (4, "short text only"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r for r in strip_dup_spans(docs, n=8, min_docs=2).collect()
    }
    assert got[1].stripped_text == "x1 x2 y1" and got[1].n_kept == 3
    assert got[2].stripped_text == "z1 z2 z3" and got[2].n_kept == 3
    assert got[3].stripped_text == "" and got[3].n_kept == 0
    # below n tokens: no grams, nothing stripped
    assert got[4].stripped_text == "short text only" and got[4].n_kept == 3
    assert all(got[i].n_tokens == len(got[i].stripped_text.split()) + (
        {1: 8, 2: 8, 3: 8, 4: 0}[i]) for i in got)


def test_knn_recall_math(spark):
    from tax_compliance_engine_spark.operators.similarity import knn_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 7)],
        "query_id long, neighbor_id long",
    )
    rows = {r.query_id: r for r in knn_recall(exact, approx).collect()}
    assert rows[1].n_exact == 3 and rows[1].n_hits == 2
    assert rows[1].recall == 2 / 3
    assert rows[2].n_exact == 2 and rows[2].n_hits == 0
    assert rows[2].recall == 0.0


def test_snm_pairs_two_level_rank_and_window(spark):
    """The sharded rank must equal a plain global sort rank: a crafted
    corpus whose sort keys straddle bucket boundaries yields exactly the
    pairs within `window` positions of each other, and pairs outside the
    window are invisible even when textually identical."""
    from tax_compliance_engine_spark.operators.dedup import snm_pairs

    # keys sort as: aa.. (d1), ab.. (d2), ac.. (d3), ba.. (d4), zz.. (d5)
    # identical text for d1/d5 — rank gap 4 > window 2 => NOT a pair;
    # d1/d2 near-identical, adjacent => pair.
    rows = [
        (1, "aa alpha beta gamma delta"),
        (2, "ab alpha beta gamma delta"),
        (3, "ac totally different words here"),
        (4, "ba unrelated content entirely now"),
        (5, "zz alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc1, r.doc2): (r.rank_gap, r.jaccard)
        for r in snm_pairs(docs, window=2, threshold=0.5).collect()
    }
    # d1-d2: tokens differ only in the first token => 4 shared of 6 distinct
    assert (1, 2) in got and got[(1, 2)][0] == 1
    assert got[(1, 2)][1] == 4 / 6
    # identical d1/d5 out of window
    assert (1, 5) not in got
    # cross-bucket adjacency still pairs: d2(ab)-d3(ac) adjacent ranks,
    # but Jaccard below threshold => filtered
    assert (2, 3) not in got


def test_snm_bucket_len_is_pure_parallelization(spark):
    """Shard-prefix length must not change ANY output value (the global
    rank is identical at every bucket_len — sharding only splits the
    sort), including on a skew-family corpus where every key shares a
    short copy-tag prefix (the 10×-fixture shape that motivated the
    default bump from 2 to 4)."""
    from tax_compliance_engine_spark.operators.dedup import (
        editdist_pairs,
        snm_pairs,
    )

    rows = []
    words = ["red", "blue", "green", "gold", "iron", "salt", "wolf", "moon"]
    for i in range(30):
        tag = f"c{i % 3}_"
        w = [tag + words[(i + j) % 8] for j in range(4)]
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fn, kw in ((snm_pairs, dict(threshold=0.2)), (editdist_pairs, dict(threshold=0.3))):
        outs = [
            sorted(map(tuple, fn(docs, bucket_len=bl, **kw).collect()))
            for bl in (1, 2, 4)
        ]
        assert outs[0] == outs[1] == outs[2] and outs[0], fn.__name__


def test_snm_pairs_matches_single_partition_reference(spark):
    """Two-level rank ≡ reference computation done with one global sort
    in Python, on a corpus spanning many buckets with boundary windows."""
    from tax_compliance_engine_spark.operators.dedup import snm_pairs

    import itertools
    import re as _re

    rows = []
    words = ["red", "blue", "green", "gold", "iron", "salt", "wolf", "moon"]
    for i in range(40):
        w = [words[(i + j) % 8] for j in range(4)]
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    window, threshold = 3, 0.4

    def key(t):
        return _re.sub(r"[^a-z0-9]", "", t.lower())[:24]

    order = sorted(rows, key=lambda r: (key(r[1]), r[0]))
    expect = set()
    for ia, ib in itertools.combinations(range(len(order)), 2):
        if ib - ia > window:
            continue
        (d1, t1), (d2, t2) = order[ia], order[ib]
        s1, s2 = set(t1.split()), set(t2.split())
        jac = len(s1 & s2) / len(s1 | s2)
        if jac >= threshold:
            expect.add((d1, d2, ib - ia))
    got = {
        (r.doc1, r.doc2, r.rank_gap)
        for r in snm_pairs(docs, window=window, threshold=threshold).collect()
    }
    assert got == expect and len(expect) > 0


def test_editdist_pairs_semantics(spark):
    # four docs sharing a long common prefix so they land in one SNM
    # window; doc 2 is one substitution from doc 1 (sim 1 - 1/23 over
    # the 23-char normalized text), doc 3 shares only the prefix (low
    # sim), doc 4 is doc 1 with punctuation/case noise the
    # normalization removes (sim 1.0).
    base = "the quick brown fox jumps ok"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, "the quick brown fox jumps oj"),
            (3, "the quick brown fox argle bargle zzz"),
            (4, "The QUICK, brown; FOX jumps ok!!"),
        ],
        "doc_id long, text string",
    )
    from tax_compliance_engine_spark.operators.dedup import editdist_pairs

    out = {
        (r["doc1"], r["doc2"]): r
        for r in editdist_pairs(docs, threshold=0.8).collect()
    }
    # doc1 is the EARLIER doc in normalized-key sort order ("...jumpsoj"
    # sorts before "...jumpsok"), so the typo pair is (2, 1)
    norm_len = len(base.replace(" ", ""))
    assert (2, 1) in out and out[(2, 1)]["edit_dist"] == 1
    assert out[(2, 1)]["edit_sim"] == 1.0 - 1.0 / norm_len
    assert (1, 4) in out and out[(1, 4)]["edit_dist"] == 0
    assert out[(1, 4)]["edit_sim"] == 1.0
    assert not any(3 in p for p in out)


def test_editdist_pairs_matches_snm_candidates(spark):
    # the verify stage must score EXACTLY the snm_candidates stream
    from tax_compliance_engine_spark.operators.dedup import (
        editdist_pairs,
        snm_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cand = {
        (r["doc1"], r["doc2"])
        for r in snm_candidates(docs).collect()
    }
    scored = {
        (r["doc1"], r["doc2"])
        for r in editdist_pairs(docs, threshold=0.0).collect()
    }
    assert scored <= cand
    # threshold=0 keeps every candidate whose max normalized length > 0
    assert len(scored) >= len(cand) - 5


def test_bfs_distance_semantics(spark):
    """Min distance wins on multi-path nodes, the hop cap truncates,
    isolated seeds still emit dist 0, unreachable nodes are absent."""
    from tax_compliance_engine_spark.operators.graph import bfs_distance

    # chain 1-2-3-4-5 plus shortcut 1-4; island 9; seed {1, 9}
    undirected = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    out = {
        r["node"]: r["dist"]
        for r in bfs_distance(edges, seeds, max_hops=2).collect()
    }
    # 4 is 1 hop via the shortcut (not 3 via the chain); 5 is 2 hops
    assert out == {1: 0, 9: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    out3 = {
        r["node"]: r["dist"]
        for r in bfs_distance(edges, seeds, max_hops=1).collect()
    }
    assert out3 == {1: 0, 9: 0, 2: 1, 4: 1}


def test_corpus_weighted_median_hand_weighted(spark, tmp_path):
    """The weighted median is the first length where cumulative token
    weight reaches half the total — NOT the middle document."""
    from tax_compliance_engine_spark.plans.queries_dataops import (
        corpus_weighted_median,
    )

    # source s: lengths 1,2,3 with token weights 1,2,8 -> W=11,
    # cum(1)=1, cum(2)=3, cum(3)=11; first 2*cum>=11 is n_chars=3
    # (an unweighted median would say 2)
    docs = [
        (1, "a", "en", "s", 1),
        (2, "b c", "en", "s", 2),
        (3, " ".join(["w"] * 8), "en", "s", 3),
        # source t: single doc
        (4, "x y", "en", "t", 7),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["source"]: r
        for r in corpus_weighted_median(spark, str(tmp_path)).collect()
    }
    assert out["s"]["w_median_chars"] == 3
    assert out["s"]["total_tokens"] == 11 and out["s"]["n_docs"] == 3
    assert out["t"]["w_median_chars"] == 7


def test_knn_label_vote_majority_and_tiebreak(spark, tmp_path):
    """Crafted 2-D embeddings: the query's 5 nearest carry labels
    [1,1,2,2,3] -> tie between 1 and 2 on votes, smallest label wins."""
    import math

    from tax_compliance_engine_spark.plans.queries_dataops import (
        knn_label_vote,
    )

    rows = [(50, [1.0, 0.0], 9)]  # the query (id % 50 == 0), true label 9
    # five near neighbors at small angles, labels 1,1,2,2,3
    for i, (ang, lab) in enumerate(
        [(0.01, 1), (0.02, 1), (0.03, 2), (0.04, 2), (0.05, 3)]
    ):
        rows.append((i + 1, [math.cos(ang), math.sin(ang)], lab))
    # five far vectors (opposite direction) that must not be picked
    for i in range(5):
        rows.append((i + 10, [-1.0, float(i) * 0.1], 4))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = knn_label_vote(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["query_id"] == 50
    assert r["predicted_label"] == 1 and r["n_votes"] == 2
    assert r["true_label"] == 9 and r["correct"] is False


def test_dedup_er_pipeline_transitive_chain(spark, tmp_path):
    """A~B and B~C (one edit each) but A vs C two edits away must still
    collapse into ONE cluster via transitivity; the canonical id is the
    minimum, unrelated docs stay singleton keeps."""
    from tax_compliance_engine_spark.plans.queries_dataops import (
        dedup_er_pipeline,
    )

    base = "the quick brown fox jumps over the lazy dog again"
    b = base.replace("dog", "dot")         # 1 edit from base
    c = b.replace("quick", "quick1")       # 1 insert from b, 2 from base
    docs = [
        (1, base, "en", "s", len(base)),
        (2, b, "en", "s", len(b)),
        (3, c, "en", "s", len(c)),
        (4, "zzz completely unrelated text qqq", "en", "s", 33),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r for r in dedup_er_pipeline(spark, str(tmp_path)).collect()
    }
    assert out[1]["canonical_id"] == 1 and out[1]["keep"]
    assert out[2]["canonical_id"] == 1 and not out[2]["keep"]
    assert out[3]["canonical_id"] == 1 and not out[3]["keep"]
    assert out[4]["canonical_id"] == 4 and out[4]["keep"]


def test_corpus_distinctive_terms_lift(spark, tmp_path):
    """A token appearing in ALL of one source's docs and nowhere else
    gets lift = N/n_source and tops that source's list; a token uniform
    across sources scores lift 1 and cannot outrank it."""
    from tax_compliance_engine_spark.plans.queries_dataops import (
        corpus_distinctive_terms,
    )

    docs = []
    for i in range(4):
        docs.append((i, f"common shared tok{i % 2} special", "en", "a", 30))
    for i in range(4, 12):
        docs.append((i, f"common shared tok{i % 2} other", "en", "b", 30))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = corpus_distinctive_terms(spark, str(tmp_path)).collect()
    a_top = [r for r in out if r["source"] == "a"][0]
    # "special": df_in=4, df_all=4, n_source=4, N=12 -> lift 3.0
    assert a_top["tok"] == "special" and a_top["lift"] == 3.0
    common = {r["tok"]: r for r in out if r["source"] == "a"}["common"]
    assert common["lift"] == 1.0


def test_corpus_expectations_catches_violations(spark, tmp_path):
    """Each rule fires on a crafted violator and reports the MIN
    violating id; clean rules report 0 with NULL example."""
    from tax_compliance_engine_spark.plans.queries_dataops import (
        corpus_expectations,
    )

    docs = [
        (1, "good text", "en", "s", 9),
        (2, "", "en", "s", 0),            # empty text; n_chars 0 also OOR
        (3, "xx", "xx", "s", 2),          # unknown lang
        (4, "abc", "en", "s", 99),        # n_chars inconsistent (+ no OOR)
        (5, "dup", "en", "s", 3),
        (5, "dup", "en", "s", 3),         # duplicate doc_id
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["rule"]: r for r in corpus_expectations(spark, str(tmp_path)).collect()}
    assert set(out) == {
        "text_present", "lang_known", "n_chars_consistent",
        "n_chars_in_range", "doc_id_unique",
    }
    assert out["text_present"]["n_violations"] == 1
    assert out["text_present"]["example_id"] == 2
    assert out["lang_known"]["n_violations"] == 1
    assert out["lang_known"]["example_id"] == 3
    assert out["n_chars_consistent"]["n_violations"] == 1  # doc 4 only
    assert out["n_chars_consistent"]["example_id"] == 4
    assert out["n_chars_in_range"]["n_violations"] == 1
    assert out["doc_id_unique"]["n_violations"] == 1
    assert out["doc_id_unique"]["example_id"] == 5
    assert all(r["n_checked"] == 6 for n, r in out.items() if n != "doc_id_unique")
    assert out["doc_id_unique"]["n_checked"] == 5  # distinct ids


def test_kcore_peels_chain_keeps_clique(spark):
    """k-core structure pins on a crafted graph: a 4-clique (every
    degree 3) survives a 2-core peel intact, a pendant chain hanging
    off it peels away completely, extra rounds past convergence are
    no-ops, and the materialized form equals the lazy chain."""
    from pyspark.sql import functions as F

    from tax_compliance_engine_spark.operators.graph import kcore_nodes

    clique = [(a, b) for a in range(4) for b in range(4) if a != b]
    # chain 3-10-11-12: node 3 is IN the clique; 10,11,12 dangle off it
    chain = [(3, 10), (10, 3), (10, 11), (11, 10), (11, 12), (12, 11)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")

    got = {
        r.node: r.degree
        for r in kcore_nodes(edges, k=2, n_iter=4).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # clique intact, chain gone
    more = {
        r.node: r.degree
        for r in kcore_nodes(edges, k=2, n_iter=7).collect()
    }
    assert more == got  # converged: extra rounds are no-ops
    mat = {
        r.node: r.degree
        for r in kcore_nodes(edges, k=2, n_iter=4, materialize=True).collect()
    }
    assert mat == got  # lineage truncation is result-identical
    # materialized early exit: a generous round budget converges at the
    # fixed point (2 real rounds here) instead of running 64 rounds —
    # result identical, so over-provisioning n_iter is free
    big = {
        r.node: r.degree
        for r in kcore_nodes(
            edges, k=2, n_iter=64, materialize=True
        ).collect()
    }
    assert big == got
    # 4-core of a 4-clique is empty (max degree 3)
    assert kcore_nodes(edges, k=4, n_iter=3).count() == 0


def test_winnow_guarantee_and_tie_rule(spark):
    """Winnowing pins (SIGMOD'03 semantics):
    - any shared substring of ≥ k+w−1 tokens yields ≥1 shared
      fingerprint (the algorithm's detection guarantee);
    - ties pick the RIGHTMOST minimal gram (encoded arithmetically);
    - docs shorter than k tokens yield nothing; docs with 1 ≤ G < w
      grams yield exactly the whole-doc minimum;
    - density ≈ 2/(w+1): far fewer fingerprints than grams."""
    k, w = 3, 4
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens ≥ k+w−1
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four five six seven"),
            (2, f"xx yy zz {shared} qq rr ss tt uu vv"),
            (3, "completely different words entirely here now"),
            (4, "a b"),  # < k tokens: no fingerprints
            (5, "p q r s"),  # G=2 < w: single whole-doc min
        ],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(docs, k=k, w=w)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared k+w-1 substring missed"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1  # short doc: one whole-doc fingerprint

    # tie rule: a doc of one repeated token has ONE distinct gram hash
    # tied everywhere; each window must select its RIGHTMOST position,
    # so the selected positions are exactly w-1 .. G-1
    rep = spark.createDataFrame(
        [(9, " ".join(["same"] * 10))], "doc_id long, text string"
    )
    got = sorted(
        (r.pos, r.fp_hash)
        for r in dedup.winnow_fingerprints(rep, k=k, w=w).collect()
    )
    G = 10 - k + 1  # 8 grams
    assert [p for p, _ in got] == list(range(w - 1, G))
    assert len({h for _, h in got}) == 1

    # density: fingerprints ≪ grams on real-ish text
    long_doc = spark.createDataFrame(
        [(7, " ".join(f"tok{(i * 37) % 101}" for i in range(200)))],
        "doc_id long, text string",
    )
    n_fp = dedup.winnow_fingerprints(long_doc, k=k, w=w).count()
    n_grams = 200 - k + 1
    assert n_fp < n_grams / 2  # ~2/(w+1) = 0.4 expected


def test_winnow_position_space_truncation(spark, monkeypatch):
    """The position-space guard: gram positions ≥ _WINNOW_POS_SPACE are
    deterministically truncated (the doc behaves as if it ended there),
    so the rightmost-min tie term can never go negative.  Patched down
    to 8 slots so a 30-token doc exercises the bound: its fingerprints
    must equal those of the doc PRE-truncated to the surviving grams'
    tokens, every decoded pos stays inside the space, and no key is
    negative."""
    monkeypatch.setattr(dedup, "_WINNOW_POS_SPACE", 8)
    k, w = 3, 4
    toks = [f"t{(i * 29) % 13}" for i in range(30)]
    long_doc = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    # surviving grams: p < 8 → tokens 0 .. 8+k-1
    short_doc = spark.createDataFrame(
        [(1, " ".join(toks[: 8 + k - 1]))], "doc_id long, text string"
    )
    got_long = sorted(
        (r.pos, r.fp_hash)
        for r in dedup.winnow_fingerprints(long_doc, k=k, w=w).collect()
    )
    got_short = sorted(
        (r.pos, r.fp_hash)
        for r in dedup.winnow_fingerprints(short_doc, k=k, w=w).collect()
    )
    assert got_long == got_short and got_long
    assert all(0 <= p < 8 and h >= 0 for p, h in got_long)


def test_winnow_pairs_df_cap_drops_boilerplate(spark):
    """The df-cap is the deterministic contract: a fingerprint shared by
    MORE than df_cap docs (template boilerplate, the join's quadratic
    hot key) contributes no pairs; rare shared fingerprints do."""
    boiler = "copyright two thousand twenty six all rights reserved"
    rows = [(i, f"{boiler} unique{i} filler{i} more{i}") for i in range(6)]
    rows += [
        (100, "rare shared phrase here only twice plus padding one"),
        (101, "rare shared phrase here only twice plus padding two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the boilerplate df (6): its fingerprints all drop
    pairs = dedup.winnow_overlap_pairs(
        docs, k=3, w=4, min_shared=1, df_cap=5
    ).collect()
    got = {(r.doc1, r.doc2) for r in pairs}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got), got
    # cap raised: the boilerplate family pairs up
    pairs2 = dedup.winnow_overlap_pairs(
        docs, k=3, w=4, min_shared=1, df_cap=10
    ).collect()
    got2 = {(r.doc1, r.doc2) for r in pairs2}
    assert (0, 1) in got2 and (100, 101) in got2


def test_bigram_lm_score_semantics(spark):
    """Bigram LM pins: smoothed probabilities re-derived exactly from
    the train-slice counts, hapax = bigrams absent from train, held-out
    docs score under the held-in model, short docs yield n_bigrams=0
    with NULL mean, and a fluent repeat of a train phrase outscores
    shuffled gibberish over the same vocabulary."""
    from tax_compliance_engine_spark.operators import textops

    rows = [
        # train slice: doc_id % 10 < 8
        (1, "the cat sat on the mat"),
        (2, "the cat ran on the mat"),
        (3, "the dog sat on the rug"),
        # held-out: 8/18 score under the model trained on 1-3
        (8, "the cat sat on the mat"),  # in-distribution
        (18, "mat the on sat cat the"),  # shuffled: OOD bigrams
        (28, "solo"),  # one token: no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in textops.bigram_lm_score(docs).collect()
    }
    # exact re-derivation for doc 8: V=9 distinct train tokens, alpha=1
    import collections

    train_tokens = [rows[i][1].split() for i in range(3)]
    c12 = collections.Counter(
        (a, b) for t in train_tokens for a, b in zip(t, t[1:])
    )
    c1 = collections.Counter(a for t in train_tokens for a in t[:-1])
    V = len({w for t in train_tokens for w in t})
    doc8 = rows[3][1].split()
    probs = [
        (c12[(a, b)] + 1) / (c1[a] + V) for a, b in zip(doc8, doc8[1:])
    ]
    acc = 0.0
    for x in probs:
        acc += x
    assert got[8].mean_prob == acc / len(probs)  # bit-exact fold
    assert got[8].n_hapax == 0
    assert got[18].n_hapax > 0  # shuffled: unseen bigrams
    assert got[8].mean_prob > got[18].mean_prob  # graded, not binary
    assert got[28].n_bigrams == 0 and got[28].mean_prob is None
    assert got[1].n_bigrams == 5


def test_trigram_lm_stupid_backoff_semantics(spark):
    """Stupid-backoff pins: every backoff branch re-derived exactly from
    the train counts with the nested α multiplies (trigram seen →
    c123/c12; else bigram seen → α·(c23/c2); else α·(α·(c3/N)), 0 for
    unseen words), backoff counters grade the branches, <3-token docs
    yield n_trigrams=0 with NULL mean."""
    from tax_compliance_engine_spark.operators import textops

    rows = [
        # train slice: doc_id % 10 < 8
        (1, "the cat sat on the mat"),
        (2, "the cat ran on the mat"),
        (3, "the dog sat on the rug"),
        # held-out docs exercising each branch
        (8, "the cat sat on the mat"),   # all trigrams seen
        (18, "mat the cat nonword rug"),  # bigram + unigram backoffs
        (28, "two words"),                # <3 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in textops.trigram_lm_score(docs).collect()
    }
    import collections

    a = 0.4
    train = [rows[i][1].split() for i in range(3)]
    c123 = collections.Counter(
        (x, y, z) for t in train for x, y, z in zip(t, t[1:], t[2:])
    )
    c12 = collections.Counter((x, y) for t in train for x, y in zip(t, t[1:]))
    c1 = collections.Counter(x for t in train for x in t)
    N = sum(len(t) for t in train)

    def sb(x, y, z):
        if c123[(x, y, z)] > 0:
            return c123[(x, y, z)] / c12[(x, y)]
        if c12[(y, z)] > 0:
            return a * (c12[(y, z)] / c1[y])
        return a * (a * (c1[z] / N))

    for doc_id in (8, 18):
        toks = dict(rows)[doc_id].split()
        scores = [sb(x, y, z) for x, y, z in zip(toks, toks[1:], toks[2:])]
        acc = 0.0
        for s in scores:
            acc += s
        assert got[doc_id].mean_score == acc / len(scores)  # bit-exact
    assert got[8].n_backoff_bi == 0 and got[8].n_backoff_uni == 0
    # doc 18: "mat the"/"the cat" seen as bigrams; "nonword" unseen word
    assert got[18].n_backoff_bi > 0 and got[18].n_backoff_uni > 0
    assert got[8].mean_score > got[18].mean_score  # graded
    assert got[28].n_trigrams == 0 and got[28].mean_score is None
