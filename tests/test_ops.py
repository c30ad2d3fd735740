"""Sanity tests for the extension ops (dedup / text / similarity) on small
planted-duplicate data. Full engine-vs-DuckDB parity is covered by
tests/test_entry_oracle.py which exercises the driver's own compare."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from timeseriesfuser_spark.ops.dedup import (
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from timeseriesfuser_spark.ops.similarity import cosine_topk
from timeseriesfuser_spark.ops.text import doc_fingerprint, language_id, text_stats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    far = "completely different words about spark engines and shuffle planning"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=base),  # exact dup of 1
            Row(doc_id=3, text=near),  # near dup of 1
            Row(doc_id=4, text=far),
            Row(doc_id=5, text="short text"),
        ]
    )


def test_exact_duplicates(docs):
    out = {r["canonical_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert out[1] == 2 and out[3] == 1 and out[4] == 1


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any({a, b} & {4, 5} for a, b in pairs)


def test_minhash_lsh_finds_planted_pair(docs):
    got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in got
    assert not any({a, b} & {4, 5} for a, b in got)


def test_simhash_exact_dup_zero_hamming(docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(docs).collect()}
    assert got.get((1, 2)) == 0


def test_simhash_tokenless_docs_pair_at_zero(spark):
    # Docs with no word tokens land at simhash 0 (kept via explode_outer's
    # null-token row — null votes produce all-zero bits) and pair with each
    # other, never with real-content docs.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="!!! ???"),
            Row(doc_id=3, text="the quick brown fox jumps over the lazy dog"),
        ]
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    assert got.get((1, 2)) == 0
    assert not any(3 in p for p in got)


def test_text_stats_counts(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="The cat, the hat! x2")])
    r = text_stats(df).collect()[0]
    # tokens: the cat the hat x2; stopwords: the×2 (+a? no); punct: , !
    assert r["n_tokens"] == 5
    assert r["n_stopwords"] == 2
    assert r["n_punct"] == 2
    assert r["n_bpe_tokens"] == 8  # The cat , the hat ! x 2
    assert abs(r["stopword_ratio"] - 0.4) < 1e-12


def test_language_id_votes(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat is in the hat and it is fine"),
            Row(doc_id=2, text="el gato que vive en la casa y los perros"),
        ]
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "es"}


def test_doc_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello   World again\tnow"),
            Row(doc_id=2, text="hello world AGAIN now"),
        ]
    )
    fps = [r["fp_md5"] for r in doc_fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_cosine_topk_exact(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),
    ]
    corpus = spark.createDataFrame(rows)
    queries = corpus.filter(F.col("vec_id") == 1)
    out = cosine_topk(corpus, queries, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [2, 3]
    assert out[0]["cosine"] > 0.99


def test_repetition_stats_hand_computed(spark):
    from timeseriesfuser_spark.ops.text import repetition_stats

    rows = [
        # 4 lines, "dup" twice: dup_line_frac = (4-3)/4; line chars:
        # dup(3)*2 + alpha(5) + beta(4) = 15, distinct = 12 -> 3/15
        Row(doc_id=1, text="dup\nalpha\nbeta\ndup"),
        # "ab ab ab": 2-gram "ab ab" x2 -> top2 = 2*5=10 over 8 chars
        Row(doc_id=2, text="ab ab ab"),
        Row(doc_id=3, text="all unique words here"),
        Row(doc_id=4, text=""),
    ]
    out = {r["doc_id"]: r for r in
           repetition_stats(spark.createDataFrame(rows)).collect()}
    assert out[1]["dup_line_frac"] == 0.25
    assert out[1]["dup_line_char_frac"] == 3 / 15
    assert out[2]["top2gram_char_frac"] == 10 / 8
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top2gram_char_frac"] == 0.0
    assert out[3]["top3gram_char_frac"] == 0.0
    assert out[4]["dup_line_frac"] == 0.0
    assert out[4]["dup_line_char_frac"] == 0.0


def test_token_frequencies_counts(spark):
    from timeseriesfuser_spark.ops.text import token_frequencies

    df = spark.createDataFrame([
        Row(doc_id=1, text="spark spark flink"),
        Row(doc_id=2, text="spark beam"),
    ])
    got = {r["token"]: (r["term_freq"], r["doc_freq"])
           for r in token_frequencies(df).collect()}
    assert got == {"spark": (3, 2), "flink": (1, 1), "beam": (1, 1)}


def test_contamination_check_hand_computed(spark):
    from timeseriesfuser_spark.ops.text import contamination_check

    docs = spark.createDataFrame([
        Row(doc_id=1, text="alpha beta gamma delta"),   # grams: ab g, b g d
        Row(doc_id=2, text="alpha beta gamma epsilon"),
        Row(doc_id=3, text="unrelated words entirely different"),
        Row(doc_id=4, text="too short"),                # < 3 tokens
    ])
    bench = docs.filter(F.col("doc_id") == 1)
    out = {r["doc_id"]: r for r in contamination_check(docs, bench, n=3).collect()}
    assert out[1]["contamination_frac"] == 1.0          # benchmark itself
    # doc 2 shares "alpha beta gamma" of its 2 grams
    assert out[2]["n_ngrams"] == 2 and out[2]["n_contaminated"] == 1
    assert out[2]["contamination_frac"] == 0.5
    assert out[3]["n_contaminated"] == 0 and out[3]["contamination_frac"] == 0.0
    assert out[4]["n_ngrams"] == 0 and out[4]["contamination_frac"] == 0.0


def test_quality_filter_rules_and_reason(spark):
    from timeseriesfuser_spark.ops.text import quality_filter

    good = "the quick brown value of data is great and more " * 8  # 80 toks
    docs = spark.createDataFrame([
        Row(doc_id=1, text=good),
        Row(doc_id=2, text="too short"),                       # token_count
        Row(doc_id=3, text=("x123 " * 60) + "the who of"),      # alpha_frac
        Row(doc_id=4, text="word " * 60),                       # stopwords
    ])
    out = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert out[1]["keep"] is True and out[1]["drop_reason"] is None
    assert out[2]["keep"] is False and out[2]["drop_reason"] == "token_count"
    assert out[3]["keep"] is False and out[3]["drop_reason"] == "alpha_frac"
    assert out[4]["keep"] is False and out[4]["drop_reason"] == "stopwords"
    # rule booleans line up with the verdict
    assert out[2]["ok_token_count"] is False
    assert out[4]["ok_stopwords"] is False and out[4]["ok_alpha_frac"] is True


def test_pii_scrub_planted(spark):
    from timeseriesfuser_spark.ops.text import pii_scrub

    docs = spark.createDataFrame([
        Row(doc_id=1, text="contact bob.smith+x@ex-ample.org or 10.0.0.1"),
        Row(doc_id=2, text="call +1 (555) 123-4567 now"),
        Row(doc_id=3, text="nothing sensitive here"),
    ])
    out = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ip"] == 1
    assert out[1]["text_redacted"] == "contact <EMAIL> or <IP>"
    assert out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "call <PHONE> now"
    assert out[3]["text_redacted"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0


def test_connected_components_toy(spark):
    from timeseriesfuser_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 1)], "id_a long, id_b long"
    )  # {1,2,3,5,6,7} all one component via 7-1; 4 is a singleton
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, all_ids=ids).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 1, 6: 1, 7: 1}


def test_neardup_clusters_covers_corpus(docs):
    from timeseriesfuser_spark.ops.dedup import neardup_clusters

    out = neardup_clusters(docs, num_hashes=16, bands=4, threshold=0.4)
    rows = out.collect()
    assert len(rows) == docs.count()  # every doc labeled exactly once
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)  # canonical min id
        assert all(m["cluster_size"] == len(members) for m in members)


def test_tfidf_top_terms_ranks_distinctive_token(spark):
    from timeseriesfuser_spark.ops.text import tfidf_top_terms

    rows = [
        (1, "zebra zebra zebra common common"),
        (2, "common common other other other"),
        (3, "common other filler filler words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_top_terms(docs, k=2)
    got = {r["doc_id"]: r for r in out.filter("token = 'zebra'").collect()}
    # 'zebra' appears only in doc 1 (df=1, tf=3) -> its top keyword
    assert set(got) == {1}
    assert (got[1]["tf"], got[1]["df"], got[1]["score"]) == (3, 1, 3_000_000)
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)


def test_adaptive_signature_paths_agree(spark, docs, tmp_path, monkeypatch):
    """The per-row-projection and explode+aggregate signature strategies
    must produce byte-identical pairs — force each via the
    ``ops.util.SMALL_INPUT_BYTES`` bound on a file-backed input (an
    in-memory frame has no size estimate and always takes the aggregate)."""
    from timeseriesfuser_spark.ops import dedup as D
    from timeseriesfuser_spark.ops import util as ops_util

    docs.write.parquet(str(tmp_path / "docs"))
    files = spark.read.parquet(str(tmp_path / "docs"))
    for fn, kw in [
        (minhash_lsh_pairs, dict(num_hashes=16, bands=4, threshold=0.4)),
        (simhash_pairs, dict(bits=48, max_hamming=3)),
    ]:
        got = []
        for bound in (1 << 60, 0):  # the per-row path, then the aggregate
            monkeypatch.setattr(ops_util, "SMALL_INPUT_BYTES", bound)
            assert D._use_perrow_signatures(files) == bool(bound)
            got.append({tuple(sorted(r.asDict().items()))
                        for r in fn(files, **kw).collect()})
        assert got[0] == got[1] and len(got[0]) > 0


def test_connected_components_long_chain(spark):
    """A 12-node path graph needs multiple propagation rounds — pins the
    iteration loop (not just one-hop neighborhoods)."""
    from timeseriesfuser_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {i: 1 for i in range(1, 13)}


def test_connected_components_stats_and_nonconvergence_warning(spark, caplog):
    """The max_iterations guard (VERDICT r14 #5): hitting the bound
    before the fixpoint logs a WARNING and reports converged=False via
    _stats; the emitted labels over-segment (each cluster a SUBSET of a
    true component), never merge two components."""
    import logging

    from timeseriesfuser_spark.ops.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    stats: dict = {}
    with caplog.at_level(logging.WARNING):
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                edges, max_iterations=2, _stats=stats
            ).collect()
        }
    assert stats == {"iterations": 2, "converged": False}
    assert any("fixpoint NOT reached" in r.message for r in caplog.records)
    # over-segmentation invariant: labels never cross a true component
    assert all(1 <= lbl <= i for i, lbl in got.items())
    # converged run: stats says so, no warning
    stats2: dict = {}
    caplog.clear()
    with caplog.at_level(logging.WARNING):
        got2 = {
            r["id"]: r["cluster_id"]
            for r in connected_components(
                edges, max_iterations=10, _stats=stats2
            ).collect()
        }
    assert got2 == {i: 1 for i in range(1, 41)}
    assert stats2["converged"] and stats2["iterations"] <= 10
    assert not any("fixpoint" in r.message for r in caplog.records)


def test_minhash_between_finds_cross_pairs_only(spark):
    from timeseriesfuser_spark.ops.dedup import minhash_lsh_pairs_between

    base = "the quick brown fox jumps over the lazy dog again and again today"
    new = spark.createDataFrame(
        [(101, base), (102, "completely different words entirely here")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(1, base), (2, "another unrelated reference document text")],
        "doc_id long, text string",
    )
    got = {(r["new_id"], r["ref_id"]): r["jaccard"]
           for r in minhash_lsh_pairs_between(new, ref, num_hashes=16, bands=4,
                                              threshold=0.5).collect()}
    assert (101, 1) in got and got[(101, 1)] == 1.0
    assert all(k == (101, 1) for k in got)


def test_band_join_self_and_between_modes_agree(spark):
    """The shared first-shared-band join in its two modes: between a corpus
    and itself, every self-join pair appears in both orientations with the
    same jaccard, each doc that has shingles pairs with itself at 1.0, and
    nothing else appears."""
    import random

    from timeseriesfuser_spark.ops.dedup import minhash_lsh_pairs_between

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    bases = [[rng.choice(vocab) for _ in range(12)] for _ in range(6)]
    rows = []
    for i in range(30):
        words = list(bases[i % 6])
        for _ in range(i % 4):  # 0-3 word edits: exact and near copies
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((i, " ".join(words)))
    rows += [(100, "too short"), (101, "")]  # no 3-gram shingles
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=16, bands=8, threshold=0.3)

    self_rows = minhash_lsh_pairs(docs, **kw).collect()
    between_rows = minhash_lsh_pairs_between(docs, docs, **kw).collect()
    pairs = {(r.id_a, r.id_b): r.jaccard for r in self_rows}
    between = {(r.new_id, r.ref_id): r.jaccard for r in between_rows}
    # each pair once, at its first shared band
    assert len(pairs) == len(self_rows) > 30 and len(between) == len(between_rows)
    want = {**pairs, **{(b, a): j for (a, b), j in pairs.items()}}
    want.update({(i, i): 1.0 for i in range(30)})
    assert between == want
