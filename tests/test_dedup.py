"""Dedup tests: exact, minhash-LSH, jaccard, simhash, embedding near-dup and
exact cosine top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xmlschemavalidator_spark.dedup import (
    brute_force_topk,
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    hyperplane_bucket,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signature,
    shingles,
    simhash,
    simhash_near_duplicates,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away now"
OTHER = "completely different content about spark catalyst optimizer internals here"


def corpus(spark):
    return spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),          # exact dup of 1
            (3, NEAR),          # near dup of 1
            (4, OTHER),
            (5, "the  QUICK brown fox jumps over the lazy dog and runs far away today"),
        ],
        "doc_id bigint, text string",
    )


def test_exact_duplicate_groups(spark):
    got = exact_duplicate_groups(corpus(spark), "doc_id").collect()
    assert len(got) == 1
    # normalization folds case/whitespace: 1, 2 and 5 are one group
    assert sorted(got[0]["doc_ids"]) == [1, 2, 5]


def test_drop_exact_duplicates_keeps_min_id(spark):
    kept = sorted(r["doc_id"] for r in drop_exact_duplicates(corpus(spark), "doc_id").collect())
    assert kept == [1, 3, 4]


def test_shingles_and_signature(spark):
    df = spark.createDataFrame([(BASE,), ("a b",)], "t string")
    sh = df.select(F.size(shingles(F.col("t"), 3)).alias("n")).collect()
    assert sh[0]["n"] > 5 and sh[1]["n"] == 0  # too short -> empty
    sig = df.select(minhash_signature(F.col("t"), 16).alias("s")).collect()
    assert len(sig[0]["s"]) == 16 and sig[1]["s"][0] is None


def test_minhash_lsh_finds_near_dup(spark):
    pairs = minhash_lsh_candidates(corpus(spark), "doc_id", num_hashes=32, bands=16).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # exact dups always collide
    assert (1, 3) in found or (2, 3) in found  # near dup collides in some band
    assert (1, 4) not in found and (3, 4) not in found


def test_jaccard_pairs_exact(spark):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(corpus(spark), "doc_id", threshold=0.5).collect()
    }
    assert got[(1, 2)] == 1.0
    assert 0.5 <= got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_simhash_stability_and_near_dup(spark):
    df = corpus(spark)
    s1 = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    s2 = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash(F.col("text")).alias("s")).collect()}
    assert s1 == s2  # deterministic across runs (xxhash64, not builtin hash)
    assert s1[1] == s1[2]
    pairs = simhash_near_duplicates(df, "doc_id", hamming_max=6).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 4) not in found


def test_simhash_jvm_python_parity(spark):
    """The JVM Column expression and the pure-Python reference (both
    xxhash64-token-hash based) produce identical signatures — the pin that
    replaced the old pandas-UDF FNV path."""
    from xmlschemavalidator_spark.dedup import simhash_py

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "one",
        "repeated repeated repeated token token",
        "  leading and   multiple   spaces trailing  ",
        "MiXeD CaSe ToKeNs MIXED case tokens",
        "",
        None,
        "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: r["s"]
        for r in df.select("i", simhash(F.col("text")).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == simhash_py(t), f"parity broke for {t!r}"

    # corpus-scale explode path produces the same signatures as both
    from xmlschemavalidator_spark.dedup import simhash_signatures_df

    got_df = {
        r["doc"]: r["sig"] for r in simhash_signatures_df(df, "i").collect()
    }
    assert got_df == got


def test_simhash_parity_on_testdata_corpus(spark, sf_dir="/root/testdata/sf0.001"):
    """Parity on real synthetic web text (ASCII docs — Python and Spark
    tokenization agree there; exotic Unicode case/space chars are out of
    the parity contract, see simhash_py docstring)."""
    import os

    if not os.path.isdir(sf_dir):
        import pytest

        pytest.skip("no testdata")
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .where(F.col("text").rlike(r"^[\x20-\x7E\s]*$"))
        .select("doc_id", "text")
        .limit(50)
    )
    rows = docs.withColumn("s", simhash(F.col("text"))).collect()
    from xmlschemavalidator_spark.dedup import simhash_py

    assert len(rows) > 0
    for r in rows:
        assert r["s"] == simhash_py(r["text"]), f"doc {r['doc_id']}"


def test_embedding_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),   # near dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        ],
        "vec_id bigint, vec array<float>",
    )
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_duplicates(df, "vec_id", "vec", threshold=0.95, nbits=4).collect()}
    assert (1, 2) in got and (1, 3) not in got


def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    df = embeddings(spark)
    rows = df.collect()
    q = list(rows[0]["embedding"])
    got = brute_force_topk(df, "embedding", q, k=5).collect()
    # numpy oracle
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    qv = np.array(q, dtype=np.float64)
    cos = (mat @ qv) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-np.round(cos, 5), ids))[:5]
    want = [(i, round(-c, 5)) for c, i in order]
    assert [(r["vec_id"], round(r["cosine"], 5)) for r in got] == want
    assert got[0]["vec_id"] == rows[0]["vec_id"] and got[0]["cosine"] == pytest.approx(1.0)


def test_hyperplane_bucket_deterministic(spark):
    df = embeddings(spark).limit(50)
    a = [r[0] for r in df.select(hyperplane_bucket(F.col("embedding"), 8)).collect()]
    b = [r[0] for r in df.select(hyperplane_bucket(F.col("embedding"), 8)).collect()]
    assert a == b
    assert all(0 <= x < 256 for x in a)


def test_near_duplicate_clusters_transitive(spark):
    from xmlschemavalidator_spark.dedup import drop_near_duplicates, near_duplicate_clusters

    # chain 1-2, 2-3 plus island 7-8: clusters must close transitively
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a bigint, id_b bigint"
    )
    got = {r["doc"]: r["cluster"] for r in near_duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 8]], "doc_id bigint")
    kept = sorted(r["doc_id"] for r in drop_near_duplicates(df, "doc_id", pairs).collect())
    assert kept == [1, 5, 7]  # cluster reps + untouched doc 5


def test_observe_rule_counts(spark):
    from xmlschemavalidator_spark.compiler import FieldRule, RuleSet
    from xmlschemavalidator_spark.engine import validate
    from xmlschemavalidator_spark.rules.facets import Enumeration
    from xmlschemavalidator_spark.rules.types import Restriction

    df = spark.createDataFrame(
        [("u1", "en"), ("u2", "xx"), ("u3", "yy")], "url string, lang string"
    )
    rs = RuleSet(rules=[FieldRule(
        "lang_enum", Restriction(facets=(Enumeration("en"),)), column="lang")])
    res = validate(df, rs, key="url", observe=True)
    res.verdicts.write.mode("overwrite").format("noop").save()  # one action
    counts = res.rule_counts()
    assert counts["n_rows"] == 3
    assert counts["n_failed_docs"] == 2
    assert counts["viol_lang_enum"] == 2


def test_jaccard_capped_sizes_consistent(spark):
    """Docs that are near-identical apart from boilerplate shingles must
    still score ~1.0 when the boilerplate exceeds max_posting: sizes and
    intersection use the same capped shingle universe."""
    boiler = " ".join(f"b{i}" for i in range(12))
    docs = [(d, f"unique{d} mark{d} tail{d} " + boiler) for d in range(40)]
    docs += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # boilerplate 3-gram shingles appear in 40 docs; cap at 30 drops them
    pairs = jaccard_pairs(df, "doc_id", shingle_n=3, threshold=0.9, max_posting=30)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((100, 101)) == 1.0
    # the 40 boilerplate docs share ONLY hot shingles -> no spurious pairs
    assert all(k == (100, 101) for k in got)


def test_hot_audit_surfaces(spark):
    from xmlschemavalidator_spark.dedup import jaccard_hot_shingles, minhash_hot_buckets

    boiler = " ".join(f"b{i}" for i in range(12))
    df = spark.createDataFrame(
        [(d, boiler) for d in range(40)], "doc_id long, text string"
    )
    hot = jaccard_hot_shingles(df, "doc_id", max_posting=30)
    assert hot.count() == 10  # 12 tokens -> 10 3-gram shingles, each in 40 docs
    assert hot.agg({"posting_len": "min"}).collect()[0][0] == 40
    hb = minhash_hot_buckets(df, "doc_id", max_bucket=30)
    # identical docs -> identical signatures -> every band bucket is hot
    assert hb.count() == 8 and hb.agg({"n_docs": "min"}).collect()[0][0] == 40


def test_alternating_star_equals_min_label(spark):
    """Large-star/small-star contraction (Kiveris SoCC'14) must produce
    exactly the same (doc, cluster) assignment as min-label propagation on
    random, path (high-diameter), and hub graphs."""
    import random

    from xmlschemavalidator_spark.dedup import (
        alternating_star_clusters,
        near_duplicate_clusters,
    )

    rng = random.Random(7)
    graphs = {
        # two cliques + isolated pair
        "cliques": [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)],
        # a 30-node path: diameter 29 stresses the O(diameter) propagation
        "path": [(i, i + 1) for i in range(100, 130)],
        # hub-heavy: two hubs sharing a bridge
        "hubs": [(0, i) for i in range(2, 12)] + [(1, i) for i in range(12, 22)] + [(0, 1)],
        # random sparse graph
        "random": [(rng.randrange(50), rng.randrange(50)) for _ in range(60)],
    }
    for name, raw in graphs.items():
        edges = [(a, b) for a, b in raw if a != b]
        df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        # max_iterations must exceed the path graph's diameter (30):
        # min-label moves one hop per round — at the 20-round default it
        # silently returned SPLIT components (now warns; found by this test)
        want = {
            (r["doc"], r["cluster"])
            for r in near_duplicate_clusters(df, max_iterations=40).collect()
        }
        got = {
            (r["doc"], r["cluster"])
            for r in alternating_star_clusters(df).collect()
        }
        assert got == want, f"graph {name}: {sorted(got)[:5]} vs {sorted(want)[:5]}"


def test_min_label_observe_fixpoint_early_exit(spark):
    """The Observation-based fixpoint must still converge and early-exit:
    a 3-clique converges in <= 3 rounds regardless of max_iterations."""
    from xmlschemavalidator_spark.dedup import near_duplicate_clusters

    df = spark.createDataFrame(
        [(5, 9), (9, 7), (7, 5)], "id_a bigint, id_b bigint"
    )
    got = {
        (r["doc"], r["cluster"])
        for r in near_duplicate_clusters(df, max_iterations=50).collect()
    }
    assert got == {(5, 5), (7, 5), (9, 5)}


def test_min_label_warns_on_non_convergence(spark):
    import warnings

    from xmlschemavalidator_spark.dedup import near_duplicate_clusters

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a bigint, id_b bigint"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        near_duplicate_clusters(path, max_iterations=3).collect()
    assert any("did not reach a fixpoint" in str(x.message) for x in w)


# --- corpus line dedup (C4) + decontamination (round 2) --------------------


def _line_corpus(spark):
    boiler = "accept all cookies to continue reading this site"
    return spark.createDataFrame(
        [
            (1, f"unique first line of doc one\n{boiler}\nshort\nmore unique prose here"),
            (2, f"{boiler}\ncompletely different second document body text"),
            (3, "no boilerplate at all in this document\njust original writing"),
            (4, f"  {boiler}  \npadded boilerplate still counts after trim"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )


def test_duplicate_lines_detection(spark):
    from xmlschemavalidator_spark.dedup import duplicate_lines

    got = duplicate_lines(_line_corpus(spark), "doc_id").collect()
    assert len(got) == 1  # only the boilerplate line crosses min_docs=2
    row = got[0]
    assert row["line"] == "accept all cookies to continue reading this site"
    assert row["n_docs"] == 3 and row["n_occurrences"] == 3


def test_drop_duplicate_lines_rebuild(spark):
    from xmlschemavalidator_spark.dedup import drop_duplicate_lines

    out = {r["doc_id"]: r["text"] for r in
           drop_duplicate_lines(_line_corpus(spark), "doc_id").collect()}
    # boilerplate removed everywhere, order preserved, short lines kept
    assert out[1] == "unique first line of doc one\nshort\nmore unique prose here"
    assert out[2] == "completely different second document body text"
    assert out[3] == "no boilerplate at all in this document\njust original writing"
    assert out[4] == "padded boilerplate still counts after trim"
    assert out[5] == ""  # empty doc survives as empty
    # column order/schema unchanged
    assert drop_duplicate_lines(_line_corpus(spark), "doc_id").columns == ["doc_id", "text"]


def test_line_dedup_stats_consistent(spark):
    from xmlschemavalidator_spark.dedup import line_dedup_stats

    got = {r["doc"]: (r["n_lines"], r["n_kept"]) for r in
           line_dedup_stats(_line_corpus(spark), "doc_id").collect()}
    assert got[1] == (4, 3)
    assert got[2] == (2, 1)
    assert got[3] == (2, 2)
    assert got[5] == (1, 1)  # the single empty line is short -> kept


def test_contamination_matches_and_drop(spark):
    from xmlschemavalidator_spark.dedup import (
        contamination_matches,
        drop_contaminated,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france paris is the capital")],
        "qid bigint, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "trivia dump: what is the capital of france paris is the answer"),
            (2, "a completely unrelated document about spark aggregation physics"),
            (3, "the capital of france appears here but the full gram does not"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc"]: r["n_matched_ngrams"] for r in
           contamination_matches(docs, "doc_id", bench, ngram=6).collect()}
    assert 1 in got and got[1] >= 1   # shares a 6-gram with the benchmark
    assert 2 not in got and 3 not in got
    kept = sorted(r["doc_id"] for r in
                  drop_contaminated(docs, "doc_id", bench, ngram=6).collect())
    assert kept == [2, 3]


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    from xmlschemavalidator_spark.dedup import (
        commit_seen_fingerprints,
        incremental_exact_dedup,
    )

    store = str(tmp_path / "fps")
    b1 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")],  # 3 dups 1 in-batch
        "doc_id bigint, text string",
    )
    kept1 = incremental_exact_dedup(b1, "doc_id", store)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
    commit_seen_fingerprints(kept1, store)

    b2 = spark.createDataFrame(
        [
            (10, "alpha doc"),      # dup of batch 1 -> dropped
            (11, "gamma doc"),      # fresh
            (12, "  ALPHA   doc "), # normalization folds to batch-1 doc
            (13, "gamma doc"),      # in-batch dup of 11
        ],
        "doc_id bigint, text string",
    )
    kept2 = incremental_exact_dedup(b2, "doc_id", store)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]
    commit_seen_fingerprints(kept2, store)

    # retrying the commit must not change future decisions
    commit_seen_fingerprints(kept2, store)
    b3 = spark.createDataFrame([(20, "gamma doc"), (21, "delta doc")],
                               "doc_id bigint, text string")
    kept3 = incremental_exact_dedup(b3, "doc_id", store)
    assert sorted(r["doc_id"] for r in kept3.collect()) == [21]


def test_dedup_lines_within_doc(spark):
    from xmlschemavalidator_spark.dedup import dedup_lines_within_doc

    df = spark.createDataFrame(
        [
            (1, "nav menu\nbody text one\nnav menu\nbody text two\nnav menu"),
            (2, "only\nunique\nlines"),
            (3, ""),
            (4, None),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["t"] for r in
           df.select("doc_id", dedup_lines_within_doc(F.col("text")).alias("t")).collect()}
    assert got[1] == "nav menu\nbody text one\nbody text two"  # first kept, order kept
    assert got[2] == "only\nunique\nlines"
    assert got[3] == "" and got[4] == ""


def test_simhash_hot_bucket_cap_bounds_empty_doc_blowup(spark):
    """VERDICT r2 item 1: 5 000 empty docs all get sig = 0 and share every
    pigeonhole chunk — without the max_bucket cap the chunk self-join emits
    ~12.5M pairs from that one cluster. With the cap the empty cluster is
    excluded (candidates bounded), a planted near-dup pair in a small
    bucket is still found, and the audit surface reports what was dropped."""
    from xmlschemavalidator_spark.dedup import simhash_hot_chunks

    rows = [(i, "") for i in range(5000)]
    rows += [(9001, BASE), (9002, BASE)]  # identical -> hamming 0, tiny bucket
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    pairs = simhash_near_duplicates(df, "doc_id", hamming_max=3, max_bucket=1000)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (9001, 9002) in got
    # the 5 000-doc sig=0 cluster is capped out: NO pair touches an empty doc
    assert all(a > 9000 and b > 9000 for a, b in got)
    assert len(got) == 1

    hot = simhash_hot_chunks(df, "doc_id", hamming_max=3, max_bucket=1000).collect()
    # every chunk of sig=0 is a hot bucket: 4 chunks, 5 000 docs each
    assert len(hot) == 4
    assert all(r["cv"] == 0 and r["n_docs"] == 5000 for r in hot)
    # raising the cap past the cluster size restores the uncapped behavior
    uncapped = simhash_near_duplicates(
        df.where(F.col("doc_id") < 20), "doc_id", hamming_max=3, max_bucket=10**9
    )
    assert uncapped.count() == 20 * 19 // 2


def test_simhash_hot_chunks_empty_when_no_hot_buckets(spark):
    from xmlschemavalidator_spark.dedup import simhash_hot_chunks

    assert simhash_hot_chunks(corpus(spark), "doc_id", max_bucket=1000).count() == 0


def test_minhash_portable_mode_finds_same_planted_dups(spark):
    """portable=True (md5 base hash + literal tuple buckets) preserves the
    LSH semantics: exact dups always collide, near dups collide in some
    band, unrelated docs don't. The DuckDB-exact pair parity itself is the
    minhash_lsh_pairs_portable oracle's job."""
    pairs = minhash_lsh_candidates(
        corpus(spark), "doc_id", num_hashes=32, bands=16, portable=True
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) in found or (2, 3) in found
    assert (1, 4) not in found and (3, 4) not in found
    # signatures differ from the xxhash64 mode (different base hash) but
    # have the same shape/range
    from xmlschemavalidator_spark.dedup import _MINHASH_P, minhash_signatures_df

    sig = minhash_signatures_df(corpus(spark), "doc_id", portable=True).collect()
    assert len(sig[0]) == 33  # doc + 32 mins
    for r in sig:
        assert all(0 <= r[f"mh_{i}"] < _MINHASH_P for i in range(32))


BOILER = "click here to subscribe to our newsletter today"


def _span_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "unique alpha text one " + BOILER),
            (2, "other beta words here " + BOILER),
            (3, BOILER + " trailing unique gamma stuff"),
            (4, "totally unrelated document about spark plans"),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )


def test_duplicate_spans_detection_and_first_marking(spark):
    """ExactSubstr-style: the 8-token boilerplate window occurs in docs
    1/2/3; the global first occurrence (min (doc, pos)) is marked."""
    from xmlschemavalidator_spark.dedup import duplicate_spans

    got = {
        (r["doc"], r["pos"]): (r["n_occurrences"], r["is_first"])
        for r in duplicate_spans(_span_corpus(spark), "doc_id", k=8).collect()
    }
    assert got == {(1, 4): (3, True), (2, 4): (3, False), (3, 0): (3, False)}


def test_remove_duplicate_spans_keeps_one_copy(spark):
    from xmlschemavalidator_spark.dedup import remove_duplicate_spans

    got = {
        r["doc"]: (r["clean_text"], r["n_removed_tokens"])
        for r in remove_duplicate_spans(_span_corpus(spark), "doc_id", k=8).collect()
    }
    assert got[1] == ("unique alpha text one " + BOILER, 0)  # first copy survives
    assert got[2] == ("other beta words here", 8)
    assert got[3] == ("trailing unique gamma stuff", 8)
    assert got[4][1] == 0 and got[5] == ("", 0)
    # keep_first=False strips EVERY copy, including doc 1's
    all_gone = {
        r["doc"]: r["n_removed_tokens"]
        for r in remove_duplicate_spans(
            _span_corpus(spark), "doc_id", k=8, keep_first=False
        ).collect()
    }
    assert all_gone[1] == 8 and all_gone[2] == 8 and all_gone[3] == 8


def test_remove_duplicate_spans_overlapping_windows_merge(spark):
    """A passage repeated within ONE doc: every window of the second copy
    is duplicated; overlapping covered ranges must union, not double-count
    — and the within-doc first occurrence survives keep_first."""
    from xmlschemavalidator_spark.dedup import remove_duplicate_spans

    nine = " ".join(f"w{i}" for i in range(9))  # 9 tokens -> 2 windows at k=8
    df = spark.createDataFrame(
        [(1, nine + " mid filler tokens " + nine)], "doc_id bigint, text string"
    )
    got = remove_duplicate_spans(df, "doc_id", k=8).collect()[0]
    assert got["n_removed_tokens"] == 9  # the whole second copy, once
    assert got["clean_text"] == nine + " mid filler tokens"


def test_remove_duplicate_spans_id_col_named_doc(spark):
    """Review finding (reproduced): an input id column itself named 'doc'
    — the library's standard output id name — must not make the post-join
    projection ambiguous."""
    from xmlschemavalidator_spark.dedup import remove_duplicate_spans

    df = _span_corpus(spark).withColumnRenamed("doc_id", "doc")
    got = {
        r["doc"]: r["n_removed_tokens"]
        for r in remove_duplicate_spans(df, "doc", k=8).collect()
    }
    assert got == {1: 0, 2: 8, 3: 8, 4: 0, 5: 0}


def test_mask_contaminated_spans(spark):
    """Span-level decontamination: only the benchmark-overlapping window
    tokens vanish; the rest of the doc (and clean docs) survive — unlike
    drop_contaminated, which removes whole docs."""
    from xmlschemavalidator_spark.dedup import mask_contaminated_spans

    bench_sent = "what is the capital of france paris is the answer"  # 10 toks
    bench = spark.createDataFrame([(1, bench_sent)], "bid bigint, text string")
    docs = spark.createDataFrame(
        [
            (1, "intro words here " + bench_sent + " outro words"),
            (2, "completely clean document about unrelated training topics"),
            (3, bench_sent),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc"]: (r["clean_text"], r["n_removed_tokens"])
        for r in mask_contaminated_spans(docs, "doc_id", bench, k=8).collect()
    }
    assert got[1] == ("intro words here outro words", 10)
    assert got[2] == ("completely clean document about unrelated training topics", 0)
    assert got[3] == ("", 10)


def test_incremental_near_dedup_across_batches(spark, tmp_path):
    """Cross-batch LSH store: batch 2's near-dup of a batch-1 kept doc is
    dropped, genuinely new content survives, a retry with the same batch
    id is idempotent, and a boilerplate-hot stored bucket refuses to drop
    (audited instead)."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.dedup import (
        commit_seen_buckets,
        incremental_near_dedup,
        incremental_near_dedup_hot_buckets,
    )

    store = str(tmp_path / "near_store")
    b1 = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id bigint, text string"
    )
    kept1 = incremental_near_dedup(b1, "doc_id", store, batch_id="b1")
    assert {r["doc_id"] for r in kept1.collect()} == {1, 2}  # empty store
    commit_seen_buckets(kept1, "doc_id", store, batch_id="b1")

    b2 = spark.createDataFrame(
        [
            (11, NEAR),   # near-dup of batch-1 doc 1 -> dropped
            (12, BASE),   # exact text of batch-1 doc 1 -> dropped
            (13, "entirely fresh subject matter nobody wrote about before now"),
        ],
        "doc_id bigint, text string",
    )
    kept2 = incremental_near_dedup(b2, "doc_id", store, batch_id="b2")
    assert {r["doc_id"] for r in kept2.collect()} == {13}

    # retry of b1 against its own commit: nothing self-dedups
    again = incremental_near_dedup(b1, "doc_id", store, batch_id="b1")
    assert {r["doc_id"] for r in again.collect()} == {1, 2}

    # hot-bucket refusal: many docs sharing a stored bucket are NOT dropped
    flood = spark.createDataFrame(
        [(100 + i, BASE + f" filler{i}") for i in range(8)],
        "doc_id bigint, text string",
    )
    kept_f = incremental_near_dedup(
        flood, "doc_id", store, batch_id="b3", max_bucket=3, within_batch=False
    )
    # every flood doc shares buckets with stored BASE; cap 3 refuses them
    assert kept_f.count() == 8
    hot = incremental_near_dedup_hot_buckets(
        flood, "doc_id", store, batch_id="b3", max_bucket=3
    )
    assert hot.count() > 0 and all(r["n_docs"] > 3 for r in hot.collect())


def test_incremental_near_dedup_committed_hot_bucket_refused(spark, tmp_path):
    """A bucket that was boilerplate-hot IN THE COMMITTING BATCH must not
    become drop evidence for a later batch: the cap applies to the
    combined stored + current population (review finding — counting only
    the current batch silently drops unrelated docs that share one
    boilerplate bucket)."""
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.dedup import (
        commit_seen_buckets,
        incremental_near_dedup,
        incremental_near_dedup_hot_buckets,
    )

    store = str(tmp_path / "near_store")
    # batch 1: 8 docs with IDENTICAL text — every bucket has n_docs=8;
    # within_batch=False keeps (and commits) all of them
    b1 = spark.createDataFrame(
        [(i, BASE) for i in range(8)], "doc_id bigint, text string"
    )
    kept1 = incremental_near_dedup(
        b1, "doc_id", store, batch_id="b1", within_batch=False
    )
    assert kept1.count() == 8
    commit_seen_buckets(kept1, "doc_id", store, batch_id="b1")

    # batch 2: ONE doc hitting those buckets; stored 8 + batch 1 = 9 > 3
    # -> refused (kept), and the audit reports the combined population
    b2 = spark.createDataFrame([(100, BASE)], "doc_id bigint, text string")
    kept2 = incremental_near_dedup(
        b2, "doc_id", store, batch_id="b2", max_bucket=3, within_batch=False
    )
    assert kept2.count() == 1
    hot = incremental_near_dedup_hot_buckets(
        b2, "doc_id", store, batch_id="b2", max_bucket=3
    ).collect()
    assert hot and all(
        r["stored_n"] == 8 and r["batch_n"] == 1 and r["n_docs"] == 9 for r in hot
    )
    # with a generous cap the same doc IS dropped (sanity: the refusal
    # above came from the cap, not a join bug)
    assert (
        incremental_near_dedup(
            b2, "doc_id", store, batch_id="b2", max_bucket=100, within_batch=False
        ).count()
        == 0
    )


def test_compact_bucket_store_preserves_decisions(spark, tmp_path):
    """Compaction shrinks the bucket store to one row per (band, bucket)
    while preserving both the population sums and the retry-exclusion
    semantics (single-batch buckets keep their batch_id; multi-batch
    collapse to NULL)."""
    from xmlschemavalidator_spark.dedup import (
        _seen_buckets,
        commit_seen_buckets,
        compact_bucket_store,
        incremental_near_dedup,
    )

    store = str(tmp_path / "near_store")
    b1 = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id bigint, text string")
    commit_seen_buckets(b1, "doc_id", store, batch_id="b1")
    b2 = spark.createDataFrame([(3, BASE)], "doc_id bigint, text string")
    commit_seen_buckets(b2, "doc_id", store, batch_id="b2")
    # duplicate append (a commit retry) — must not change any population
    commit_seen_buckets(b2, "doc_id", store, batch_id="b2")

    before = {
        (r["band"], r["bucket"]): r["stored_n"]
        for r in _seen_buckets(spark, store).collect()
    }
    compact_bucket_store(spark, store)
    after = {
        (r["band"], r["bucket"]): r["stored_n"]
        for r in _seen_buckets(spark, store).collect()
    }
    assert before == after
    raw = spark.read.parquet(store)
    assert raw.count() == len(after)  # one row per bucket
    # BASE buckets were committed by b1 AND b2 -> NULL batch_id -> a retry
    # of b2 still sees them: its BASE near-dup is dropped
    again = incremental_near_dedup(
        spark.createDataFrame([(9, BASE)], "doc_id bigint, text string"),
        "doc_id",
        store,
        batch_id="b2",
        within_batch=False,
    )
    assert again.count() == 0


def test_incremental_near_dedup_corrupt_store_raises(spark, tmp_path):
    import pytest

    from xmlschemavalidator_spark.dedup import incremental_near_dedup

    bad = tmp_path / "bad_store"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("not parquet at all")
    docs = spark.createDataFrame([(1, BASE)], "doc_id bigint, text string")
    with pytest.raises(Exception):
        incremental_near_dedup(docs, "doc_id", str(bad), batch_id="x").collect()


def test_semdedup_keeps_farthest_and_drops_near(spark):
    from xmlschemavalidator_spark.dedup import semdedup

    # two centroids along axes; cluster 0 holds a tight dup pair (1, 2)
    # plus a far-from-centroid outlier (3); cluster 1 holds a singleton
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.01, 0.0]),     # near centroid 0, dup of 2
            (2, [1.0, 0.011, 0.0]),    # near centroid 0, dup of 1
            (3, [0.7, 0.0, 0.7]),      # cluster 0 outlier, no dup
            (4, [0.0, 1.0, 0.0]),      # cluster 1 singleton
        ],
        "vec_id bigint, vec array<float>",
    )
    out = {r["doc"]: r for r in semdedup(df, "vec", cents, threshold=0.98).collect()}
    assert out[3]["cluster"] == 0 and out[4]["cluster"] == 1
    # the outlier ranks first (lowest centroid_cos) and survives; exactly
    # one of the dup pair is dropped — the one with HIGHER centroid_cos
    # (2's cos to centroid 0 is minutely lower than 1's... compare directly)
    assert out[3]["keep"] and out[4]["keep"]
    pair = sorted([out[1], out[2]], key=lambda r: (r["centroid_cos"], r["doc"]))
    assert pair[0]["keep"] is True and pair[1]["keep"] is False


def test_semdedup_hot_cluster_refused_and_audited(spark):
    from xmlschemavalidator_spark.dedup import semdedup, semdedup_hot_clusters

    # 20 identical vectors in one cluster, cap 10: the cluster is refused
    # (all keep=true, no O(n^2) pair join) and the audit surfaces it
    cents = [[1.0, 0.0]]
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(20)], "vec_id bigint, vec array<float>"
    )
    out = semdedup(df, "vec", cents, threshold=0.5, max_cluster=10)
    assert out.count() == 20 and out.where("NOT keep").count() == 0
    hot = semdedup_hot_clusters(df, "vec", cents, max_cluster=10).collect()
    assert len(hot) == 1 and hot[0]["n_members"] == 20
    # under a sufficient cap the same input deduplicates down to one doc
    full = semdedup(df, "vec", cents, threshold=0.5, max_cluster=100)
    assert full.where("keep").count() == 1


def test_select_canonical_keeps_best_scored(spark):
    from xmlschemavalidator_spark.dedup import select_canonical

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "doc bigint, cluster bigint"
    )
    scored = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (8, 4)], "doc bigint, score bigint"
    )
    out = {r["doc"]: r["keep"] for r in select_canonical(clusters, scored).collect()}
    # cluster 1: 2 and 3 tie on score -> smallest id (2) wins; cluster 7: 7 wins
    assert out == {1: False, 2: True, 3: False, 7: True, 8: False}


def test_duplicate_paragraphs_normalized_matching(spark):
    from xmlschemavalidator_spark.dedup import duplicate_paragraphs

    boiler = "this exact boilerplate paragraph repeats across documents"
    rewrapped = "this exact\nboilerplate paragraph\trepeats  across documents"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha content first\n\n{boiler}"),
            (2, f"{rewrapped}\n\nunique beta content second"),
            (3, "short\n\nalso short"),
        ],
        "doc_id bigint, text string",
    )
    rows = duplicate_paragraphs(docs, "doc_id", min_para_chars=30).collect()
    # the re-wrapped copy normalizes to the same key -> one dup group
    assert len(rows) == 1
    assert rows[0]["paragraph"] == boiler
    assert rows[0]["n_docs"] == 2 and rows[0]["n_occurrences"] == 2


def test_drop_duplicate_paragraphs_rebuild_order_and_short_survival(spark):
    from xmlschemavalidator_spark.dedup import drop_duplicate_paragraphs

    boiler = "this exact boilerplate paragraph repeats across documents"
    docs = spark.createDataFrame(
        [
            (1, f"first unique paragraph stays\n\n{boiler}\n\nlast unique one"),
            (2, f"{boiler}\n\nonly survivor paragraph here"),
            (3, boiler),  # fully boilerplate -> empty text
            (4, "tiny\n\ntiny"),  # short paras never dropped
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in drop_duplicate_paragraphs(docs, "doc_id", min_para_chars=30).collect()
    }
    assert got[1] == "first unique paragraph stays\n\nlast unique one"
    assert got[2] == "only survivor paragraph here"
    assert got[3] == ""
    assert got[4] == "tiny\n\ntiny"


def test_sorted_neighborhood_pairs_window_and_verify(spark):
    from xmlschemavalidator_spark.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [
            (1, "acme corp"),
            (2, "acme corp."),   # lev 1 from acme corp
            (3, "acme inc"),     # lev 5 from "acme corp." area
            (4, "zzz totally different"),
            (5, None),           # dropped
        ],
        "id bigint, name string",
    )
    pairs = sorted_neighborhood_pairs(
        df, "id", "name", window=3, block_chars=4, max_distance=2
    ).collect()
    got = sorted((r["id_a"], r["id_b"], r["distance"]) for r in pairs)
    # within block 'acme': sorted order is corp(1) < corp.(2) < inc(3);
    # window 3 pairs (1,2),(1,3),(2,3); only (1,2) passes lev<=2.
    # 'zzz ' is its own block with one row -> no pairs; NULL dropped.
    assert got == [(1, 2, 1)]


def test_sorted_neighborhood_no_verification_keeps_window_pairs(spark):
    from xmlschemavalidator_spark.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, f"key{i:02d}") for i in range(6)], "id bigint, name string"
    )
    # one block (same 4-char prefix "key0"? no: key00..key05 share "key0")
    pairs = sorted_neighborhood_pairs(df, "id", "name", window=3, block_chars=4)
    # n=6 in one block, window 3 -> (n-1) + (n-2) = 9 pairs
    assert pairs.count() == 9


def test_sorted_neighborhood_single_shuffle_plan(spark):
    from xmlschemavalidator_spark.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "ab")], "id bigint, name string")
    plan = sorted_neighborhood_pairs(
        df, "id", "name", window=4
    )._jdf.queryExecution().executedPlan().toString()
    # one Exchange (the block partitioning), no join in the pair generation
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_jaccard_prefix_equals_full_index(spark):
    from pyspark.sql import functions as F

    from xmlschemavalidator_spark.dedup import jaccard_pairs, jaccard_pairs_prefix

    # near-dup pairs + unrelated docs at a production-grade threshold
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text about spark query planning"),
        (4, "completely different text about spark query planning too"),
        (5, "nothing in common with anything else at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    full = sorted(
        tuple(r) for r in jaccard_pairs(
            df, "doc_id", shingle_n=3, threshold=0.5, max_posting=10**6
        ).collect()
    )
    pref = sorted(
        tuple(r) for r in jaccard_pairs_prefix(
            df, "doc_id", shingle_n=3, threshold=0.5
        ).collect()
    )
    assert pref == full and len(pref) >= 2  # lossless, with real signal


def test_jaccard_prefix_index_is_smaller(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from xmlschemavalidator_spark.dedup import shingles

    # measure the prefix fraction directly at t=0.8: ceil maths says
    # each doc indexes n - ceil(0.8n) + 1 shingles (~20% + 1)
    df = spark.createDataFrame(
        [(i, "w%d " % i + "a b c d e f g h i j k l m n o p q r s t") for i in range(20)],
        "doc_id bigint, text string",
    )
    base = df.select(F.col("doc_id").alias("doc"), shingles(F.col("text"), 3).alias("sh"))
    n_post_full = base.select(F.explode("sh")).count()
    t_micro = 800000
    ex = base.select("doc", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("_f"))
    ranked = ex.join(freq, "shingle").withColumn(
        "_rn", F.row_number().over(Window.partitionBy("doc").orderBy("_f", "shingle"))
    ).withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    n_post_prefix = ranked.where(
        F.col("_rn") <= F.col("_n") - F.expr(f"(_n * {t_micro} + 999999) div 1000000") + 1
    ).count()
    assert n_post_prefix < 0.35 * n_post_full  # ~20%+1 per doc


# --------------------------------------------------------------------------
# winnowing
# --------------------------------------------------------------------------

def _ph64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _ref_winnow(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Pure-Python Schleimer et al. reference: rightmost minimal hash
    per window, distinct (pos, hash) selections."""
    hs = [_ph64(text[i : i + k]) for i in range(len(text) - k + 1)]
    if not hs:
        return set()
    if len(hs) < w:
        mn = min(hs)
        return {(max(i for i, h in enumerate(hs) if h == mn) + 1, mn)}
    out = set()
    for j in range(len(hs) - w + 1):
        mn = min(hs[j : j + w])
        pos = max(i for i in range(j, j + w) if hs[i] == mn)
        out.add((pos + 1, mn))
    return out


_WINNOW_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "completely different text here with no overlap at all in any region ok"),
    (3, "zz prefix junk THEN the quick brown fox jumps over the lazy dog suffix"),
    (4, "ab"),  # shorter than k -> no grams
    (5, "abcdef"),  # fewer grams than window -> single degenerate window
    (6, None),
]


def test_winnowing_matches_reference_algorithm(spark):
    from xmlschemavalidator_spark.dedup import winnowing_fingerprints

    df = spark.createDataFrame(_WINNOW_DOCS, "doc_id bigint, text string")
    got: dict[int, set] = {}
    for r in winnowing_fingerprints(df, "doc_id", k=5, window=4).collect():
        got.setdefault(r["doc"], set()).add((r["pos"], r["fp_hash"]))
    for did, text in _WINNOW_DOCS:
        assert got.get(did, set()) == _ref_winnow(text or "", 5, 4), did


def test_winnowing_local_guarantee_and_pairs(spark):
    from xmlschemavalidator_spark.dedup import winnowing_candidate_pairs

    df = spark.createDataFrame(_WINNOW_DOCS, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared_fps"]
        for r in winnowing_candidate_pairs(
            df, "doc_id", k=5, window=4, min_shared=2
        ).collect()
    }
    # docs 1 and 3 share a 44-char passage >= window+k-1=8: MUST pair
    assert (1, 3) in pairs and pairs[(1, 3)] >= 2
    # the unrelated doc 2 never reaches min_shared with anyone
    assert not any(2 in p for p in pairs)


def test_winnowing_hot_fingerprint_cap_and_audit(spark):
    from xmlschemavalidator_spark.dedup import (
        winnowing_candidate_pairs,
        winnowing_hot_fingerprints,
    )

    # 30 docs all sharing one boilerplate sentence: with the cap below
    # the posting size, the boilerplate fingerprints are excluded from
    # pairing and surfaced by the audit instead
    rows = [(i, f"unique part {i:04d} THE SHARED BOILERPLATE SENTENCE HERE") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    audited = winnowing_hot_fingerprints(
        df, "doc_id", k=8, window=4, max_posting=10
    ).collect()
    assert audited and all(r["pl"] > 10 for r in audited)
    capped = winnowing_candidate_pairs(
        df, "doc_id", k=8, window=4, min_shared=1, max_posting=10
    )
    uncapped = winnowing_candidate_pairs(
        df, "doc_id", k=8, window=4, min_shared=1, max_posting=1000
    )
    assert capped.count() < uncapped.count()


def test_winnowing_rejects_clash_and_bad_params(spark):
    import pytest

    from xmlschemavalidator_spark.dedup import winnowing_fingerprints

    df = spark.createDataFrame([(1, "abc", "x")], "doc_id bigint, text string, _wt string")
    with pytest.raises(ValueError):
        winnowing_fingerprints(df, "doc_id")
    df2 = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        winnowing_fingerprints(df2, "doc_id", k=0)


def test_containment_catches_excerpt_jaccard_misses(spark):
    from xmlschemavalidator_spark.dedup import containment_pairs, jaccard_pairs

    tweet = "the quick brown fox jumps over the lazy dog"
    article = " ".join(f"filler{i} word{i} extra{i}" for i in range(40)) + " " + tweet
    df = spark.createDataFrame(
        [(1, tweet), (2, article), (3, "nothing in common here at all whatsoever")],
        "doc_id bigint, text string",
    )
    cont = {
        (r["src_id"], r["dst_id"]): r["containment"]
        for r in containment_pairs(df, "doc_id", shingle_n=3, threshold=0.9).collect()
    }
    # tweet fully contained in article; not the reverse
    assert cont == {(1, 2): 1.0}
    # Jaccard at the same bar sees nothing
    assert jaccard_pairs(df, "doc_id", shingle_n=3, threshold=0.9).count() == 0


def test_containment_capped_universe_excludes_hot_only_docs(spark):
    from xmlschemavalidator_spark.dedup import containment_pairs

    # every doc is the same boilerplate; cap below posting size excludes
    # all shingles -> no doc can assert containment (disclosed behavior)
    rows = [(i, "shared boilerplate text everywhere always") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert (
        containment_pairs(df, "doc_id", shingle_n=3, threshold=0.5, max_posting=5).count()
        == 0
    )


# --------------------------------------------------------------------------
# q-gram edit-distance join
# --------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def test_edit_distance_pairs_matches_bruteforce(spark):
    from xmlschemavalidator_spark.dedup import edit_distance_pairs

    words = [
        "spark", "spork", "sparks", "shark", "quartz", "quarts",
        "window", "windom", "widow", "table", "tables", "cable",
        "catalyst", "katalyst", "stream", "streams", "different",
    ]
    df = spark.createDataFrame(list(enumerate(words)), "id bigint, s string")
    got = sorted(
        (r["id_a"], r["id_b"], r["distance"])
        for r in edit_distance_pairs(df, "id", "s", max_distance=1, q=2).collect()
    )
    want = sorted(
        (i, j, _lev(words[i], words[j]))
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if _lev(words[i], words[j]) <= 1
        and len(words[i]) >= 4 and len(words[j]) >= 4
    )
    assert got == want and len(want) >= 5


def test_edit_distance_pairs_short_strings_refused_not_lossy(spark):
    from xmlschemavalidator_spark.dedup import edit_distance_pairs

    # len < q*(d+1) = 4: excluded entirely (disclosed), so 'ab'/'ac'
    # produce NO pair rather than a silently-missed one
    df = spark.createDataFrame(
        [(1, "ab"), (2, "ac"), (3, "abcdef"), (4, "abcdxf")], "id bigint, s string"
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in edit_distance_pairs(df, "id", "s", max_distance=1, q=2).collect()
    )
    assert got == [(3, 4)]


def test_edit_distance_pairs_guards(spark):
    import pytest

    from xmlschemavalidator_spark.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "abcd")], "id bigint, s string")
    with pytest.raises(ValueError):
        edit_distance_pairs(df, "id", "s", max_distance=0)


def test_bbit_minhash_identical_docs_distance_zero(spark):
    from xmlschemavalidator_spark.dedup import bbit_jaccard_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words everywhere " * 3)],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): (r["hamming"], r["est_jaccard_micro"])
           for r in bbit_jaccard_pairs(df, "doc_id").collect()}
    assert got.get((1, 2)) == (0, 1_000_000)  # identical: hd 0, est J = 1
    assert (1, 3) not in got and (2, 3) not in got


def test_bbit_minhash_near_dup_estimates_high(spark):
    from xmlschemavalidator_spark.dedup import bbit_jaccard_pairs

    base = " ".join(f"w{i}" for i in range(60))
    near = " ".join(f"w{i}" for i in range(58)) + " x1 x2"  # ~93% shingle overlap
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    got = bbit_jaccard_pairs(df, "doc_id").collect()
    assert len(got) == 1
    [r] = got
    assert r["hamming"] <= 8 and r["est_jaccard_micro"] >= 750_000


def test_bbit_minhash_pigeonhole_guard():
    import pytest as _pt

    from xmlschemavalidator_spark.dedup import bbit_jaccard_pairs

    with _pt.raises(ValueError):
        bbit_jaccard_pairs(None, "doc_id", hamming_max=16)


def test_dedup_method_evaluation_planted(spark):
    from xmlschemavalidator_spark.dedup import dedup_method_evaluation

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x y"
    rows = [(1, base), (2, base), (3, near)] + [
        (10 + i, f"unrelated doc {i} " + " ".join(f"u{i}_{j}" for j in range(30)))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["method"]: r for r in dedup_method_evaluation(df, "doc_id").collect()}
    assert set(got) == {"minhash_lsh", "bbit_minhash"}
    for m, r in got.items():
        assert r["n_truth"] >= 2  # (1,2) exact dup + (1,3)/(2,3) near
        assert r["n_hits"] >= 2, m  # both methods must find the planted dups
        assert r["recall_micro"] >= 600_000, m
        assert r["precision_micro"] is None or r["precision_micro"] <= 1_000_000


def _py_cdc_chunks(text, divisor):
    import hashlib

    toks = [t for t in text.split() if t]
    anchors = [
        i for i, t in enumerate(toks)
        if int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % divisor == 0
    ]
    b = [0] + anchors + [len(toks)]
    chunks = [" ".join(toks[s:e]) for s, e in zip(b[:-1], b[1:])]
    return [c for c in chunks if c]


def test_cdc_chunks_matches_python_replay(spark):
    import hashlib

    from xmlschemavalidator_spark.dedup import cdc_chunks

    texts = [
        "the quick brown fox jumps over the lazy dog " * 8,
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5,
        "",  # empty doc: no rows
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(
        map(tuple, cdc_chunks(df, divisor=4).collect())
    )
    want = sorted(
        (i, idx, len(c.split(" ")), hashlib.md5(c.encode()).hexdigest())
        for i, t in enumerate(texts)
        for idx, c in enumerate(_py_cdc_chunks(t, 4))
    )
    assert got == want and len(got) > 4


def test_cdc_duplicate_chunks_survive_head_insertion(spark):
    from xmlschemavalidator_spark.dedup import cdc_chunks, cdc_duplicate_chunks

    body = (
        "market analysts expect quarterly revenue guidance above consensus "
        "while supply chains normalize across the semiconductor sector and "
        "inventories rebuild toward seasonal averages in most regions today "
    ) * 4
    docs = [
        (1, body),
        (2, "breaking update entirely fresh lede paragraph inserted here " + body),
        (3, "unrelated document about gardening tulips and soil acidity levels"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # the head insertion shifts every fixed window of doc 2's prefix, but
    # every chunk after the first shared anchor is byte-identical to doc 1's
    dups = cdc_duplicate_chunks(df, divisor=8).collect()
    assert len(dups) >= 1
    assert all(r["n_docs"] >= 1 and r["n_copies"] >= 2 for r in dups)
    two_doc = [r for r in dups if r["n_docs"] == 2]
    assert len(two_doc) >= 1  # shared across docs 1 and 2, never doc 3

    import pytest as _pt
    with _pt.raises(ValueError):
        cdc_chunks(df, divisor=1)


def test_cross_source_duplication(spark):
    from xmlschemavalidator_spark.dedup import cross_source_duplication

    rows = [
        (1, "A", "same text one"),
        (2, "B", "same text one"),     # A-B mirror
        (3, "B", "same text one"),     # extra copy in B (also B self-dup)
        (4, "A", "only in a"),
        (5, "C", "solo doc"),
        (6, "C", "twice in c"),
        (7, "C", "twice in c"),        # C self-dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r["source_a"], r["source_b"]): r for r in
           cross_source_duplication(df, "doc_id", "source").collect()}
    # A-B share one fingerprint: 1 copy in A, 2 in B
    ab = got[("A", "B")]
    assert (ab["n_fingerprints"], ab["n_docs_a"], ab["n_docs_b"]) == (1, 1, 2)
    # B self-pair: the shared fingerprint has 2 copies within B
    assert got[("B", "B")]["n_docs_a"] == 2
    # C self-dup counted; no C pair with anyone else
    assert got[("C", "C")]["n_fingerprints"] == 1
    assert ("A", "C") not in got and ("B", "C") not in got
    # A's unique doc creates no A-A row (single copy is not a dup)
    assert ("A", "A") not in got


# ---------------------------------------------------------------------------
# capture_recapture_estimate
# ---------------------------------------------------------------------------


def test_capture_recapture_chapman_hand_computed(spark):
    from xmlschemavalidator_spark.dedup import capture_recapture_estimate

    # true population 12 pairs; A sees 8, B sees 9, overlap 5
    # Chapman: (8+1)(9+1)/(5+1) - 1 = 14.0
    universe = [(i, i + 100) for i in range(12)]
    a = spark.createDataFrame(universe[:8], "id_a long, id_b long")
    b = spark.createDataFrame(universe[3:], "id_a long, id_b long")
    [r] = capture_recapture_estimate(a, b).collect()
    assert (r["n_a"], r["n_b"], r["n_both"]) == (8, 9, 5)
    assert r["n_hat"] == round(9 * 10 / 6 - 1, 6)
    assert r["recall_a"] == round(8 / (9 * 10 / 6 - 1), 6)
    # CI lower bound clamps at the hard union floor max(n_a, n_b)
    assert r["ci_low"] >= 9


def test_capture_recapture_orientation_and_disjoint(spark):
    from xmlschemavalidator_spark.dedup import capture_recapture_estimate

    # reversed orientation + duplicates still count as the same pair
    a = spark.createDataFrame([(1, 2), (2, 1), (3, 4)], "id_a long, id_b long")
    b = spark.createDataFrame([(2, 1)], "id_a long, id_b long")
    [r] = capture_recapture_estimate(a, b).collect()
    assert (r["n_a"], r["n_b"], r["n_both"]) == (2, 1, 1)
    # disjoint detectors: overlap carries no information -> NULL gate
    b2 = spark.createDataFrame([(9, 10)], "id_a long, id_b long")
    [r2] = capture_recapture_estimate(a, b2).collect()
    assert r2["n_hat"] is None and r2["recall_a"] is None


def test_planted_exact_groups_vertical_tab_duckdb_parity(spark, tmp_path):
    """``dedup_exact_groups_planted`` and its DuckDB oracle agree on a text
    holding ``\\x0B``: Java's ``\\s`` matches it and RE2's does not, so both
    sides spell the whitespace class as ``textops._WS``."""
    import duckdb

    import __spark_entry__ as entrymod
    from tools.check_oracles import frame_hash

    spark.createDataFrame(
        [(0, "Hello\x0bWorld"), (100, "hello world"), (7, "other\x0b text")],
        "doc_id bigint, text string",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    name = "dedup_exact_groups_planted"
    got = entrymod.queries()[name](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    want = con.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(got["n_docs"]) == [4]  # docs 0 and 100, each planted twice
    assert frame_hash(got) == frame_hash(want)
