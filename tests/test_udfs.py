"""Text expression builders against python replays and hand corpora."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_let1_text_helpers_match_python_replay(spark):
    """The r09 let1-bound builders (split once per row, not per element)
    must agree with a direct python replay on edge shapes: empty text,
    single token, all-same tokens, and repeated token pairs."""
    from executor_u1mindexer_spark.functions import text as T

    texts = [
        "",
        "one",
        "a a a a",
        "x y x y z",
        "alpha beta gamma alpha beta alpha",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        T.word_shingles(F.col("text"), 3).alias("sh"),
        T.word_ngrams_all(F.col("text"), 2).alias("g2"),
    ).collect()
    for r in rows:
        toks = r.text.split(" ") if r.text else [""]
        if len(toks) >= 3:
            want_sh = list(dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            ))
        else:
            want_sh = [" ".join(toks)]
        assert r.sh == want_sh, (r.text, r.sh, want_sh)
        want_g2 = [
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        ] if len(toks) >= 2 else []
        assert r.g2 == want_g2, (r.text, r.g2, want_g2)


def test_tfidf_topk_terms_hand_corpus(tmp_path, spark):
    """TF-IDF pin on a 3-doc corpus: the ubiquitous term ('the', df=3)
    scores tf * ln(4/4) = 0 exactly, so it can never beat a distinctive
    term; exact scores replayed in python."""
    import math
    import os

    docs = [
        (1, "the cat sat", "en", "s", 11),
        (2, "the dog ran the dog", "en", "s", 19),
        (3, "the bird flew", "en", "s", 13),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from executor_u1mindexer_spark.suites.text_suite import text_tfidf_topk_terms

    rows = text_tfidf_topk_terms(spark, sf).collect()
    got = {(r.doc_id, r.term): (r.tf, r.df, r.score) for r in rows}
    # 'the': df=3 -> idf = ln(4/4) = 0 -> score 0 everywhere, but still
    # eligible for top-5 (every doc has < 5 distinct terms, all emitted)
    n = 3

    def idf(df):
        return math.log((n + 1.0) / (df + 1.0))

    assert got[(2, "dog")] == (2, 1, round(2 * idf(1), 9))
    assert got[(1, "the")][2] == 0.0
    # doc 2 has 3 distinct terms -> all 3 emitted; top by score is 'dog'
    doc2 = sorted(
        ((s, t) for (d_, t), (_tf, _df, s) in got.items() if d_ == 2),
        reverse=True,
    )
    assert doc2[0][1] == "dog"


def test_pmi_collocations_hand_corpus(tmp_path, spark):
    """PMI pin on a corpus where 'new york' repeats 5x (above the count
    floor) and a hapax pair 'rare pair' appears once (excluded by the
    floor despite maximal raw PMI); score replayed in python at micro
    scale."""
    import math
    import os

    docs = [(i, "new york " * 1 + "the the the", "en", "s", 20) for i in range(5)]
    docs.append((9, "rare pair", "en", "s", 9))
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    d.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    from executor_u1mindexer_spark.suites.text_suite import text_pmi_collocations

    rows = text_pmi_collocations(spark, sf).collect()
    got = {(r.token_a, r.token_b): (r.n_ab, r.pmi_micro) for r in rows}
    assert ("rare", "pair") not in got  # hapax killed by the floor
    assert ("new", "york") in got
    # replay: N unigrams, M bigrams over the same token stream
    n_uni = 5 * 5 + 2  # 5 docs x 5 tokens + 'rare pair'
    n_big = 5 * 4 + 1
    cab, na, nb = 5, 5, 5
    want = round(
        math.log(cab * n_uni * n_uni / (n_big * na * nb)) * 1_000_000
    )
    assert got[("new", "york")] == (5, want)
