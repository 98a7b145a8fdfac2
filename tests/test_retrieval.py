"""TF-IDF / BM25 against a DuckDB oracle on the documents table (sf0.001).

Identical tokenization on both sides, sorted rows, exact-or-rounded value
equality.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from oni_ml_spark.datapipe.retrieval import bm25_scores, bm25_topk, tf_idf, term_frequencies
from oni_ml_spark.io import load_table

SF_DIR = "/root/testdata/sf0.001"

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"list_filter(string_split({_NORM}, ' '), t -> t != '')"
_TF_SQL = f"""
  tf AS (
    SELECT doc_id AS id, unnest({_TOKS}) AS term FROM documents),
  tfc AS (SELECT id, term, count(*)::BIGINT AS tf FROM tf GROUP BY id, term)
"""


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def _rows(df, cols, ndigits=None):
    out = []
    for r in df.collect() if hasattr(df, "collect") else df:
        vals = []
        for c in cols:
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if ndigits is not None and isinstance(v, float):
                v = round(v, ndigits)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out)


def test_term_frequencies_match_oracle(spark, duck):
    d = load_table(spark, SF_DIR, "documents")
    got = _rows(term_frequencies(d, "doc_id", "text"), ["id", "term", "tf"])
    want = sorted(
        tuple(r) for r in duck.execute(
            f"WITH {_TF_SQL} SELECT id, term, tf FROM tfc"
        ).fetchall()
    )
    assert got == want


def test_tf_idf_matches_oracle(spark, duck):
    d = load_table(spark, SF_DIR, "documents")
    got = _rows(tf_idf(d, "doc_id", "text"), ["id", "term", "tf", "df", "tfidf"], ndigits=8)
    sql = f"""WITH {_TF_SQL},
      dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY term),
      n AS (SELECT count(DISTINCT id)::DOUBLE AS nd FROM tfc)
      SELECT id, t.term, tf, df,
             tf * (ln((nd + 1) / (df + 1)) + 1) AS tfidf
      FROM tfc t JOIN dfreq USING (term), n"""
    want = sorted(
        (r[0], r[1], r[2], r[3], round(float(r[4]), 8))
        for r in duck.execute(sql).fetchall()
    )
    assert got == want


def test_bm25_matches_oracle(spark, duck):
    d = load_table(spark, SF_DIR, "documents")
    # pick real corpus terms so the match set is non-trivial
    q = [r["term"] for r in term_frequencies(d, "doc_id", "text")
         .groupBy("term").count().orderBy(F.desc("count")).limit(3).collect()]
    assert q
    got = _rows(bm25_scores(d, "doc_id", "text", q), ["id", "score"], ndigits=8)
    terms = ", ".join(f"'{t}'" for t in q)
    sql = f"""WITH {_TF_SQL},
      doclen AS (SELECT id, sum(tf)::DOUBLE AS dl FROM tfc GROUP BY id),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM doclen),
      m AS (SELECT * FROM tfc WHERE term IN ({terms})),
      dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM m GROUP BY term),
      idf AS (SELECT term, ln(1 + (n - df + 0.5) / (df + 0.5)) AS idf FROM dfreq, stats)
      SELECT m.id, sum(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
      FROM m JOIN idf USING (term) JOIN doclen ON m.id = doclen.id, stats
      GROUP BY m.id"""
    want = sorted((r[0], round(float(r[1]), 8)) for r in duck.execute(sql).fetchall())
    assert got == want
    assert len(got) > 0


def test_bm25_topk_plans_take_ordered(spark):
    d = load_table(spark, SF_DIR, "documents")
    df = bm25_topk(d, "doc_id", "text", ["the"], k=5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "TakeOrderedAndProject" in plan


def test_bm25_repeated_query_term_weights_by_multiplicity(spark):
    """Okapi bag-of-terms: a term repeated in the query contributes
    proportionally (qtf weighting), so Q=[t, t] doubles Q=[t] exactly."""
    d = load_table(spark, SF_DIR, "documents")
    t = (
        term_frequencies(d, "doc_id", "text")
        .groupBy("term").count().orderBy(F.desc("count")).limit(1)
        .collect()[0]["term"]
    )
    single = {r["id"]: r["score"] for r in bm25_scores(d, "doc_id", "text", [t]).collect()}
    double = {r["id"]: r["score"] for r in bm25_scores(d, "doc_id", "text", [t, t]).collect()}
    assert single and set(single) == set(double)
    assert all(abs(double[i] - 2 * single[i]) < 1e-9 for i in single)


def test_bm25_empty_query_raises(spark):
    d = load_table(spark, SF_DIR, "documents")
    with pytest.raises(ValueError):
        bm25_scores(d, "doc_id", "text", [])


def test_unigram_logprob_matches_oracle(spark, duck):
    from oni_ml_spark.datapipe.textstats import unigram_logprob

    d = load_table(spark, SF_DIR, "documents")
    got = _rows(unigram_logprob(d, "doc_id", "text"), ["id", "n_tokens", "avg_logprob"], ndigits=8)
    sql = f"""WITH {_TF_SQL},
      corpus AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tfc GROUP BY term),
      stats AS (SELECT sum(cnt)::DOUBLE AS n, count(*)::DOUBLE AS v FROM corpus),
      model AS (SELECT term, ln((cnt + 1) / (n + v)) AS logp FROM corpus, stats)
      SELECT id, sum(tf)::BIGINT AS n_tokens, sum(tf * logp) / sum(tf) AS avg_logprob
      FROM tfc JOIN model USING (term) GROUP BY id"""
    want = sorted(
        (r[0], r[1], round(float(r[2]), 8)) for r in duck.execute(sql).fetchall()
    )
    assert got == want
    assert len(got) > 0


def test_repetition_metrics_matches_oracle(spark, duck):
    """Positional trigram counts vs DuckDB list slicing."""
    from oni_ml_spark.datapipe.textstats import repetition_metrics

    d = load_table(spark, SF_DIR, "documents")
    got = _rows(
        repetition_metrics(d, "doc_id", "text", n=3),
        ["id", "n_grams", "distinct_n_grams", "top_gram_frac", "dup_gram_frac"],
        ndigits=6,
    )
    sql = f"""WITH g AS (
        SELECT doc_id AS id,
          unnest([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS gram
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE len(toks) >= 3),
      pg AS (SELECT id, gram, count(*)::BIGINT AS c FROM g GROUP BY id, gram)
      SELECT id, sum(c)::BIGINT AS n_grams, count(*)::BIGINT AS distinct_n_grams,
        round(max(c) / sum(c), 6) AS top_gram_frac,
        round((sum(c) - count(*)) / sum(c), 6) AS dup_gram_frac
      FROM pg GROUP BY id"""
    want = sorted(
        (r[0], r[1], r[2], round(float(r[3]), 6), round(float(r[4]), 6))
        for r in duck.execute(sql).fetchall()
    )
    assert got == want and len(got) > 0


def test_repetition_flags_degenerate_text(spark):
    from oni_ml_spark.datapipe.textstats import repetition_metrics

    rows = [
        (0, "spam ham eggs " * 40),                     # one trigram loops
        (1, " ".join(f"w{i} x{i} y{i}" for i in range(40))),  # all distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in repetition_metrics(df, "doc_id", "text").collect()}
    assert got[0]["dup_gram_frac"] > 0.9 and got[0]["top_gram_frac"] > 0.3
    assert got[1]["dup_gram_frac"] == 0.0
    # (r11) the char fractions move with the count fractions: a looping
    # doc's duplicate grams cover nearly all (overlap-naive: can exceed 1)
    assert got[0]["dup_gram_char_frac"] > 0.9
    assert got[1]["dup_gram_char_frac"] == 0.0


def test_repetition_char_fraction_goldens(spark):
    """(r11) Gopher character-fraction goldens, hand-computed, including
    the deterministic count-then-length tie-break."""
    from oni_ml_spark.datapipe.textstats import repetition_metrics

    rows = [
        # bigrams of [ab, ab, ab, cd]: 'ab ab' x2, 'ab cd' x1; doc chars 11
        # top = 2 x len('ab ab')=5 -> 10/11; dupchars = 2*5 -> 10/11
        (0, "ab ab ab cd"),
        # tie on count=2 between 'aa b' (len 4) and 'c ddd' (len 5):
        # the LONGEST gram wins the tie -> top = 2*5 / 23
        (1, "aa b aa b c ddd c ddd"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r for r in repetition_metrics(df, "doc_id", "text", n=2).collect()
    }
    assert got[0]["n_grams"] == 3 and got[0]["distinct_n_grams"] == 2
    assert got[0]["top_gram_char_frac"] == round(10 / 11, 6)
    assert got[0]["dup_gram_char_frac"] == round(10 / 11, 6)
    assert got[1]["top_gram_char_frac"] == round(10 / len(rows[1][1]), 6)


def test_ngram_contamination_planted_overlap(spark):
    """Train docs copying an eval passage are flagged; clean docs report
    zero; fractions are exact."""
    from oni_ml_spark.datapipe.textstats import ngram_contamination

    evalset = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # 12 tokens: first 10 copied from eval -> 3 of 5 8-shingles hit
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"),
            (1, "one two three four five six seven eight nine ten eleven"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["id"]: (r["n_shingles"], r["n_contaminated"], r["contamination_frac"])
        for r in ngram_contamination(train, evalset, "doc_id", "text", n=8).collect()
    }
    assert got[0] == (5, 3, 0.6)
    assert got[1] == (4, 0, 0.0)


class TestRrfFuse:
    def test_fuses_bm25_and_vector_rankings(self, spark):
        """Hybrid search: RRF of a BM25 top-k and a cosine top-k must score
        1/(60+r) summed per list, rank docs found by BOTH lists above
        single-list docs of similar rank, and match a hand-computed
        oracle."""
        from pyspark.sql import Window
        import pyspark.sql.functions as F

        from oni_ml_spark.datapipe.retrieval import bm25_topk, rrf_fuse
        from oni_ml_spark.datapipe.similarity import brute_force_topk
        from oni_ml_spark.io import load_table

        d = load_table(spark, "/root/testdata/sf0.001", "documents")
        lex = bm25_topk(d, "doc_id", "text", ["data", "model"], k=10)
        lex_r = lex.select(
            "id",
            F.row_number().over(Window.orderBy(F.desc("score"), "id")).alias("rank"),
        )
        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        vec = brute_force_topk(
            emb.filter(F.col("vec_id") == 0), emb, k=10
        ).select(F.col("neighbor_id").alias("id"), "rank")
        fused = rrf_fuse([lex_r, vec], top_k=15).collect()
        lr = {r["id"]: r["rank"] for r in lex_r.collect()}
        vr = {r["id"]: r["rank"] for r in vec.collect()}
        want = {}
        for i in set(lr) | set(vr):
            want[i] = sum(1.0 / (60 + r[i]) for r in (lr, vr) if i in r)
        got = {r["id"]: (r["rrf_score"], r["n_lists"]) for r in fused}
        for i, (score, n) in got.items():
            assert abs(score - want[i]) < 1e-9
            assert n == (i in lr) + (i in vr)
        # ranks are dense best-first over the fused order
        ranks = sorted((r["rank"], r["id"]) for r in fused)
        assert [r for r, _ in ranks] == list(range(1, len(ranks) + 1))
        order = sorted(got, key=lambda i: (-want[i], i))[:len(ranks)]
        assert [i for _, i in ranks] == order

    def test_validation(self, spark):
        from oni_ml_spark.datapipe.retrieval import rrf_fuse
        import pytest

        df = spark.createDataFrame([(1, 1)], "id long, rank int")
        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])
        with pytest.raises(ValueError, match="positive"):
            rrf_fuse([df], k=0)
        with pytest.raises(ValueError, match="lacks column"):
            rrf_fuse([df.select("id")])
