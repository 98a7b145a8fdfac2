"""DuckDB oracles for three curate stages, beyond what their
``tests/oracle_battery.py`` entries check: the C4 line filter at its
word-count boundary, the model gate's threshold direction, and the full
order (not a prefix) of the training shuffle.

Each test runs the operator on the sf0.01 test-data tables and compares its
rows with the same result stated independently in DuckDB SQL.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from oni_ml_spark.io import load_table
from tests.conftest import SF_DIR_ORACLE as SF_DIR
from tests.test_oracle_parity import _normalize

_NORM_TEXT = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"
_TOKENS = f"list_filter(string_split({_NORM_TEXT}, ' '), t -> t != '')"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def assert_matches_oracle(sdf, duck, sql: str) -> None:
    """Same column names, same row count, same rows in any order."""
    res = duck.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols)
    got = _normalize([tuple(r) for r in sdf.collect()], sdf.columns)
    want = _normalize(duck_rows, duck_cols)
    assert len(got) == len(want) > 0
    diffs = [(a, b) for a, b in zip(got, want) if a != b][:5]
    assert not diffs, f"first differing rows (spark, duckdb): {diffs}"


def test_line_filter(spark, duck):
    """C4 line cleaning (curate stage 1) over each document with five
    planted lines appended: a boilerplate line, a too-short line, a keeper
    at exactly the 3-word minimum, a longer keeper and an unterminated
    line."""
    from oni_ml_spark.datapipe.textstats import line_filter

    d = load_table(spark, SF_DIR, "documents")
    mlt = F.concat(
        F.col("text"),
        F.lit("\nThis boilerplate line mentions javascript here."),
        F.lit("\nToo short."),
        F.lit("\nThree words kept."),
        F.lit("\nA genuinely kept line with enough words, properly terminated."),
        F.lit("\nno terminal punctuation on this line"),
    )
    lf = line_filter(d.select("doc_id", mlt.alias("text")), "doc_id", "text")
    sdf = lf.select(
        "id", F.col("text").alias("c4_clean"),
        F.col("n_lines").alias("c4_lines"), F.col("n_kept").alias("c4_kept"),
    )
    assert_matches_oracle(sdf, duck, """
        WITH m AS (SELECT doc_id, text
            || chr(10) || 'This boilerplate line mentions javascript here.'
            || chr(10) || 'Too short.'
            || chr(10) || 'Three words kept.'
            || chr(10) || 'A genuinely kept line with enough words, properly terminated.'
            || chr(10) || 'no terminal punctuation on this line' AS mlt FROM documents),
        k AS (SELECT doc_id, mlt, list_filter(string_split(mlt, chr(10)),
            l -> len(list_filter(string_split(trim(l), ' '), w -> w != '')) >= 3
                 AND regexp_matches(rtrim(l), '[.!?"]$')
                 AND NOT contains(lower(l), 'javascript')
                 AND NOT contains(lower(l), 'lorem ipsum')
                 AND NOT contains(lower(l), 'cookie')
                 AND length(l) <= 2000) AS kept FROM m)
        SELECT doc_id AS id, array_to_string(kept, chr(10)) AS c4_clean,
               len(string_split(mlt, chr(10)))::BIGINT AS c4_lines,
               len(kept)::BIGINT AS c4_kept
        FROM k""")


_QG_RULES = [
    "too_few_tokens", "too_many_tokens", "mean_token_len_low",
    "mean_token_len_high", "symbol_ratio", "alpha_words", "stopword_hits",
]


def test_quality_gate(spark, duck):
    """Gopher rule gate (curate stage 2) with thresholds under which five
    of the seven rules fire on this corpus, then the hashed-linear model
    gate (curate stage 5) under the demo model (even buckets weighted, odd
    buckets absent) at threshold 0. Per rule and per gate: the count and
    the doc_id sum of the documents it rejects, so the exact set is pinned."""
    from oni_ml_spark.datapipe.classify import (
        demo_weights,
        hashed_linear_score,
        quality_flags,
    )
    from oni_ml_spark.datapipe.textstats import quality_filter

    d = load_table(spark, SF_DIR, "documents")
    qf = quality_filter(
        d, "doc_id", "text", min_tokens=50, max_tokens=80,
        min_mean_token_len=4.0, max_mean_token_len=5.0, min_stopword_hits=3,
    )

    def report(frame, rule, hit):
        return frame.agg(
            F.sum(hit.cast("long")).alias("n_docs"),
            F.sum(F.when(hit, F.col("id")).otherwise(0)).cast("long").alias("id_sum"),
        ).select(F.lit(rule).alias("rule"), "n_docs", "id_sum")

    rows = [report(qf, r, F.array_contains("failed_rules", r)) for r in _QG_RULES]
    rows.append(report(qf, "__passed", F.col("passes")))
    model = quality_flags(hashed_linear_score(d, "doc_id", "text", demo_weights(spark), 4096), 0.0)
    rows.append(report(model, "model_rejected", ~F.col("passes")))
    rows.append(model.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("score_micro").cast("long").alias("id_sum")
    ).select(F.lit("model_mass").alias("rule"), "n_docs", "id_sum"))
    sdf = rows[0]
    for r in rows[1:]:
        sdf = sdf.unionByName(r)

    failed = " OR ".join(_QG_RULES)
    rule_rows = " UNION ALL ".join(
        f"SELECT '{r}' AS rule, count(*) FILTER ({r})::BIGINT AS n_docs, "
        f"coalesce(sum(doc_id) FILTER ({r}), 0)::BIGINT AS id_sum FROM flags"
        for r in _QG_RULES
    )
    assert_matches_oracle(sdf, duck, f"""
        WITH toks AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
        m AS (SELECT doc_id, len(t) AS n,
            CASE WHEN len(t) > 0
                 THEN length(array_to_string(t, ''))::DOUBLE / len(t) ELSE 0.0 END AS mean_len,
            len(list_filter(t, x -> contains(x, '#') OR contains(x, '...'))) AS symbolic,
            len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS alpha,
            len(list_filter(t, x -> x IN
                ('the','and','of','to','is','in','that','with'))) AS stop_hits
          FROM toks),
        flags AS (SELECT doc_id,
            n < 50 AS too_few_tokens, n > 80 AS too_many_tokens,
            mean_len < 4.0 AS mean_token_len_low, mean_len > 5.0 AS mean_token_len_high,
            symbolic > 0.1 * greatest(n, 1) AS symbol_ratio,
            alpha < 0.8 * greatest(n, 1) AS alpha_words,
            stop_hits < 3 AS stopword_hits
          FROM m),
        terms AS (SELECT doc_id AS id, unnest({_TOKENS.format(c='text')}) AS term
                  FROM documents),
        buckets AS (SELECT id, ('0x' || substr(md5('0:' || term), 1, 8))::BIGINT % 4096 AS b
                    FROM terms),
        sums AS (SELECT id, sum(CASE WHEN b % 2 = 0 THEN
            (('0x' || substr(md5('w:' || b::VARCHAR), 1, 8))::BIGINT % 2001) - 1000
            ELSE 0 END)::BIGINT AS sm FROM buckets GROUP BY id),
        scores AS (SELECT d.doc_id AS id, coalesce(s.sm, 0)::BIGINT AS sm
                   FROM documents d LEFT JOIN sums s ON d.doc_id = s.id)
        {rule_rows}
        UNION ALL SELECT '__passed', count(*) FILTER (NOT ({failed}))::BIGINT,
               coalesce(sum(doc_id) FILTER (NOT ({failed})), 0)::BIGINT FROM flags
        UNION ALL SELECT 'model_rejected', count(*) FILTER (sm < 0)::BIGINT,
               coalesce(sum(id) FILTER (sm < 0), 0)::BIGINT FROM scores
        UNION ALL SELECT 'model_mass', count(*)::BIGINT, sum(sm)::BIGINT FROM scores""")


def test_deterministic_shuffle(spark, duck):
    """The training-order shuffle (curate stage 6) is the global order of
    md5(key || '#shuffle<seed>'), ties broken on the key: compared as the
    full ordered list, not as a set."""
    from oni_ml_spark.datapipe.sampling import deterministic_shuffle

    d = load_table(spark, SF_DIR, "documents")
    got = [r[0] for r in deterministic_shuffle(d, "doc_id", seed=0).select("doc_id").collect()]
    want = [r[0] for r in duck.execute(
        "SELECT doc_id FROM documents ORDER BY md5(doc_id::VARCHAR || '#shuffle0'), doc_id"
    ).fetchall()]
    assert got == want and len(got) > 0
