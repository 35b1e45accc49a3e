"""r13 optimization round: the fused doc scan's integer-exact token
families moved from interpreted Catalyst HOF expressions to ONE
mapInArrow pass (plans/llm._fused_doc_text_ints — guide §4.2). These
tests pin the Arrow pass column-for-column against the ORIGINAL
Catalyst expressions (the member helpers, which still build them),
on real data AND on crafted edge rows the parquet fixtures do not
exercise (NULL text, empty text, whitespace-only, exotic ASCII
whitespace, NBSP inside tokens, >8-gram repetition runs)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from japanstockdatapipeline_spark.functions import semantics as SEM
from japanstockdatapipeline_spark.functions import text as TX
from japanstockdatapipeline_spark.operators.dedup import simhash_expr
from japanstockdatapipeline_spark.plans.llm import (
    _rolling_hash_expr,
    clf_output_cols,
    clf_stage_cols,
    doc_features_fused,
)

SF_SMOKE = "/root/testdata/sf0.001"

EDGE_ROWS = [
    # (doc_id, text, lang, source)
    (1, None, "en", "s1"),
    (2, "", "en", "s2"),
    (3, "   ", "en", "s3"),
    (4, "\t\n\x0b\x0c\r", "fr", "s4"),
    (5, "The the THE a b b b", "en", "s5"),
    (6, "a.b,c 0n3 42 ... ### x!?", "en", "s6"),
    (7, "der die das und nicht le la", "de", "s7"),
    (8, "le la les et est el los", "fr", "s8"),
    (9, "de5 shi4 bu4 de5", "zh", "s9"),
    # NBSP is NOT Java \s: it must stay inside the token
    (10, "on break tab\tsep", "en", "s10"),
    # long run: repetition fold + simhash vote majority
    (11, ("dup " * 300) + "tail one two three", "en", "s11"),
    # every token distinct, punctuation-dense
    (12, ".,;:!? .. ,, ;; :: !! ??", "es", "s12"),
    (13, "el los las es y es y", "es", "s13"),
    # tie between two marker languages (earlier language wins)
    (14, "der le", "en", "s14"),
]


def _edge_docs(spark):
    rows = [(d, t, lng, src, len(t) if t else 0) for d, t, lng, src in EDGE_ROWS]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def _expr_twin(docs):
    """The pre-r13 Catalyst expressions for every family the Arrow
    pass computes, built from the still-shipping member helpers (plus
    a verbatim copy of the r12 repetition fold)."""
    t = F.col("text")
    toks = TX.tokens(t)
    toks_l = TX.tokens(F.lower(t))
    has_tok = F.size(toks_l) > 0
    sorted_t = F.array_sort(toks_l)
    is_new = lambda acc, x: acc["prev"].isNull() | (acc["prev"] != x)  # noqa: E731
    rep_state = F.aggregate(
        sorted_t,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("nd"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(is_new(acc, x), F.lit(1)).otherwise(acc["run"] + 1).alias("run"),
            F.greatest(
                acc["best"],
                F.when(is_new(acc, x), F.lit(1)).otherwise(acc["run"] + 1),
            ).alias("best"),
            (acc["nd"] + F.when(is_new(acc, x), 1).otherwise(0)).alias("nd"),
        ),
    )
    bpe = F.size(
        F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("bigint")
    staged = docs.select(
        "doc_id",
        t.alias("text"),
        *TX.text_stat_stage_cols(t),
        rep_state.alias("__rep_state"),
        *clf_stage_cols(),
        # the fused form's pre-r13 pred_lang was the SQL fold (NULL for
        # NULL text, unlike the Column form which falls through to 'en')
        TX.lang_id_from_tokens_sql(
            "filter(split(trim(text), '\\\\s+'), t -> t <> '')"
        ).alias("pred_lang"),
        bpe.alias("bpe_pieces"),
        _rolling_hash_expr(t).alias("rolling_hash"),
        simhash_expr("text").alias("simhash"),
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).alias(
            "__gq_sl"
        ),
        F.size(F.filter(toks_l, lambda x: x.isin(*TX.STOPWORDS))).alias(
            "__gq_nstop"
        ),
    )
    has_ts = F.col("__ts_nt") > 0
    return staged.select(
        "doc_id",
        F.col("__ts_nt").alias("n_tokens"),
        F.when(has_ts, SEM.round6_ratio("__ts_sl", "__ts_nt")).alias("avg_token_len"),
        F.when(has_ts, SEM.round6_ratio("__ts_sw", "__ts_nt")).alias(
            "stopword_ratio"
        ),
        F.when(F.col("__ts_ln") > 0, SEM.round6_ratio("__ts_np", "__ts_ln")).alias(
            "punct_ratio"
        ),
        TX.quality_q6_col().alias("quality_score"),
        "pred_lang",
        "bpe_pieces",
        F.when(has_tok, F.size(toks_l).cast("bigint")).alias("rep_n_tokens"),
        F.when(has_tok, F.col("__rep_state")["best"].cast("bigint")).alias(
            "top_token_count"
        ),
        F.when(has_tok, F.col("__rep_state")["nd"].cast("bigint")).alias("__rep_nd"),
        "rolling_hash",
        "simhash",
        *clf_output_cols(),
        F.col("__gq_sl").alias("gq_sl"),
        F.col("__gq_nstop").alias("gq_nstop"),
    )


_COMPARE = [
    "n_tokens",
    "avg_token_len",
    "stopword_ratio",
    "punct_ratio",
    "quality_score",
    "pred_lang",
    "bpe_pieces",
    "rep_n_tokens",
    "top_token_count",
    "rolling_hash",
    "simhash",
    "clf_logit",
    "clf_prob",
    "clf_keep",
]


def _fused_cols(docs):
    fused = doc_features_fused(docs)
    # derive the fold outputs the fused form drops from its output by
    # inverting the shared exact ratios is not possible — instead read
    # what IS emitted plus the gopher columns that carry the staged
    # governance folds forward
    return fused.select(
        "doc_id",
        *_COMPARE,
        "top_token_frac",
        "distinct_frac",
        "gq_mean_word_len",
        "gq_n_stopwords",
        "gq_n_words",
    )


def _expr_cols(docs):
    e = _expr_twin(docs)
    return e.select(
        "doc_id",
        *_COMPARE,
        SEM.round6_ratio("top_token_count", "rep_n_tokens").alias("top_token_frac"),
        SEM.round6_ratio("__rep_nd", "rep_n_tokens").alias("distinct_frac"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("gq_sl").cast("double") / F.col("n_tokens"), 6),
        ).alias("gq_mean_word_len"),
        F.col("gq_nstop").alias("gq_n_stopwords"),
        F.col("n_tokens").alias("gq_n_words"),
    )


def _rows_by_id(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = d.pop("doc_id")
        out[key] = d
    return out


def _assert_frames_equal(fused_df, expr_df):
    got = _rows_by_id(fused_df)
    want = _rows_by_id(expr_df)
    assert sorted(got) == sorted(want)
    for doc_id in sorted(want):
        for c, wv in want[doc_id].items():
            gv = got[doc_id][c]
            if isinstance(wv, float) and isinstance(gv, float):
                assert (math.isnan(wv) and math.isnan(gv)) or gv == wv, (
                    f"doc {doc_id} col {c}: {gv!r} != {wv!r}"
                )
            else:
                assert gv == wv, f"doc {doc_id} col {c}: {gv!r} != {wv!r}"
        # schema parity for the integer columns the Arrow pass emits
    ftypes = dict(fused_df.dtypes)
    etypes = dict(expr_df.dtypes)
    for c in _COMPARE:
        assert ftypes[c] == etypes[c], f"{c}: {ftypes[c]} != {etypes[c]}"


def test_arrow_ints_match_expressions_on_real_docs(spark):
    from japanstockdatapipeline_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    _assert_frames_equal(_fused_cols(docs), _expr_cols(docs))


def test_arrow_ints_match_expressions_on_edge_rows(spark):
    docs = _edge_docs(spark)
    _assert_frames_equal(_fused_cols(docs), _expr_cols(docs))


def test_arrow_pass_null_and_empty_semantics(spark):
    """NULL text: every fold is NULL except simhash (coalesced to 0).
    Empty/whitespace-only text: counts 0, simhash/rolling 0, lang 'en',
    repetition family NULL (the when(size>0) guard)."""
    fused = doc_features_fused(_edge_docs(spark))
    rows = {r["doc_id"]: r for r in fused.collect()}
    null_row = rows[1]
    assert null_row["simhash"] == 0
    for c in ("n_tokens", "rolling_hash", "rep_n_tokens", "pred_lang", "clf_logit"):
        assert null_row[c] is None, f"{c} should be NULL for NULL text"
    for doc_id in (2, 3, 4):
        r = rows[doc_id]
        assert r["n_tokens"] == 0
        assert r["simhash"] == 0
        assert r["rolling_hash"] == 0
        assert r["pred_lang"] == "en"
        assert r["rep_n_tokens"] is None
        assert r["top_token_count"] is None
    # NBSP stays inside its token (Java \s is ASCII-only)
    assert rows[10]["n_tokens"] == 3
    # marker tie: fixed order keeps the earlier language? both 1 hit ->
    # zh/es/fr fail strictly-greater, de wins its > 0 check
    assert rows[14]["pred_lang"] == "de"


@pytest.mark.parametrize(
    "name,via",
    [
        ("__cum", "extra_cols"),
        ("n_shared_grams", "extra_cols"),
        ("is_contaminated", "extra_cols"),
        ("pack_shard", "extra_cols"),
        ("__cum", "pre_window"),
        ("pack_n_tokens", "pre_window"),
    ],
)
def test_fused_rejects_reserved_staged_columns(spark, name, via):
    """The fused tail appends __cum / n_shared_grams / is_contaminated
    / pack_* with select("*", …): a caller staging one of those names
    must get a ValueError naming it, not a duplicated column that
    fails later with AMBIGUOUS_REFERENCE."""
    staged = F.lit(0).alias(name)
    kwargs = (
        {"extra_cols": [staged]}
        if via == "extra_cols"
        else {"pre_window": lambda df: df.select("*", staged)}
    )
    with pytest.raises(ValueError, match=repr(name)):
        doc_features_fused(_edge_docs(spark), **kwargs)
